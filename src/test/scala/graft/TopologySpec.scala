package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{OrderAnalytics, Reliability}
import graft.streaming.OrderStream

/** THE REFERENCE'S FULL TOPOLOGY AS ONE RUNNING STREAMING JOB (r14
  * verdict №1) — every stage the repo spec'd separately, wired into one
  * graph the way `avro_order_consumer.py:60-155` wires it:
  *
  *   replayable source ("topic") → Confluent-FRAMED mixed-version bytes
  *   (producer leg) → `FromConfluentAvro` decode under the v2 reader →
  *   validate → `asRetryEvents` → `RetryExecProcessor` (state + timers,
  *   RocksDB) → exactly-once outcome sink → [main running-stats agg |
  *   `dlqEnvelope` JSON sink → `dlqMonitor`]
  *
  * run THROUGH A CHECKPOINT RESTART mid-retry, with exact ledger
  * accounting, and its two terminal faces equal to the registered batch
  * faces: the main aggregate equals the PriceAggregator aggregate
  * (`OrderAnalytics.priceStats` — the q_price_stats_by_product
  * function) over the decision table's main route, and the DLQ monitor
  * aggregate equals `q_dlq_monitor` row for row. The input is the real
  * sf0.001 events table, so parity is against the same corpus the
  * oracles hash-check.
  */
class TopologySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession =
    GraftSession.create("topology-spec", cores = "4")

  override def afterAll(): Unit = spark.stop()

  // The chain itself is the LIBRARY surface `graft.streaming.Topology`
  // (shared with the ScaleNotch 10× main) — this spec pins its
  // semantics at three scales; aliases keep the test bodies readable.
  private val wireV1 = graft.streaming.Topology.wireV1
  private val wireV2 = graft.streaming.Topology.wireV2

  private def outcomeStream(srcDir: String, regDir: String, v1Id: Int,
      v2Id: Int, delayMs: (String, Int) => Long)
      : org.apache.spark.sql.Dataset[OrderStream.RetryOutcome] =
    graft.streaming.Topology.outcomeStream(
      spark, srcDir, regDir, v1Id, v2Id, delayMs)

  private val outSchema = graft.streaming.Topology.outSchema

  test("end-to-end: framed mixed-version decode → retry executor → " +
      "sinks survive a restart; outputs equal the batch faces") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files.createTempDirectory("graft-topology")
    val (srcDir, outDir, dlqDir) = (root.resolve("src"),
      root.resolve("outcomes"), root.resolve("dlq"))
    val (chkA, chkB) = (root.resolve("chkA"), root.resolve("chkB"))
    java.nio.file.Files.createDirectories(srcDir)

    // Registry with both wire versions under one subject — fronted by
    // the LIVE HTTP transport: the topology's producer and consumer
    // legs resolve schemas through `schema.registry.url` exactly like
    // the reference's AvroConsumer (kafka_utils.py:14), across BOTH
    // streaming runs and the restart. (The 10k/100k notches keep the
    // shared-dir transport, so both faces stay exercised.)
    val regDir0 = root.resolve("registry").toFile.getAbsolutePath
    val reg = new graft.streaming.FileSchemaRegistry(regDir0)
    val regServer = new graft.streaming.SchemaRegistryHttpServer(reg)
    val regDir = regServer.baseUrl
    val parser = new org.apache.avro.Schema.Parser()
    val v1Id = reg.register("orders-value", parser.parse(wireV1))
    val v2Id = reg.register("orders-value",
      new org.apache.avro.Schema.Parser().parse(wireV2))
    assert(v1Id != v2Id)

    // ---- the "topic": the sf0.001 events table staged as 4 json files
    // (4 micro-batches via maxFilesPerTrigger=1), replayable for the
    // checkpoint restart exactly like a Kafka topic's retained log.
    graft.streaming.Topology.stageTopic(
      Tables.events(spark, sfDir), srcDir.toString)
    val nEvents = Tables.events(spark, sfDir).count()

    // ---- batch truths (the decision table the executor must replay)
    val verdict = Reliability.withVerdict(Tables.events(spark, sfDir))
      .withColumn("recover",
        Reliability.recoverAttemptCol(col("event_id")))
    val nImmediate = verdict
      .filter(col("is_valid") || col("error_class") === "PermanentError")
      .count()
    assert(nImmediate < nEvents, "corpus must carry retryable failures")

    // ---- the one streaming job (query A): decode → validate → retry
    // executor → exactly-once parquet outcome sink. Flat seconds-scale
    // delays (not the compressed jittered shape) keep EVERY retryable
    // pending across the stop, like the restart-durability spec: the
    // first deadline (8 s) comfortably outlasts the 4 input batches +
    // the stop poll, so run 1 can never emit a retry outcome early.
    val slowMs: (String, Int) => Long = (_, a) => 8000L + 500L * a
    def startTopology() =
      outcomeStream(srcDir.toString, regDir, v1Id, v2Id, slowMs)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", chkA.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("500 milliseconds"))
        .start()
    def outcomes(): DataFrame =
      spark.read.schema(outSchema).parquet(outDir.toString)
    def outCount(): Long =
      try outcomes().count()
      catch { case _: Throwable => 0L }

    // decode-leg proof, batch, same expressions: v1 frames resolve the
    // added field from the READER default, v2 frames keep their value.
    val probe = spark.read
      .schema("event_id LONG, event_type STRING, value DOUBLE, ts LONG")
      .json(srcDir.toString).limit(50)
      .select(col("event_id"),
        when(col("event_id") % 2 === 0,
          graft.functions.ToConfluentAvro(struct(col("event_id"),
            col("event_type").as("product"), col("value").as("price"),
            expr("ts div 1000000").as("ts_ms")), regDir, v1Id))
          .otherwise(graft.functions.ToConfluentAvro(struct(col("event_id"),
            col("event_type").as("product"), col("value").as("price"),
            expr("ts div 1000000").as("ts_ms"),
            lit("orders-topic-v2").as("source")), regDir, v2Id))
          .as("wire"))
      .select(col("event_id"), graft.functions.FromConfluentAvro(
        col("wire"), regDir, wireV2).as("o"))
    assert(probe.filter(col("event_id") % 2 === 0)
      .filter(col("o.source") =!= "orders-topic").count() == 0,
      "v1 payloads must fill `source` from the v2 reader default")
    assert(probe.filter(col("event_id") % 2 === 1)
      .filter(col("o.source") =!= "orders-topic-v2").count() == 0)

    try {
      // ---- run 1: consume the whole topic, then CRASH with every
      // retryable mid-retry (pending state + armed timer, first
      // deadline 4 s out — nothing retryable emitted yet).
      val q1 = startTopology()
      val commitBy = System.currentTimeMillis() + 60000
      while (outCount() < nImmediate &&
          System.currentTimeMillis() < commitBy)
        Thread.sleep(100)
      q1.stop()
      assert(outCount() == nImmediate,
        s"run 1 must stop with ONLY immediate routes committed: " +
          s"${outCount()} vs $nImmediate")
      // deadlines pass while the job is DOWN
      Thread.sleep(5000)
      // ---- run 2: recover the checkpoint; restored timers fire and
      // every pending retryable terminally routes. One tick record
      // nudges the restarted query into constructing batches.
      java.nio.file.Files.writeString(srcDir.resolve("tick.json"),
        """{"event_id":9999999,"event_type":"Laptop","value":1.0,"ts":1704067200000000000}""")
      val q2 = startTopology()
      try {
        val deadline = System.currentTimeMillis() + 120000
        while (outCount() < nEvents + 1 &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(200)
      } finally q2.stop()

      val out = outcomes().filter(col("event_id") =!= "9999999").cache()
      try {
        // ---- exact ledger accounting across the restart: every event
        // terminally routed exactly once, no replays, no losses.
        assert(out.count() == nEvents,
          s"expected $nEvents terminal outcomes, got ${out.count()}")
        assert(out.groupBy("event_id").count().filter(col("count") > 1)
          .count() == 0, "an event routed twice across the restart")

        // ---- decision-table parity: the executed routes and TRUE
        // retry counts equal q_retry_outcomes row for row.
        val expectedFailed = Reliability.retryOutcomes(spark, sfDir)
          .select(col("event_id").cast("string").as("event_id"),
            col("route").as("e_route"),
            col("retry_count").as("e_count"))
        val mismatches = out.join(expectedFailed, Seq("event_id"))
          .filter(col("route") =!= col("e_route") ||
            col("retry_count") =!= col("e_count"))
        assert(mismatches.count() == 0,
          s"executed outcomes diverge from q_retry_outcomes: " +
            s"${mismatches.take(5).mkString("; ")}")

        // ---- main-aggregate parity: the PriceAggregator aggregate
        // (q_price_stats_by_product's function) over the topology's
        // main route equals the same aggregate over the batch decision
        // table's main route (valid + recovered retryables).
        val mainBatch = verdict
          .filter(col("is_valid") ||
            (col("error_class") === "RetryableError" && col("recover") <= 3))
          .select(col("event_type").as("product"), col("value").as("price"))
        val gotMain = OrderAnalytics.priceStats(
          out.filter(col("route") === "main")
            .select(col("product"), col("price")))
          .collect().map(_.toString).sorted.toSeq
        val wantMain = OrderAnalytics.priceStats(mainBatch)
          .collect().map(_.toString).sorted.toSeq
        assert(gotMain == wantMain,
          s"main aggregate diverged from the batch face:\n got " +
            s"$gotMain\nwant $wantMain")

        // ---- DLQ leg (query B): envelope the topology's dlq route
        // through the JSON file sink, exactly-once, with the verdict
        // error-type taxonomy the monitor face groups by.
        val dlqStream = spark.readStream.schema(outSchema)
          .parquet(outDir.toString)
          .filter(col("event_id") =!= "9999999")
          .as[OrderStream.RetryOutcome]
        val qB = OrderStream.dlqEnvelope(dlqStream,
            errorType = Reliability.errorTypeFor(
              col("product"), col("price")))
          .select("value")
          .writeStream.format("text")
          .option("path", dlqDir.toString)
          .option("checkpointLocation", chkB.toString)
          .start()
        try qB.processAllAvailable() finally qB.stop()

        // ---- monitor parity: the SAME parse→aggregate code
        // (dlqMonitorOver) over the envelopes the sink actually shipped
        // equals the registered q_dlq_monitor batch face, row for row,
        // every column — counts, true retry totals, last failure time
        // (message time), first offset.
        val gotMonitor = Reliability.dlqMonitorOver(
            spark.read.text(dlqDir.toString))
          .collect().map(_.toString).sorted.toSeq
        val wantMonitor = Reliability.dlqMonitor(spark, sfDir)
          .collect().map(_.toString).sorted.toSeq
        assert(gotMonitor.nonEmpty)
        assert(gotMonitor == wantMonitor,
          s"DLQ monitor diverged from q_dlq_monitor:\n got " +
            s"$gotMonitor\nwant $wantMonitor")
      } finally out.unpersist()
    } finally {
      spark.conf.unset(key)
      regServer.stop()
    }
  }

  test("scale notch: 10k events (sf0.01) through the full chain — " +
      "~2k concurrent pending retries, exactly-once, oracle-equal") {
    // The r14 verdict asked validation to move up one scale notch: the
    // same chain over 10× the corpus, with EVERY retryable (2,014 at
    // sf0.01) arriving within the first few batches and holding pending
    // state + an armed timer simultaneously — the timer-concurrency
    // regime the restart test's 201 keys only sketch. Ledger must stay
    // exactly-once and the decision table equal to q_retry_outcomes at
    // sf0.01 row for row.
    import spark.implicits._
    val bigSf = "/root/testdata/sf0.01"
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files.createTempDirectory("graft-topology-10k")
    val (srcDir, outDir, chk) = (root.resolve("src"),
      root.resolve("outcomes"), root.resolve("chk"))
    java.nio.file.Files.createDirectories(srcDir)
    val regDir = root.resolve("registry").toFile.getAbsolutePath
    val reg = new graft.streaming.FileSchemaRegistry(regDir)
    val v1Id = reg.register("orders-value",
      new org.apache.avro.Schema.Parser().parse(wireV1))
    val v2Id = reg.register("orders-value",
      new org.apache.avro.Schema.Parser().parse(wireV2))
    graft.streaming.Topology.stageTopic(
      Tables.events(spark, bigSf), srcDir.toString)
    val nEvents = Tables.events(spark, bigSf).count()

    // Compressed flat schedule: all 2k retryables' first deadlines land
    // ~300 ms after their batch — maximal overlap, bounded wall time.
    val fastMs: (String, Int) => Long = (_, a) => 300L + 100L * a
    val ledger = new OrderStream.ProgressLedger
    spark.streams.addListener(ledger)
    val t0 = System.nanoTime()
    val q = outcomeStream(srcDir.toString, regDir, v1Id, v2Id, fastMs)
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", chk.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("500 milliseconds"))
      .start()
    def outCount(): Long =
      try spark.read.schema(outSchema).parquet(outDir.toString).count()
      catch { case _: Throwable => 0L }
    try {
      val deadline = System.currentTimeMillis() + 240000
      while (outCount() < nEvents && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
    } finally {
      q.stop()
      spark.streams.removeListener(ledger)
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    try {
      val out = spark.read.schema(outSchema).parquet(outDir.toString)
        .cache()
      // exactly-once ledger at 10×
      assert(out.count() == nEvents,
        s"expected $nEvents terminal outcomes, got ${out.count()}")
      assert(out.groupBy("event_id").count().filter(col("count") > 1)
        .count() == 0, "an event routed twice at the 10k scale notch")
      // full decision-table equality against the sf0.01 oracle face
      val expected = Reliability.retryOutcomes(spark, bigSf)
        .select(col("event_id").cast("string").as("event_id"),
          col("route").as("e_route"), col("retry_count").as("e_count"))
      val nFailed = expected.count()
      assert(nFailed >= 2000,
        s"sf0.01 must carry ~2k retryables, found $nFailed")
      val joined = out.join(expected, Seq("event_id"))
      assert(joined.count() == nFailed,
        "every failed event must have a terminal outcome")
      assert(joined.filter(col("route") =!= col("e_route") ||
        col("retry_count") =!= col("e_count")).count() == 0,
        "decision table diverged from q_retry_outcomes at sf0.01")
      // state really scaled: the store held thousands of rows at once
      // (pending retries + routed tombstones), observed off the
      // progress listener, not inferred.
      import scala.jdk.CollectionConverters._
      val maxState = ledger.batches.asScala.map(_.stateRows).max
      assert(maxState >= nEvents / 2,
        s"state never reached scale: max stateRows $maxState")
      // The ledger's capacity figures are filled from the same events:
      // RocksDB reports its memory and its live SST bytes.
      val maxMem = ledger.batches.asScala.map(_.stateMemBytes).max
      val maxSst = ledger.batches.asScala.map(_.sstBytes).max
      assert(maxMem > 0 && maxSst > 0,
        s"state memory/SST bytes not reported: $maxMem / $maxSst")
      // throughput datapoint for §6 (not asserted — host-dependent):
      info(f"10k-event topology: $elapsedS%.1f s end-to-end, " +
        f"${nEvents / elapsedS}%.0f events/s, max state rows $maxState")
    } finally spark.conf.unset(key)
  }

  test("scale notch sf0.1: 100k events, ~20k retryables ALL pending " +
      "across a checkpoint restart, exactly-once, oracle-equal") {
    // r15 verdict №1 — the bench's own scale: the full chain over the
    // 100k-event sf0.1 corpus, where every retryable (~20k) holds
    // pending state + an armed timer SIMULTANEOUSLY, and the job is
    // stopped and recovered in exactly that regime — one more order of
    // magnitude over the 10k notch, WITH the restart the 10k notch
    // skips. Ledger must stay exactly-once and the decision table equal
    // to q_retry_outcomes at sf0.1 row for row.
    import spark.implicits._
    val bigSf = "/root/testdata/sf0.1"
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files.createTempDirectory("graft-topology-100k")
    val (srcDir, outDir, chk) = (root.resolve("src"),
      root.resolve("outcomes"), root.resolve("chk"))
    java.nio.file.Files.createDirectories(srcDir)
    val regDir = root.resolve("registry").toFile.getAbsolutePath
    val reg = new graft.streaming.FileSchemaRegistry(regDir)
    val v1Id = reg.register("orders-value",
      new org.apache.avro.Schema.Parser().parse(wireV1))
    val v2Id = reg.register("orders-value",
      new org.apache.avro.Schema.Parser().parse(wireV2))
    graft.streaming.Topology.stageTopic(
      Tables.events(spark, bigSf), srcDir.toString)
    val nEvents = Tables.events(spark, bigSf).count()
    val nImmediate = {
      val verdict = Reliability.withVerdict(Tables.events(spark, bigSf))
      verdict.filter(col("is_valid") ||
        col("error_class") === "PermanentError").count()
    }

    // ABSOLUTE-INSTANT first deadline: every retryable's retry-1 timer
    // lands at the SAME wall instant regardless of which batch consumed
    // it — so at that instant the store provably holds the WHOLE
    // retryable population pending at once, and stopping before it
    // gives a restart with all ~20k timers armed. Ingestion must finish
    // inside the budget (asserted loudly below); re-attempts after the
    // restart run on a compressed 400-600 ms schedule.
    val firstFireAt = System.currentTimeMillis() + 180000L
    val notchMs: (String, Int) => Long = (_, a) =>
      if (a == 0) math.max(firstFireAt - System.currentTimeMillis(), 1L)
      else 300L + 100L * a
    val ledger = new OrderStream.ProgressLedger
    spark.streams.addListener(ledger)
    def startTopology() =
      outcomeStream(srcDir.toString, regDir, v1Id, v2Id, notchMs)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", chk.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("500 milliseconds"))
        .start()
    def outCount(): Long =
      try spark.read.schema(outSchema).parquet(outDir.toString).count()
      catch { case _: Throwable => 0L }

    val t0 = System.nanoTime()
    try {
      // ---- run 1: consume the whole topic; only immediate routes may
      // commit (every retryable's first deadline is still ahead).
      val q1 = startTopology()
      while (outCount() < nImmediate &&
          System.currentTimeMillis() < firstFireAt - 5000)
        Thread.sleep(500)
      q1.stop()
      val ingestS = (System.nanoTime() - t0) / 1e9
      assert(System.currentTimeMillis() < firstFireAt - 2000,
        f"ingestion (${ingestS}%.0f s) overran the 175 s first-deadline " +
          "budget — raise firstFireAt for this host")
      assert(outCount() == nImmediate,
        s"run 1 must stop with ONLY immediate routes committed: " +
          s"${outCount()} vs $nImmediate")
      // The store held the ENTIRE retryable population pending at once
      // (plus routed tombstones) before the stop.
      import scala.jdk.CollectionConverters._
      val maxStateRun1 = ledger.batches.asScala.map(_.stateRows).max
      val nFailed = Reliability.retryOutcomes(spark, bigSf).count()
      assert(nFailed >= 19000, s"sf0.1 must carry ~20k retryables: $nFailed")
      assert(maxStateRun1 >= nEvents,
        s"state never held pending+tombstones at full scale: $maxStateRun1")

      // ---- deadlines pass while the job is DOWN; restart recovers
      // ~20k armed timers from RocksDB and drains the retry rounds.
      val slack = firstFireAt + 2000 - System.currentTimeMillis()
      if (slack > 0) Thread.sleep(slack)
      java.nio.file.Files.writeString(srcDir.resolve("tick.json"),
        """{"event_id":9999999,"event_type":"Laptop","value":1.0,"ts":1704067200000000000}""")
      val q2 = startTopology()
      try {
        val deadline = System.currentTimeMillis() + 300000
        while (outCount() < nEvents + 1 &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(500)
      } finally {
        q2.stop()
        spark.streams.removeListener(ledger)
      }
      val elapsedS = (System.nanoTime() - t0) / 1e9

      val out = spark.read.schema(outSchema).parquet(outDir.toString)
        .filter(col("event_id") =!= "9999999").cache()
      try {
        // exactly-once ledger across the restart at 100k
        assert(out.count() == nEvents,
          s"expected $nEvents terminal outcomes, got ${out.count()}")
        assert(out.groupBy("event_id").count().filter(col("count") > 1)
          .count() == 0, "an event routed twice across the sf0.1 restart")
        // full decision-table equality against the sf0.1 oracle face
        val expected = Reliability.retryOutcomes(spark, bigSf)
          .select(col("event_id").cast("string").as("event_id"),
            col("route").as("e_route"), col("retry_count").as("e_count"))
        val joined = out.join(expected, Seq("event_id"))
        assert(joined.count() == nFailed,
          "every failed event must have a terminal outcome")
        assert(joined.filter(col("route") =!= col("e_route") ||
          col("retry_count") =!= col("e_count")).count() == 0,
          "decision table diverged from q_retry_outcomes at sf0.1")
        info(f"100k-event topology with restart: $elapsedS%.1f s " +
          f"end-to-end (${ingestS}%.1f s ingest), " +
          f"${nEvents / elapsedS}%.0f events/s, " +
          f"max state rows $maxStateRun1, $nFailed retryables pending " +
          "concurrently across the restart")
      } finally out.unpersist()
    } finally spark.conf.unset(key)
  }
}
