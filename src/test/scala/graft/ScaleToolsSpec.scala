package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SaltedJoin
import graft.streaming.OrderStream

/** Scale tooling: salted join/agg equivalence under heavy skew, a real
  * file-source streaming run, and property-based Avro codec round-trips.
  */
class ScaleToolsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession =
    GraftSession.create("scale-tools-spec", cores = "4")

  override def afterAll(): Unit = spark.stop()

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The built-in Spark-first answer to join skew (salting is the
    // manual fallback below): with skew-join enabled, AQE detects the
    // oversized shuffle partition at RUNTIME from map output stats and
    // splits it across tasks — the final adaptive plan marks the
    // shuffle read `skew=true`. Thresholds are lowered to test scale;
    // at 100 TB the defaults (256 MB) play the same role.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90% of the left rows land on key 0 with a fat payload — one
      // shuffle partition far past threshold × factor.
      // md5 hex = incompressible payload: the skewed partition's
      // SHUFFLE bytes (lz4'd) must clear the threshold, so a
      // constant-ish pad would vanish under compression.
      val left = spark.range(0, 120000)
        .select(when(col("id") < 108000, 0L).otherwise(col("id")).as("k"),
          concat(md5(col("id").cast("string")),
            md5((col("id") + 1).cast("string"))).as("pad"))
      val right = spark.range(0, 1000)
        .select(col("id").as("k"), col("id").as("v"))
      // Aggregate the payload VALUE so the (incompressible, unique)
      // strings flow THROUGH the join shuffle — count(pad) folds to
      // count(1) on a non-null column, prunes pad, and the
      // constant-key partition then compresses under the skew
      // threshold.
      val q = left.join(right.hint("merge"), "k")
        .selectExpr("count(1) AS n", "max(pad) AS m")
      val n = q.collect()(0).getLong(0)
      assert(n == 108000L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have split the skewed partition:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a dominant ER blocking key at runtime") {
    // The ER operator's declared answer to block skew ("the blocking
    // key is the shuffle key; block skew is AQE's job") exercised for
    // real, on the operator's own join: one (brand, size) block owns
    // most of the table, thresholds lowered to test scale. The planted
    // block is kept small enough that its quadratic candidate space
    // verifies in-test, while its (incompressible) shuffle bytes still
    // clear threshold × factor against the spread blocks' median.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 1000 parts in the dominant (Brand#00, 1) block carrying
      // incompressible names of 20 distinct lengths (k·32 chars, k =
      // id%20+1, each 32-char term a distinct md5 so lz4 can't shrink
      // the partition under the threshold): ~340 KB lands in ONE
      // shuffle partition, while 2000 spread rows with 32-char names
      // hash across the rest (~25 KB median). The length classes also
      // bound the verify: the operator's ±4-length gate kills every
      // cross-class pair inside the block, so the quadratic space that
      // actually reaches levenshtein is 20 × (50²/2), not 1000²/2.
      val terms = (0 until 20)
        .map(i => s"md5(cast(id * 31 + $i AS string))").mkString(", ")
      val parts = spark.range(0, 3000).selectExpr(
        "id AS p_partkey",
        "CASE WHEN id < 1000 THEN 'Brand#00' " +
          "ELSE concat('Brand#', cast(id % 97 AS string)) END AS p_brand",
        "CASE WHEN id < 1000 THEN 1 ELSE cast(id % 11 AS int) END AS p_size",
        "CASE WHEN id < 1000 " +
          s"THEN substr(concat($terms), 1, 32 * (cast(id AS int) % 20 + 1)) " +
          "ELSE md5(cast(id AS string)) END AS name")
      val q = graft.operators.Dedup.erPairsFrom(parts)
        .agg(count(lit(1)).as("n_pairs"), max("part_j").as("max_j"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have split the dominant blocking key:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits the dominant stopword token in docRarity's join-back") {
    // The token-keyed join-back family (docRarity, bigramSurprisal)
    // declares "Zipf skew on the token key is AQE's job" — exercised
    // here on docRarity's OWN plan: a corpus where one stopword owns
    // most token rows, thresholds lowered to test scale. Each doc
    // contributes 'the' plus one unique token; lang is a distinct md5
    // so the hot partition's shuffle bytes survive lz4 and clear
    // threshold × factor against the hash-spread unique tokens.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val docs = spark.range(0, 10000).selectExpr(
        "id AS doc_id",
        "md5(cast(id AS string)) AS lang",
        "concat('the u', cast(id AS string)) AS text")
      // The operator's contract: vocab arrives as a SCAN of the
      // build-once index (an inline groupBy is already aligned on the
      // join key, so OptimizeSkewedJoin never sees a splittable stage
      // — the bug this spec originally caught).
      val vocabDir = java.nio.file.Files
        .createTempDirectory("graft-skew-vocab").toFile.getAbsolutePath
      docs.selectExpr("explode(split(lower(text), '\\\\s+')) AS w")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(vocabDir)
      val q = graft.operators.TextAnalysis
        .docRarityFrom(docs, spark.read.parquet(vocabDir))
        .agg(count(lit(1)).as("n_docs"), max("rarity_micro").as("mx"))
      val n = q.collect()(0).getLong(0)
      assert(n == 10000L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have split the dominant token key:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join equals plain join under 90% single-key skew") {
    import spark.implicits._
    // 10k rows, 90% on key 1 — the "one hot user" shape.
    val fact = spark.range(10000)
      .select((when(col("id") % 10 =!= 0, 1L).otherwise(col("id"))).as("k"),
        col("id").as("payload"))
    val dim = Seq((1L, "hot"), (5L, "cold"), (10L, "other"))
      .toDF("k", "label")
    val plain = fact.join(dim, "k")
      .select("k", "payload", "label").collect().toSet
    val salted = SaltedJoin.join(fact, dim, "k", salts = 8)
      .select("k", "payload", "label").collect().toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("salted two-phase count equals plain groupBy count") {
    import spark.implicits._
    val fact = spark.range(10000)
      .select((when(col("id") % 10 =!= 0, 1L).otherwise(col("id"))).as("k"))
    val plain = fact.groupBy("k").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val salted = SaltedJoin.countBySkewedKey(fact, "k", salts = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(salted == plain)
  }

  test("windowedStats over a parquet file stream matches batch") {
    val tmp = Files.createTempDirectory("graft-stream").toFile
    val src = new java.io.File(tmp, "src"); src.mkdirs()
    val ckpt = new java.io.File(tmp, "ckpt")

    val events = Tables.events(spark, "/root/testdata/sf0.001")
    events.write.mode("overwrite").parquet(src.getAbsolutePath)

    val streamDf = spark.readStream
      .schema(events.schema)
      .parquet(src.getAbsolutePath)
    val q = OrderStream.windowedStats(OrderStream.asOrders(streamDf))
      .writeStream.format("memory").queryName("file_stream_test")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val fromStream = spark.table("file_stream_test")
        .orderBy("window_start_s", "product").collect().toSeq
      val fromBatch = OrderStream.windowedStats(OrderStream.asOrders(events))
        .orderBy("window_start_s", "product").collect().toSeq
      assert(fromStream == fromBatch && fromStream.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val h = 3600L * 1000000000L // 1h in nanos
    val base = 1704067200000L * 1000000L
    // (event_id, ts_nanos, user_id, event_type, value, props)
    val events = Seq(
      (1L, base, 1L, "view", 1.0, "{}"),
      (2L, base + h / 2, 1L, "purchase", 50.0, "{}"),   // joins view 1
      (3L, base + 2 * h, 1L, "purchase", 60.0, "{}"),   // view 1 too old
      (4L, base, 2L, "view", 1.0, "{}"),
      (5L, base + h / 4, 2L, "view", 1.0, "{}"),
      (6L, base + h / 2, 2L, "purchase", 70.0, "{}"),   // joins views 4+5
      (7L, base, 3L, "purchase", 80.0, "{}"))           // no view
    val schema = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

    val batch = OrderStream.viewPurchaseJoin(events.toDF(schema: _*))
      .collect().map(_.toString).sorted.toSeq

    val input = MemoryStream[(Long, Long, Long, String, Double, String)]
    input.addData(events: _*)
    val q = OrderStream.viewPurchaseJoin(input.toDF().toDF(schema: _*))
      .writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ss_join_test")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch)
      assert(batch.size == 3) // purchases 2 (1 view), 6 (2 views)
    } finally q.stop()
  }

  test("stream-static enrichment join resolves the dim per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // The enrichment shape: a streaming fact joined to a static
    // (broadcastable) dimension — planned as a broadcast hash join
    // inside every micro-batch, no stream-stream state at all. The dim
    // here is the supplier→nation mapping from parquet, keyed by a
    // product-to-supplier hash on the stream side.
    val dim = Tables.supplier(spark, "/root/testdata/sf0.001")
      .select(col("s_suppkey"), col("s_nationkey"))
    val input = MemoryStream[graft.streaming.OrderStream.OrderEvent]
    val enriched = input.toDF()
      .withColumn("supp", abs(xxhash64(col("product"))) % 10)
      .join(broadcast(dim), col("supp") === col("s_suppkey"))
      .select(col("orderId"), col("product"), col("s_nationkey"))
    val q = enriched.writeStream.format("memory")
      .queryName("stream_static_test").outputMode("append").start()
    try {
      input.addData(graft.streaming.OrderStream.OrderEvent("ORD-1", "Laptop", 10.0, 1704067200000L),
        graft.streaming.OrderStream.OrderEvent("ORD-2", "Mouse", 5.0, 1704067201000L))
      q.processAllAvailable()
      input.addData(graft.streaming.OrderStream.OrderEvent("ORD-3", "Laptop", 12.0, 1704067202000L))
      q.processAllAvailable()
      val got = spark.table("stream_static_test").collect()
        .map(r => (r.getString(0), r.getInt(2))).toMap
      assert(got.size == 3, s"every order must enrich exactly once: $got")
      // Same product → same dim row across micro-batches.
      assert(got("ORD-1") == got("ORD-3"))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join null-pads after watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val h = 3600L * 1000000000L // 1h in nanos
    val base = 1704067200000L * 1000000L
    val events = Seq(
      (1L, base, 1L, "view", 1.0, "{}"),
      (2L, base + h / 2, 1L, "purchase", 50.0, "{}"),   // joins view 1
      (3L, base + 2 * h, 1L, "purchase", 60.0, "{}"),   // view 1 too old → null
      (4L, base, 2L, "view", 1.0, "{}"),
      (5L, base + h / 4, 2L, "view", 1.0, "{}"),
      (6L, base + h / 2, 2L, "purchase", 70.0, "{}"),   // joins views 4+5
      (7L, base, 3L, "purchase", 80.0, "{}"))           // no view → null
    val schema = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

    val batch = OrderStream.purchaseViewOuterJoin(events.toDF(schema: _*))
      .collect().map(_.toString).sorted.toSeq

    val input = MemoryStream[(Long, Long, Long, String, Double, String)]
    input.addData(events: _*)
    val q = OrderStream.purchaseViewOuterJoin(input.toDF().toDF(schema: _*))
      .writeStream.format("memory").queryName("ss_outer_join_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // Null-padded rows flush only once the GLOBAL watermark (the min
      // over both sides' event-time watermarks) passes the join window,
      // so far-future events must arrive on BOTH sides; distinct users
      // (8, 9) keep the flush events from matching each other, and the
      // flush purchases themselves stay in state (the watermark never
      // reaches them), adding no rows.
      input.addData(
        (98L, base + 100 * h, 8L, "purchase", 1.0, "{}"),
        (99L, base + 100 * h, 9L, "view", 1.0, "{}"))
      q.processAllAvailable()
      // The watermark computed from batch N applies to batch N+1, so
      // state eviction (and with it the null padding) needs one more
      // batch after the flush events.
      input.addData(
        (100L, base + 101 * h, 8L, "purchase", 1.0, "{}"),
        (101L, base + 101 * h, 9L, "view", 1.0, "{}"))
      q.processAllAvailable()
      val streamed = spark.table("ss_outer_join_test")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch)
      assert(batch.size == 5) // 3 matched + purchases 3 and 7 null-padded
    } finally q.stop()
  }

  test("stream-stream FULL OUTER interval join null-pads BOTH sides") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val h = 3600L * 1000000000L // 1h in nanos
    val base = 1704067200000L * 1000000L
    val events = Seq(
      (1L, base, 1L, "view", 1.0, "{}"),
      (2L, base + h / 2, 1L, "purchase", 50.0, "{}"),   // joins view 1
      (3L, base + 2 * h, 1L, "purchase", 60.0, "{}"),   // view 1 too old → null view
      (4L, base, 2L, "view", 1.0, "{}"),
      (5L, base + h / 4, 2L, "view", 1.0, "{}"),
      (6L, base + h / 2, 2L, "purchase", 70.0, "{}"),   // joins views 4+5
      (7L, base, 3L, "purchase", 80.0, "{}"),           // no view → null view
      (8L, base, 4L, "view", 1.0, "{}"))                // no purchase → null purchase
    val schema = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

    val batch = OrderStream.purchaseViewFullOuterJoin(events.toDF(schema: _*))
      .collect().map(_.toString).sorted.toSeq

    val input = MemoryStream[(Long, Long, Long, String, Double, String)]
    input.addData(events: _*)
    val q = OrderStream.purchaseViewFullOuterJoin(input.toDF().toDF(schema: _*))
      .writeStream.format("memory").queryName("ss_full_outer_join_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // Same two-step flush as the left-outer spec: advance both sides'
      // watermarks past the join window, then one more batch so state
      // eviction (computed from batch N, applied in N+1) emits the
      // null-padded rows on BOTH sides.
      input.addData(
        (98L, base + 100 * h, 8L, "purchase", 1.0, "{}"),
        (99L, base + 100 * h, 9L, "view", 1.0, "{}"))
      q.processAllAvailable()
      input.addData(
        (100L, base + 101 * h, 8L, "purchase", 1.0, "{}"),
        (101L, base + 101 * h, 9L, "view", 1.0, "{}"))
      q.processAllAvailable()
      val streamed = spark.table("ss_full_outer_join_test")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch)
      // 3 matched + purchases 3, 7 null-padded + view 8 null-padded.
      assert(batch.size == 6)
    } finally q.stop()
  }

  test("stream-stream LEFT SEMI interval join emits each matched purchase once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val h = 3600L * 1000000000L // 1h in nanos
    val base = 1704067200000L * 1000000L
    val events = Seq(
      (1L, base, 1L, "view", 1.0, "{}"),
      (2L, base + h / 2, 1L, "purchase", 50.0, "{}"),   // matched (view 1)
      (3L, base + 2 * h, 1L, "purchase", 60.0, "{}"),   // view 1 too old → absent
      (4L, base, 2L, "view", 1.0, "{}"),
      (5L, base + h / 4, 2L, "view", 1.0, "{}"),
      (6L, base + h / 2, 2L, "purchase", 70.0, "{}"),   // TWO views → ONE row
      (7L, base, 3L, "purchase", 80.0, "{}"))           // no view → absent
    val schema = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

    val batch = OrderStream.purchaseViewSemiJoin(events.toDF(schema: _*))
      .collect().map(_.toString).sorted.toSeq

    val input = MemoryStream[(Long, Long, Long, String, Double, String)]
    input.addData(events: _*)
    val q = OrderStream.purchaseViewSemiJoin(input.toDF().toDF(schema: _*))
      .writeStream.format("memory").queryName("ss_semi_join_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ss_semi_join_test")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch)
      // Purchases 2 and 6 each exactly once — the multi-view purchase
      // does NOT fan out, and the unmatched purchases never emit.
      assert(batch.size == 2)
    } finally q.stop()
  }

  test("EventTimeTimeout sessions emit exactly when the watermark closes them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val m = 60L * 1000000000L // 1 min in nanos
    val base = 1704067200000L * 1000000L
    val input = MemoryStream[(Long, Long, Long, String, Double, String)]
    val schema = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val src = input.toDF().toDF(schema: _*)
      .withColumn("event_time", timestamp_millis(expr("ts div 1000000")))
      .withWatermark("event_time", "10 minutes")
    val q = OrderStream.timeoutSessions(src, gapMs = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("timeout_sessions")
      .outputMode("append").start()
    try {
      // User 1: two events 1 min apart (one session, 300 cents); user 2:
      // two events 30 min apart IN THE SAME BATCH — a gap split, the
      // first session closes immediately without waiting for a timeout.
      input.addData(
        (1L, base, 1L, "view", 1.0, "{}"),
        (2L, base + m, 1L, "purchase", 2.0, "{}"),
        (3L, base, 2L, "view", 5.0, "{}"),
        (4L, base + 30 * m, 2L, "view", 7.0, "{}"))
      q.processAllAvailable()
      // Batch 1's max event (base+30m) puts the watermark at base+20m
      // (10-min delay), and the follow-up no-data micro-batch fires
      // timeouts against it: user 1's session (timeout base+6m) closes,
      // user 2's first closed already via the in-batch gap split, and
      // user 2's second (timeout base+35m) is still open.
      val early = spark.table("timeout_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(early == Set((2L, 1L, 500L), (1L, 2L, 300L)),
        s"unexpected early emissions: $early")
      // Far-future event pushes the watermark past last + gap; one more
      // batch applies it (watermark from batch N applies to batch N+1).
      input.addData((9L, base + 1000 * m, 9L, "view", 1.0, "{}"))
      q.processAllAvailable()
      input.addData((10L, base + 1001 * m, 9L, "view", 1.0, "{}"))
      q.processAllAvailable()
      val out = spark.table("timeout_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out.contains((1L, 2L, 300L)),
        s"closed session for user 1 expected, got $out")
      // User 2's second (post-gap) session closed via the timeout.
      assert(out.contains((2L, 1L, 700L)), s"got $out")
      // User 9's session is still open (watermark never passes it).
      assert(!out.exists(_._1 == 9L))
    } finally q.stop()
  }

  test("transformWithState timer sessions match the flatMapGroupsWithState form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val m = 60L * 1000000000L
      val base = 1704067200000L * 1000000L
      val schema = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      val batch1 = Seq(
        (1L, base, 1L, "view", 1.0, "{}"),
        (2L, base + m, 1L, "purchase", 2.0, "{}"),
        (3L, base, 2L, "view", 5.0, "{}"),
        (4L, base + 30 * m, 2L, "view", 7.0, "{}"))
      val flush1 = Seq((9L, base + 1000 * m, 9L, "view", 1.0, "{}"))
      val flush2 = Seq((10L, base + 1001 * m, 9L, "view", 1.0, "{}"))
      def run(name: String,
          pipeline: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row] =>
            org.apache.spark.sql.Dataset[OrderStream.SessionOut]): Seq[String] = {
        val input = MemoryStream[(Long, Long, Long, String, Double, String)]
        val src = input.toDF().toDF(schema: _*)
          .withColumn("event_time", timestamp_millis(expr("ts div 1000000")))
          .withWatermark("event_time", "10 minutes")
        val q = pipeline(src).writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          for (b <- Seq(batch1, flush1, flush2)) {
            input.addData(b: _*); q.processAllAvailable()
          }
          spark.table(name).collect().map(_.toString).sorted.toSeq
        } finally q.stop()
      }
      val tws = run("gap_sessions_tws",
        df => OrderStream.timeoutSessionsTws(df, gapMs = 5 * 60 * 1000))
      val fmgws = run("gap_sessions_fmgws",
        df => OrderStream.timeoutSessions(df, gapMs = 5 * 60 * 1000))
      assert(tws == fmgws && tws.size >= 3, s"tws=$tws fmgws=$fmgws")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("Observation metrics account a pass with no second scan") {
    import org.apache.spark.sql.Observation
    // Data-quality accounting piggybacked on the pass itself — at 100 TB
    // a separate counting scan costs as much as the job; observe() rides
    // the same physical plan.
    val obs = Observation("corpus-accounting")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .observe(obs,
        count(lit(1)).as("n_in"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    val enCount = docs.filter(col("lang") === "en").count()
    val m = obs.get
    assert(m("n_in").asInstanceOf[Long] ==
      Tables.documents(spark, "/root/testdata/sf0.001").count())
    assert(m("n_en").asInstanceOf[Long] == enCount)
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // Spark's injected runtime filter: a selective build side plants a
    // bloom filter on the probe side's scan — at scale this skips whole
    // row groups of the 100 TB fact for free. Thresholds lowered so the
    // tiny test tables qualify; broadcast disabled to force the shuffle
    // join shape the filter targets.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val sf = "/root/testdata/sf0.001"
      val selective = Tables.orders(spark, sf)
        .filter(col("o_totalprice") > 300000.0)
        .select("o_orderkey")
      val joined = Tables.lineitem(spark, sf)
        .join(selective, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_might_contain") ||
        plan.toLowerCase.contains("bloomfilter"),
        s"no runtime bloom filter injected:\n$plan")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("Avro codec round-trips arbitrary orders (property)") {
    import spark.implicits._
    val gen = for {
      id <- Gen.stringOf(Gen.asciiPrintableChar)
      product <- Gen.oneOf(Gen.alphaNumStr, Gen.stringOf(Gen.choose('\u0000', '\ud7ff')))
      price <- Gen.oneOf(Gen.chooseNum(-1e30f, 1e30f), Gen.oneOf(
        0.0f, -0.0f, Float.MinPositiveValue, Float.MaxValue,
        Float.PositiveInfinity, Float.NegativeInfinity))
      ts <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    } yield (id, product, price, ts)
    val cases = (1 to 50).map(i => gen.pureApply(Gen.Parameters.default, Seed(i)))
    val rows = cases
      .toDF("orderId", "product", "price", "timestamp")
      .selectExpr("orderId", "product", "price", "timestamp",
        "from_avro_order(to_avro_order(named_struct(" +
          "'orderId', orderId, 'product', product, 'price', price, " +
          "'timestamp', timestamp))) AS o")
      .collect()
    rows.foreach { r =>
      val o = r.getStruct(4)
      assert(o.getString(0) == r.getString(0))
      assert(o.getString(1) == r.getString(1))
      assert(java.lang.Float.floatToIntBits(o.getFloat(2)) ==
        java.lang.Float.floatToIntBits(r.getFloat(2)))
      assert(o.getLong(3) == r.getLong(3))
    }
  }

  test("quantile sketch at 1M rows: state stays O(k·shards), error < 5%") {
    // The 100 TB claim measured two orders of magnitude above the test
    // corpus: at 1M rows per group the sketch must still retain at most
    // ~2·k rows per (group, shard) (the threshold halves survivors each
    // step, so retained ∈ (k·shards/2, k·shards]), and the ceil-rank
    // estimate must keep its O(1/√retained) accuracy. All deterministic
    // — md5 levels — so the bounds are pinned, not flaky.
    import org.apache.spark.sql.functions._
    val n = 1000000L
    val df = spark.range(1, n + 1).select(lit("g").as("grp"),
      col("id").as("event_id"), col("id").as("cents"))
    val est = graft.operators.Profiling.quantileSketchOf(df).collect()
    assert(est.length == 3)
    est.foreach { r =>
      val q = r.getAs[Long]("q_pct")
      val errPpm = math.abs(
        r.getAs[Long]("est_cents") * 1000000L / n - q * 10000L)
      assert(errPpm <= 50000L, s"q$q err $errPpm ppm")
      assert(r.getAs[Long]("t_star") >= 9, "threshold really climbed")
      assert(r.getAs[Long]("n_retained") <= 8 * 128 * 2,
        s"state grew past O(k·shards): ${r.getAs[Long]("n_retained")}")
      assert(math.abs(r.getAs[Long]("n_est") - n) <= n / 10)
    }
  }
}
