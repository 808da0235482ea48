package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.jdk.CollectionConverters._

/** SELF-GENERATED 10× SCALE NOTCH (r16 verdict №1/№7): the driver's
  * largest corpus is sf0.1 (100k events / 5k docs / 2k embeddings), so
  * every "designed for 100 TB" claim above that rested on plan shape
  * alone. This main synthesizes an sf1-EQUIVALENT corpus (10× sf0.1)
  * with the engine's own deterministic generators and MEASURES the
  * scaling exponents of the flagship stateful and batch paths:
  *
  *  - events ×10: each copy is the real sf0.1 events table with ids
  *    shifted by a disjoint stride — the verdict-class distribution
  *    (valid / permanent / retryable) scales EXACTLY 10×, while the
  *    md5-keyed retry schedule re-randomizes per shifted id.
  *  - documents ×10: per-copy rotated-alphabet `translate` — each copy
  *    is an ISOMORPHIC dedup problem (within-copy shingle structure,
  *    and so its planted near-dups, are preserved 1:1) that shares no
  *    words across copies, so true pair counts scale 10×, not 100×.
  *  - embeddings ×10: per-copy deterministic sign-flip pattern (a
  *    diagonal ±1 orthogonal transform) — distances WITHIN a copy are
  *    preserved exactly, cross-copy vectors are uncorrelated, so the
  *    ANN problem is 10 isometric sub-problems in one index space.
  *
  * Then it runs (a) the FULL topology (Confluent-framed decode →
  * validate → RetryExecProcessor on RocksDB → exactly-once sink)
  * through a checkpoint restart at 1× and 10× — at 10× that is ~198k
  * retryables ALL holding pending state + an armed timer at the
  * restart instant — with a State-Data-Source capacity audit of the
  * stopped checkpoint; and (b) the dedup chain (minhash → duplicate
  * clusters → leakage-safe split) and the IVF ANN serve path at both
  * scales. Wall time, shuffle bytes (from a stage-level listener) and
  * state telemetry are printed per scale with 10×/1× ratios — the
  * measured scaling exponents SURVEY §6 records.
  *
  * Usage: `runMain graft.ScaleNotch [baseSf] [copies]`
  * (defaults /root/testdata/sf0.1 and 10). Writes SCALE_NOTCH.json.
  */
object ScaleNotch {

  // ---------------------------------------------------------------- synth

  /** Events ×copies: all columns preserved; event_id shifted by a
    * disjoint per-copy stride (so retry-schedule draws re-randomize but
    * never collide); ts nudged +i ns so copies aren't byte-identical
    * rows. The verdict predicate reads only (event_type, value), which
    * copies preserve — class counts scale exactly ×copies. */
  private[graft] def synthesizeEvents(spark: SparkSession, baseDir: String,
      outDir: String, copies: Int): Long = {
    val base = Tables.events(spark, baseDir) // ts normalized to LONG nanos
    val stride = base.agg(max("event_id")).head().getLong(0) + 1L
    val all = (0 until copies).map { i =>
      base.select(
        (col("event_id") + lit(i * stride)).as("event_id"),
        (col("ts") + lit(i.toLong)).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
    all.write.mode("overwrite").parquet(s"$outDir/events.parquet")
    spark.read.parquet(s"$outDir/events.parquet").count()
  }

  /** Documents ×copies: copy i rewrites letters through a distinct
    * element of the dihedral alphabet group — rotation by i for
    * i < 26, reflection-then-rotation for 26 ≤ i < 52 — via
    * `translate`: length-preserving, 1:1 within a copy (two docs
    * sharing a word still share its image, so every within-copy
    * near-dup relation survives), and no two copies share a word image
    * (a 30×-probe with plain rot-(i%26) silently made copies 26-29
    * byte-identical to 0-3, planting ~20k cross-copy exact dups that
    * read as super-linear pair growth — a synthesis artifact, hence
    * the group extension and the hard cap). */
  private[graft] def synthesizeDocuments(spark: SparkSession,
      baseDir: String, outDir: String, copies: Int): Long = {
    require(copies <= 52,
      s"documents synthesis supports at most 52 word-disjoint copies " +
        s"(26 rotations + 26 reflections), got $copies")
    val base = Tables.documents(spark, baseDir)
    val stride = base.agg(max("doc_id")).head().getLong(0) + 1L
    val abc = "abcdefghijklmnopqrstuvwxyz"
    val all = (0 until copies).map { i =>
      val text =
        if (i == 0) col("text")
        else {
          val src = if (i < 26) abc else abc.reverse
          val r = i % 26
          val img = src.drop(r) + src.take(r)
          translate(col("text"),
            abc + abc.toUpperCase, img + img.toUpperCase)
        }
      base.select(
        (col("doc_id") + lit(i * stride)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    all.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.read.parquet(s"$outDir/documents.parquet").count()
  }

  /** Embeddings ×copies: copy i multiplies dimension j by a
    * deterministic ±1 drawn from hash(j, i) — an isometry per copy
    * (all of copy i's vectors get the SAME diagonal transform), so
    * within-copy neighborhoods are exact images of the originals while
    * cross-copy cosines decorrelate. */
  private[graft] def synthesizeEmbeddings(spark: SparkSession,
      baseDir: String, outDir: String, copies: Int): Long = {
    val base = Tables.embeddings(spark, baseDir)
    val stride = base.agg(max("vec_id")).head().getLong(0) + 1L
    val all = (0 until copies).map { i =>
      val emb =
        if (i == 0) col("embedding")
        else expr(s"transform(embedding, (x, j) -> x * CAST(CASE WHEN " +
          s"pmod(hash(j, $i), 2) = 0 THEN 1.0 ELSE -1.0 END AS FLOAT))")
      base.select(
        (col("vec_id") + lit(i * stride)).as("vec_id"),
        emb.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    all.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    spark.read.parquet(s"$outDir/embeddings.parquet").count()
  }

  // ------------------------------------------------------------- ledgers

  /** Stage-level shuffle accounting: delta-read around a phase gives
    * that phase's total shuffle write/read bytes (the quantity whose
    * growth exponent decides whether a plan survives 100×). */
  private final class ShuffleLedger extends org.apache.spark.scheduler.SparkListener {
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }

  // ------------------------------------------------------------ topology

  /** One full topology run (both streaming runs, through the restart)
    * over `dir`'s events table; returns the metric map for the JSON
    * line. `ingestBudgetMs` is the absolute first-deadline offset —
    * ingestion must finish inside it or the run fails loudly. */
  private def runTopology(spark: SparkSession, dir: String,
      label: String, ingestBudgetMs: Long): Map[String, Double] = {
    import graft.streaming.Topology
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files.createTempDirectory(s"graft-notch-$label")
    val (srcDir, outDir, chk) = (root.resolve("src"),
      root.resolve("outcomes"), root.resolve("chk"))
    java.nio.file.Files.createDirectories(srcDir)
    val regDir = root.resolve("registry").toFile.getAbsolutePath
    val reg = new graft.streaming.FileSchemaRegistry(regDir)
    val parser = new org.apache.avro.Schema.Parser()
    val v1Id = reg.register("orders-value", parser.parse(Topology.wireV1))
    val v2Id = reg.register("orders-value",
      new org.apache.avro.Schema.Parser().parse(Topology.wireV2))

    Topology.stageTopic(Tables.events(spark, dir), srcDir.toString)
    val nEvents = Tables.events(spark, dir).count()
    val nImmediate = {
      val verdict = graft.operators.Reliability
        .withVerdict(Tables.events(spark, dir))
      verdict.filter(col("is_valid") ||
        col("error_class") === "PermanentError").count()
    }
    val nFailed = graft.operators.Reliability.retryOutcomes(spark, dir).count()
    val nRetryable = nEvents - nImmediate

    // Absolute-instant first deadline (the sf0.1 notch discipline): at
    // that instant the store provably holds the WHOLE retryable
    // population pending at once; re-attempts after the restart run on
    // a compressed 400-600 ms schedule.
    val firstFireAt = System.currentTimeMillis() + ingestBudgetMs
    val notchMs: (String, Int) => Long = (_, a) =>
      if (a == 0) math.max(firstFireAt - System.currentTimeMillis(), 1L)
      else 300L + 100L * a
    val ledger = new graft.streaming.OrderStream.ProgressLedger
    spark.streams.addListener(ledger)
    def peak(f: graft.streaming.OrderStream.BatchProgress => Long): Long =
      ledger.batches.asScala.map(f).maxOption.getOrElse(0L)
    def startTopology() =
      Topology.outcomeStream(spark, srcDir.toString, regDir, v1Id, v2Id,
          notchMs)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", chk.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("500 milliseconds"))
        .start()
    def outCount(): Long =
      try spark.read.schema(Topology.outSchema)
        .parquet(outDir.toString).count()
      catch { case _: Throwable => 0L }

    val t0 = System.nanoTime()
    try {
      // run 1: consume the whole topic; only immediate routes commit.
      val q1 = startTopology()
      while (outCount() < nImmediate &&
          System.currentTimeMillis() < firstFireAt - 5000)
        Thread.sleep(500)
      q1.stop()
      val ingestS = (System.nanoTime() - t0) / 1e9
      require(System.currentTimeMillis() < firstFireAt - 2000,
        f"[$label] ingestion ($ingestS%.0f s) overran the " +
          f"${ingestBudgetMs / 1000} s first-deadline budget")
      require(outCount() == nImmediate,
        s"[$label] run 1 must stop with ONLY immediate routes: " +
          s"${outCount()} vs $nImmediate")
      val maxStateRun1 = peak(_.stateRows)

      // CAPACITY AUDIT of the stopped checkpoint via the State Data
      // Source (r16 verdict №7): read the RetryExecProcessor's state
      // vars straight off RocksDB — the pending population a restart
      // must rehydrate. Best-effort: reader availability for
      // transformWithState stores is recorded, not assumed.
      def stateVarCount(name: String): Long =
        try spark.read.format("statestore")
          .option("stateVarName", name).load(chk.toString).count()
        catch { case _: Throwable => -1L }
      val pendingRows = stateVarCount("pending")
      val routedRows = stateVarCount("routed")
      // On-disk footprint of the stopped checkpoint's state dir — the
      // durable bytes a restart must rehydrate (SST files + changelog),
      // the disk-capacity number a deployment sizes checkpoints from.
      val chkStateBytes: Long =
        try {
          val stream = java.nio.file.Files.walk(chk.resolve("state"))
          try stream.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(p =>
              try java.nio.file.Files.size(p) catch { case _: Throwable => 0L })
            .sum()
          finally stream.close()
        } catch { case _: Throwable => -1L }

      // deadlines pass while the job is DOWN; restart recovers the
      // armed timers from RocksDB and drains the retry rounds.
      val slack = firstFireAt + 2000 - System.currentTimeMillis()
      if (slack > 0) Thread.sleep(slack)
      // Sentinel id is NEGATIVE (r17 advice): synthesized ids are
      // stride-multiplied non-negative longs, so a fixed positive
      // sentinel (e.g. 9999999) can collide at a larger base corpus or
      // copy count and fail the exactly-once requires with a misleading
      // "routed twice"; no generator ever emits a negative id.
      java.nio.file.Files.writeString(srcDir.resolve("tick.json"),
        JsonMethods.compact(JObject("event_id" -> JInt(-1),
          "event_type" -> JString("Laptop"), "value" -> JDouble(1.0),
          "ts" -> JLong(1704067200000000000L))))
      // RESTART-RECOVERY TIME (r17 verdict №5): the operational number
      // a 100 TB deployment sizes failover from — wall from the restart
      // call to (a) the first completed post-recovery micro-batch (the
      // RocksDB rehydrate + timer re-arm cost over the full pending
      // population) and (b) the full drain of every pending retryable.
      // (a) is poll-observed at the 500 ms trigger cadence, so it reads
      // ≤0.5 s high — fine for a number whose interesting failures are
      // tens of seconds.
      val tRestart = System.nanoTime()
      val q2 = startTopology()
      var firstBatchS = -1.0
      try {
        val deadline = System.currentTimeMillis() + 900000
        while (outCount() < nEvents + 1 &&
            System.currentTimeMillis() < deadline) {
          if (firstBatchS < 0 && q2.recentProgress.nonEmpty)
            firstBatchS = (System.nanoTime() - tRestart) / 1e9
          Thread.sleep(500)
        }
        if (firstBatchS < 0 && q2.recentProgress.nonEmpty)
          firstBatchS = (System.nanoTime() - tRestart) / 1e9
      } finally {
        q2.stop()
        spark.streams.removeListener(ledger)
      }
      val drainS = (System.nanoTime() - tRestart) / 1e9
      val totalS = (System.nanoTime() - t0) / 1e9

      val out = spark.read.schema(Topology.outSchema)
        .parquet(outDir.toString)
        .filter(col("event_id") =!= "-1").cache()
      try {
        require(out.count() == nEvents,
          s"[$label] expected $nEvents terminal outcomes, got ${out.count()}")
        require(out.groupBy("event_id").count().filter(col("count") > 1)
          .count() == 0, s"[$label] an event routed twice across the restart")
        val expected = graft.operators.Reliability.retryOutcomes(spark, dir)
          .select(col("event_id").cast("string").as("event_id"),
            col("route").as("e_route"), col("retry_count").as("e_count"))
        val joined = out.join(expected, Seq("event_id"))
        require(joined.count() == nFailed,
          s"[$label] every failed event must have a terminal outcome")
        require(joined.filter(col("route") =!= col("e_route") ||
          col("retry_count") =!= col("e_count")).count() == 0,
          s"[$label] decision table diverged from q_retry_outcomes")
      } finally out.unpersist()

      Map(
        "events" -> nEvents.toDouble,
        "retryables" -> nRetryable.toDouble,
        "ingest_s" -> (math.round(ingestS * 10) / 10.0),
        "total_s" -> (math.round(totalS * 10) / 10.0),
        "restart_first_batch_s" ->
          (math.round(firstBatchS * 10) / 10.0),
        "restart_drain_s" -> (math.round(drainS * 10) / 10.0),
        "max_state_rows" -> maxStateRun1.toDouble,
        "state_mem_mb" ->
          (math.round(peak(_.stateMemBytes) / 1e6 * 10) / 10.0),
        "sst_mb" -> (math.round(peak(_.sstBytes) / 1e6 * 10) / 10.0),
        "statestore_pending_rows" -> pendingRows.toDouble,
        "statestore_routed_rows" -> routedRows.toDouble,
        "checkpoint_state_mb" ->
          (if (chkStateBytes < 0) -1.0
           else math.round(chkStateBytes / 1e6 * 10) / 10.0))
    } finally spark.conf.unset(key)
  }

  // --------------------------------------------------------------- batch

  /** Time one registered query at `dir` (forced through noop), with
    * this phase's shuffle-byte deltas. */
  private def timeQuery(spark: SparkSession, shuffles: ShuffleLedger,
      name: String, dir: String): Map[String, Double] = {
    val (w0, r0) = (shuffles.written.get(), shuffles.read.get())
    val t0 = System.nanoTime()
    val rows = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      df.count()
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Map(
      "rows" -> rows.toDouble,
      "wall_s" -> (math.round(wallS * 100) / 100.0),
      "shuffle_write_mb" ->
        (math.round((shuffles.written.get() - w0) / 1e6 * 10) / 10.0),
      "shuffle_read_mb" ->
        (math.round((shuffles.read.get() - r0) / 1e6 * 10) / 10.0))
  }

  // ------------------------------------------------------------ artifact

  private[graft] val notchPath = "/root/repo/SCALE_NOTCH.json"

  /** Merge one run into the committed SCALE_NOTCH.json, so batch-only
    * probe runs are committed evidence too, not print-and-forget.
    * Canonical artifact shape:
    *
    *   {"metric":"scale_notch","full":<full-run object|null>,
    *    "probes":[<probe run>, ...]}
    *
    * A full run replaces `full` and preserves the probe history; a
    * batch-only run appends to `probes` and preserves `full`. The older
    * artifact was the bare full-run object — detected by the absent
    * "probes" key and migrated to `full` untouched. Pure so
    * BenchGuardSpec pins every branch. */
  private[graft] def mergeNotch(existing: Option[JValue],
      newFull: Option[JValue], newProbe: Option[JValue]): JValue = {
    val (oldFull, oldProbes) = existing match {
      case None => (JNull, Nil)
      case Some(t) => t \ "probes" match {
        case JArray(ps) => (t \ "full" match { case JNothing => JNull; case f => f }, ps)
        case _ => (t, Nil) // legacy bare full-run object
      }
    }
    JObject("metric" -> JString("scale_notch"),
      "full" -> newFull.getOrElse(oldFull),
      "probes" -> JArray(oldProbes ++ newProbe))
  }

  private def writeNotch(newFull: Option[JValue],
      newProbe: Option[JValue]): Unit =
    try {
      val p = java.nio.file.Paths.get(notchPath)
      val existing =
        if (java.nio.file.Files.exists(p))
          Some(java.nio.file.Files.readString(p).trim).filter(_.nonEmpty)
            .map(JsonMethods.parse(_))
        else None
      java.nio.file.Files.writeString(p,
        JsonMethods.compact(mergeNotch(existing, newFull, newProbe)))
    } catch { case e: Throwable =>
      System.err.println(s"[notch] could not write $notchPath: " +
        e.getMessage)
    }

  /** A metric map as a JSON object, keys sorted, whole values as
    * integers. */
  private def metrics(m: Map[String, Double]): JObject =
    JObject(m.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> (if (v == math.rint(v) && math.abs(v) < 1e15) JLong(v.toLong)
        else JDouble(v))
    }.toList)

  def main(args: Array[String]): Unit = {
    val baseSf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val spark = GraftSession.create("graft-scale-notch")
    val shuffles = new ShuffleLedger
    spark.sparkContext.addSparkListener(shuffles)

    val synthDir = java.nio.file.Files
      .createTempDirectory("graft-sf1").toFile.getAbsolutePath
    System.err.println(s"[notch] synthesizing ${copies}× $baseSf → $synthDir")
    val tSynth = System.nanoTime()
    val nEv = synthesizeEvents(spark, baseSf, synthDir, copies)
    val nDoc = synthesizeDocuments(spark, baseSf, synthDir, copies)
    val nEmb = synthesizeEmbeddings(spark, baseSf, synthDir, copies)
    val synthS = (System.nanoTime() - tSynth) / 1e9
    System.err.println(
      f"[notch] synthesized $nEv events / $nDoc docs / $nEmb embeddings " +
        f"in $synthS%.1f s")

    // Batch chains at BOTH scales, 1× first (also warms every plan
    // shape so the 10× measurement is steady-state, not codegen).
    // Index prebuild is untimed per-corpus ingest work, as in Bench.
    // SPARK_GRAFT_NOTCH_CHAIN=q_a,q_b overrides the measured chain —
    // used to sweep additional serve paths for threshold-flip bugs of
    // the annIvfFrom class without editing code.
    val chain = sys.env.get("SPARK_GRAFT_NOTCH_CHAIN")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q_dedup_minhash", "q_dup_clusters",
        "q_leakage_safe_split", "q_ann_ivf"))
      .filter(SparkEntry.queries.contains)
    val batch = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[String, Map[String, Double]]]
    Seq("x1" -> baseSf, s"x$copies" -> synthDir).foreach { case (tag, dir) =>
      // Every declared artifact, each independently: the synth dir
      // deliberately omits orders/lineitem, so the artifacts built from
      // those fail here (logged) without aborting the rest.
      Indexes.declared.foreach { a =>
        try a.path(spark, dir)
        catch { case e: Throwable =>
          System.err.println(s"[notch] prebuild ${a.name}($dir): ${e.getMessage}")
        }
      }
      chain.foreach { q =>
        val m = timeQuery(spark, shuffles, q, dir)
        batch(q) = batch.getOrElse(q, Map.empty) + (tag -> m)
        System.err.println(s"[notch] $q@$tag ${JsonMethods.compact(metrics(m))}")
      }
    }

    def ratio(a: Double, b: Double): Double =
      if (a > 0) math.round(b / a * 100) / 100.0 else -1.0
    val batchJson = JObject(batch.toList.map { case (q, scales) =>
      q -> JObject("x1" -> metrics(scales("x1")),
        s"x$copies" -> metrics(scales(s"x$copies")),
        "wall_ratio" -> JDouble(ratio(scales("x1")("wall_s"),
          scales(s"x$copies")("wall_s"))))
    })

    // SPARK_GRAFT_NOTCH_BATCH_ONLY=1 skips the topology legs — the
    // fast path for probing batch-chain scaling exponents at more
    // copy counts than the full notch protocol needs.
    if (sys.env.contains("SPARK_GRAFT_NOTCH_BATCH_ONLY")) {
      writeNotch(None, Some(JObject("base_sf" -> JString(baseSf),
        "copies" -> JInt(copies), "chain" -> JArray(chain.map(JString(_)).toList),
        "batch" -> batchJson)))
      println(JsonMethods.compact(JObject(
        "metric" -> JString("scale_notch_batch"), "base_sf" -> JString(baseSf),
        "copies" -> JInt(copies), "batch" -> batchJson)))
      spark.stop()
      return
    }

    // Topology at 1× then at copies× — ingest budget scaled from the
    // measured 1× ingest (floor 90 s; ×2.5 headroom at 10×).
    val topo1 = runTopology(spark, baseSf, "x1", ingestBudgetMs = 150000L)
    System.err.println(s"[notch] topology x1 ${JsonMethods.compact(metrics(topo1))}")
    val budget10 = math.max(300000L,
      (topo1("ingest_s") * copies * 2.5 * 1000).toLong)
    val topoN = runTopology(spark, synthDir, s"x$copies", budget10)
    System.err.println(
      s"[notch] topology x$copies ${JsonMethods.compact(metrics(topoN))}")

    val json = JObject(
      "metric" -> JString("scale_notch"), "base_sf" -> JString(baseSf),
      "copies" -> JInt(copies),
      "synth" -> JObject("events" -> JLong(nEv), "documents" -> JLong(nDoc),
        "embeddings" -> JLong(nEmb),
        "wall_s" -> JDouble(math.round(synthS * 10) / 10.0)),
      "topology" -> JObject("x1" -> metrics(topo1), s"x$copies" -> metrics(topoN),
        "wall_ratio" -> JDouble(ratio(topo1("total_s"), topoN("total_s"))),
        "ingest_ratio" -> JDouble(ratio(topo1("ingest_s"), topoN("ingest_s"))),
        "state_rows_ratio" ->
          JDouble(ratio(topo1("max_state_rows"), topoN("max_state_rows")))),
      "batch" -> batchJson)
    writeNotch(Some(json), None)
    println(JsonMethods.compact(json))
    spark.stop()
  }
}
