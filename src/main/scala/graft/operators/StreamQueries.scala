package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{AvroOrder, FromAvroOrder, FromAvroOrderV2, ToAvroOrder}
import graft.streaming.OrderStream

/** Batch-checkable faces of the streaming + Avro surface (SURVEY.md §2.1
  * rows 11-12): the same transforms the streaming pipeline runs, applied
  * to the events table so the DuckDB oracle can validate them.
  */
object StreamQueries {

  /** events → one Avro-encoded Order payload (`avro_bytes`) each. */
  private def avroOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(ToAvroOrder(expr(
        """named_struct(
          |  'orderId', concat('ORD-', lpad(cast(event_id as string), 7, '0')),
          |  'product', event_type,
          |  'price', cast(value as float),
          |  'timestamp', ts div 1000000)""".stripMargin)).as("avro_bytes"))

  /** Avro round-trip: events → Order structs → Avro binary (custom
    * ToAvroOrder expression) → decode (FromAvroOrder) → aggregate the
    * decoded stream. The aggregate matching a plain-SQL oracle over the
    * source table proves encode∘decode = id, including the varint-encoded
    * payload size check (1+len prefix per string, 4-byte float, 6-byte
    * zigzag varint for Jan-2024 epoch millis).
    */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    avroOrders(spark, dir)
      .select(FromAvroOrder(col("avro_bytes")).as("o"),
        length(col("avro_bytes")).as("payload_bytes"))
      .groupBy(col("o.product").as("product"))
      .agg(
        count(lit(1)).as("order_count"),
        sum(round(col("o.price") * 100, 0).cast("long")).as("sum_price_cents"),
        min(col("o.timestamp")).as("min_ts_ms"),
        max(col("o.timestamp")).as("max_ts_ms"),
        sum(col("payload_bytes").cast("long")).as("sum_payload_bytes"))
  }

  /** Per-JVM file registry holding the two order schema versions —
    * corpus-independent, so plain lazy (not corpus-fingerprinted). */
  private lazy val confluentRegistry: (String, Int, Int) = {
    val d = java.nio.file.Files
      .createTempDirectory("graft-confluent-registry")
      .toFile.getAbsolutePath
    val reg = new graft.streaming.FileSchemaRegistry(d)
    (d, reg.register("orders-value", AvroOrder.schema),
      reg.register("orders-value", AvroOrder.schemaV2))
  }

  /** MIXED-SCHEMA-VERSION TOPIC through the registry, inside ONE plan:
    * even event_ids are published under the v1 writer (float price),
    * odd under the v2 writer (double price + currency), each framed
    * with its registry id (Confluent wire format) — then EVERY message
    * is decoded by the single [[graft.functions.FromConfluentOrder]]
    * consumer expression, which looks the writer up BY ID and resolves
    * to the v2 reader. The aggregate hash-matching a plain-SQL replay
    * (branching on the writer version for the float→double promotion)
    * proves the registry+resolution path is exact end to end. The
    * is_v1 audit column is produce-side; the decode path sees only
    * wire bytes. */
  def confluentRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val (regDir, v1Id, v2Id) = confluentRegistry
    val orderId =
      "concat('ORD-', lpad(cast(event_id as string), 7, '0'))"
    val v1Struct = expr(s"named_struct('orderId', $orderId," +
      " 'product', event_type, 'price', cast(value as float)," +
      " 'timestamp', ts div 1000000)")
    val v2Struct = expr(s"named_struct('orderId', $orderId," +
      " 'product', event_type, 'price', cast(value as double)," +
      " 'timestamp', ts div 1000000," +
      " 'currency', CASE WHEN event_id % 3 = 0 THEN 'EUR'" +
      " ELSE 'USD' END)")
    Tables.events(spark, dir)
      .select(
        when(col("event_id") % 2 === 0,
          graft.functions.ToConfluentOrderV1(v1Struct, v1Id))
          .otherwise(graft.functions.ToConfluentOrderV2(v2Struct, v2Id))
          .as("wire"),
        (col("event_id") % 2 === 0).as("is_v1"))
      .select(graft.functions.FromConfluentOrder(col("wire"), regDir)
        .as("o"), col("is_v1"))
      .groupBy(col("o.product").as("product"),
        col("o.currency").as("currency"))
      .agg(count(lit(1)).as("order_count"),
        sum(when(col("is_v1"), 1L).otherwise(0L)).as("n_v1"),
        sum(when(col("is_v1"), 0L).otherwise(1L)).as("n_v2"),
        sum(round(col("o.price") * 100, 0).cast("long"))
          .as("sum_price_cents"))
  }

  /** DLQ-message schema, two registered versions: v2 promotes
    * retry_count int→long and adds consumer_group with a default — the
    * evolution pair the generic codec must resolve. */
  private[graft] val dlqSchemaV1Json =
    """{"type":"record","name":"DlqMessage","namespace":"graft",
      |"fields":[
      |  {"name":"original_key","type":"string"},
      |  {"name":"error_type","type":"string"},
      |  {"name":"retry_count","type":"int"},
      |  {"name":"failed_at","type":"long"}]}""".stripMargin
  private[graft] val dlqSchemaV2Json =
    """{"type":"record","name":"DlqMessage","namespace":"graft",
      |"fields":[
      |  {"name":"original_key","type":"string"},
      |  {"name":"error_type","type":"string"},
      |  {"name":"retry_count","type":"long"},
      |  {"name":"failed_at","type":"long"},
      |  {"name":"consumer_group","type":"string",
      |   "default":"order-processor-group"}]}""".stripMargin

  /** Per-JVM file registry holding the two DLQ message versions under
    * their own subject — a SECOND record type in the same registry
    * seam, proving nothing in the codec is Order-shaped. */
  private lazy val dlqRegistry: (String, Int, Int) = {
    val d = java.nio.file.Files
      .createTempDirectory("graft-confluent-dlq-registry")
      .toFile.getAbsolutePath
    val reg = new graft.streaming.FileSchemaRegistry(d)
    val parser = new org.apache.avro.Schema.Parser()
    (d, reg.register("orders-dlq-value", parser.parse(dlqSchemaV1Json)),
      reg.register("orders-dlq-value",
        new org.apache.avro.Schema.Parser().parse(dlqSchemaV2Json)))
  }

  /** A SECOND record type (the reference's DLQ message,
    * avro_order_consumer.py:117-134) mixed-version round-tripped
    * through the GENERIC schema-parameterized codec
    * ([[graft.functions.ToConfluentAvro]]/[[FromConfluentAvro]] —
    * no Order-specific code anywhere on this path): even event_ids
    * publish under the v1 writer (retry_count int, no consumer_group),
    * odd under v2 (retry_count long, explicit consumer_group, every
    * third a replay group), and ONE consumer expression decodes all of
    * them under the v2 reader — int→long promotion for v1 payloads,
    * consumer_group filled from its schema default. retry_count is the
    * TRUE executed-retry count (the `q_retry_outcomes` model), so the
    * codec demo rides the retry executor's real output shape. */
  def confluentDlq(spark: SparkSession, dir: String): DataFrame = {
    val (regDir, v1Id, v2Id) = dlqRegistry
    val failed = Reliability.withVerdict(Tables.events(spark, dir))
      .filter(!col("is_valid"))
      .select(
        col("event_id"),
        concat(lit("ORD-"), lpad(col("event_id").cast("string"), 7, "0"))
          .as("original_key"),
        col("error_type"),
        when(col("error_class") === "PermanentError", 0)
          .otherwise(least(
            graft.operators.Reliability.recoverAttemptCol(col("event_id")),
            lit(3))).cast("int").as("retry_count"),
        expr("ts div 1000000").as("failed_at"))
    val v1Struct = struct(
      col("original_key"), col("error_type"),
      col("retry_count").as("retry_count"),
      col("failed_at"))
    val v2Struct = struct(
      col("original_key"), col("error_type"),
      col("retry_count").cast("long").as("retry_count"),
      col("failed_at"),
      when(col("event_id") % 3 === 0, "dlq-replay-group")
        .otherwise("order-processor-group").as("consumer_group"))
    failed
      .select(
        when(col("event_id") % 2 === 0,
          graft.functions.ToConfluentAvro(v1Struct, regDir, v1Id))
          .otherwise(
            graft.functions.ToConfluentAvro(v2Struct, regDir, v2Id))
          .as("wire"),
        (col("event_id") % 2 === 0).as("is_v1"))
      .select(graft.functions.FromConfluentAvro(
        col("wire"), regDir, dlqSchemaV2Json).as("m"), col("is_v1"))
      .groupBy(col("m.error_type").as("error_type"),
        col("m.consumer_group").as("consumer_group"))
      .agg(count(lit(1)).as("n_messages"),
        sum(when(col("is_v1"), 1L).otherwise(0L)).as("n_v1"),
        sum(col("m.retry_count")).as("sum_retry_count"),
        max(col("m.failed_at")).as("max_failed_at_ms"))
  }

  /** Schema evolution: the SAME v1 binary payloads decoded under the v2
    * reader schema (price float→double promotion, `currency` from its
    * default) — the consumer-upgrades-first path a schema registry
    * certifies. The oracle replays the promotion as
    * CAST(CAST(value AS FLOAT) AS DOUBLE) and the default as a literal,
    * proving resolution changed nothing else.
    */
  def avroEvolution(spark: SparkSession, dir: String): DataFrame = {
    avroOrders(spark, dir)
      .select(FromAvroOrderV2(col("avro_bytes")).as("o"))
      .groupBy(col("o.product").as("product"), col("o.currency").as("currency"))
      .agg(count(lit(1)).as("order_count"),
        sum(round(col("o.price") * 100, 0).cast("long")).as("sum_price_cents"))
  }

  /** Tumbling-hour stats per product — the batch face of
    * OrderStream.windowedStats (same code path minus the watermark, which
    * is a no-op on batch input).
    */
  def windowedStats(spark: SparkSession, dir: String): DataFrame =
    OrderStream.windowedStats(
      OrderStream.asOrders(Tables.events(spark, dir)))

  /** Batch face of OrderStream.tieredWindowStats — the hour→day chained
    * stateful rollup as two ordinary hash aggregates over events.
    */
  def tieredWindows(spark: SparkSession, dir: String): DataFrame =
    OrderStream.tieredWindowStats(
      OrderStream.asOrders(Tables.events(spark, dir)))

  /** Hopping (sliding) windows — 1-hour length, 30-minute slide, so
    * every event lands in exactly length/slide = 2 windows. The
    * overlapping-window shape smooths windowed metrics without waiting
    * a full window for freshness; on a watermarked stream the identical
    * `window(col, len, slide)` call runs incrementally with state
    * bounded by the watermark. The oracle replays the fan-out as an
    * explicit 2-row unnest per event. */
  def hoppingStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value") > 0 && col("event_type").isNotNull &&
        col("event_type") =!= "error")
      .select(
        window(timestamp_millis(expr("ts div 1000000")),
          "1 hour", "30 minutes").as("w"),
        col("event_type"), col("value"))
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("order_count"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"))
      .select(
        unix_timestamp(col("w.start")).as("window_start_s"),
        col("event_type").as("product"),
        col("order_count"), col("sum_cents"))

  /** WATERMARK-TUNING audit: how late do events actually arrive, and
    * what would a given watermark delay have dropped? Lateness of an
    * event = (max event-time seen over all earlier ARRIVALS) − its own
    * event time. Reported as a lateness histogram (on-time / ≤1 s /
    * ≤10 s / ≤60 s / beyond) plus the count a 30 s watermark would
    * discard — the numbers that decide `withWatermark` before any
    * state blows up at scale.
    *
    * The synthetic log is perfectly ordered, so arrival order is
    * simulated as event time plus a deterministic md5 transport jitter
    * of up to 2 minutes (the multi-source consumer's reordering; a
    * real feed would have an arrival/ingest column here — swap it in
    * and drop the jitter).
    *
    * The running max over arrival order is the cumsum discipline
    * generalized from SUM to MAX: range shuffle on the arrival key
    * (checkpointed — one partitioning for all consumers), per-partition
    * max, broadcast triangular PREFIX-max join, local running-max
    * window per partition, combined with `greatest`. Zero unpartitioned
    * windows over the stream history. */
  def watermarkAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arrivals = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"),
        (col("ts") + expr("CAST(conv(substr(md5(CAST(event_id AS STRING))," +
          " 1, 15), 16, 10) AS BIGINT) % 120000000000"))
          .as("arrival"))
    // Range-partition count via the shared helper (scale-adaptive, not
    // a local constant), so a change to the derivation discipline
    // cannot miss this call site (r18 advice). The running max is
    // exact under any partition count.
    val ranged = arrivals
      .repartitionByRange(Packing.derivedParts(arrivals, 0),
        col("arrival"), col("event_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val pmax = ranged.groupBy("pid").agg(max("ts").as("pmax"))
    val offs = pmax
      .join(broadcast(pmax.select(col("pid").as("bpid"), col("pmax").as("bmax"))),
        col("bpid") < col("pid"), "left")
      .groupBy("pid").agg(max("bmax").as("prior_max"))
    val localW = Window.partitionBy("pid").orderBy("arrival", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .withColumn("lmax", max("ts").over(localW))
      .join(broadcast(offs), "pid")
      .select(col("ts"),
        greatest(coalesce(col("lmax"), lit(Long.MinValue)),
          coalesce(col("prior_max"), lit(Long.MinValue))).as("seen"))
      .select(when(col("seen") === Long.MinValue, lit(0L))
        .otherwise(greatest(col("seen") - col("ts"), lit(0L)))
        .as("late_ns"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_ns") === 0, 1L).otherwise(0L)).as("on_time"),
        sum(when(col("late_ns") > 0 && col("late_ns") <= 1000000000L, 1L)
          .otherwise(0L)).as("late_1s"),
        sum(when(col("late_ns") > 1000000000L && col("late_ns") <= 10000000000L,
          1L).otherwise(0L)).as("late_10s"),
        sum(when(col("late_ns") > 10000000000L && col("late_ns") <= 60000000000L,
          1L).otherwise(0L)).as("late_60s"),
        sum(when(col("late_ns") > 60000000000L, 1L).otherwise(0L))
          .as("late_beyond"),
        sum(when(col("late_ns") > 30000000000L, 1L).otherwise(0L))
          .as("dropped_at_30s"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_watermark_audit" -> watermarkAudit,
    "q_avro_roundtrip" -> avroRoundtrip,
    "q_avro_evolution" -> avroEvolution,
    "q_confluent_roundtrip" -> confluentRoundtrip,
    "q_confluent_dlq" -> confluentDlq,
    "q_windowed_stats" -> windowedStats,
    "q_tiered_windows" -> tieredWindows,
    "q_hopping_stats" -> hoppingStats)

  val oracles: Map[String, String] = Map(
    "q_watermark_audit" ->
      """WITH a AS (
        |  SELECT event_id, epoch_ns(ts) AS tsn,
        |         epoch_ns(ts) +
        |           CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
        |             AS BIGINT) % 120000000000 AS arrival
        |  FROM events),
        |l AS (
        |  SELECT coalesce(greatest(
        |           max(tsn) OVER (ORDER BY arrival, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           - tsn, 0), 0) AS late_ns
        |  FROM a)
        |SELECT count(*) AS n_events,
        |       CAST(sum(CASE WHEN late_ns = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS on_time,
        |       CAST(sum(CASE WHEN late_ns > 0 AND late_ns <= 1000000000
        |         THEN 1 ELSE 0 END) AS BIGINT) AS late_1s,
        |       CAST(sum(CASE WHEN late_ns > 1000000000 AND late_ns <= 10000000000
        |         THEN 1 ELSE 0 END) AS BIGINT) AS late_10s,
        |       CAST(sum(CASE WHEN late_ns > 10000000000 AND late_ns <= 60000000000
        |         THEN 1 ELSE 0 END) AS BIGINT) AS late_60s,
        |       CAST(sum(CASE WHEN late_ns > 60000000000 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS late_beyond,
        |       CAST(sum(CASE WHEN late_ns > 30000000000 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS dropped_at_30s
        |FROM l""".stripMargin,
    "q_avro_roundtrip" ->
      """SELECT event_type AS product,
        |       count(*) AS order_count,
        |       CAST(sum(CAST(round(CAST(CAST(value AS FLOAT) AS DOUBLE) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |       min(epoch_ns(ts) // 1000000) AS min_ts_ms,
        |       max(epoch_ns(ts) // 1000000) AS max_ts_ms,
        |       CAST(sum(CAST(11 + 1 + length(event_type) + 1 + 4 + 6 AS BIGINT)) AS BIGINT) AS sum_payload_bytes
        |FROM events GROUP BY event_type""".stripMargin,
    "q_confluent_roundtrip" ->
      """WITH src AS (
        |  SELECT event_type AS product,
        |         CASE WHEN event_id % 2 = 0 THEN 'USD'
        |              WHEN event_id % 3 = 0 THEN 'EUR'
        |              ELSE 'USD' END AS currency,
        |         CASE WHEN event_id % 2 = 0
        |           THEN CAST(round(CAST(CAST(value AS FLOAT) AS DOUBLE)
        |             * 100, 0) AS BIGINT)
        |           ELSE CAST(round(CAST(value AS DOUBLE) * 100, 0)
        |             AS BIGINT) END AS cents,
        |         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS is_v1
        |  FROM events)
        |SELECT product, currency,
        |       CAST(count(*) AS BIGINT) AS order_count,
        |       CAST(sum(is_v1) AS BIGINT) AS n_v1,
        |       CAST(count(*) - sum(is_v1) AS BIGINT) AS n_v2,
        |       CAST(sum(cents) AS BIGINT) AS sum_price_cents
        |FROM src GROUP BY 1, 2""".stripMargin,
    "q_confluent_dlq" ->
      """WITH f AS (
        |  SELECT event_id,
        |         CASE WHEN event_type IS NULL THEN 'MissingField'
        |              WHEN value <= 0 THEN 'InvalidPrice'
        |              ELSE 'ProcessingError' END AS error_type,
        |         CASE WHEN event_type IS NULL OR value <= 0 THEN 0
        |              ELSE least(CAST(1 + CAST(('0x' || substr(md5(
        |                CAST(event_id AS VARCHAR) || ':recover'), 1, 8))
        |                AS BIGINT) % 5 AS INTEGER), 3) END AS retry_count,
        |         epoch_ns(ts) // 1000000 AS failed_at,
        |         CASE WHEN event_id % 2 = 0 THEN 'order-processor-group'
        |              WHEN event_id % 3 = 0 THEN 'dlq-replay-group'
        |              ELSE 'order-processor-group' END AS consumer_group,
        |         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS is_v1
        |  FROM events
        |  WHERE event_type IS NULL OR value <= 0 OR event_type = 'error')
        |SELECT error_type, consumer_group,
        |       CAST(count(*) AS BIGINT) AS n_messages,
        |       CAST(sum(is_v1) AS BIGINT) AS n_v1,
        |       CAST(sum(retry_count) AS BIGINT) AS sum_retry_count,
        |       CAST(max(failed_at) AS BIGINT) AS max_failed_at_ms
        |FROM f GROUP BY 1, 2""".stripMargin,
    "q_avro_evolution" ->
      """SELECT event_type AS product,
        |       'USD' AS currency,
        |       count(*) AS order_count,
        |       CAST(sum(CAST(round(CAST(CAST(value AS FLOAT) AS DOUBLE) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_hopping_stats" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000000000 AS tsec, event_type, value
        |  FROM events
        |  WHERE value > 0 AND event_type IS NOT NULL AND event_type <> 'error'),
        |h AS (
        |  SELECT (tsec // 1800 - k.k) * 1800 AS window_start_s,
        |         event_type, value
        |  FROM e, (SELECT unnest([0, 1]) AS k) k)
        |SELECT window_start_s, event_type AS product,
        |       count(*) AS order_count,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM h GROUP BY 1, 2""".stripMargin,
    // Hour buckets first (hr grid), then the day rollup — mirrors the
    // two chained stateful aggregates tier for tier.
    "q_tiered_windows" ->
      """WITH h AS (
        |  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_start_s,
        |         event_type AS product,
        |         count(*) AS hr_count,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS hr_cents
        |  FROM events
        |  WHERE value > 0 AND event_type IS NOT NULL AND event_type <> 'error'
        |  GROUP BY 1, 2)
        |SELECT (hour_start_s // 86400) * 86400 AS day_start_s, product,
        |       CAST(sum(hr_count) AS BIGINT) AS order_count,
        |       CAST(sum(hr_cents) AS BIGINT) AS sum_cents,
        |       count(*) AS n_active_hours
        |FROM h GROUP BY 1, 2""".stripMargin,
    "q_windowed_stats" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_s,
        |       event_type AS product,
        |       count(*) AS order_count,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       min(value) AS min_price,
        |       max(value) AS max_price
        |FROM events
        |WHERE value > 0 AND event_type IS NOT NULL AND event_type <> 'error'
        |GROUP BY 1, 2""".stripMargin)
}
