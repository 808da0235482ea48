package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming re-expression of the reference's consumer loop
  * (reference: src/consumer/avro_order_consumer.py — poll → validate →
  * aggregate → commit, with DLQ side output; src/aggregator/
  * price_aggregator.py — stateful per-product running stats).
  *
  * Every transform here takes a DataFrame/Dataset in and returns one, so
  * the same code runs over a batch table, a file stream, a MemoryStream
  * in tests — or a Kafka `readStream` where the connector jar exists
  * (this container has none; swapping the source is one line at the
  * caller). Watermarking bounds state at scale: an hourly window with a
  * 1-hour watermark keeps state proportional to |products| × 2 windows
  * regardless of input rate.
  */
object OrderStream {

  /** One order event, the stream's canonical record
    * (reference: schemas/order.avsc + producer's ORD-%04d key format). */
  case class OrderEvent(
      orderId: String, product: String, price: Double, eventTimeMs: Long)

  /** Per-product aggregator state (reference:
    * price_aggregator.py:16-23 ProductPriceStatistics). Money is exact
    * integer cents. */
  case class ProductState(
      orderCount: Long, sumCents: Long, minCents: Long, maxCents: Long)

  /** Emitted after every order, mirroring the running average the
    * reference logs per message (avro_order_consumer.py:117-121). */
  case class RunningStat(
      product: String, orderId: String, runningCount: Long,
      runningAvgCents: Long, minCents: Long, maxCents: Long)

  /** events table/stream → canonical order records. `ts` is epoch nanos
    * (see Tables.load). */
  def asOrders(events: DataFrame): DataFrame =
    events.select(
      concat(lit("ORD-"), lpad(col("event_id").cast("string"), 7, "0"))
        .as("orderId"),
      col("event_type").as("product"),
      col("value").as("price"),
      expr("ts div 1000000").as("eventTimeMs"))

  /** Validation verdict columns (avro_order_consumer.py:104-114). */
  def validate(orders: DataFrame): DataFrame =
    orders
      .withColumn("error_class",
        when(col("product").isNull || col("price").isNull ||
          col("price") <= 0, "PermanentError")
          .when(col("product") === "error", "RetryableError"))
      .withColumn("is_valid", col("error_class").isNull)

  /** Watermarked tumbling-window stats per product — the unbounded-state-
    * safe form of the reference's global aggregator. Works on a streaming
    * DataFrame; on a batch one the watermark is a no-op.
    */
  def windowedStats(orders: DataFrame, watermarkDelay: String = "1 hour",
      windowLength: String = "1 hour"): DataFrame =
    validate(orders)
      .filter(col("is_valid"))
      .withColumn("event_time", timestamp_millis(col("eventTimeMs")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLength), col("product"))
      .agg(
        count(lit(1)).as("order_count"),
        sum(round(col("price") * 100, 0).cast("long")).as("sum_cents"),
        min("price").as("min_price"),
        max("price").as("max_price"))
      .select(
        unix_timestamp(col("window.start")).as("window_start_s"),
        col("product"), col("order_count"), col("sum_cents"),
        col("min_price"), col("max_price"))

  /** TIERED windowed rollup — two chained STATEFUL aggregations in one
    * query (multiple-stateful-operator support, Spark 3.4+/4.x): hourly
    * per-product stats re-aggregated into daily rollups downstream, the
    * second `groupBy(window(col("window"), "1 day"))` consuming the
    * first's window struct directly. On a stream both tiers keep their
    * own watermark-bounded state and emit in append mode as windows
    * close; the daily tier's input is one row per (hour, product) — the
    * pre-aggregation means the wide tier never sees raw events, which
    * is what makes hour→day→week rollup cascades viable at 100 TB. On
    * batch input the same plan is two ordinary hash aggregates.
    */
  def tieredWindowStats(orders: DataFrame,
      watermarkDelay: String = "1 hour"): DataFrame =
    validate(orders)
      .filter(col("is_valid"))
      .withColumn("event_time", timestamp_millis(col("eventTimeMs")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), "1 hour"), col("product"))
      .agg(count(lit(1)).as("hr_count"),
        sum(round(col("price") * 100, 0).cast("long")).as("hr_cents"))
      .groupBy(window(col("window"), "1 day"), col("product"))
      .agg(sum("hr_count").as("order_count"),
        sum("hr_cents").as("sum_cents"),
        count(lit(1)).as("n_active_hours"))
      .select(
        unix_timestamp(col("window.start")).as("day_start_s"),
        col("product"), col("order_count"), col("sum_cents"),
        col("n_active_hours"))

  /** Idempotent delivery: drop duplicate orderIds within the watermark
    * horizon — the consumer-side analogue of the reference producer's
    * `enable.idempotence` (kafka_order_producer.py:36-40). State is
    * bounded by the watermark; on batch input it degrades to a plain
    * dropDuplicates.
    */
  def dedupOrders(orders: DataFrame, watermarkDelay: String = "1 hour"): DataFrame = {
    val withTime = orders
      .withColumn("event_time", timestamp_millis(col("eventTimeMs")))
    if (orders.isStreaming)
      withTime.withWatermark("event_time", watermarkDelay)
        .dropDuplicatesWithinWatermark("orderId")
        .drop("event_time")
    else withTime.dropDuplicates("orderId").drop("event_time")
  }

  /** Event-time session windows (Spark-native `session_window`, 30-min
    * gap): per-user session rollups that work identically over a batch
    * table or a watermarked stream. The batch face must agree with the
    * gaps-and-islands formulation in operators.Sessionize — checked in
    * ScaleToolsSpec.
    */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withColumn("event_time", timestamp_millis(expr("ts div 1000000")))
      .withWatermark("event_time", gap)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long")).as("session_value_cents"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start_s"),
        col("n_events"), col("session_value_cents"))

  /** DYNAMIC-GAP session windows — the `session_window` overload whose
    * gap is a per-event expression (purchases close a session after 10
    * minutes, everything else after 30, constants shared with
    * [[graft.operators.Sessionize]]): the behavioural reality that a
    * checkout ends a visit faster than idle browsing does, expressed
    * natively so the streaming state store merges/expires the variable
    * spans. Works identically over a batch table or a watermarked
    * stream; `BucketedJoinSpec` pins batch parity against the
    * gaps-and-islands running-max formulation
    * (`Sessionize.dynamicSessions`). */
  def sessionWindowDynamic(events: DataFrame): DataFrame = {
    import graft.operators.Sessionize.{DefaultGapMs, PurchaseGapMs}
    events
      .withColumn("event_time", timestamp_millis(expr("ts div 1000000")))
      .withWatermark("event_time", "30 minutes")
      .groupBy(session_window(col("event_time"),
          when(col("event_type") === "purchase",
            lit(s"${PurchaseGapMs / 60000} minutes"))
            .otherwise(lit(s"${DefaultGapMs / 60000} minutes"))),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long"))
          .as("session_value_cents"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"), col("session_value_cents"))
  }

  /** Stream-stream interval join: views ⋈ purchases of the same user
    * with the view in the hour before the purchase. Watermarks on BOTH
    * sides let Spark expire join state — the bounded-memory form of
    * attribution at scale (the as-of batch operator is its exact-
    * answer face; this one emits every qualifying view).
    * Works on a batch events DataFrame identically (watermarks no-op).
    */
  def viewPurchaseJoin(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    val base = events
      .withColumn("event_time", timestamp_millis(expr("ts div 1000000")))
    val views = base.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        col("event_id").as("view_id"), col("event_time").as("view_time"))
      .withWatermark("view_time", watermarkDelay)
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("event_time").as("purchase_time"), col("value"))
      .withWatermark("purchase_time", watermarkDelay)
    views.join(purchases,
      col("v_user_id") === col("p_user_id") &&
        col("view_time") < col("purchase_time") &&
        col("view_time") >= col("purchase_time") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user_id").as("user_id"), col("purchase_id"),
        col("view_id"), col("value"))
  }

  /** Stream-stream LEFT OUTER interval join: every purchase with its
    * qualifying prior views, or null view columns once the watermark
    * proves no view can still arrive — the attribution-completeness
    * face of [[viewPurchaseJoin]] (the inner join silently drops
    * view-less purchases). Null-padded rows emit only after the
    * watermark passes the join window, which is exactly what bounds
    * the retained state. Works on a batch DataFrame identically
    * (watermarks no-op, the null padding is immediate).
    */
  def purchaseViewOuterJoin(
      events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    val base = events
      .withColumn("event_time", timestamp_millis(expr("ts div 1000000")))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("event_time").as("purchase_time"), col("value"))
      .withWatermark("purchase_time", watermarkDelay)
    val views = base.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        col("event_id").as("view_id"), col("event_time").as("view_time"))
      .withWatermark("view_time", watermarkDelay)
    purchases.join(views,
      col("p_user_id") === col("v_user_id") &&
        col("view_time") < col("purchase_time") &&
        col("view_time") >= col("purchase_time") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("p_user_id").as("user_id"), col("purchase_id"),
        col("view_id"), col("value"))
  }

  /** FULL OUTER stream-stream interval join — completes the join-type
    * matrix (inner [[viewPurchaseJoin]], left outer
    * [[purchaseViewOuterJoin]], full outer): unmatched PURCHASES
    * null-pad on the view side (conversion without attribution) AND
    * unmatched VIEWS null-pad on the purchase side (browse without
    * conversion — the abandonment signal the left-outer form drops).
    * Same state/watermark mechanics as left outer: both sides buffer
    * within the interval bound; a row null-pads only once the global
    * watermark proves no counterpart can still arrive. */
  def purchaseViewFullOuterJoin(
      events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    val base = events
      .withColumn("event_time", timestamp_millis(expr("ts div 1000000")))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("event_time").as("purchase_time"), col("value"))
      .withWatermark("purchase_time", watermarkDelay)
    val views = base.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        col("event_id").as("view_id"), col("event_time").as("view_time"))
      .withWatermark("view_time", watermarkDelay)
    purchases.join(views,
      col("p_user_id") === col("v_user_id") &&
        col("view_time") < col("purchase_time") &&
        col("view_time") >= col("purchase_time") - expr("INTERVAL 1 HOUR"),
      "full_outer")
      .select(coalesce(col("p_user_id"), col("v_user_id")).as("user_id"),
        col("purchase_id"), col("view_id"), col("value"))
  }

  /** LEFT SEMI stream-stream interval join — the last cell of the
    * join-type matrix (inner, left outer, full outer, semi): purchases
    * that had AT LEAST ONE qualifying prior view, emitted ONCE per
    * purchase regardless of how many views matched — the deduplicated
    * "converted with attribution" set the inner join fans out and the
    * outer join null-pollutes. A matched purchase emits as soon as its
    * first match is seen (no watermark wait); unmatched purchases
    * never emit, and the watermark bounds how long they sit in state
    * waiting for one. Works on a batch DataFrame identically. */
  def purchaseViewSemiJoin(
      events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame = {
    val base = events
      .withColumn("event_time", timestamp_millis(expr("ts div 1000000")))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("event_time").as("purchase_time"), col("value"))
      .withWatermark("purchase_time", watermarkDelay)
    val views = base.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        col("event_id").as("view_id"), col("event_time").as("view_time"))
      .withWatermark("view_time", watermarkDelay)
    purchases.join(views,
      col("p_user_id") === col("v_user_id") &&
        col("view_time") < col("purchase_time") &&
        col("view_time") >= col("purchase_time") - expr("INTERVAL 1 HOUR"),
      "left_semi")
      .select(col("p_user_id").as("user_id"), col("purchase_id"),
        col("value"))
  }

  /** The PriceAggregator state machine as flatMapGroupsWithState: emits a
    * RunningStat per order, keyed by product, state = exact-cents totals.
    * Within a micro-batch, orders are processed in eventTimeMs order
    * (orderId tiebreak) for determinism.
    */
  def runningStats(orders: Dataset[OrderEvent]): Dataset[RunningStat] = {
    import orders.sparkSession.implicits._
    orders
      .groupByKey(_.product)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(updateProductState)
  }

  def updateProductState(
      product: String,
      orders: Iterator[OrderEvent],
      state: GroupState[ProductState]): Iterator[RunningStat] = {
    var st = state.getOption.getOrElse(ProductState(0L, 0L, Long.MaxValue, Long.MinValue))
    val out = orders.toSeq
      .sortBy(o => (o.eventTimeMs, o.orderId))
      .map { o =>
        val cents = math.round(o.price * 100)
        st = ProductState(
          st.orderCount + 1, st.sumCents + cents,
          math.min(st.minCents, cents), math.max(st.maxCents, cents))
        RunningStat(product, o.orderId, st.orderCount,
          st.sumCents / st.orderCount, st.minCents, st.maxCents)
      }
    state.update(st)
    out.iterator
  }

  /** The same per-product running stats on Spark 4's NEWEST
    * arbitrary-state API: `transformWithState` with a StatefulProcessor
    * holding an explicit `ValueState` handle, backed by the RocksDB
    * state store (set `spark.sql.streaming.stateStore.providerClass` to
    * RocksDBStateStoreProvider). Successor of flatMapGroupsWithState —
    * typed state handles, TTL support, timers; kept side by side with
    * [[runningStats]] so both stateful APIs stay covered (the spec
    * asserts output parity between them). */
  class ProductStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, OrderEvent, RunningStat] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[ProductState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ProductState]("stats",
        org.apache.spark.sql.Encoders.product[ProductState], TTLConfig.NONE)
    override def handleInputRows(
        product: String, rows: Iterator[OrderEvent],
        timers: TimerValues): Iterator[RunningStat] = {
      var s = if (st.exists()) st.get()
        else ProductState(0L, 0L, Long.MaxValue, Long.MinValue)
      val out = rows.toSeq
        .sortBy(o => (o.eventTimeMs, o.orderId))
        .map { o =>
          val cents = math.round(o.price * 100)
          s = ProductState(s.orderCount + 1, s.sumCents + cents,
            math.min(s.minCents, cents), math.max(s.maxCents, cents))
          RunningStat(product, o.orderId, s.orderCount,
            s.sumCents / s.orderCount, s.minCents, s.maxCents)
        }
      st.update(s)
      out.iterator
    }
  }

  def runningStatsTws(orders: Dataset[OrderEvent]): Dataset[RunningStat] = {
    import orders.sparkSession.implicits._
    orders
      .groupByKey(_.product)
      .transformWithState(new ProductStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-order view of the last `n` same-product order ids that
    * preceded it (event-time order). */
  case class RecentOut(product: String, order_id: String, prev_ids: Seq[String])

  /** Bounded recent-history buffer on the transformWithState LIST-state
    * surface: per product, `ListState` holds the last `n` order ids and
    * each arriving order emits the ids that preceded it — the
    * recent-context feature pattern (fraud scoring, "last N purchases")
    * that ValueState can't hold without a monolithic blob rewrite per
    * event. `put` rewrites the trimmed list here for a deterministic
    * spec; a pure append workload would use `appendValue`, which maps
    * to an O(1) RocksDB merge instead of a full list replace. */
  class RecentOrdersProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, OrderEvent, RecentOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
    @transient private var st: org.apache.spark.sql.streaming.ListState[String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[String]("recent",
        org.apache.spark.sql.Encoders.STRING, TTLConfig.NONE)
    override def handleInputRows(
        product: String, rows: Iterator[OrderEvent],
        timers: TimerValues): Iterator[RecentOut] = {
      var buf = if (st.exists()) st.get().toVector else Vector.empty[String]
      val out = rows.toSeq.sortBy(o => (o.eventTimeMs, o.orderId)).map { o =>
        val r = RecentOut(product, o.orderId, buf.takeRight(n))
        buf = (buf :+ o.orderId).takeRight(n)
        r
      }
      st.put(buf.toArray)
      out.iterator
    }
  }

  def recentOrdersTws(orders: Dataset[OrderEvent], n: Int = 3): Dataset[RecentOut] = {
    import orders.sparkSession.implicits._
    orders.groupByKey(_.product)
      .transformWithState(new RecentOrdersProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-order bucket occupancy after this order arrived. */
  case class BucketOut(
      product: String, order_id: String, bucket: Long, bucket_count: Long)

  /** Per-key histogram on the transformWithState MAP-state surface:
    * per product, `MapState[bucket → count]` of 10-dollar price
    * buckets, incremented per order; each order emits its bucket's new
    * occupancy. MapState gives per-ENTRY point reads/writes (`getValue`
    * / `updateValue` touch one RocksDB key), where a ValueState map
    * blob would deserialize and rewrite the whole histogram per event —
    * the difference between O(1) and O(|buckets|) state I/O per input. */
  class BucketCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, OrderEvent, BucketOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
    @transient private var st:
      org.apache.spark.sql.streaming.MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[Long, Long]("buckets",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        product: String, rows: Iterator[OrderEvent],
        timers: TimerValues): Iterator[BucketOut] = {
      val out = rows.toSeq.sortBy(o => (o.eventTimeMs, o.orderId)).map { o =>
        val bucket = math.round(o.price * 100) / 1000L
        val c = (if (st.containsKey(bucket)) st.getValue(bucket) else 0L) + 1L
        st.updateValue(bucket, c)
        BucketOut(product, o.orderId, bucket, c)
      }
      out.iterator
    }
  }

  def bucketCountsTws(orders: Dataset[OrderEvent]): Dataset[BucketOut] = {
    import orders.sparkSession.implicits._
    orders.groupByKey(_.product)
      .transformWithState(new BucketCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-batch output of [[ttlCountsTws]]: the running order count a
    * key has accumulated in still-live state. */
  case class TtlCountOut(product: String, n_orders: Long)

  /** State TTL on the transformWithState surface: a per-product order
    * counter whose ValueState carries a `TTLConfig` — entries the store
    * has not touched within the TTL are EXPIRED by the engine, so the
    * count RESTARTS instead of growing forever. This is the bounded-
    * state contract for keys that go quiet (abandoned carts, dead
    * sessions, one-off users): at 100 TB of key space, state that is
    * never evicted is a leak, and TTL is the declarative eviction the
    * store applies itself — no timer bookkeeping in the processor. */
  class TtlCountProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, OrderEvent, TtlCountOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(ttlMs)))
    override def handleInputRows(
        product: String, rows: Iterator[OrderEvent],
        timers: TimerValues): Iterator[TtlCountOut] = {
      val prev = if (st.exists()) st.get() else 0L
      val n = prev + rows.size
      st.update(n)
      Iterator(TtlCountOut(product, n))
    }
  }

  /** TTL demands ProcessingTime mode — expiry is measured against the
    * batch's processing timestamp. */
  def ttlCountsTws(orders: Dataset[OrderEvent],
      ttlMs: Long): Dataset[TtlCountOut] = {
    import orders.sparkSession.implicits._
    orders.groupByKey(_.product)
      .transformWithState(new TtlCountProcessor(ttlMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** The gap-sessionizer on the transformWithState TIMER surface:
    * per-key event-time timers (`registerTimer` on the handle,
    * `handleExpiredTimer` when the watermark passes one) replace
    * flatMapGroupsWithState's single timeout slot — a key can hold many
    * timers, so this is the API a multi-deadline process (session close
    * + SLA alerts + TTL sweeps at once) actually needs. Same semantics
    * as [[timeoutSessions]] (spec asserts output parity).
    */
  class GapSessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Long), SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[SessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(
        uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
        timers: TimerValues): Iterator[SessionOut] = {
      val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
      var s = if (st.exists()) st.get()
        else SessionState(0L, 0L, Long.MaxValue, Long.MinValue)
      rows.toSeq.sortBy(_._2.getTime).foreach { case (_, t, cents) =>
        val ms = t.getTime
        if (s.n > 0 && ms - s.lastMs > gapMs) {
          closed += SessionOut(uid, s.n, s.sumCents, s.firstMs, s.lastMs)
          s = SessionState(0L, 0L, Long.MaxValue, Long.MinValue)
        }
        s = SessionState(s.n + 1, s.sumCents + cents,
          math.min(s.firstMs, ms), math.max(s.lastMs, ms))
      }
      st.update(s)
      // One live close-timer per key: re-arm at the new session end.
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(
        math.max(s.lastMs + gapMs, timers.getCurrentWatermarkInMs() + 1))
      closed.iterator
    }
    override def handleExpiredTimer(
        uid: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] =
      if (st.exists()) {
        val s = st.get()
        st.clear()
        Iterator.single(SessionOut(uid, s.n, s.sumCents, s.firstMs, s.lastMs))
      } else Iterator.empty
  }

  def timeoutSessionsTws(
      events: Dataset[org.apache.spark.sql.Row], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .selectExpr("user_id", "event_time",
        "CAST(round(value * 100, 0) AS LONG) AS cents")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .transformWithState(new GapSessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** A closed user session: emitted only once the event-time timeout
    * proves no more events can join it. */
  case class SessionOut(
      user_id: Long, n_events: Long, sum_cents: Long,
      first_ms: Long, last_ms: Long)

  case class SessionState(
      n: Long, sumCents: Long, firstMs: Long, lastMs: Long)

  /** Timeout-closed sessionization via flatMapGroupsWithState +
    * EventTimeTimeout: state accumulates a user's events; when the
    * WATERMARK (not wall clock — replay-safe) passes last-event + gap,
    * the timeout fires, the finished session emits once, and its state
    * is freed. This is the "emit exactly when the session is provably
    * over" pattern that `session_window` aggregation can't express when
    * the per-session payload is custom logic rather than an aggregate.
    * Input needs columns (user_id, event_time TIMESTAMP, value), with
    * the watermark already declared on event_time.
    */
  def timeoutSessions(
      events: Dataset[org.apache.spark.sql.Row], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // The watermarked `event_time` column itself must flow into the
    // stateful operator (projecting it away strips the watermark
    // metadata and EventTimeTimeout refuses to plan).
    events
      .selectExpr("user_id", "event_time",
        "CAST(round(value * 100, 0) AS LONG) AS cents")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.n, s.sumCents, s.firstMs, s.lastMs))
          } else {
            // True gap sessionization: an event more than `gapMs` after
            // the accumulated session's last event CLOSES it immediately
            // (emitted now) and starts a new one — without this split,
            // gap-separated events arriving in the same micro-batch (or
            // before the lagging watermark fires the timeout) would
            // merge into one arbitrarily long session.
            val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
            var s = state.getOption.getOrElse(
              SessionState(0L, 0L, Long.MaxValue, Long.MinValue))
            rows.toSeq.sortBy(_._2.getTime).foreach { case (_, t, cents) =>
              val ms = t.getTime
              if (s.n > 0 && ms - s.lastMs > gapMs) {
                closed += SessionOut(uid, s.n, s.sumCents, s.firstMs, s.lastMs)
                s = SessionState(0L, 0L, Long.MaxValue, Long.MinValue)
              }
              s = SessionState(s.n + 1, s.sumCents + cents,
                math.min(s.firstMs, ms), math.max(s.lastMs, ms))
            }
            state.update(s)
            // The still-open tail closes when the watermark passes the
            // gap after its last event — replayable, unlike
            // ProcessingTimeTimeout. A late (within-watermark) event can
            // put lastMs+gap behind the current watermark, which Spark
            // rejects; clamp just past it (fires next batch).
            state.setTimeoutTimestamp(
              math.max(s.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
            closed.iterator
          }
      }
  }

  // ---------------------------------------------------------------------
  // RETRY EXECUTOR — the reference's `execute_with_retry`
  // (retry_handler.py:84-141) as an EXECUTED streaming behavior: a
  // transformWithState processor holds each retryably-failed record in
  // pending-retry state, a processing-time TIMER fires at the exact
  // `q_retry_schedule` backoff instant (1·2^attempt s capped at 10 s,
  // ±20% md5 jitter — Reliability.backoffDelayS), the attempt re-runs,
  // and the record terminally emits to main (recovered, TRUE retry
  // count) or DLQ (exhausted after `maxRetries`, or immediately for a
  // PermanentError, retry_handler.py:120-123). Whether a re-attempt
  // succeeds is the md5-deterministic `Reliability.recoverAttempt` —
  // the determinized stand-in for the reference's per-attempt
  // `random.random() < 0.05` (avro_order_consumer.py:107-108) — so the
  // batch decision table (`q_retry_outcomes`), this executor, and the
  // DuckDB oracle all replay the identical outcome.
  // ---------------------------------------------------------------------

  /** A consumed record entering the retry executor. `succeedsOnAttempt`
    * is the 1-based retry index at which re-processing succeeds (the
    * reference logs it as "attempt N+1"); <= 0 means it never does.
    * `eventMs` is the record's MESSAGE timestamp (the reference's
    * `kafka_message.timestamp()`, avro_order_consumer.py:132) — it
    * rides through the executor so the DLQ envelope's `failed_at` is
    * the failed MESSAGE's time, as the reference stamps it. */
  case class RetryEvent(eventId: String, product: String, price: Double,
      errorClass: String, errorMessage: String, succeedsOnAttempt: Int,
      eventMs: Long)

  /** Pending-retry state: attempts executed so far and the scheduled
    * instant of the next one. */
  case class PendingRetry(product: String, price: Double,
      errorMessage: String, attemptsDone: Int, succeedsOnAttempt: Int,
      deadlineMs: Long, eventMs: Long)

  /** Terminal emission per consumed record: route ("main"/"dlq") with
    * the TRUE retry count — the succeeding retry's index, `maxRetries`
    * on exhaustion, 0 for first-try success or an unretried permanent
    * failure (the reference's DLQ message stamps a constant 3 on every
    * PermanentError, avro_order_consumer.py:192, over-reporting
    * unretried ones — this executor reports what actually ran).
    * `scheduled_ms`/`emitted_ms` expose the timer contract: the final
    * attempt's scheduled instant and the batch time that executed it;
    * `event_ms` carries the record's message timestamp through. */
  case class RetryOutcome(event_id: String, product: String, price: Double,
      route: String, retry_count: Int, error_type: String,
      error_message: String, scheduled_ms: Long, emitted_ms: Long,
      event_ms: Long)

  /** The retry loop as state + timers. One live timer per key; state is
    * dropped the moment the record routes, so steady-state store size is
    * only the in-flight retry population — at 100 TB/day that is the
    * transient-failure rate times the backoff horizon, not the corpus. */
  class RetryExecProcessor(
      maxRetries: Int = 3,
      delayMsFn: (String, Int) => Long = RetryExecProcessor.scheduleMs,
      tombstoneTtl: java.time.Duration = java.time.Duration.ofHours(1))
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, RetryEvent, RetryOutcome] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[PendingRetry] = _
    @transient private var routed: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[PendingRetry]("pending",
        org.apache.spark.sql.Encoders.product[PendingRetry], TTLConfig.NONE)
      // Routed TOMBSTONE (r14 advice): the pending-state guard below
      // only covers redelivery while a retry is in flight — a duplicate
      // arriving AFTER the record terminally routed (pending cleared)
      // would re-enter the full loop and emit a second terminal
      // outcome, double-counting in append sinks. A small per-key
      // tombstone with a TTL suppresses post-terminal redeliveries for
      // the at-least-once redelivery horizon; TTL bounds steady-state
      // store size to the routed population within that horizon (not
      // the corpus), which is what RocksDB holds at 100 TB/day.
      routed = getHandle.getValueState[Boolean]("routed",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig(tombstoneTtl))
    }

    override def handleInputRows(
        eventId: String, rows: Iterator[RetryEvent],
        timers: TimerValues): Iterator[RetryOutcome] = {
      val now = timers.getCurrentProcessingTimeInMs()
      rows.toSeq.flatMap { e =>
        e.errorClass match {
          case _ if routed.exists() =>
            // At-least-once redelivery AFTER terminal routing: the
            // outcome already shipped; emitting again would double-count
            // downstream. Suppress until the tombstone's TTL lapses.
            None
          case _ if st.exists() =>
            // At-least-once redelivery while a retry is PENDING:
            // ignore the duplicate. Overwriting would reset
            // attemptsDone to 0 and arm a second timer — re-attempts
            // would then run off-schedule and the terminal count would
            // under-report what actually executed.
            None
          case "PermanentError" =>
            // Never retried (retry_handler.py:120-123): straight to DLQ
            // with the TRUE count of retries executed — zero.
            routed.update(true)
            Some(RetryOutcome(eventId, e.product, e.price, "dlq", 0,
              "PermanentError", e.errorMessage, now, now, e.eventMs))
          case "RetryableError" =>
            // The initial attempt already failed retryably; arm the
            // retry-1 timer at the schedule's instant and hold the
            // record in pending state.
            val deadline = now + delayMsFn(eventId, 0)
            st.update(PendingRetry(e.product, e.price, e.errorMessage,
              0, e.succeedsOnAttempt, deadline, e.eventMs))
            getHandle.registerTimer(deadline)
            None
          case "Valid" =>
            routed.update(true)
            Some(RetryOutcome(eventId, e.product, e.price, "main", 0,
              null, null, now, now, e.eventMs))
          case other =>
            // An unmapped class is a producer bug — refuse loudly
            // (the unknown-schema-id / bad-magic-byte discipline),
            // never silently ship a failed record as a success.
            throw new IllegalArgumentException(
              s"retry executor: unknown errorClass '$other' for " +
                s"record $eventId — expected Valid, RetryableError " +
                "or PermanentError")
        }
      }.iterator
    }

    override def handleExpiredTimer(
        eventId: String, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[RetryOutcome] =
      if (!st.exists()) Iterator.empty
      else {
        val p = st.get()
        val now = timers.getCurrentProcessingTimeInMs()
        val attempt = p.attemptsDone + 1 // this retry's 1-based index
        if (p.succeedsOnAttempt >= 1 && attempt >= p.succeedsOnAttempt) {
          st.clear()
          routed.update(true)
          Iterator.single(RetryOutcome(eventId, p.product, p.price,
            "main", attempt, null, null, p.deadlineMs, now, p.eventMs))
        } else if (attempt >= maxRetries) {
          // Max retries exceeded -> PermanentError (retry_handler.py:141).
          st.clear()
          routed.update(true)
          Iterator.single(RetryOutcome(eventId, p.product, p.price,
            "dlq", maxRetries, "PermanentError",
            s"Max retries exceeded for Order $eventId", p.deadlineMs, now,
            p.eventMs))
        } else {
          val deadline = now + delayMsFn(eventId, attempt)
          st.update(PendingRetry(p.product, p.price, p.errorMessage,
            attempt, p.succeedsOnAttempt, deadline, p.eventMs))
          getHandle.registerTimer(deadline)
          Iterator.empty
        }
      }
  }

  object RetryExecProcessor {
    /** Default timer schedule = `q_retry_schedule`'s jittered delays in
      * milliseconds (spec pins parity against the DataFrame). */
    val scheduleMs: (String, Int) => Long = (id, attempt) =>
      math.round(
        graft.operators.Reliability.backoffDelayS(id, attempt) * 1000)
  }

  /** Orders → retry-executor input: validation verdict (reference's
    * canonical messages) + the md5-deterministic recovery attempt. */
  def asRetryEvents(orders: DataFrame): Dataset[RetryEvent] = {
    import orders.sparkSession.implicits._
    validate(orders).select(
      col("orderId").as("eventId"),
      col("product"),
      col("price"),
      coalesce(col("error_class"), lit("Valid")).as("errorClass"),
      when(col("error_class") === "PermanentError",
        concat(lit("Invalid price: "), col("price").cast("string")))
        .when(col("error_class") === "RetryableError",
          lit("Simulated temporary processing failure"))
        .as("errorMessage"),
      when(col("error_class") === "RetryableError",
        graft.operators.Reliability.recoverAttemptCol(col("orderId")))
        .otherwise(lit(0)).as("succeedsOnAttempt"),
      col("eventTimeMs").cast("long").as("eventMs"))
      .as[RetryEvent]
  }

  /** Run the retry executor over a stream of consumed records. */
  def retryExecutorTws(
      events: Dataset[RetryEvent],
      maxRetries: Int = 3,
      delayMsFn: (String, Int) => Long = RetryExecProcessor.scheduleMs,
      tombstoneTtl: java.time.Duration = java.time.Duration.ofHours(1))
      : Dataset[RetryOutcome] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.eventId)
      .transformWithState(
        new RetryExecProcessor(maxRetries, delayMsFn, tombstoneTtl),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** The reference's full DLQ message envelope
    * (avro_order_consumer.py:117-134 `dead_letter_message`) from a
    * retry-executor outcome: original topic/partition/offset/key/value
    * (partition and offset re-derived from the producer's ORD-%07d key
    * the way `dlqRoute` does), error type + message, the TRUE retry
    * count, failure timestamp, consumer group — one JSON string per
    * failed record, field order exactly the reference dict's, ready for
    * the DLQ JSON sink (SURVEY row 14f). */
  /** `errorType` defaults to the executor's exception-class name (the
    * reference's `type(processing_error).__name__`); a caller wiring the
    * envelope into the DLQ-monitor face can pass the finer verdict
    * taxonomy (`Reliability.withVerdict`'s error_type) instead.
    * `failed_at` is the failed MESSAGE's timestamp (`event_ms` — the
    * reference stamps `kafka_message.timestamp()`,
    * avro_order_consumer.py:132, not the wall clock of the send). */
  def dlqEnvelope(outcomes: Dataset[RetryOutcome],
      topic: String = "orders",
      consumerGroup: String = "order-processor-group",
      errorType: Column = col("error_type")): DataFrame = {
    // Provenance must NEVER be null (to_json drops null fields and the
    // "full envelope, exact field order" contract silently breaks):
    // digit-bearing keys (the producer's ORD-%07d) re-derive the
    // partition/offset the way dlqRoute does; keys with no digits fall
    // back to a deterministic hash of the key.
    val num = coalesce(
      nullif(regexp_replace(col("event_id"), "[^0-9]", ""), lit(""))
        .cast("long"),
      pmod(abs(xxhash64(col("event_id"))), lit(100000000L)))
    outcomes.toDF().filter(col("route") === "dlq").select(
      col("event_id").as("key"),
      to_json(struct(
        lit(topic).as("original_topic"),
        pmod(num, lit(8)).as("original_partition"),
        num.as("original_offset"),
        col("event_id").as("original_key"),
        struct(col("event_id").as("orderId"), col("product"),
          col("price")).as("original_value"),
        col("error_message"),
        errorType.as("error_type"),
        col("retry_count"),
        col("event_ms").as("failed_at"),
        lit(consumerGroup).as("consumer_group"))).as("value"))
  }

  /** DLQ split sink (avro_order_consumer.py:123-155): per micro-batch,
    * records route exactly as the retry executor terminally would —
    * valid straight to main; retryable failures that RECOVER within 3
    * retries (md5-deterministic `Reliability.recoverAttempt`, the
    * executor's own model) to main with their TRUE retry count;
    * exhausted retryables to the DLQ with retry_count=3; permanent
    * failures to the DLQ unretried (retry_count=0). Use with
    * `stream.writeStream.foreachBatch(dlqSplit(main, dlq))`; the
    * timer-driven face of the same loop is [[retryExecutorTws]].
    */
  def dlqSplit(
      mainSink: (DataFrame, Long) => Unit,
      dlqSink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val validated = validate(batch)
        .withColumn("recover_attempt",
          when(col("error_class") === "RetryableError",
            graft.operators.Reliability.recoverAttemptCol(col("orderId"))))
        .withColumn("retry_count",
          when(col("is_valid"), 0)
            .when(col("recover_attempt") <= 3, col("recover_attempt"))
            .when(col("error_class") === "RetryableError", 3)
            .otherwise(0))
        .cache()
      try {
        mainSink(
          validated.filter(col("is_valid") || col("recover_attempt") <= 3)
            .drop("error_class", "is_valid", "recover_attempt"),
          batchId)
        dlqSink(
          validated.filter(!col("is_valid") &&
            (col("recover_attempt").isNull || col("recover_attempt") > 3))
            .withColumn("original_topic", lit("orders"))
            .withColumn("consumer_group", lit("order-processor-group"))
            .drop("recover_attempt"),
          batchId)
      } finally validated.unpersist()
  }

  /** One observed micro-batch: what the ops dashboard ingests. */
  final case class BatchProgress(queryName: String, batchId: Long,
      numInputRows: Long, stateRows: Long, stateMemBytes: Long, sstBytes: Long)

  /** Streaming OBSERVABILITY seam: a `StreamingQueryListener` that
    * turns per-batch progress events into a queryable in-memory ledger
    * — batch id, exact input row counts, state rows, memory and SST bytes
    * (summed over state operators; what capacity plans size from). The
    * consumer-lag/throughput dashboard every production stream runs
    * (the reference's console metrics, as a structured feed); at real
    * scale the ledger append is a metrics-bus emit, the listener code
    * is identical. Progress events arrive on the listener bus OFF the
    * query thread, so the ledger is concurrent and the spec drains it
    * after `processAllAvailable`. */
  final class ProgressLedger
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]
    val starts = new java.util.concurrent.atomic.AtomicLong(0)
    val stops = new java.util.concurrent.atomic.AtomicLong(0)

    override def onQueryStarted(e: QueryStartedEvent): Unit =
      starts.incrementAndGet()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val ops = e.progress.stateOperators
      // RocksDB's "rocksdbSstFileSize" and its variants; 0 on other stores.
      val sst = ops.flatMap(_.customMetrics.asScala.collect {
        case (k, v) if k.toLowerCase.contains("sstfile") => v.longValue() }).sum
      batches.add(BatchProgress(Option(e.progress.name).getOrElse(""),
        e.progress.batchId, e.progress.numInputRows, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, sst))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      stops.incrementAndGet()
  }
}
