package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Typed loaders for the driver-generated test tables (see TESTDATA.md).
  *
  * All operators take an `sfDir` so the same code runs at any scale factor;
  * on a real cluster the same paths would be object-store URIs and the
  * parquet scans would be partition-pruned / predicate-pushed identically.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is epoch time whose PHYSICAL parquet type has varied across
    // testdata generations: TIMESTAMP(NANOS) (Spark 4 rejects it unless read
    // as a raw long) and TIMESTAMP_MICROS isAdjustedToUTC=0 (loads as
    // TIMESTAMP_NTZ). nanosAsLong covers the former; normalizeTs below maps
    // every variant to one engine-facing type. Set here (idempotent, dynamic
    // conf) so every entry point (Verify, Bench, tests, driver-owned
    // sessions) gets it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** Normalize `events.ts` to epoch-nanos BIGINT for any physical type.
    *
    * All event-time arithmetic in the engine (session gaps, RANGE frames,
    * as-of tolerances, watermark jitter) is integer math on epoch nanos —
    * exact, timezone-free, and identical to what the DuckDB oracles compute
    * via `epoch_ns(ts)`. NTZ micros are mapped through a UTC-session cast
    * (the session timezone is pinned to UTC in GraftSession), so wall-clock
    * micros * 1000 == oracle epoch_ns — lossless for micros data.
    *
    * Scale note: this projection sits above the scan, so parquet min/max
    * skipping on `ts` itself is forfeited — acceptable because every query
    * that prunes the events scan filters on `event_type`/`user_id`, and the
    * projection stays inside whole-stage codegen (one multiply per row).
    */
  private def normalizeTs(df: DataFrame): DataFrame = {
    def asNanos(c: Column): Column = unix_micros(c.cast(TimestampType)) * 1000L
    df.schema("ts").dataType match {
      case LongType                            => df // legacy NANOS read as raw long
      case TimestampNTZType | TimestampType    => df.withColumn("ts", asNanos(col("ts")))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other")
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** Session factory with the scale-oriented defaults used everywhere
  * (tests, Verify, Bench). AQE handles runtime skew/coalescing; the
  * shuffle-partition count matches the local core count but would be
  * raised (or left to AQE) on a real cluster.
  */
object GraftSession {
  def create(appName: String = "graft", cores: String = "*",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    // Default to every core on the box (the driver runs local[32]); the
    // env var stays as an override for constrained runs.
    val cpus =
      if (cores == "*")
        sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors.toString)
      else cores
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      // The library's own extensions entry point, exactly as a cluster
      // user would install it — SQL functions everywhere, the as-of
      // planner strategy, the Avro-elision optimizer rule, and the
      // MV-rewrite post-hoc resolution rule (the analysis-time slot
      // that makes filtered view restatements rewritable).
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // A multi-query run compiles hundreds of codegen units; the default
      // 100-entry generated-class cache evicts under that, and every
      // evicted stage recompiles inside janino's global lock — with 32
      // task threads that serializes the whole pool. Size it to hold the
      // full workload.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config(extraConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // PlanRegressionSpec proves every unpartitioned window bounded, so
    // WindowExec's "No Partition Defined" warning only buries the others.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
