package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Z-order (Morton) clustering for multi-dimensional data skipping.
  *
  * A table laid out by one sort key skips files only for predicates on
  * that key; interleaving the bits of two keys into one sort value
  * gives every file a tight bounding box in BOTH dimensions, so
  * min/max footer stats prune box predicates on either or both —
  * the standard layout trick (Delta/Iceberg `OPTIMIZE ZORDER BY`) for
  * 100 TB scans that filter on multiple columns.
  *
  * The z-value is a pure bitwise projection (codegen'd shifts/masks,
  * zero shuffles to compute); clustering by it costs one range
  * repartition + in-partition sort at write time — exactly the
  * existing compaction-write shape. `ZOrderSpec` writes the same table
  * in orderkey-order vs z-order and asserts the z layout's per-file
  * (partkey, suppkey) bounding boxes overlap a box predicate in far
  * fewer files.
  */
object ZOrder {

  /** Bits interleaved per key: 31 each → a 62-bit Morton code, so any
    * key up to 2³¹−1 round-trips without aliasing (16 bits would
    * silently fold keys ≥ 65536 onto the same code and quietly destroy
    * the per-file bounding-box tightness the layout exists for — the
    * extra constant-folded terms cost nothing at eval time). */
  val Bits = 31

  /** Interleave the low 31 bits of x (even positions) and y (odd
    * positions) into a 62-bit Morton code (computed in long). */
  def zValue(x: Column, y: Column): Column =
    (0 until Bits).map { k =>
      shiftleft(shiftright(x.cast("long"), k).bitwiseAND(1), 2 * k)
        .bitwiseOR(
          shiftleft(shiftright(y.cast("long"), k).bitwiseAND(1), 2 * k + 1))
    }.reduce(_ bitwiseOR _)

  /** The same interleave as DuckDB SQL text. */
  def zSql(x: String, y: String): String =
    (0 until Bits).map { k =>
      s"((($x >> $k) & 1) << ${2 * k}) | ((($y >> $k) & 1) << ${2 * k + 1})"
    }.mkString("(", " | ", ")")

  /** Per-bucket bounding boxes of the z-ordered lineitem: consecutive
    * z-ranges (the file granularity of a clustered write) and the
    * (partkey, suppkey) extents each would carry in its footer stats —
    * the locality the skipping relies on, as a hash-checkable query. */
  def clusterStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        shiftright(zValue(col("l_partkey"), col("l_suppkey")), 16)
          .as("z_bucket"),
        col("l_partkey"), col("l_suppkey"))
      .groupBy("z_bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("l_partkey").as("partkey_lo"), max("l_partkey").as("partkey_hi"),
        min("l_suppkey").as("suppkey_lo"), max("l_suppkey").as("suppkey_hi"))

  /** Write `df` z-clustered by (x, y): range-partition on the Morton
    * code, sort within partitions, bound file size — each output file
    * covers a contiguous z-range. Returns the re-read table.
    *
    * Pass `knownRows` when the caller already knows the input size
    * (file footers, a prior agg); only when absent does this fall back
    * to a `count()` — an extra scan worth avoiding on a 100 TB input
    * whose row count the catalog usually has anyway. */
  def writeZOrdered(df: DataFrame, x: String, y: String, out: String,
      files: Int = 30, knownRows: Option[Long] = None): DataFrame = {
    val rowsPerFile =
      math.max(1L, knownRows.getOrElse(df.count()) / files)
    df.withColumn("z", zValue(col(x), col(y)))
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile)
      .parquet(out)
    df.sparkSession.read.parquet(out)
  }

  /** Small-files compaction planner — the maintenance pass every
    * streaming ingest needs: an hourly sink writes one file per hour
    * (720 small files/month here, modeled as the events table's hour
    * buckets), and the compactor bins consecutive files into
    * target-sized outputs (Delta/Iceberg OPTIMIZE bin-packing, hive
    * concatenate). Greedy first-fit in file order: each file joins the
    * bin its cumulative start offset falls in, so bins are contiguous
    * time ranges (~`targetRows` each) and the plan is pure integer
    * arithmetic — bit-deterministic, replayable, and auditable before
    * any data moves. The manifest is post-aggregate (one row per file),
    * so the unpartitioned cumulative window is bounded by file count,
    * not data size; the actual rewrite would then be one
    * repartitionByRange(bin) write like [[writeZOrdered]]. */
  def compactionPlan(spark: SparkSession, dir: String,
      targetRows: Long = 2500): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("hour_file")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(expr("ts div 3600000000000").as("hour_file"))
      .groupBy("hour_file").agg(count(lit(1)).as("n_rows"))
      .withColumn("cum_before", coalesce(sum("n_rows").over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div ${targetRows}L"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
        min("hour_file").as("first_file"), max("hour_file").as("last_file"))
  }

  /** Per-bucket bounding boxes of the HILBERT-ordered lineitem — the
    * same file-granularity locality report as [[clusterStats]], with
    * the Morton interleave upgraded to the order-31 Hilbert curve
    * ([[graft.functions.HilbertIndex]]): consecutive curve positions
    * are unit steps, so contiguous index ranges (files) carry strictly
    * tighter (partkey, suppkey) boxes for min/max footer pruning.
    * Plan identical to the z-order form: one codegen'd kernel
    * projection, one partial+final HashAggregate. */
  def hilbertClusterStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        shiftright(graft.functions.HilbertIndex(
          col("l_partkey"), col("l_suppkey")), 16).as("h_bucket"),
        col("l_partkey"), col("l_suppkey"))
      .groupBy("h_bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("l_partkey").as("partkey_lo"), max("l_partkey").as("partkey_hi"),
        min("l_suppkey").as("suppkey_lo"), max("l_suppkey").as("suppkey_hi"))

  /** Target file count for the simulated clustered writes. */
  private val SimFiles = 300L

  /** FILE-SKIPPING simulation — the number the whole layout family
    * exists for, as one hash-checked report: lay lineitem out as
    * equal-row files along the Morton order vs along the Hilbert order
    * (the `maxRecordsPerFile` write semantics of [[writeZOrdered]]),
    * then evaluate the same two-column box predicate against each
    * layout's per-file min/max footer boxes. A file is SCANNED iff its
    * box overlaps the predicate box; `waste_ppm` is the fraction of
    * scanned rows the predicate then throws away — exactly the I/O a
    * lakehouse reader pays, and the metric on which Hilbert's
    * unit-step adjacency beats Z-order's quadrant teleports.
    *
    * Files must be equal-ROW chunks of the ordering, NOT aligned code
    * blocks: `code >> 16` carves BOTH curves into the same 256×256
    * tiles (a 2^16 span of either curve is exactly one aligned
    * subtree), which would make the comparison a tautological tie. Row
    * chunks are where the curves differ — a Z-order file straddles
    * quadrant teleports, a Hilbert file never does.
    *
    * Plan: BOTH layouts rank off ONE range shuffle — each row emits a
    * (layout, code) pair (column pruning computes each curve kernel
    * exactly once, in its own branch) and the union goes through a
    * single distributed exact cumsum ordered by (layout, code); the
    * second layout's rank is recovered by subtracting the first
    * layout's row count (a broadcast scalar), so no second shuffle and
    * no whole-table checkpoint. Everything after the per-file
    * aggregate runs on |files| rows. Ties in `code` need no tiebreak:
    * the code is a bijection of (partkey, suppkey), so equal-code rows
    * are interchangeable and any rank order yields identical per-file
    * boxes on both engines. */
  def skippingReport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // Probe box + rows-per-file from one 1-row agg (broadcast): bounds
    // at quarter-to-half of each dimension stay mid-selectivity at
    // every SF; a real reader's literal predicate takes the same path.
    val stats = li.agg(max("l_partkey").as("pk_max"),
        max("l_suppkey").as("sk_max"), count(lit(1)).as("n"))
      .select(expr("pk_max div 4").as("pk_lo"), expr("pk_max div 2").as("pk_hi"),
        expr("sk_max div 5").as("sk_lo"), expr("sk_max div 2").as("sk_hi"),
        expr(s"(n + ${SimFiles - 1}L) div ${SimFiles}L").as("rpf"),
        col("n"))
    val both = li.select(lit("zorder").as("layout"),
        zValue(col("l_partkey"), col("l_suppkey")).as("code"),
        col("l_partkey"), col("l_suppkey"), lit(1L).as("one"))
      .unionAll(li.select(lit("hilbert").as("layout"),
        graft.functions.HilbertIndex(
          col("l_partkey"), col("l_suppkey")).as("code"),
        col("l_partkey"), col("l_suppkey"), lit(1L).as("one")))
    val perFile = Packing
      .withGlobalCumsum(both, "one", Seq("layout", "code"))
      .crossJoin(stats)
      // 'hilbert' sorts before 'zorder', so zorder ranks start at n.
      .select(col("layout"),
        expr("(cum_before - if(layout = 'zorder', n, 0L)) div rpf").as("file"),
        col("l_partkey"), col("l_suppkey"),
        col("pk_lo"), col("pk_hi"), col("sk_lo"), col("sk_hi"))
      .groupBy("layout", "file")
      .agg(count(lit(1)).as("n_rows"),
        (max("l_partkey") >= first("pk_lo") && min("l_partkey") < first("pk_hi") &&
          max("l_suppkey") >= first("sk_lo") && min("l_suppkey") < first("sk_hi"))
          .as("scanned"),
        // In-box row count rides the SAME per-file aggregate (r19):
        // summed per layout it is rows_matched — every lineitem appears
        // exactly once per layout, so both layouts sum to the identical
        // scalar the old 4th lineitem scan + crossJoin recomputed.
        sum(when(col("l_partkey") >= col("pk_lo") &&
          col("l_partkey") < col("pk_hi") &&
          col("l_suppkey") >= col("sk_lo") &&
          col("l_suppkey") < col("sk_hi"), 1L).otherwise(0L))
          .as("rows_in_box"))
      .select(col("layout"), col("n_rows"), col("scanned"),
        col("rows_in_box"))
    perFile
      .groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("scanned"), 1L).otherwise(0L)).as("files_scanned"),
        sum(when(col("scanned"), col("n_rows")).otherwise(0L))
          .as("rows_scanned"),
        sum("rows_in_box").as("rows_matched"))
      .select(col("layout"), col("n_files"), col("files_scanned"),
        col("rows_scanned"), col("rows_matched"),
        expr("(rows_scanned - rows_matched) * 1000000" +
          " div greatest(rows_scanned, 1)").as("waste_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder_cluster" -> ((s, d) => clusterStats(s, d)),
    "q_hilbert_cluster" -> ((s, d) => hilbertClusterStats(s, d)),
    "q_skipping_report" -> ((s, d) => skippingReport(s, d)),
    "q_compaction_plan" -> ((s, d) => compactionPlan(s, d)))

  private val zExpr =
    zSql("CAST(l_partkey AS BIGINT)", "CAST(l_suppkey AS BIGINT)")

  private val HilbertBits = graft.functions.HilbertIndex.Bits
  private val HilbertN = graft.functions.HilbertIndex.N
  private val HilbertMask = graft.functions.HilbertIndex.Mask

  val oracles: Map[String, String] = Map(
    "q_compaction_plan" ->
      """WITH f AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS hour_file,
        |         count(*) AS n_rows
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT hour_file, n_rows,
        |         coalesce(CAST(sum(n_rows) OVER (ORDER BY hour_file
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS cum_before
        |  FROM f)
        |SELECT cum_before // 2500 AS bin,
        |       count(*) AS n_files, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |       min(hour_file) AS first_file, max(hour_file) AS last_file
        |FROM c GROUP BY 1""".stripMargin,
    "q_zorder_cluster" ->
      s"""SELECT $zExpr >> 16 AS z_bucket,
         |       count(*) AS n_rows,
         |       min(l_partkey) AS partkey_lo, max(l_partkey) AS partkey_hi,
         |       min(l_suppkey) AS suppkey_lo, max(l_suppkey) AS suppkey_hi
         |FROM lineitem GROUP BY 1""".stripMargin,
    // The 31 rotate/reflect rounds replayed as ROW iterations of a
    // recursive CTE (k = 30 … 0, one row generation per round) — the
    // same adaptive-loop-as-CTE technique as the BPE oracles, chosen
    // because unrolling the rounds as nested scalar expressions would
    // double the tree per round (x and y each feed several terms of
    // the next round). Same Wikipedia xy2d formulation as the kernel.
    "q_hilbert_cluster" ->
      s"""$hilbertCte
         |SELECT d >> 16 AS h_bucket,
         |       count(*) AS n_rows,
         |       min(l_partkey) AS partkey_lo, max(l_partkey) AS partkey_hi,
         |       min(l_suppkey) AS suppkey_lo, max(l_suppkey) AS suppkey_hi
         |FROM it WHERE k = -1 GROUP BY 1""".stripMargin,
    // Both manifests, the probe box and the file math come from the
    // SAME Scala values the operator uses ($hilbertCte, $zExpr,
    // SimFiles), so operator and oracle cannot drift.
    "q_skipping_report" ->
      s"""$hilbertCte,
         |z AS (SELECT l_partkey, l_suppkey, $zExpr AS code FROM lineitem),
         |h AS (SELECT l_partkey, l_suppkey, d AS code FROM it WHERE k = -1),
         |st AS (
         |  SELECT max(l_partkey) // 4 AS pk_lo, max(l_partkey) // 2 AS pk_hi,
         |         max(l_suppkey) // 5 AS sk_lo, max(l_suppkey) // 2 AS sk_hi,
         |         (count(*) + ${SimFiles - 1}) // ${SimFiles} AS rpf
         |  FROM lineitem),
         |zf AS (
         |  SELECT (row_number() OVER (ORDER BY code) - 1) // rpf AS f,
         |         l_partkey, l_suppkey, pk_lo, pk_hi, sk_lo, sk_hi
         |  FROM z, st),
         |hf AS (
         |  SELECT (row_number() OVER (ORDER BY code) - 1) // rpf AS f,
         |         l_partkey, l_suppkey, pk_lo, pk_hi, sk_lo, sk_hi
         |  FROM h, st),
         |zu AS (
         |  SELECT 'zorder' AS layout, count(*) AS n_rows,
         |         (max(l_partkey) >= any_value(pk_lo) AND
         |          min(l_partkey) < any_value(pk_hi) AND
         |          max(l_suppkey) >= any_value(sk_lo) AND
         |          min(l_suppkey) < any_value(sk_hi)) AS scanned
         |  FROM zf GROUP BY f),
         |hu AS (
         |  SELECT 'hilbert' AS layout, count(*) AS n_rows,
         |         (max(l_partkey) >= any_value(pk_lo) AND
         |          min(l_partkey) < any_value(pk_hi) AND
         |          max(l_suppkey) >= any_value(sk_lo) AND
         |          min(l_suppkey) < any_value(sk_hi)) AS scanned
         |  FROM hf GROUP BY f),
         |m AS (
         |  SELECT count(*) AS rows_matched FROM lineitem, st
         |  WHERE l_partkey >= pk_lo AND l_partkey < pk_hi
         |    AND l_suppkey >= sk_lo AND l_suppkey < sk_hi),
         |agg AS (
         |  SELECT layout, count(*) AS n_files,
         |         CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
         |           AS files_scanned,
         |         CAST(sum(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT)
         |           AS rows_scanned
         |  FROM (SELECT * FROM zu UNION ALL SELECT * FROM hu) GROUP BY 1)
         |SELECT layout, n_files, files_scanned, rows_scanned, rows_matched,
         |       CAST((rows_scanned - rows_matched) * 1000000
         |         // greatest(rows_scanned, 1) AS BIGINT) AS waste_ppm
         |FROM agg, m""".stripMargin)

  /** The order-31 xy2d rounds as a recursive CTE producing `it` (final
    * rows at k = -1) — shared by the hilbert-cluster and
    * skipping-report oracles. `lazy` because it is referenced from the
    * `oracles` initializer above its own declaration (the
    * interpolated-zero bug class this file hit once already). */
  private lazy val hilbertCte: String =
    s"""WITH RECURSIVE it AS (
       |  SELECT l_partkey, l_suppkey,
       |         CAST(l_partkey AS BIGINT) & ${HilbertMask} AS x,
       |         CAST(l_suppkey AS BIGINT) & ${HilbertMask} AS y,
       |         CAST(0 AS BIGINT) AS d,
       |         ${HilbertBits - 1} AS k
       |  FROM lineitem
       |  UNION ALL
       |  SELECT l_partkey, l_suppkey,
       |         CASE WHEN ry = 0 THEN
       |           CASE WHEN rx = 1 THEN ${HilbertN} - 1 - y ELSE y END
       |         ELSE x END AS x,
       |         CASE WHEN ry = 0 THEN
       |           CASE WHEN rx = 1 THEN ${HilbertN} - 1 - x ELSE x END
       |         ELSE y END AS y,
       |         d + (CAST(1 AS BIGINT) << k) * (CAST(1 AS BIGINT) << k)
       |           * xor(3 * rx, ry) AS d,
       |         k - 1 AS k
       |  FROM (SELECT l_partkey, l_suppkey, x, y, d, k,
       |               (x >> k) & 1 AS rx, (y >> k) & 1 AS ry
       |        FROM it WHERE k >= 0))""".stripMargin

}
