package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Specs for the round-2 breadth operators (Analytics) and the custom
  * `shingles` expression — the invariants the SQL oracles can't state.
  */
class AnalyticsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession =
    GraftSession.create("analytics-spec", cores = "4")

  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("shingles expression == HOF formulation, corpus + edge cases") {
    import spark.implicits._
    val edge = Seq(
      "", "one", "one two", "one two three",
      "  leading and trailing  ",
      "a b c a b c a b c", // duplicate shingles
      "Mixed CASE Tokens mixed case tokens",
      "tab\tsep and\nnewline sep tokens").toDF("text")
    val corpus = Tables.documents(spark, sf).select("text").limit(200)
    for (df <- Seq(edge, corpus)) {
      val diff = df.select(
        expr("shingles(text)").as("fast"),
        array_distinct(expr(
          """CASE WHEN size(split(lower(text), '\\s+')) < 3
            |     THEN array()
            |     ELSE transform(sequence(0, size(split(lower(text), '\\s+')) - 3),
            |       i -> concat_ws(' ',
            |              split(lower(text), '\\s+')[i],
            |              split(lower(text), '\\s+')[i+1],
            |              split(lower(text), '\\s+')[i+2]))
            |END""".stripMargin))
          .as("ref"))
        .filter(not(col("fast") === col("ref")))
        .count()
      assert(diff == 0)
    }
  }

  test("banded time-range join == naive theta join") {
    // sf0.01: sf0.001's event stream is too sparse for any ±60 s pair.
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val naive = ev.as("p").filter(col("p.event_type") === "purchase")
      .join(ev.as("e").filter(col("e.event_type") === "error"),
        abs(col("p.ts") - col("e.ts")) <= 60000000000L)
      .groupBy(col("p.event_id").as("purchase_id"))
      .agg(count(lit(1)).as("n_nearby_errors"),
        expr("min(abs(p.ts - e.ts)) div 1000000000").as("closest_gap_s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val banded = Analytics.timeRangeJoin(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(banded == naive && banded.nonEmpty)
  }

  test("int8 quantization reconstructs within half a quantization step") {
    val bad = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
        (lit(127.0) / greatest(
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => greatest(acc, abs(x.cast("double")))),
          lit(1e-30))).as("scale"))
      .select(col("vec_id"),
        aggregate(col("embedding"), lit(0.0), (acc, x) =>
          greatest(acc, abs(x.cast("double") -
            floor(x.cast("double") * col("scale") + lit(0.5)) / col("scale"))))
          .as("max_err"),
        (lit(0.5) / col("scale")).as("half_step"))
      .filter(col("max_err") > col("half_step") * 1.0000001)
      .count()
    assert(bad == 0)
  }

  test("set ops partition the union of yearly actives") {
    val parts = Analytics.customerSetOps(spark, sf)
      .groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1995).select("o_custkey").distinct().count()
    val b = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1996).select("o_custkey").distinct().count()
    assert(parts.getOrElse("both", 0L) + parts.getOrElse("only_1995", 0L) == a)
    assert(parts.getOrElse("both", 0L) + parts.getOrElse("only_1996", 0L) == b)
  }

  test("CSV and JSON round-trips preserve the aggregate exactly") {
    val direct = Tables.customer(spark, sf)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(round(col("c_acctbal") * 100, 0).cast("long")).as("total_cents"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val viaCsv = Analytics.csvRoundtrip(spark, sf)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(viaCsv == direct)
    val directJ = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long")).as("total_cents"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val viaJson = Analytics.jsonRoundtrip(spark, sf)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(viaJson == directJ)
  }

  test("decay shift clamps where Java's 6-bit shift mask would wrap") {
    // The hazard q_decayed_revenue's CASE guards: shiftright masks the
    // shift count to 6 bits for longs, so k = 64 is a NO-OP (weight 1
    // where the math says ~0) and k = 70 shifts by 6. Pin the raw
    // behavior AND that the guarded expression clamps to 0 from 63 on.
    val rows = spark.range(1)
      .selectExpr(
        "shiftright(1000000L, 64) AS wrapped",
        "shiftright(1000000L, 20) AS sane",
        "CASE WHEN 64 >= 63 THEN 0L ELSE shiftright(1000000L, 64) END" +
          " AS guarded_64",
        "CASE WHEN 62 >= 63 THEN 0L ELSE shiftright(1000000L, 62) END" +
          " AS guarded_62")
      .collect()(0)
    assert(rows.getAs[Long]("wrapped") == 1000000L) // the silent wrap
    assert(rows.getAs[Long]("sane") == 0L)
    assert(rows.getAs[Long]("guarded_64") == 0L)
    assert(rows.getAs[Long]("guarded_62") == 0L) // 2^62 > any cents value
  }
}
