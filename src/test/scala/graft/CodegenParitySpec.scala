package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** CODEGEN ↔ INTERPRETED parity for every custom Catalyst expression:
  * each one ships BOTH an `eval`/`nullSafeEval` path and a `doGenCode`
  * path, and Spark picks per-context (whole-stage codegen in the hot
  * path, interpreted under codegen fallback, in BroadcastNestedLoopJoin
  * conditions, and on codegen compile errors). A divergence between the
  * two paths is a silent wrong-answer bug that ordinary query tests
  * cannot catch — they only ever exercise whichever path the planner
  * happened to pick. This spec runs the same expression workload under
  * forced CODEGEN_ONLY and forced NO_CODEGEN (+ whole-stage off) and
  * requires identical rows.
  */
class CodegenParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession =
    GraftSession.create("codegen-parity-spec", cores = "4")

  override def afterAll(): Unit = spark.stop()

  private def collectUnder(conf: Map[String, String])(
      build: => DataFrame): Seq[String] = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try build.collect().map(_.toString).sorted.toSeq
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def assertParity(name: String)(build: => DataFrame): Unit = {
    val gen = collectUnder(Map(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))(build)
    val interp = collectUnder(Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))(build)
    assert(gen.nonEmpty, s"$name: workload returned no rows")
    assert(gen == interp,
      s"$name: codegen and interpreted paths disagree\n" +
        s"codegen: ${gen.take(3)}\ninterp: ${interp.take(3)}")
  }

  private def embPairs: DataFrame = {
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 20)
    e.as("a").join(e.as("b"), col("a.vec_id") + 1 === col("b.vec_id"))
      .select(col("a.vec_id").as("i"),
        col("a.embedding").as("ea"), col("b.embedding").as("eb"))
  }

  test("CosineSim parity") {
    assertParity("CosineSim")(embPairs.select(col("i"),
      round(graft.functions.CosineSim(col("ea"), col("eb")), 6)))
  }

  test("DotConst parity") {
    val w = Seq.tabulate(64)(k => (k % 5 - 2) / 2.0)
    assertParity("DotConst")(embPairs.select(col("i"),
      round(graft.functions.DotConst(col("ea"), w), 6)))
  }

  test("LshBands parity") {
    val planes = Seq.tabulate(16)(p =>
      Seq.tabulate(64)(k => ((p * 64 + k) % 7 - 3) / 3.0))
    assertParity("LshBands")(embPairs.select(col("i"),
      graft.functions.LshBands(col("ea"), planes, 4)))
  }

  test("L2Sq parity") {
    assertParity("L2Sq")(embPairs
      .select(col("i"),
        expr("transform(ea, x -> CAST(round(x * 100, 0) AS BIGINT))").as("qa"),
        expr("transform(eb, x -> CAST(round(x * 100, 0) AS BIGINT))").as("qb"))
      .select(col("i"), graft.functions.L2Sq(col("qa"), col("qb"))))
  }

  test("SortedIntersectSize parity") {
    assertParity("SortedIntersectSize")(
      Tables.part(spark, sfDir).filter(col("p_partkey") < 50)
        .select(col("p_partkey"),
          expr("sequence(CAST(p_partkey % 7 AS BIGINT)," +
            " CAST(p_partkey % 7 + 10 AS BIGINT))").as("sa"),
          expr("sequence(CAST(p_size AS BIGINT)," +
            " CAST(p_size + 10 AS BIGINT))").as("sb"))
        .select(col("p_partkey"),
          graft.functions.SortedIntersectSize(col("sa"), col("sb"))))
  }

  test("HilbertIndex parity") {
    assertParity("HilbertIndex")(
      Tables.part(spark, sfDir).filter(col("p_partkey") < 100)
        .select(col("p_partkey"),
          graft.functions.HilbertIndex(
            (col("p_partkey") % 1024).cast("long"),
            (col("p_size") * 31 % 1024).cast("long"))))
  }

  test("Shingles / ShinglesAll parity") {
    assertParity("Shingles")(
      Tables.documents(spark, sfDir).filter(col("doc_id") < 50)
        .selectExpr("doc_id", "shingles(text, 3) AS sh",
          "shingles_all(text, 4) AS sha"))
  }

  test("OptimizerBarrier parity") {
    assertParity("OptimizerBarrier")(
      Tables.part(spark, sfDir).filter(col("p_partkey") < 50)
        .select(col("p_partkey"),
          graft.functions.OptimizerBarrier(
            col("p_partkey") * 3 + length(col("p_name")))))
  }

  test("Avro encode/decode round-trip parity") {
    assertParity("AvroOrder")(
      Tables.orders(spark, sfDir).filter(col("o_orderkey") < 200)
        .selectExpr(
          "to_avro_order(named_struct(" +
            "'orderId', CAST(o_orderkey AS STRING)," +
            "'product', o_orderpriority," +
            "'price', CAST(o_totalprice AS FLOAT)," +
            "'timestamp', unix_micros(CAST(o_orderdate AS TIMESTAMP))))" +
            " AS avro_bytes")
        .selectExpr("md5(avro_bytes) AS digest",
          "from_avro_order(avro_bytes) AS back",
          "try_from_avro_order(CAST('garbage' AS BINARY)) AS corrupt"))
  }

  test("Confluent framed encode/registry decode parity") {
    val d = java.nio.file.Files
      .createTempDirectory("graft-parity-registry").toFile.getAbsolutePath
    val reg = new graft.streaming.FileSchemaRegistry(d)
    val v1 = reg.register("orders-value", graft.functions.AvroOrder.schema)
    val v2 = reg.register("orders-value",
      graft.functions.AvroOrder.schemaV2)
    assertParity("ConfluentOrderCodec")(
      Tables.orders(spark, sfDir).filter(col("o_orderkey") < 200)
        .select(
          when(col("o_orderkey") % 2 === 0,
            graft.functions.ToConfluentOrderV1(expr(
              "named_struct('orderId', CAST(o_orderkey AS STRING)," +
                "'product', o_orderpriority," +
                "'price', CAST(o_totalprice AS FLOAT)," +
                "'timestamp', unix_micros(CAST(o_orderdate AS TIMESTAMP)))"
            ), v1))
            .otherwise(graft.functions.ToConfluentOrderV2(expr(
              "named_struct('orderId', CAST(o_orderkey AS STRING)," +
                "'product', o_orderpriority," +
                "'price', CAST(o_totalprice AS DOUBLE)," +
                "'timestamp', unix_micros(CAST(o_orderdate AS TIMESTAMP))," +
                "'currency', 'EUR')"), v2)).as("wire"))
        .select(md5(col("wire")).as("digest"),
          graft.functions.FromConfluentOrder(col("wire"), d).as("back")))
  }

  test("GENERIC Confluent codec parity (second record type, mixed versions)") {
    // The schema-parameterized family on a NON-Order record (the DLQ
    // message): v1 writes retry_count int, v2 long + consumer_group;
    // one FromConfluentAvro reader decodes both versions.
    val d = java.nio.file.Files
      .createTempDirectory("graft-parity-generic").toFile.getAbsolutePath
    val reg = new graft.streaming.FileSchemaRegistry(d)
    val p1 = new org.apache.avro.Schema.Parser()
    val v1 = reg.register("dlq-value",
      p1.parse(graft.operators.StreamQueries.dlqSchemaV1Json))
    val v2 = reg.register("dlq-value",
      new org.apache.avro.Schema.Parser()
        .parse(graft.operators.StreamQueries.dlqSchemaV2Json))
    assertParity("ConfluentAvroGeneric")(
      Tables.events(spark, sfDir).filter(col("event_id") < 200)
        .select(col("event_id"),
          when(col("event_id") % 2 === 0,
            graft.functions.ToConfluentAvro(expr(
              "named_struct('original_key', CAST(event_id AS STRING)," +
                "'error_type', coalesce(event_type, 'missing')," +
                "'retry_count', CAST(event_id % 4 AS INT)," +
                "'failed_at', ts div 1000000)"), d, v1))
            .otherwise(graft.functions.ToConfluentAvro(expr(
              "named_struct('original_key', CAST(event_id AS STRING)," +
                "'error_type', coalesce(event_type, 'missing')," +
                "'retry_count', CAST(event_id % 4 AS LONG)," +
                "'failed_at', ts div 1000000," +
                "'consumer_group', 'dlq-replay-group')"), d, v2))
            .as("wire"))
        .select(md5(col("wire")).as("digest"),
          graft.functions.FromConfluentAvro(col("wire"), d,
            graft.operators.StreamQueries.dlqSchemaV2Json).as("back")))
  }

  test("Confluent codec THROUGH the HTTP registry transport: a URL " +
      "registry spec decodes identically to the shared-dir spec") {
    // The `schema.registry.url` swap executed INSIDE a query plan: the
    // same FromConfluentAvro expression, handed an http:// spec,
    // resolves writer schemas over the loopback REST server and must
    // decode the identical wire bytes to the identical rows the
    // file-backed spec produces (plus codegen ≡ interpreted on the
    // HTTP path itself, via assertParity).
    val d = java.nio.file.Files
      .createTempDirectory("graft-parity-http-reg").toFile.getAbsolutePath
    val reg = new graft.streaming.FileSchemaRegistry(d)
    val v1 = reg.register("orders-value", graft.functions.AvroOrder.schema)
    val v2 = reg.register("orders-value", graft.functions.AvroOrder.schemaV2)
    val server = new graft.streaming.SchemaRegistryHttpServer(reg)
    try {
      val url = server.baseUrl
      def wire = Tables.orders(spark, sfDir).filter(col("o_orderkey") < 120)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 2 === 0,
            graft.functions.ToConfluentAvro(expr(
              "named_struct('orderId', CAST(o_orderkey AS STRING)," +
                "'product', o_orderpriority," +
                "'price', CAST(o_totalprice AS FLOAT)," +
                "'timestamp', unix_micros(CAST(o_orderdate AS TIMESTAMP)))"
            ), d, v1))
            .otherwise(graft.functions.ToConfluentAvro(expr(
              "named_struct('orderId', CAST(o_orderkey AS STRING)," +
                "'product', o_orderpriority," +
                "'price', CAST(o_totalprice AS DOUBLE)," +
                "'timestamp', unix_micros(CAST(o_orderdate AS TIMESTAMP))," +
                "'currency', 'EUR')"), url, v2)) // producer leg over HTTP too
            .as("wire"))
      val readerJson = graft.functions.AvroOrder.schemaV2.toString
      assertParity("ConfluentAvroOverHttp")(wire.select(col("o_orderkey"),
        graft.functions.FromConfluentAvro(col("wire"), url, readerJson)
          .as("back")))
      val viaHttp = wire.select(col("o_orderkey"),
        graft.functions.FromConfluentAvro(col("wire"), url, readerJson)
          .as("back")).collect().map(_.toString).sorted.toSeq
      val viaDir = wire.select(col("o_orderkey"),
        graft.functions.FromConfluentAvro(col("wire"), d, readerJson)
          .as("back")).collect().map(_.toString).sorted.toSeq
      assert(viaHttp.nonEmpty && viaHttp == viaDir,
        "HTTP-resolved decode diverged from the file-registry decode")
    } finally server.stop()
  }

  test("generic bridge round-trips nullable, bytes, and array fields exactly") {
    val sch =
      """{"type":"record","name":"Blob","namespace":"graft","fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"name","type":["null","string"],"default":null},
        |  {"name":"payload","type":"bytes"},
        |  {"name":"tags","type":{"type":"array","items":"string"}},
        |  {"name":"score","type":["null","double"],"default":null}]}"""
        .stripMargin
    val d = java.nio.file.Files
      .createTempDirectory("graft-bridge-types").toFile.getAbsolutePath
    val reg = new graft.streaming.FileSchemaRegistry(d)
    val id = reg.register("blob-value",
      new org.apache.avro.Schema.Parser().parse(sch))
    val rec = expr(
      "named_struct('id', id," +
        " 'name', CASE WHEN id % 2 = 0 THEN CAST(NULL AS STRING)" +
        "   ELSE concat('n', id) END," +
        " 'payload', CAST(concat('p', id) AS BINARY)," +
        " 'tags', array(concat('a', id), 'b')," +
        " 'score', CASE WHEN id % 3 = 0 THEN CAST(NULL AS DOUBLE)" +
        "   ELSE id * 1.5 END)")
    val src = spark.range(6).select(rec.as("rec"))
    val back = src
      .select(graft.functions.ToConfluentAvro(col("rec"), d, id).as("wire"))
      .select(graft.functions.FromConfluentAvro(col("wire"), d, sch)
        .as("back"))
    // encode∘decode = id, field for field (binary rendered via md5 so
    // Row.toString comparability is exact)
    def render(df: DataFrame, c: String) = df.selectExpr(
      s"$c.id", s"$c.name", s"md5($c.payload)", s"$c.tags", s"$c.score")
      .collect().map(_.toString).sorted.toSeq
    assert(render(back, "back") == render(src, "rec"))
    assert(render(src, "rec").size == 6)
  }
}
