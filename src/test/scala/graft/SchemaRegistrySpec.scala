package graft

import org.apache.avro.generic.GenericData
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.AvroOrder
import graft.streaming.{ConfluentWire, FileSchemaRegistry}

/** The schema-registry seam (reference: the Confluent registry behind
  * `avro_order_consumer.py`'s AvroConsumer): file-backed client with
  * the Confluent wire framing (magic 0x00 + int32 schema id + Avro
  * binary). The consumer contract under test: a topic carrying MIXED
  * writer versions decodes under ONE reader schema via registry
  * lookup + Avro schema resolution; unknown ids and foreign frames
  * fail loudly, never mis-decode.
  */
class SchemaRegistrySpec extends AnyFunSuite {

  private def v1Record(id: String, product: String, price: Float,
      ts: Long) = {
    val r = new GenericData.Record(AvroOrder.schema)
    r.put("orderId", id); r.put("product", product)
    r.put("price", price); r.put("timestamp", ts)
    r
  }

  private def v2Record(id: String, product: String, price: Double,
      ts: Long, ccy: String) = {
    val r = new GenericData.Record(AvroOrder.schemaV2)
    r.put("orderId", id); r.put("product", product)
    r.put("price", price); r.put("timestamp", ts)
    r.put("currency", ccy)
    r
  }

  test("registration is idempotent per schema; versions get distinct ids") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-registry").toString
    val reg = new FileSchemaRegistry(dir)
    val id1 = reg.register("orders-value", AvroOrder.schema)
    val id1b = reg.register("orders-value", AvroOrder.schema)
    val id2 = reg.register("orders-value", AvroOrder.schemaV2)
    assert(id1 == id1b, "re-registering the same schema must reuse its id")
    assert(id1 != id2, "an evolved schema must get its own id")
    assert(reg.latest("orders-value").map(_._1).contains(id2))
    assert(reg.byId(id1).getField("price").schema().getType.getName == "float")
    assert(reg.byId(id2).getField("currency") != null)
  }

  test("mixed-version topic decodes under one reader via registry lookup") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-registry").toString
    val reg = new FileSchemaRegistry(dir)
    val base = 1704067200000L
    val wire = Seq(
      ConfluentWire.encode(reg, "orders-value",
        v1Record("ORD-1", "Laptop", 999.99f, base)),
      ConfluentWire.encode(reg, "orders-value",
        v2Record("ORD-2", "Mouse", 25.50, base + 1000, "EUR")),
      ConfluentWire.encode(reg, "orders-value",
        v1Record("ORD-3", "Monitor", 349.99f, base + 2000)))

    val decoded = wire.map(ConfluentWire.decode(reg, AvroOrder.schemaV2, _))
    // v1 payloads resolve under the v2 reader: float price promotes to
    // double, the added currency field takes its default.
    assert(decoded.map(_.get("orderId").toString) ==
      Seq("ORD-1", "ORD-2", "ORD-3"))
    assert(decoded(0).get("price") == 999.99f.toDouble)
    assert(decoded(0).get("currency").toString == "USD")
    assert(decoded(1).get("currency").toString == "EUR")
    assert(decoded(2).get("currency").toString == "USD")
    // The wire carries two distinct writer ids for the three messages.
    val ids = wire.map(b => ConfluentWire.unframe(b)._1).toSet
    assert(ids.size == 2)
  }

  test("unknown id and foreign frames fail loudly, never mis-decode") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-registry").toString
    val reg = new FileSchemaRegistry(dir)
    reg.register("orders-value", AvroOrder.schema)
    val framedUnknown = ConfluentWire.frame(999,
      Array[Byte](1, 2, 3))
    val e1 = intercept[IllegalArgumentException] {
      ConfluentWire.decode(reg, AvroOrder.schemaV2, framedUnknown)
    }
    assert(e1.getMessage.contains("unknown schema id 999"))
    val e2 = intercept[IllegalArgumentException] {
      ConfluentWire.unframe("{\"json\":true}".getBytes("UTF-8"))
    }
    assert(e2.getMessage.contains("bad frame"))
  }

  test("two clients sharing a registry dir share ids (the service stand-in)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-registry").toString
    val a = new FileSchemaRegistry(dir)
    val b = new FileSchemaRegistry(dir)
    val id = a.register("orders-value", AvroOrder.schema)
    assert(b.byId(id).toString == AvroOrder.schema.toString)
    assert(b.register("orders-value", AvroOrder.schema) == id)
  }

  test("concurrent registrants never collide on an id (atomic claim loop)") {
    // Two INSTANCES (the cross-process stand-in: per-instance
    // `synchronized` cannot serialize them) registering distinct
    // schemas concurrently must claim distinct ids — an id collision
    // would overwrite a writer schema and silently mis-decode, the
    // exact failure the registry exists to prevent.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-registry-race").toString
    def schemaN(i: Int) = new org.apache.avro.Schema.Parser().parse(
      s"""{"type":"record","name":"R$i","fields":[
         |  {"name":"x","type":"long"}]}""".stripMargin)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(16)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val ids =
      try Await.result(Future.sequence((1 to 16).toList.map(i => Future {
        val reg = new FileSchemaRegistry(dir) // fresh instance per thread
        i -> reg.register(s"subject-$i", schemaN(i))
      })), 60.seconds)
      finally pool.shutdown()
    assert(ids.map(_._2).distinct.size == 16,
      s"id collision across concurrent registrants: $ids")
    // and every id resolves to the schema its registrant wrote
    val check = new FileSchemaRegistry(dir)
    ids.foreach { case (i, id) =>
      assert(check.byId(id).getName == s"R$i",
        s"id $id served the wrong writer schema")
    }
  }

  test("HTTP transport parity: REST client ≡ file client over one " +
      "registry — same ids, same mixed-version decode (kafka_utils.py:14)") {
    // The executed transport seam (r15 verdict №3): a loopback server
    // speaking the Confluent REST subset fronts the SAME registry the
    // file client reads, and every registry consumer behaves
    // identically through either client — the one-line
    // `schema.registry.url` swap, actually run.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-registry-http").toString
    val fileClient = new FileSchemaRegistry(dir)
    val server = new graft.streaming.SchemaRegistryHttpServer(fileClient)
    try {
      val http = new graft.streaming.HttpSchemaRegistryClient(server.baseUrl)

      // Registration through HTTP mints the same sequential ids and is
      // idempotent against registrations made through the file client.
      val id1 = http.register("orders-value", AvroOrder.schema)
      assert(http.register("orders-value", AvroOrder.schema) == id1)
      assert(fileClient.register("orders-value", AvroOrder.schema) == id1,
        "HTTP and file transports must dedupe to the same id")
      val id2 = fileClient.register("orders-value", AvroOrder.schemaV2)
      assert(http.register("orders-value", AvroOrder.schemaV2) == id2)
      assert(http.latest("orders-value").map(_._1).contains(id2))
      assert(http.byId(id1).toString == fileClient.byId(id1).toString)

      // Mixed-version wire bytes PRODUCED through one transport DECODE
      // through the other — the topic-compatibility contract.
      val base = 1704067200000L
      val wire = Seq(
        ConfluentWire.encode(http, "orders-value",
          v1Record("ORD-1", "Laptop", 999.99f, base)),
        ConfluentWire.encode(fileClient, "orders-value",
          v2Record("ORD-2", "Mouse", 25.50, base + 1000, "EUR")))
      val viaHttp = wire.map(
        ConfluentWire.decode(http, AvroOrder.schemaV2, _))
      val viaFile = wire.map(
        ConfluentWire.decode(fileClient, AvroOrder.schemaV2, _))
      assert(viaHttp.map(_.toString) == viaFile.map(_.toString))
      assert(viaHttp(0).get("price") == 999.99f.toDouble)
      assert(viaHttp(0).get("currency").toString == "USD")
      assert(viaHttp(1).get("currency").toString == "EUR")

      // Failure faces stay loud over HTTP: unknown id (404 + error
      // body), unknown subject (None, like the file client).
      val e = intercept[IllegalArgumentException](http.byId(999))
      assert(e.getMessage.contains("999"))
      assert(http.latest("no-such-subject").isEmpty)
    } finally server.stop()
  }

  test("exotic subject names round-trip the HTTP transport exactly " +
      "once-decoded ('+', '%', space, unicode) — r16 advice №1") {
    // The r16 server matched on the PERCENT-DECODED path and then
    // URLDecoder.decode'd again, so 'a+b' registered as 'a b' over HTTP
    // but as 'a+b' through the file client — a transport-parity break
    // for any subject containing '+' or '%'. The raw-path + decode-once
    // fix must make every spelling land on the same registry entry.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-registry-subj").toString
    val fileClient = new FileSchemaRegistry(dir)
    val server = new graft.streaming.SchemaRegistryHttpServer(fileClient)
    try {
      val http = new graft.streaming.HttpSchemaRegistryClient(server.baseUrl)
      // (Non-ASCII subjects are excluded: the FILE backend stores a
      // subject as a literal filename and a C-locale JVM can't create
      // it — a backend limit shared by both transports, not a
      // transport-parity question.)
      val exotic = Seq("orders+value", "orders%2Bvalue", "orders value")
      exotic.foreach { subject =>
        val idHttp = http.register(subject, AvroOrder.schema)
        assert(fileClient.register(subject, AvroOrder.schema) == idHttp,
          s"subject '$subject' must name the SAME entry over both " +
            "transports (double-decode would shift it)")
        assert(http.latest(subject).map(_._1).contains(idHttp))
      }
      // And the names stay distinct from each other: 'orders+value'
      // must NOT have collapsed onto 'orders value' or 'orders%2Bvalue'.
      assert(fileClient.subjects().toSet == exotic.toSet)
      assert(http.subjects().toSet == exotic.toSet,
        "GET /subjects must list every registered subject, undamaged")
      // And an exotic schema body: a doc holding '"', '\', a tab and a
      // non-ASCII character survives register → byId → latest.
      val docSchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"Doc","namespace":"graft",
          |"doc":"say \"hi\" \\ then\ttab, café",
          |"fields":[{"name":"id","type":"long"}]}""".stripMargin)
      assert(docSchema.getDoc == "say \"hi\" \\ then\ttab, café")
      val docId = http.register("orders+value", docSchema)
      assert(http.byId(docId) == docSchema &&
        http.byId(docId).getDoc == docSchema.getDoc)
      assert(http.latest("orders+value") == Some(docId -> docSchema))
    } finally server.stop()
  }

  test("GET /subjects lists registrations from either transport; " +
      "empty registry lists []") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-registry-list").toString
    val fileClient = new FileSchemaRegistry(dir)
    val server = new graft.streaming.SchemaRegistryHttpServer(fileClient)
    try {
      val http = new graft.streaming.HttpSchemaRegistryClient(server.baseUrl)
      assert(http.subjects().isEmpty)
      http.register("orders-value", AvroOrder.schema)
      fileClient.register("payments-value", AvroOrder.schemaV2)
      assert(http.subjects().sorted ==
        Seq("orders-value", "payments-value"))
      assert(fileClient.subjects().sorted == http.subjects().sorted)
    } finally server.stop()
  }

  test("registry error faces: unparseable schema → 422 error_code " +
      "42201; a 409 response surfaces as the incompatible-schema error") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-registry-err").toString
    val server =
      new graft.streaming.SchemaRegistryHttpServer(new FileSchemaRegistry(dir))
    try {
      // Server side: a syntactically-bad schema is the documented 422,
      // not a 500 — POST raw JSON the typed client can't produce.
      val url = new java.net.URI(
        server.baseUrl + "/subjects/orders-value/versions").toURL
      val conn = url.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      val os = conn.getOutputStream
      os.write("""{"schema":"{\"type\":\"not-a-type\"}"}"""
        .getBytes("UTF-8")); os.close()
      assert(conn.getResponseCode == 422)
      val body = new String(conn.getErrorStream.readAllBytes(), "UTF-8")
      assert(body.contains("42201") && body.contains("invalid schema"))
      conn.disconnect()
    } finally server.stop()

    // Client side: a 409 (a compatibility-checking registry refusing an
    // incompatible evolution) maps to the DISTINCT incompatible-schema
    // error, not the generic require failure — pin via a stub endpoint
    // that always answers 409 the way Confluent does.
    val stub = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    stub.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = """{"error_code":409,"message":"Schema being registered is incompatible with an earlier schema"}"""
        .getBytes("UTF-8")
      ex.sendResponseHeaders(409, b.length.toLong)
      ex.getResponseBody.write(b); ex.close()
    })
    stub.start()
    try {
      val client = new graft.streaming.HttpSchemaRegistryClient(
        s"http://127.0.0.1:${stub.getAddress.getPort}")
      val e = intercept[IllegalStateException](
        client.register("orders-value", AvroOrder.schema))
      assert(e.getMessage.contains("incompatible"))
      assert(e.getMessage.contains("409"))
    } finally stub.stop(0)
  }
}
