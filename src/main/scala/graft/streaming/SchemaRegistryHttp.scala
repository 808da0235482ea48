package graft.streaming

import java.net.{HttpURLConnection, InetSocketAddress, URI, URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.avro.Schema
import org.json4s._
import org.json4s.jackson.JsonMethods

/** EXECUTED HTTP TRANSPORT for the schema-registry seam — the piece the
  * reference configures as `schema.registry.url`
  * (`src/utils/kafka_utils.py:14`: producer and consumer both wire
  * through Confluent's REST registry). The repo's
  * [[SchemaRegistryClient]] trait carries the SEMANTICS (sequential
  * idempotent ids, writer-schema lookup, mixed-version resolution);
  * this file closes the transport claim by actually speaking the
  * public Confluent REST subset over a real socket — loopback, in
  * process, zero egress:
  *
  *   POST /subjects/{subject}/versions   {"schema":"…"} → {"id":N}
  *   GET  /schemas/ids/{id}              → {"schema":"…"}
  *   GET  /subjects/{subject}/versions/latest
  *        → {"subject":"…","id":N,"schema":"…"}
  *
  * (The request/response shapes are Confluent's documented wire
  * contract for these routes; unknown ids/subjects return the
  * documented 404 + `error_code` body.) [[SchemaRegistryHttpServer]]
  * serves any [[SchemaRegistryClient]] delegate — backed by
  * [[FileSchemaRegistry]] its locking/idempotency guarantees carry
  * over unchanged — and [[HttpSchemaRegistryClient]] implements the
  * SAME client trait over HTTP, so every registry consumer in the
  * engine (the Confluent codec expressions, the topology) runs
  * unmodified against either transport. `SchemaRegistrySpec` pins
  * transport parity: both clients mint identical ids and decode the
  * same mixed-version wire bytes.
  */
object SchemaRegistryJson {

  /** One flat JSON object, compact. */
  def obj(fields: (String, JValue)*): String =
    JsonMethods.compact(JObject(fields.toList))

  /** Confluent's error body: `{"error_code":N,"message":"…"}`. */
  def error(code: Int, message: String): String =
    obj("error_code" -> JInt(code), "message" -> JString(message))

  /** `body` parsed, or None when it is not JSON at all. */
  def parse(body: String): Option[JValue] = JsonMethods.parseOpt(body)

  def stringField(json: JValue, field: String): Option[String] =
    json \ field match { case JString(v) => Some(v); case _ => None }

  def intField(json: JValue, field: String): Option[Int] =
    json \ field match { case JInt(v) => Some(v.toInt); case _ => None }
}

/** Minimal in-process registry server (JDK `com.sun.net.httpserver`,
  * loopback only). `port` 0 binds an ephemeral port; read it back via
  * [[baseUrl]]. */
final class SchemaRegistryHttpServer(delegate: SchemaRegistryClient,
    port: Int = 0) {
  import SchemaRegistryJson._

  private val server =
    com.sun.net.httpserver.HttpServer.create(
      new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)

  private def respond(ex: com.sun.net.httpserver.HttpExchange,
      status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type",
      "application/vnd.schemaregistry.v1+json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def notFound(ex: com.sun.net.httpserver.HttpExchange,
      code: Int, msg: String): Unit =
    respond(ex, 404, error(code, msg))

  server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) =>
    try {
      // RAW path: getPath percent-decodes, so decoding the captured
      // subject again would double-decode ('%2B' → '+' → ' '). Match
      // on the raw form and URLDecoder.decode exactly once — the
      // precise inverse of the client's URLEncoder.encode, so any
      // Kafka-legal OR exotic subject ('+', '%', unicode) round-trips
      // identically over HTTP and through the file client.
      val path = ex.getRequestURI.getRawPath
      val SubjectVersions = "/subjects/([^/]+)/versions".r
      val SubjectLatest = "/subjects/([^/]+)/versions/latest".r
      val SchemaById = "/schemas/ids/(\\d+)".r
      (ex.getRequestMethod, path) match {
        case ("POST", SubjectVersions(rawSubject)) =>
          val subject = URLDecoder.decode(rawSubject, "UTF-8")
          val body = new String(ex.getRequestBody.readAllBytes(),
            StandardCharsets.UTF_8)
          parse(body).flatMap(stringField(_, "schema")) match {
            case Some(schemaJson) =>
              // Unparseable Avro is the documented 422 ("invalid
              // schema"), not a 500 — Confluent's error_code 42201.
              val parsed =
                try Right(new Schema.Parser().parse(schemaJson))
                catch { case e: Exception => // any parse failure = 42201
                  Left(String.valueOf(e.getMessage)) }
              parsed match {
                case Right(schema) =>
                  val id = delegate.register(subject, schema)
                  respond(ex, 200, obj("id" -> JInt(id)))
                case Left(msg) =>
                  respond(ex, 422, error(42201, s"invalid schema: $msg"))
              }
            case None =>
              respond(ex, 422, error(42201, "missing schema field"))
          }
        case ("GET", "/subjects") =>
          respond(ex, 200, JsonMethods.compact(
            JArray(delegate.subjects().sorted.map(JString(_)).toList)))
        case ("GET", SchemaById(id)) =>
          try {
            val schema = delegate.byId(id.toInt)
            respond(ex, 200, obj("schema" -> JString(schema.toString)))
          } catch { case _: IllegalArgumentException =>
            notFound(ex, 40403, s"Schema $id not found")
          }
        case ("GET", SubjectLatest(rawSubject)) =>
          val subject = URLDecoder.decode(rawSubject, "UTF-8")
          delegate.latest(subject) match {
            case Some((id, schema)) => respond(ex, 200,
              obj("subject" -> JString(subject), "id" -> JInt(id),
                "schema" -> JString(schema.toString)))
            case None => notFound(ex, 40401, s"Subject '$subject' not found")
          }
        case _ =>
          notFound(ex, 40400, s"no route for ${ex.getRequestMethod} $path")
      }
    } catch {
      case e: Throwable =>
        respond(ex, 500, error(50001, String.valueOf(e.getMessage)))
    } finally ex.close())

  server.setExecutor(pool)
  server.start()

  def baseUrl: String =
    s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    ()
  }
}

/** [[SchemaRegistryClient]] over the Confluent REST subset — what a
  * production deployment points at the real registry service; here it
  * talks to [[SchemaRegistryHttpServer]] on loopback. Stateless per
  * call (one `HttpURLConnection` each), so instances are cheap and
  * serializable-free; the registry service owns all state. */
final class HttpSchemaRegistryClient(baseUrl: String)
    extends SchemaRegistryClient {
  import SchemaRegistryJson._

  private def request(method: String, route: String,
      body: Option[String]): (Int, String) = {
    val conn = new URI(baseUrl + route).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(10000)
      body.foreach { b =>
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type",
          "application/vnd.schemaregistry.v1+json")
        val os = conn.getOutputStream
        try os.write(b.getBytes(StandardCharsets.UTF_8)) finally os.close()
      }
      val status = conn.getResponseCode
      val stream =
        if (status >= 400) conn.getErrorStream else conn.getInputStream
      val text =
        if (stream == null) ""
        else try new String(stream.readAllBytes(), StandardCharsets.UTF_8)
        finally stream.close()
      (status, text)
    } finally conn.disconnect()
  }

  private def enc(subject: String): String =
    URLEncoder.encode(subject, "UTF-8")

  override def register(subject: String, schema: Schema): Int = {
    val (status, body) = request("POST",
      s"/subjects/${enc(subject)}/versions",
      Some(obj("schema" -> JString(schema.toString))))
    // Confluent's documented non-200s carry distinct semantics — map
    // them to distinct exception types so a caller can react (retry a
    // 500, surface a 409 to the schema author) instead of one opaque
    // require failure:
    //   409 = incompatible with the subject's compatibility level
    //   422 = invalid/unparseable schema
    status match {
      case 200 =>
        parse(body).flatMap(intField(_, "id")).getOrElse(
          throw new IllegalStateException(
            s"registry response missing id: $body"))
      case 409 => throw new IllegalStateException(
        s"schema registry: schema incompatible with subject '$subject' " +
          s"(409): $body")
      case 422 => throw new IllegalArgumentException(
        s"schema registry: invalid schema for subject '$subject' " +
          s"(422): $body")
      case other => throw new IllegalStateException(
        s"schema registry: POST /subjects/$subject/versions → $other $body")
    }
  }

  override def subjects(): Seq[String] = {
    val (status, body) = request("GET", "/subjects", None)
    require(status == 200,
      s"schema registry: GET /subjects → $status $body")
    parse(body) match {
      case Some(JArray(names)) => names.map {
        case JString(name) => name
        case other => throw new IllegalStateException(
          s"schema registry: non-string subject $other in /subjects body: $body")
      }
      case _ => throw new IllegalArgumentException(
        s"schema registry: GET /subjects body is not a JSON array: $body")
    }
  }

  override def byId(id: Int): Schema = {
    val (status, body) = request("GET", s"/schemas/ids/$id", None)
    require(status == 200,
      s"schema registry: unknown schema id $id ($baseUrl) — " +
        s"refusing to guess a writer schema ($status $body)")
    new Schema.Parser().parse(
      parse(body).flatMap(stringField(_, "schema")).getOrElse(
        throw new IllegalStateException(
          s"registry response missing schema: $body")))
  }

  override def latest(subject: String): Option[(Int, Schema)] = {
    val (status, body) =
      request("GET", s"/subjects/${enc(subject)}/versions/latest", None)
    if (status == 404) None
    else {
      require(status == 200,
        s"schema registry: GET latest($subject) → $status $body")
      for {
        json <- parse(body)
        id <- intField(json, "id")
        schemaJson <- stringField(json, "schema")
      } yield id -> new Schema.Parser().parse(schemaJson)
    }
  }
}
