package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** The reference's HTTP wire surface (`/root/reference/
  * mock_vector_db_api.py:150,230,314,381,431` — Flask endpoints
  * POST /add_documents, POST /query, GET /stats, POST /clear,
  * GET /health) as an actual socket listener over [[VectorDb]],
  * closing the "facade only, no listener" gap noted in round-5's
  * verdict. Zero new dependencies: the JDK's built-in
  * `com.sun.net.httpserver` serves. `/add_documents` bodies parse
  * through `spark.read.json` (schema inference handles the document
  * rows) and result rows serialize through `DataFrame.toJSON`, so stored
  * and answered rows keep the engine's own JSON dialect. A `/query` body
  * is two fields, so it parses on the driver with Jackson (already on
  * Spark's classpath) under the leniency and the cast rules Spark's
  * reader would apply: a warm query then runs one Spark job, the top-k.
  *
  * Error contract mirrors the reference: malformed/empty JSON → 400
  * `{"error": ...}`; querying an empty corpus → 400 (the reference's
  * explicit check); dimension mismatch → 400; unknown path → 404.
  * This is a demo/test surface — a production deployment would sit
  * the engine behind a real service framework; everything below the
  * HTTP layer is the same `VectorDb` the library embeds.
  */
final class VectorDbServer(spark: SparkSession, db: VectorDb, port: Int = 0) {
  import VectorDbServer.jstr

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Bound port (useful with port = 0 for tests). */
  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  /** Read the request body with a hard size cap: an unbounded
    * readAllBytes lets one huge POST exhaust the heap. Declared-length
    * rejection is cheap (Content-Length header); the streamed read is
    * capped too so a chunked request without a length can't dodge it.
    */
  private def body(ex: HttpExchange): String = {
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    if (declared.exists(_ > VectorDbServer.MaxBodyBytes))
      throw new VectorDbServer.BodyTooLarge(declared.get)
    val in = ex.getRequestBody
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      if (out.size() > VectorDbServer.MaxBodyBytes)
        throw new VectorDbServer.BodyTooLarge(out.size().toLong)
      n = in.read(buf)
    }
    new String(out.toByteArray, UTF_8)
  }

  /** Parse an `/add_documents` body through Spark (the engine is the codec). */
  private def parseJson(s: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.read.json(Seq(s).toDS())
  }

  private def err(msg: String): String = s"""{"error": ${jstr(msg)}}"""

  private def handle(ex: HttpExchange): Unit = {
    val route = (ex.getRequestMethod, ex.getRequestURI.getPath)
    try route match {
      case ("GET", "/health") =>
        val h = db.health()
        respond(ex, 200,
          s"""{"status": "${h.status}", "documents_count": ${h.documents},""" +
          s""" "embeddings_count": ${h.documents},""" +
          s""" "database_file_exists": ${h.storeExists}}""")

      case ("GET", "/stats") =>
        val st = db.stats()
        val byExt = st.byExtension.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")
        respond(ex, 200,
          s"""{"total_documents": ${st.totalDocuments},""" +
          s""" "unique_files": ${st.uniqueFiles},""" +
          s""" "total_content_kb": ${st.totalContentKb},""" +
          s""" "avg_chunks_per_file": ${st.avgChunksPerFile},""" +
          s""" "by_extension": $byExt}""")

      case ("POST", "/clear") =>
        val backup = db.clear(backup = true)
        respond(ex, 200,
          s"""{"message": "database cleared", "backup_file": ${
            backup.map(jstr).getOrElse("null")}}""")

      case ("POST", "/add_documents") =>
        val parsed = parseJson(body(ex))
        if (!parsed.columns.contains("documents"))
          respond(ex, 400, """{"error": "No documents provided"}""")
        else {
          import org.apache.spark.sql.functions._
          val docs = parsed.select(explode(col("documents")).as("d")).select("d.*")
          if (docs.isEmpty)
            respond(ex, 400, """{"error": "No documents provided"}""")
          else {
            val r = db.addDocuments(docs)
            respond(ex, 200,
              s"""{"message": "documents added", "added": ${r.added},""" +
              s""" "dropped": ${r.dropped}}""")
          }
        }

      case ("POST", "/query") =>
        VectorDbServer.parseQuery(body(ex)) match {
          case None =>
            respond(ex, 400, """{"error": "No query_embedding provided"}""")
          case Some((vec, k)) =>
            val results = db.queryVec(vec, topK = k).toJSON.collect()
            respond(ex, 200,
              s"""{"results": ${results.mkString("[", ",", "]")},""" +
              s""" "total_results": ${results.length}}""")
        }

      case _ => respond(ex, 404, """{"error": "not found"}""")
    } catch {
      case e: VectorDbServer.BodyTooLarge =>
        respond(ex, 413, err(e.getMessage))
      // the reference's 400 family: bad JSON, empty corpus, bad dims
      case e: IllegalStateException    => respond(ex, 400, err(e.getMessage))
      case e: IllegalArgumentException => respond(ex, 400, err(e.getMessage))
      case e: org.apache.spark.sql.AnalysisException =>
        respond(ex, 400, err(e.getMessage))
      case e: Throwable => respond(ex, 500, err(String.valueOf(e.getMessage)))
    }
  }

  server.createContext("/", handle(_))
  // small fixed pool instead of the dispatch thread: one slow /query or
  // /add_documents must not block /health. Still a demo surface — the
  // Spark session underneath serializes heavy work anyway.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object VectorDbServer {
  /** Request-body cap: far above any legitimate demo batch (the
    * reference posts 100-doc JSON batches, ~1 MB), far below heap harm.
    */
  val MaxBodyBytes: Long = 16L * 1024 * 1024

  final class BodyTooLarge(got: Long) extends RuntimeException(
    s"request body too large ($got bytes > cap $MaxBodyBytes)")

  // Spark's JSON reader allows single quotes and NaN/Infinity by default
  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES, JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  /** A `/query` body as (query vector, top_k), None when it carries no
    * `query_embedding` or is not JSON. It reads as `spark.read.json` plus
    * `cast(query_embedding as array<double>)` and
    * `coalesce(cast(top_k as int), 5)` read it: a top-level array stands
    * for its first element and what follows the first value is ignored;
    * a missing or null top_k is 5, a number truncates, a string parses
    * as an int, true is 1; a null vector element is 0.0 and a string
    * element parses as a double. A value that does not convert throws
    * IllegalArgumentException in Spark's cast wording.
    */
  private def parseQuery(body: String): Option[(Seq[Double], Int)] = {
    val root = Try(mapper.readTree(body)).getOrElse(null)
    val req = if (root != null && root.isArray) root.get(0) else root
    if (req == null || !req.isObject || !req.has("query_embedding")) None
    else Some((vector(req.get("query_embedding")), topK(req.get("top_k"))))
  }

  private def vector(n: JsonNode): Seq[Double] = {
    if (!n.isArray) throw mismatch("query_embedding", n, "ARRAY<DOUBLE>")
    n.elements.asScala.map { e =>
      if (e.isNumber) e.asDouble
      else if (e.isNull) 0.0
      else if (e.isTextual) Try(e.asText.trim.toDouble).getOrElse(
        throw malformed(e.asText, "DOUBLE"))
      else throw mismatch("query_embedding", e, "DOUBLE")
    }.toSeq
  }

  private def topK(n: JsonNode): Int =
    if (n == null || n.isNull) 5
    else if (n.isBoolean) (if (n.asBoolean) 1 else 0)
    else if (n.isTextual) n.asText.trim.toIntOption.getOrElse(
      throw malformed(n.asText, "INT"))
    else if (n.isNumber) {
      val d = n.asDouble
      if (!(d > Int.MinValue - 1.0 && d < Int.MaxValue + 1.0))
        throw new IllegalArgumentException(
          s"""The value $n of the type "${sparkType(n)}" cannot be cast to "INT" due to an overflow.""")
      d.toInt
    }
    else throw mismatch("top_k", n, "INT")

  private def sparkType(n: JsonNode): String =
    if (n.isNull || n.isTextual) "STRING" // Spark infers an all-null field as a string
    else if (n.isIntegralNumber) "BIGINT"
    else if (n.isNumber) "DOUBLE"
    else if (n.isBoolean) "BOOLEAN"
    else if (n.isArray) "ARRAY"
    else "STRUCT"

  private def mismatch(field: String, n: JsonNode, to: String) =
    new IllegalArgumentException(s"""Cannot resolve "$field" due to data type """ +
      s"""mismatch: cannot cast "${sparkType(n)}" to "$to".""")

  private def malformed(v: String, to: String) = new IllegalArgumentException(
    s"""The value '$v' of the type "STRING" cannot be cast to "$to" because it is malformed.""")

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20); a null becomes the string `"null"`. Also the escaper of
    * Verify's `oracle_sql.json`, where a raw tab or CR in oracle SQL
    * would make the DuckDB compare's `json.load` fail.
    */
  private[graft] def jstr(s: String): String =
    "\"" + Option(s).getOrElse("null").flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
