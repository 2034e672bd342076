package graft

import java.io.{BufferedReader, InputStreamReader}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

import graft.api.{VectorDb, VectorDbServer}

/** The `/query` wire contract, body by body: the status code and the
  * error text (or the answer) every malformed or unusual request gets.
  * The store holds 8 two-dimensional documents whose cosine to the
  * probe vector `[1.0, 0.5]` is above the 0.1 threshold, so an answer's
  * size is exactly its coerced top_k.
  */
class QueryWireSpec extends SparkSpec {
  private val client = HttpClient.newHttpClient()
  private val json = new ObjectMapper()

  private def post(port: Int, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def withStore(f: Int => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_wire").toString + "/store"
    val srv = new VectorDbServer(spark, new VectorDb(spark, dir))
    srv.start()
    try {
      val docs = (0 until 8).map { i =>
        s"""{"path": "d$i.md", "content": "doc $i", "embedding": """ +
          s"""[${math.cos(i * 0.15)}, ${math.sin(i * 0.15)}]}"""
      }.mkString("[", ",", "]")
      val add = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.boundPort}/add_documents"))
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"documents": $docs}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(add.statusCode() == 200, add.body())
      f(srv.boundPort)
    } finally srv.stop()
  }

  private val q = "[1.0, 0.5]"

  /** Bodies answered 200, each with the answer of the plain body it must
    * equal: (body, equivalent body).
    */
  private val answered = Seq(
    s"""{"query_embedding": $q}""" -> s"""{"query_embedding": $q, "top_k": 5}""",
    s"""{"query_embedding": $q, "top_k": null}""" -> s"""{"query_embedding": $q, "top_k": 5}""",
    s"""{"query_embedding": $q, "top_k": "3"}""" -> s"""{"query_embedding": $q, "top_k": 3}""",
    s"""{"query_embedding": $q, "top_k": " 4 "}""" -> s"""{"query_embedding": $q, "top_k": 4}""",
    s"""{"query_embedding": $q, "top_k": 2.9}""" -> s"""{"query_embedding": $q, "top_k": 2}""",
    s"""{"query_embedding": $q, "top_k": -1}""" -> s"""{"query_embedding": $q, "top_k": 5}""",
    s"""{"query_embedding": $q, "top_k": 0}""" -> s"""{"query_embedding": $q, "top_k": 5}""",
    s"""{"query_embedding": $q, "top_k": true}""" -> s"""{"query_embedding": $q, "top_k": 1}""",
    s"""{"query_embedding": ["1.0", "0.5"]}""" -> s"""{"query_embedding": $q}""",
    s"""{"query_embedding": [1, 0]}""" -> s"""{"query_embedding": [1.0, 0.0]}""",
    s"""{"query_embedding": [1.0, null]}""" -> s"""{"query_embedding": [1.0, 0.0]}""",
    s"""{'query_embedding': $q, 'top_k': 3}""" -> s"""{"query_embedding": $q, "top_k": 3}""",
    // a top-level array answers for its first object
    s"""[{"query_embedding": $q, "top_k": 3}]""" -> s"""{"query_embedding": $q, "top_k": 3}""",
    s"""[{"query_embedding": $q, "top_k": 3}, {"top_k": 1}]""" ->
      s"""{"query_embedding": $q, "top_k": 3}""",
    // the first JSON value is the request; what follows it is ignored
    s"""{"query_embedding": $q, "top_k": 3} trailing""" ->
      s"""{"query_embedding": $q, "top_k": 3}""")

  /** Bodies answered 400, each with its exact `error` text. */
  private val rejectedExactly = Seq(
    s"""{"top_k": 3}""" -> "No query_embedding provided",
    "not json" -> "No query_embedding provided",
    "" -> "No query_embedding provided",
    "{}" -> "No query_embedding provided",
    "[]" -> "No query_embedding provided",
    "[1, 2]" -> "No query_embedding provided",
    "null" -> "No query_embedding provided",
    "3" -> "No query_embedding provided",
    """{"query_embedding": []}""" ->
      "requirement failed: query vector dimension 0 != corpus dimension 2",
    """{"query_embedding": [1.0]}""" ->
      "requirement failed: query vector dimension 1 != corpus dimension 2")

  /** Bodies answered 400 whose `error` names the value or type that does
    * not convert, in Spark's cast wording.
    */
  private val rejectedCast = Seq(
    """{"query_embedding": null}""" -> """cannot cast "STRING" to "ARRAY<DOUBLE>"""",
    """{"query_embedding": "abc"}""" -> """cannot cast "STRING" to "ARRAY<DOUBLE>"""",
    """{"query_embedding": 1.5}""" -> """cannot cast "DOUBLE" to "ARRAY<DOUBLE>"""",
    """{"query_embedding": [1.0, "x"]}""" ->
      """The value 'x' of the type "STRING" cannot be cast to "DOUBLE"""",
    s"""{"query_embedding": $q, "top_k": "abc"}""" ->
      """The value 'abc' of the type "STRING" cannot be cast to "INT"""",
    s"""{"query_embedding": $q, "top_k": "2.7"}""" ->
      """The value '2.7' of the type "STRING" cannot be cast to "INT"""")

  test("/query bodies that answer 200 answer like their plain equivalent") {
    withStore { port =>
      answered.foreach { case (body, plain) =>
        val got = post(port, body)
        val want = post(port, plain)
        assert(want.statusCode() == 200, s"$plain: ${want.body()}")
        assert(got.statusCode() == 200, s"$body: ${got.body()}")
        assert(got.body() == want.body(), s"$body vs $plain")
      }
      // the sizes the coercions give: missing/null/invalid top_k is 5,
      // a string is parsed, a fraction truncates, true is 1
      val sizes = answered.take(8).map { case (b, _) =>
        json.readTree(post(port, b).body()).get("total_results").asInt()
      }
      assert(sizes == Seq(5, 5, 3, 4, 2, 5, 5, 1))
    }
  }

  test("/query bodies that answer 400 carry their error text") {
    withStore { port =>
      rejectedExactly.foreach { case (body, msg) =>
        val r = post(port, body)
        assert(r.statusCode() == 400, s"<<$body>>: ${r.body()}")
        assert(json.readTree(r.body()).get("error").asText() == msg, s"<<$body>>")
      }
      rejectedCast.foreach { case (body, fragment) =>
        val r = post(port, body)
        assert(r.statusCode() == 400, s"<<$body>>: ${r.body()}")
        val error = json.readTree(r.body()).get("error").asText()
        assert(error.contains(fragment), s"<<$body>>: $error")
      }
    }
  }

  test("/query with a declared Content-Length above the cap answers 413") {
    withStore { port =>
      val s = new Socket("127.0.0.1", port)
      try {
        val out = s.getOutputStream
        out.write((s"POST /query HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
          s"Content-Type: application/json\r\n" +
          s"Content-Length: ${VectorDbServer.MaxBodyBytes + 1}\r\n\r\n" +
          """{"query_embedding": [1.0, 0.5]}""").getBytes(UTF_8))
        out.flush()
        // half-close: the server drains what was sent and answers
        s.shutdownOutput()
        val in = new BufferedReader(new InputStreamReader(s.getInputStream, UTF_8))
        val status = in.readLine()
        assert(status.startsWith("HTTP/1.1 413"), status)
        val rest = Iterator.continually(in.readLine()).takeWhile(_ != null).mkString("\n")
        assert(rest.contains("request body too large"), rest)
      } finally s.close()
    }
  }
}
