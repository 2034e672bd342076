package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.api.{VectorDb, VectorDbServer}
import graft.ingest.Ingest

/** The HTTP wire surface over a live socket: every reference endpoint
  * (add_documents / query / stats / clear / health) driven with the
  * JDK HttpClient against an ephemeral-port server, including the 400
  * error contract. Responses are parsed back through spark.read.json —
  * the same codec the server writes with.
  */
class VectorDbServerSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def parse(json: String) = spark.read.json(Seq(json).toDS())

  private def withServer(f: (Int, VectorDb) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_vdb_srv").toString + "/store"
    val db = new VectorDb(spark, dir)
    val srv = new VectorDbServer(spark, db)
    srv.start()
    try f(srv.boundPort, db) finally srv.stop()
  }

  test("full wire round trip: health -> add_documents -> query -> stats -> clear") {
    withServer { (port, _) =>
      // empty store health (the facade reports "empty" pre-first-write;
      // VectorDbSpec pins that distinction)
      val h0 = parse(get(port, "/health").body()).head()
      assert(h0.getAs[String]("status") == "empty")
      assert(h0.getAs[Long]("documents_count") == 0L)

      // add documents (embeddings computed engine-side for the fixture,
      // shipped over the wire as plain JSON arrays)
      // ingested_at rides the wire as an ISO-8601 string (spark.read.json
      // keeps it as string; the stats last-wins ordering is unaffected —
      // ISO strings order lexicographically)
      val docsJson = Ingest.ingestDocuments(
        Seq(("a.md", ".md", "the quick brown fox jumps over the lazy dog"),
            ("b.py", ".py", "vector database query runner main loop"))
          .toDF("path", "extension", "text"), "text")
        .toJSON.collect().mkString("[", ",", "]")
      val add = post(port, "/add_documents", s"""{"documents": $docsJson}""")
      assert(add.statusCode() == 200, add.body())
      val added = parse(add.body()).head()
      assert(added.getAs[Long]("added") > 0L && added.getAs[Long]("dropped") == 0L)

      // query with a real stored vector (self-match must rank first)
      val stored = parse(docsJson).selectExpr("embedding", "path").head()
      val q = post(port, "/query",
        s"""{"query_embedding": [${stored.getSeq[Any](0).mkString(",")}], "top_k": 2}""")
      assert(q.statusCode() == 200, q.body())
      val qParsed = parse(q.body())
      assert(qParsed.selectExpr("total_results").head().getLong(0) >= 1L)
      val top = qParsed.selectExpr("explode(results) as r").selectExpr("r.path", "r.score")
        .head()
      assert(top.getString(0) == stored.getString(1)) // self-match first
      assert(math.abs(top.getDouble(1) - 1.0) < 1e-6)

      // stats
      val st = parse(get(port, "/stats").body()).head()
      assert(st.getAs[Long]("total_documents") > 0L)

      // clear -> backup reported, store empty again
      val cl = parse(post(port, "/clear", "{}").body()).head()
      assert(cl.getAs[String]("backup_file") != null)
      val h1 = parse(get(port, "/health").body()).head()
      assert(h1.getAs[Long]("documents_count") == 0L)
    }
  }

  test("wire error contract: bad JSON, missing fields, empty corpus, bad dims") {
    withServer { (port, _) =>
      assert(post(port, "/add_documents", "not json").statusCode() == 400)
      assert(post(port, "/add_documents", "{}").statusCode() == 400)
      assert(post(port, "/query", "{}").statusCode() == 400)
      // empty corpus -> the reference's explicit 400
      assert(post(port, "/query", """{"query_embedding": [1.0, 0.0]}""")
        .statusCode() == 400)
      assert(get(port, "/nope").statusCode() == 404)

      // seed one doc, then query with the wrong dimension -> 400
      val docsJson = Ingest.ingestDocuments(
        Seq(("a.md", ".md", "some content here")).toDF("path", "extension", "text"),
        "text").drop("ingested_at").toJSON.collect().mkString("[", ",", "]")
      assert(post(port, "/add_documents",
        s"""{"documents": $docsJson}""").statusCode() == 200)
      val bad = post(port, "/query", """{"query_embedding": [1.0, 2.0]}""")
      assert(bad.statusCode() == 400 && bad.body().contains("dimension"))
    }
  }

  test("/stats answers 200 on a store of only content and embedding") {
    withServer { (port, _) =>
      // the reference requires only these two fields; every other /stats
      // input is optional
      val add = post(port, "/add_documents", """{"documents": [""" +
        """{"content": "alpha beta", "embedding": [1.0, 0.0]},""" +
        """{"content": "gamma", "embedding": [0.0, 1.0]}]}""")
      assert(add.statusCode() == 200, add.body())
      val r = get(port, "/stats")
      assert(r.statusCode() == 200, r.body())
      val st = parse(r.body()).head()
      assert(st.getAs[Long]("total_documents") == 2L)
      assert(st.getAs[Long]("unique_files") == 0L)
      assert(st.getAs[Double]("avg_chunks_per_file") == 0.0)
      assert(st.getAs[org.apache.spark.sql.Row]("by_extension")
        .getAs[Long]("unknown") == 2L)
    }
  }

  test("/health stays responsive while slow requests occupy the pool") {
    withServer { (port, _) =>
      // three concurrent slow-ish requests (each runs a Spark job) must
      // not starve /health: the fixed pool has 4 threads, so the single
      // dispatch thread of the old null-executor setup is the regression
      // this guards against
      val docsJson = Ingest.ingestDocuments(
        Seq(("a.md", ".md", "alpha beta gamma delta")).toDF("path", "extension", "text"),
        "text").toJSON.collect().mkString("[", ",", "]")
      assert(post(port, "/add_documents",
        s"""{"documents": $docsJson}""").statusCode() == 200)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val slow = (1 to 3).map(_ => Future {
        val r = get(port, "/stats")
        (r.statusCode(), r.body())
      })
      // while those are in flight, health must answer promptly
      val t0 = System.nanoTime()
      val h = get(port, "/health")
      val healthSec = (System.nanoTime() - t0) / 1e9
      assert(h.statusCode() == 200)
      assert(healthSec < 10.0, f"health took $healthSec%.1f s under load")
      val results = Await.result(Future.sequence(slow), 60.seconds)
      assert(results.forall(_._1 == 200), results.mkString("; "))
      pool.shutdown()
    }
  }
}
