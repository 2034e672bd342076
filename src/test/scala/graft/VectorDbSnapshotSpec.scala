package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame

import graft.api.{VectorDb, VectorDbServer}

/** `VectorDb` reads through one snapshot per store state: a query sees
  * exactly the store as it is after every kind of write, any store
  * layout opens, and a warm query runs one Spark job.
  */
class VectorDbSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def freshDir(): String =
    Files.createTempDirectory("graft_snap").toString + "/store"

  /** `n` documents named `<prefix><i>` whose `dim`-wide embeddings all
    * have positive components, so the all-ones query scores every one
    * of them above the 0.1 threshold.
    */
  private def docs(prefix: String, n: Int, dim: Int = 2): DataFrame =
    (0 until n).map { i =>
      (s"$prefix$i.md", if (i % 2 == 0) ".md" else ".py", s"content of $prefix $i",
        Seq.tabulate(dim)(j => 1.0 + ((i * 7 + j * 3) % 5)))
    }.toDF("path", "extension", "content", "embedding")

  private def addBody(df: DataFrame): String =
    s"""{"documents": ${df.toJSON.collect().mkString("[", ",", "]")}}"""

  private def ones(dim: Int): Seq[Double] = Seq.fill(dim)(1.0)

  /** The paths a query over the whole store answers. */
  private def seen(db: VectorDb, dim: Int = 2): Set[String] =
    db.queryVec(ones(dim), topK = 100000).select("path").as[String].collect().toSet

  private def stored(dir: String): Set[String] =
    spark.read.parquet(dir).select("path").as[String].collect().toSet

  private def jobs(f: => Unit): Long = {
    val rec = new Bench.Recorder(spark.sparkContext)
    try rec.record(f)._2.jobs finally rec.close()
  }

  private def withServer(dir: String)(f: (Int, VectorDb) => Unit): Unit = {
    val db = new VectorDb(spark, dir)
    val srv = new VectorDbServer(spark, db)
    srv.start()
    try f(srv.boundPort, db) finally srv.stop()
  }

  test("a query sees exactly the store after /add_documents, an external " +
    "append and an in-place overwrite") {
    val dir = freshDir()
    withServer(dir) { (port, db) =>
      assert(post(port, "/add_documents", addBody(docs("a", 5))).statusCode() == 200)
      assert(seen(db) == stored(dir) && seen(db).size == 5)
      assert(post(port, "/add_documents", addBody(docs("b", 3))).statusCode() == 200)
      assert(seen(db) == stored(dir) && seen(db).size == 8)
      docs("c", 4).write.mode("append").parquet(dir)
      assert(seen(db) == stored(dir) && seen(db).size == 12)
      docs("d", 2).write.mode("overwrite").parquet(dir)
      assert(seen(db) == Set("d0.md", "d1.md"))
      // and the HTTP answer agrees with the library's
      val r = post(port, "/query", """{"query_embedding": [1.0, 1.0], "top_k": 100}""")
      assert(r.statusCode() == 200 && r.body().contains("\"total_results\": 2"), r.body())
    }
  }

  test("clear then a re-add at another dimension: the new dimension " +
    "answers, the old one gets the dimension 400") {
    val dir = freshDir()
    withServer(dir) { (port, db) =>
      assert(post(port, "/add_documents", addBody(docs("a", 4))).statusCode() == 200)
      assert(seen(db).size == 4)
      assert(post(port, "/clear", "{}").statusCode() == 200)
      assert(post(port, "/add_documents", addBody(docs("b", 3, dim = 3))).statusCode() == 200)
      val ok = post(port, "/query", """{"query_embedding": [1.0, 1.0, 1.0], "top_k": 10}""")
      assert(ok.statusCode() == 200 && ok.body().contains("\"total_results\": 3"), ok.body())
      val old = post(port, "/query", """{"query_embedding": [1.0, 1.0]}""")
      assert(old.statusCode() == 400 && old.body().contains("dimension"), old.body())
      assert(seen(db, dim = 3) == stored(dir))
    }
  }

  test("a plain write.parquet directory and a partitioned store open with " +
    "the schema Spark infers") {
    val plain = freshDir()
    docs("p", 6).write.parquet(plain)
    val db = new VectorDb(spark, plain)
    assert(db.corpus().schema == spark.read.parquet(plain).schema)
    assert(seen(db) == stored(plain))

    val parted = freshDir()
    docs("q", 6).write.partitionBy("extension").parquet(parted)
    val pdb = new VectorDb(spark, parted)
    assert(pdb.corpus().schema == spark.read.parquet(parted).schema)
    assert(seen(pdb) == stored(parted) && seen(pdb).size == 6)
    assert(pdb.health() == pdb.Health("healthy", 6L, true))
  }

  test("/query on a store of only content and embedding answers 200, " +
    "ties broken on the content") {
    withServer(freshDir()) { (port, _) =>
      val add = post(port, "/add_documents", """{"documents": [""" +
        """{"content": "beta", "embedding": [1.0, 0.0]},""" +
        """{"content": "alpha", "embedding": [2.0, 0.0]},""" +
        """{"content": "gamma", "embedding": [0.0, 1.0]}]}""")
      assert(add.statusCode() == 200, add.body())
      val r = post(port, "/query", """{"query_embedding": [1.0, 0.0], "top_k": 3}""")
      assert(r.statusCode() == 200, r.body())
      // alpha and beta tie at cosine 1.0; gamma scores 0, under the threshold
      assert(r.body().indexOf("alpha") < r.body().indexOf("beta") &&
        r.body().indexOf("alpha") > 0 && !r.body().contains("gamma"), r.body())
    }
  }

  test("a store with no data file is the no-embeddings error, with no job") {
    val db = new VectorDb(spark, freshDir())
    def noEmbeddings(): Unit = {
      val e = intercept[IllegalStateException](db.queryVec(ones(2)))
      assert(e.getMessage.contains("no embeddings"), e.getMessage)
    }
    assert(jobs(noEmbeddings()) == 0L)
    db.addDocuments(docs("a", 3))
    assert(seen(db).size == 3)
    db.clear(backup = false)
    assert(jobs(noEmbeddings()) == 0L)
    assert(db.health() == db.Health("empty", 0L, false))
  }

  test("job counts: a warm query runs the top-k only, a cold one also " +
    "samples the dimension, health counts") {
    val dir = freshDir()
    docs("a", 20).write.parquet(dir)
    assert(jobs(new VectorDb(spark, dir).queryVec(ones(2)).collect()) == 2L)
    assert(jobs(new VectorDb(spark, dir).health()) == 1L)
    withServer(dir) { (port, db) =>
      db.queryVec(ones(2)).collect()
      assert(jobs(db.queryVec(ones(2)).collect()) == 1L)
      val q = """{"query_embedding": [1.0, 1.0], "top_k": 3}"""
      assert(jobs(assert(post(port, "/query", q).statusCode() == 200)) == 1L)
      assert(post(port, "/add_documents", addBody(docs("b", 5))).statusCode() == 200)
      assert(jobs(assert(post(port, "/query", q).statusCode() == 200)) == 1L)
      assert(jobs(db.health()) == 1L)
    }
  }

  test("concurrent /query and /add_documents never answer 500") {
    val dir = freshDir()
    withServer(dir) { (port, db) =>
      assert(post(port, "/add_documents", addBody(docs("a", 10))).statusCode() == 200)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val adds = Future((1 to 6).map(b =>
          post(port, "/add_documents", addBody(docs(s"b$b-", 5)))))
        val queries = (1 to 2).map(_ => Future((1 to 12).map(_ =>
          post(port, "/query", """{"query_embedding": [1.0, 1.0], "top_k": 3}"""))))
        val all = Await.result(Future.sequence(adds +: queries), 120.seconds).flatten
        assert(all.forall(_.statusCode() == 200),
          all.filter(_.statusCode() != 200).map(_.body()).mkString("; "))
      } finally pool.shutdown()
      assert(seen(db) == stored(dir) && seen(db).size == 40)
    }
  }
}
