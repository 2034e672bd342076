package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, explode}

import graft.api.{VectorDb, VectorDbServer}
import graft.search.Search

/** `serve_mixed`: HTTP against `VectorDbServer` over a store preloaded
  * with 6,000 chunk documents. Each cycle posts one 100-document
  * /add_documents batch (the reference's batch size), then sends 4 /query
  * calls with top_k 5. Request bodies are built in set-up.
  *
  * Main op: /query. Side op: /add_documents. Every /query answer is checked
  * against a brute force over every document the benchmark has stored so
  * far; every add must report 100 added and 0 dropped.
  */
final class ServeMixed extends Workload {
  val Preload = 6000
  val Batch = 100
  val QueriesPerCycle = 4
  val TopK = 5

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val json = new ObjectMapper()
  private var server: VectorDbServer = _
  private var db: VectorDb = _
  private var storeDir: Path = _
  private var rng: SplittableRandom = _
  // the benchmark's copy of every stored document: key -> (path, vector)
  private val stored = mutable.ArrayBuffer.empty[(String, String, Array[Double])]
  private var batches: IndexedSeq[(Seq[Gen.Doc], String)] = IndexedSeq.empty
  private var queries: IndexedSeq[(Array[Double], String)] = IndexedSeq.empty
  private var nextBatch = 0
  private var nextQuery = 0
  private var inputBytes = 0L

  def mainOp = "query"
  def sideOp = "add"

  private def generate(seed: Long) = {
    val r = new SplittableRandom(seed)
    val preload = Gen.docs(r, "pre", Preload)
    val qs = IndexedSeq.fill(64)(Gen.queryFrom(r, preload(r.nextInt(Preload)).content))
    val bs = IndexedSeq.tabulate(16)(b => Gen.docs(r, s"add/b$b", Batch))
    (preload, qs, bs)
  }

  def inputDigest(seed: Long): String = {
    val (preload, qs, bs) = generate(seed)
    Gen.digest(Iterator(Gen.addBody(preload)) ++ qs.iterator.map(Gen.queryBody(_, TopK)) ++
      bs.iterator.map(Gen.addBody))
  }

  private var preload: Seq[Gen.Doc] = Nil
  private var preloadLines: Seq[String] = Nil

  def prepare(run: Run): Unit = {
    val (pre, qs, bs) = generate(run.seed)
    preload = pre
    rng = new SplittableRandom(run.seed + 29)
    queries = qs.map(q => (q, Gen.queryBody(q, TopK)))
    batches = bs.map(b => (b, Gen.addBody(b)))
    // the preload takes the server's parse path in one call: one JSON
    // object per document, read by Spark, appended by the library
    preloadLines = pre.map(d =>
      Gen.addBody(Seq(d)).stripPrefix("""{"documents":[""").stripSuffix("]}"))
  }

  /** A fresh store holding the preload, served on a fresh port. */
  def setup(run: Run): Unit = {
    close()
    nextBatch = 0
    storeDir = run.freshDir("store")
    db = new VectorDb(run.spark, storeDir.toString)
    import run.spark.implicits._
    val r = db.addDocuments(run.spark.read.json(preloadLines.toDS()))
    require(r.added == Preload && r.dropped == 0, s"preload stored $r")
    inputBytes = preloadLines.map(_.length.toLong).sum
    stored.clear()
    preload.foreach(d => stored += ((d.path + "#0", d.path, d.embedding)))
    server = new VectorDbServer(run.spark, db, 0)
    server.start()
  }

  private def post(route: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}$route"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def batch(): (Seq[Gen.Doc], String) = {
    if (nextBatch >= batches.length) {
      val docs = Gen.docs(rng, s"add/b$nextBatch", Batch)
      batches = batches :+ ((docs, Gen.addBody(docs)))
    }
    nextBatch += 1
    batches(nextBatch - 1)
  }

  private def checkAdd(run: Run, docs: Seq[Gen.Doc], body: String, added: Long, dropped: Long): Unit =
    if (run.check("add", if (added == Batch && dropped == 0) None
        else Some(s"added $added dropped $dropped of $Batch"))) {
      docs.foreach(d => stored += ((d.path + "#0", d.path, d.embedding)))
      inputBytes += body.length
    }

  def cycle(run: Run): Unit = cycle(run, QueriesPerCycle)

  /** Set-up has run the library add; this warms the wire paths. */
  override def warmUp(run: Run): Unit = cycle(run, 1)

  private def cycle(run: Run, nQueries: Int): Unit = {
    val request = run.tracer.newRequest()
    val (docs, body) = batch()
    run.timed("add") {
      run.tracer.span("http.add", request)(post("/add_documents", body))
    }.foreach { case ((code, resp), addId) =>
      val n = if (code == 200) json.readTree(resp) else null
      if (n == null) run.check("add", Some(s"HTTP $code: $resp"))
      else checkAdd(run, docs, body, n.get("added").asLong, n.get("dropped").asLong)
      // the library add beside it: same batch size, same store, so
      // http.add's self time is the wire and the Spark JSON parse
      if (run.traced) {
        val (docs2, body2) = batch()
        import run.spark.implicits._
        run.attempted += 1
        val (r, _) = run.tracer.span("api.add", request, addId) {
          val parsed = run.spark.read.json(Seq(body2).toDS())
          db.addDocuments(parsed.select(explode(col("documents")).as("d")).select("d.*"))
        }
        checkAdd(run, docs2, body2, r.added, r.dropped)
      }
    }
    (1 to nQueries).foreach { _ =>
      val (q, qBody) = queries(nextQuery % queries.length)
      nextQuery += 1
      val request = run.tracer.newRequest()
      run.timed("query") {
        run.tracer.span("http.query", request)(post("/query", qBody))
      }.foreach { case ((code, resp), queryId) =>
        run.check("query", if (code != 200) Some(s"HTTP $code: $resp") else {
          val got = json.readTree(resp).get("results").elements().asScala.map { r =>
            val path = r.get("path").asText
            Exact.Hit(path, path + "#" + r.get("chunk_index").asLong, r.get("score").asDouble)
          }.toSeq
          val expected = Exact.topK(stored.iterator.map { case (k, p, v) =>
            Exact.Hit(p, k, Exact.cosine(v, q)) }, TopK, 0.1)
          val problem = Exact.diff(got, expected, truth(q))
          if (problem.isEmpty) run.recalls += Exact.recall(got, expected)
          problem
        })
        if (run.traced) {
          // the layers under the handler, replayed with the same query
          val (_, apiId) = run.tracer.span("api.query", request, queryId) {
            db.queryVec(q.toSeq, TopK).collect()
          }
          run.tracer.span("search.topk", request, apiId) {
            Search.topK(db.corpus(), q.toSeq, TopK, 0.1, "path").collect()
          }
        }
      }
    }
  }

  private val byKey = mutable.HashMap.empty[String, Array[Double]]
  private def truth(q: Array[Double])(key: String): Option[Double] = {
    if (byKey.size != stored.length) { byKey.clear(); stored.foreach { case (k, _, v) => byKey(k) = v } }
    byKey.get(key).map(Exact.cosine(_, q))
  }

  def storeBytesPerInputByte(run: Run): Double =
    Main.parquetBytes(storeDir)._1.toDouble / inputBytes

  /** Median latency of the last quarter of adds over that of the first
    * quarter (each at least one add).
    */
  private def addGrowth(run: Run): Double = {
    val adds = run.allMs("add")
    val q = math.max(1, adds.length / 4)
    if (adds.length < 2) 0.0 else Stats.median(adds.takeRight(q)) / Stats.median(adds.take(q))
  }

  def layerExtras(run: Run): Map[String, Double] = Map(
    "serve.store_files" -> Main.parquetBytes(storeDir)._2.toDouble,
    "serve.add_growth" -> addGrowth(run))

  def report(run: Run): Seq[String] = {
    val q = run.ms("query", "plain")
    val qs = if (q.isEmpty) 0.0 else Stats.median(q) / 1e3
    val (bytes, files) = Main.parquetBytes(storeDir)
    Seq(
      s"sizes: preload $Preload docs, ${stored.length} docs at the end " +
        s"(${nextBatch} batches of $Batch), 64 dims, store $bytes bytes in $files parquet files",
      f"reference: query server latency 0.11 s at 13,515 docs x 384 dims (exact numpy scan); " +
        f"here /query p50 $qs%.3f s at ~${stored.length} docs x 64 dims: " +
        f"${if (qs > 0) qs / 0.11 else 0.0}%.2fx the reference's latency")
  }

  override def close(): Unit = if (server != null) { server.stop(); server = null }
}
