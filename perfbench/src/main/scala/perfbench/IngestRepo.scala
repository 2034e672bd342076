package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.Convert
import graft.api.VectorDb
import graft.embed.Embedder
import graft.ingest.Ingest
import graft.search.Search

/** `ingest_repo`: repeated `Convert.run` of a generated ~4 MB, ~500-file
  * source tree into a fresh store, each followed by the first query a user
  * asks of it.
  *
  * Main op: one convert (scan → filter → chunk → embed → parquet write).
  * Side op: the first exact top-5 query against the fresh store.
  * Checks per convert: the accepted file set equals the generator's, chunk
  * indexes are dense, every chunk is a substring of its source file, and
  * the query matches the brute force over the stored embeddings.
  */
final class IngestRepo extends Workload {
  val FileCount = 500
  val TextBytes = 4000000

  private var tree: Gen.Tree = _
  private var treeDir: Path = _
  private var sources: Map[String, String] = Map.empty
  private var rng: SplittableRandom = _
  private var converts = 0
  private val chunksPerS = mutable.ArrayBuffer.empty[Double]
  private var chunks = 0L
  private var storeBytes = 0L
  private var storeFiles = 0L
  private val kernelNs = mutable.ArrayBuffer.empty[Double]
  private var warmStore: Path = _

  def mainOp = "convert"
  def sideOp = "first_query"

  def inputDigest(seed: Long): String =
    Gen.digest(Gen.tree(seed, FileCount, TextBytes).files.iterator
      .flatMap(f => Iterator(f.rel, f.size.toString, f.content)))

  def prepare(run: Run): Unit = {
    tree = Gen.tree(run.seed, FileCount, TextBytes)
    sources = tree.accepted.map(f => f.rel -> f.content).toMap
    treeDir = run.freshDir("tree")
    Gen.writeTree(tree, treeDir)
    rng = new SplittableRandom(run.seed + 17)
  }

  /** One convert into a store that only the warm-up reads. */
  def setup(run: Run): Unit = {
    warmStore = run.freshDir("warm-store")
    Convert.run(run.spark, treeDir.toString, warmStore.toString)
  }

  /** Set-up has run the convert path; this warms the query path. */
  override def warmUp(run: Run): Unit = {
    val q = Gen.queryFrom(rng, tree.accepted.head.content)
    new VectorDb(run.spark, warmStore.toString).queryVec(q.toSeq, 5).collect()
    Main.deleteTree(warmStore)
  }

  def cycle(run: Run): Unit = {
    converts += 1
    val store = run.freshDir(s"store-$converts")
    val request = run.tracer.newRequest()
    val observed = run.timed("convert") {
      run.tracer.span("store.write", request) {
        Convert.run(run.spark, treeDir.toString, store.toString)
      }
    }
    val q = Gen.queryFrom(rng, tree.accepted(rng.nextInt(tree.accepted.length)).content)
    val answer = run.timed("first_query") {
      run.tracer.span("api.query", request) {
        new VectorDb(run.spark, store.toString).queryVec(q.toSeq, 5).collect()
      }
    }
    answer.foreach { case (_, id) =>
      if (run.traced) run.tracer.span("search.topk", request, id) {
        Search.topK(run.spark.read.parquet(store.toString), q.toSeq, 5, 0.1, "path").collect()
      }
    }
    observed.foreach { case (m, writeId) =>
      if (run.traced) layers(run, request, writeId)
      val stored = run.spark.read.parquet(store.toString)
        .select("path", "chunk_index", "total_chunks", "content", "embedding").collect()
      val n = m("chunks_created").asInstanceOf[Number].longValue
      run.check("convert", checkStore(stored, n))
      if (run.sampling) {
        chunksPerS += n / (run.ms("convert").last / 1e3)
        chunks = n
        val (b, f) = Main.parquetBytes(store)
        storeBytes = b
        storeFiles = f
      }
      if (run.traced) kernelNs += embedKernelNs(stored.map(_.getString(3)))
      val vecs = stored.map(r => (r.getString(0) + "#" + r.getInt(1)) ->
        r.getSeq[Float](4).map(_.toDouble).toArray).toMap
      answer.foreach { case (rows, _) =>
        val got = rows.map(r => Exact.Hit(r.getAs[String]("path"),
          r.getAs[String]("path") + "#" + r.getAs[Int]("chunk_index"), r.getAs[Double]("score")))
        val expected = Exact.topK(stored.iterator.map { r =>
          val key = r.getString(0) + "#" + r.getInt(1)
          Exact.Hit(r.getString(0), key, Exact.cosine(vecs(key), q))
        }, 5, 0.1)
        if (run.check("first_query", Exact.diff(got.toSeq, expected,
            k => vecs.get(k).map(Exact.cosine(_, q)))))
          run.recalls += Exact.recall(got.toSeq, expected)
      }
    }
    Main.deleteTree(store)
  }

  /** Replays the convert's inner layers one at a time, each wrapping the
    * one before: scan ⊂ chunk ⊂ embed ⊂ the convert's write.
    */
  private def layers(run: Run, request: Int, writeId: Int): Unit = {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def files = Ingest.scanFiles(run.spark, treeDir.toString)
    def docs = files.select(col("path"), col("extension"), col("size"), col("content").as("text"))
    val (_, embedId) = run.tracer.span("embed.embed", request, writeId) {
      noop(Ingest.ingestDocuments(docs, "text"))
    }
    val (_, chunkId) = run.tracer.span("text.chunk", request, embedId) {
      noop(Ingest.chunkDocuments(docs, "text"))
    }
    run.tracer.span("ingest.scan", request, chunkId)(noop(files))
  }

  /** The embedder kernel alone, on the calling thread: ns per chunk. */
  private def embedKernelNs(texts: Seq[String]): Double = {
    val t0 = System.nanoTime()
    var sink = 0.0
    texts.foreach(t => sink += Embedder.Default.embed(t)(0))
    val ns = (System.nanoTime() - t0).toDouble / texts.length
    if (sink.isNaN) ns + 1 else ns
  }

  /** None when the store holds exactly the generator's accepted files,
    * chunked densely into substrings of their sources.
    */
  private def checkStore(rows: Array[org.apache.spark.sql.Row], observed: Long): Option[String] = {
    val byPath = rows.groupBy(_.getString(0))
    val expected = sources.keySet
    if (byPath.keySet != expected) {
      val extra = byPath.keySet -- expected
      val missing = expected -- byPath.keySet
      Some(s"accepted files differ: ${extra.size} unexpected ${extra.take(3).mkString(",")}, " +
        s"${missing.size} missing ${missing.take(3).mkString(",")}")
    } else if (observed != rows.length) Some(s"observed $observed chunks, stored ${rows.length}")
    else byPath.iterator.map { case (path, cs) =>
      val idx = cs.map(_.getInt(1)).sorted.toSeq
      val total = cs.map(_.getInt(2)).distinct
      val src = sources(path)
      if (idx != (0 until cs.length)) Some(s"$path: chunk indexes ${idx.take(8)} are not dense")
      else if (total.toSeq != Seq(cs.length)) Some(s"$path: total_chunks $total for ${cs.length} chunks")
      else cs.find(r => !src.contains(r.getString(3)))
        .map(r => s"$path chunk ${r.getInt(1)} is not a substring of its source")
    }.collectFirst { case Some(p) => p }
  }

  def storeBytesPerInputByte(run: Run): Double = storeBytes.toDouble / tree.acceptedBytes

  def layerExtras(run: Run): Map[String, Double] = Map(
    "embed.kernel_ns_per_chunk" -> (if (kernelNs.isEmpty) 0.0 else Stats.median(kernelNs.toSeq)),
    "store.bytes" -> storeBytes.toDouble,
    "store.files" -> storeFiles.toDouble,
    "ingest.files_accepted_ratio" -> tree.accepted.length.toDouble / tree.files.length)

  def report(run: Run): Seq[String] = {
    val rate = if (chunksPerS.isEmpty) 0.0 else Stats.median(chunksPerS.toSeq)
    val convertS = run.ms("convert", "plain") match {
      case Nil => 0.0
      case xs => Stats.median(xs) / 1e3
    }
    Seq(
      f"sizes: ${tree.files.length} files generated, ${tree.accepted.length} accepted, " +
        f"${tree.acceptedBytes} bytes of accepted text, $chunks chunks x 64 dims per convert",
      f"ingest_chunks_per_s (median over converts) $rate%.1f; " +
        f"store_bytes_per_input_byte ${storeBytesPerInputByte(run)}%.4f",
      f"reference: mid-repo convert 153.57 s for 715 files / 4.25 MB / 6,586 chunks " +
        f"(384-dim model on MPS; ~42.9 chunks/s end to end); here $convertS%.3f s for " +
        f"$chunks chunks at 64 dims: ${if (convertS > 0) 153.57 / convertS else 0.0}%.1fx faster " +
        f"per convert, ${rate / (6586 / 153.57)}%.1fx the chunk rate")
  }
}
