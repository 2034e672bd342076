package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.api.VectorDb
import graft.search.{Ann, Search}

/** `search_large`: library calls on a seeded clustered corpus of `Rows` ×
  * 64 dims around 64 centers, with an IVF index of 64 lists built in
  * set-up. Each cycle runs one exact `VectorDb.queryVec` (top 10) and one
  * single-query `Ann.ivfSearchBatch` probe (nprobe 4, k 10).
  *
  * Main op: the exact query. Side op: the IVF probe. Exact answers are
  * checked against the benchmark's own brute force; probe answers must
  * carry true scores in rank order, and their recall@10 against the exact
  * answer is reported.
  */
final class SearchLarge extends Workload {
  val Rows = 50000L
  val Dim = 64
  val Centers = 64
  val Noise = 0.5
  val K = 10
  val NProbe = 4
  val Queries = 16

  private var seed = 0L
  private var ctrs: Array[Array[Double]] = _
  private var corpusDir: Path = _
  private var indexDir: Path = _
  private var db: VectorDb = _
  private var pool: IndexedSeq[(Array[Double], DataFrame, Seq[Exact.Hit])] = IndexedSeq.empty
  private var next = 0

  /** One build, not three: a cold build takes a quarter of a run, and a
    * run's time is what bounds how many runs fit in a benchmark session.
    */
  override def setupRepeats: Int = 1

  def mainOp = "exact"
  def sideOp = "ivf"

  private def queryVectors(seed: Long): IndexedSeq[Array[Double]] = {
    val c = Gen.centers(seed, Centers, Dim)
    val r = new SplittableRandom(seed + 41)
    IndexedSeq.fill(Queries) {
      val q = Gen.vector(r.nextLong(), c, Noise, r.nextLong())
      q.map(_.toDouble)
    }
  }

  def inputDigest(seed: Long): String = {
    val c = Gen.centers(seed, Centers, Dim)
    // the corpus is a pure function of (seed, id): a sample of rows pins it
    Gen.digest(Iterator(c.map(_.mkString(",")).mkString(";")) ++
      (0L until Rows by 997L).iterator.map(id => Gen.vector(seed, c, Noise, id).mkString(",")) ++
      queryVectors(seed).iterator.map(_.mkString(",")))
  }

  def prepare(run: Run): Unit = {
    val spark = run.spark
    seed = run.seed
    ctrs = Gen.centers(seed, Centers, Dim)
    corpusDir = run.freshDir("corpus")
    val (s, c, noise) = (seed, ctrs, Noise)
    import spark.implicits._
    spark.range(0L, Rows, 1L, spark.sparkContext.defaultParallelism).as[Long]
      .map(id => (id, Gen.vector(s, c, noise, id)))
      .toDF("vec_id", "embedding")
      .write.parquet(corpusDir.toString)
    val qs = queryVectors(seed)
    val expected = bruteForce(qs, Runtime.getRuntime.availableProcessors)
    pool = qs.indices.map { i =>
      (qs(i), Seq((i.toLong, qs(i).toSeq)).toDF("query_id", "query_vec"), expected(i))
    }
  }

  /** A fresh IVF index over the corpus, and the store opened for queries. */
  def setup(run: Run): Unit = {
    val spark = run.spark
    indexDir = run.freshDir("ivf")
    val corpus = spark.read.parquet(corpusDir.toString)
    run.tracer.span("ann.build", run.tracer.newRequest()) {
      Ann.writeIvf(Ann.buildIvf(corpus, nCentroids = Centers, seed = seed,
        maxIter = 2, initMode = "random"), indexDir.toString)
    }
    db = new VectorDb(spark, corpusDir.toString)
    next = 0
  }

  /** Exact top-k of every pooled query, by the benchmark's own scan over
    * the regenerated corpus, one slice of ids per core.
    */
  private def bruteForce(qs: IndexedSeq[Array[Double]], threads: Int): IndexedSeq[Seq[Exact.Hit]] = {
    val parts = (0 until threads).map { t =>
      val f = new java.util.concurrent.FutureTask[IndexedSeq[Seq[(Double, Long)]]](() => {
        // per query, the best K so far as (score, id), worst first
        val best = qs.map(_ => mutable.PriorityQueue.empty[(Double, Long)](
          Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }))
        var id = Rows * t / threads
        while (id < Rows * (t + 1) / threads) {
          val v = Gen.vector(seed, ctrs, Noise, id).map(_.toDouble)
          var i = 0
          while (i < qs.length) {
            val s = Exact.cosine(v, qs(i))
            if (best(i).size < K || s >= best(i).head._1) {
              best(i).enqueue((s, id))
              if (best(i).size > K) best(i).dequeue()
            }
            i += 1
          }
          id += 1
        }
        best.map(_.toSeq)
      })
      new Thread(f).start()
      f
    }
    val done = parts.map(_.get())
    qs.indices.map(i => Exact.topK(done.iterator.flatMap(_(i)).map { case (s, id) =>
      Exact.Hit(key(id), key(id), s) }, K, 0.1))
  }

  private def key(id: Long): String = f"$id%012d"

  private def truth(q: Array[Double])(k: String): Option[Double] =
    Some(Exact.cosine(Gen.vector(seed, ctrs, Noise, k.toLong).map(_.toDouble), q))

  def cycle(run: Run): Unit = {
    val (q, qdf, expected) = pool(next % pool.length)
    next += 1
    val request = run.tracer.newRequest()
    run.timed("exact") {
      run.tracer.span("api.query", request)(db.queryVec(q.toSeq, K, "vec_id").collect())
    }.foreach { case (rows, apiId) =>
      val got = rows.map(r => key(r.getAs[Long]("vec_id"))).zip(rows.map(_.getAs[Double]("score")))
        .map { case (k, s) => Exact.Hit(k, k, s) }.toSeq
      run.check("exact", Exact.diff(got, expected, truth(q)))
      if (run.traced) run.tracer.span("search.topk", request, apiId) {
        Search.topK(db.corpus(), q.toSeq, K, 0.1, "vec_id").collect()
      }
    }
    val probe = run.tracer.newRequest()
    run.timed("ivf") {
      run.tracer.span("ann.probe", probe) {
        Ann.ivfSearchBatch(run.spark, indexDir.toString, qdf, k = K, nprobe = NProbe).collect()
      }
    }.foreach { case (rows, probeId) =>
      val got = rows.sortBy(_.getAs[Int]("rank")).map { r =>
        val k = key(r.getAs[Long]("vec_id"))
        Exact.Hit(k, k, r.getAs[Double]("score"))
      }.toSeq
      val ranked = got.zip(got.drop(1)).forall { case (a, b) => a.score >= b.score }
      val problem =
        if (got.length != K) Some(s"${got.length} rows, expected $K")
        else if (!ranked) Some("ranks out of score order")
        else got.find(h => !truth(q)(h.key).exists(t => math.abs(t - h.score) <= Exact.Tol))
          .map(h => s"row ${h.key} scored ${h.score}, its true score is ${truth(q)(h.key)}")
      if (run.check("ivf", problem)) run.recalls += Exact.recall(got, expected)
      if (run.traced) run.tracer.span("ann.resolve", probe, probeId) {
        Ann.latestIvfVersion(run.spark, indexDir.toString)
        Ann.readIvf(run.spark, indexDir.toString).centers.length
      }
    }
  }

  def storeBytesPerInputByte(run: Run): Double =
    (Main.parquetBytes(corpusDir)._1 + Main.parquetBytes(indexDir)._1).toDouble / (Rows * Dim * 4)

  def layerExtras(run: Run): Map[String, Double] = {
    val probes = run.tracer.recorded.filter(_.name == "ann.probe")
    val resolves = run.tracer.recorded.filter(_.name == "ann.resolve").map(s => s.parent -> s).toMap
    val fractions = probes.map(p => (p.work.inputRows -
      resolves.get(p.id).map(_.work.inputRows).getOrElse(0L)).toDouble / Rows)
    Map("ann.rows_scanned_fraction" -> (if (fractions.isEmpty) 0.0 else Stats.median(fractions)))
  }

  def report(run: Run): Seq[String] = {
    val e = run.ms("exact", "plain")
    val es = if (e.isEmpty) 0.0 else Stats.median(e) / 1e3
    Seq(
      s"sizes: $Rows rows x $Dim dims (float), $Centers centers, IVF $Centers lists, " +
        s"nprobe $NProbe, k $K, ${pool.length} pooled queries",
      f"ivf_recall_at_10 ${if (run.recalls.isEmpty) 0.0 else run.recalls.sum / run.recalls.length}%.4f " +
        "(IVF answers against the brute-force exact answer)",
      f"reference: exact scan 0.11 s for 13,515 docs x 384 dims (~123k docs/s, numpy); here " +
        f"exact queryVec p50 $es%.3f s for $Rows docs x $Dim dims: " +
        f"${if (es > 0) Rows / es / 1e3 else 0.0}%.0fk docs/s, " +
        f"${if (es > 0) Rows / es / 122864.0 else 0.0}%.1fx the reference's rate (64 vs 384 dims)")
  }
}
