package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.search.Ann

/** Measures what the metadata-filtered probe (q212's
  * [[graft.search.Ann.ivfSearchFiltered]]) buys over the exact filtered
  * scan at a replicated scale: build/reuse a writeIvf index over
  * `sfDir`'s embeddings, then for each filter selectivity run the exact
  * filtered top-k (full lists scan + predicate) against the filtered
  * probe at nprobe ∈ {1, 2, 4} with and without `widenToFill`, printing
  * wall-clock, result count, and recall vs the exact filtered answer.
  *
  * Usage: runMain graft.FilteredBench [sfDir] [workDir] [nCentroids] [k]
  */
object FilteredBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-fb").toString)
    val nCentroids = args.lift(2).map(_.toInt).getOrElse(64)
    val k = args.lift(3).map(_.toInt).getOrElse(10)
    val spark = GraftSession("graft-filtered-bench")

    // "gen:rows=2000000,dim=128,centers=64" synthesizes a CLUSTERED
    // corpus instead of reading one: center c = seeded Gaussian, row =
    // center[id % centers] + hash-derived noise, label orthogonal to
    // cluster. The sf testdata's embeddings are near-isotropic (no
    // semantic clusters), which makes ANY coarse quantizer's low-nprobe
    // recall ~0 under a filter — real corpora cluster, and this mode
    // measures the regime IVF exists for.
    val embPath =
      if (!sfDir.startsWith("gen:")) s"$sfDir/embeddings.parquet"
      else {
        val kv = sfDir.stripPrefix("gen:").split(",")
          .map(_.split("=")).map(a => a(0) -> a(1).toInt).toMap
        val (rows, dim, centers) =
          (kv("rows").toLong, kv("dim"), kv("centers"))
        val rng = new scala.util.Random(42)
        val ctrs = Array.fill(centers, dim)(rng.nextGaussian())
        val ctrLit = array(ctrs.map(c => array(c.map(lit): _*)): _*)
        val p = s"$work/gen_embeddings.parquet"
        if (!new java.io.File(p).exists()) {
          val t0 = System.nanoTime()
          spark.range(rows)
            .select(col("id").as("vec_id"),
              transform(sequence(lit(0), lit(dim - 1)), i =>
                (element_at(element_at(ctrLit,
                  (col("id") % centers).cast("int") + 1), i + 1) +
                  (pmod(hash(col("id") * dim + i), lit(1000)).cast("double")
                    - 500.0) / 2500.0).cast("float")).as("embedding"),
              pmod(hash(col("id")), lit(10)).cast("int").as("label"))
            .write.mode("overwrite").parquet(p)
          System.err.println(f"[fb] generated $rows x $dim, $centers clusters " +
            f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
        } else System.err.println(s"[fb] reusing generated corpus at $p")
        p
      }
    val emb = spark.read.parquet(embPath)
    val idxDir = s"$work/ivf"
    if (!new java.io.File(idxDir, "IVF_FORMAT").exists()) {
      val t0 = System.nanoTime()
      Ann.writeIvf(Ann.buildIvf(emb, nCentroids = nCentroids, seed = 42L,
        initMode = "random"), idxDir)
      System.err.println(f"[fb] index built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } else System.err.println(s"[fb] index reused at $idxDir")

    val qVec = SparkEntry.queryVec(emb)
    val filters = Seq(
      ("label=3 (~10%)", col("label") === 3),
      ("label=3 and vec_id%7=0 (~1.4%)",
        col("label") === 3 && col("vec_id") % 7 === 0))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def ids(df: DataFrame): Seq[Long] =
      df.select(col("vec_id")).collect().map(_.getLong(0)).toSeq

    for ((label, pred) <- filters) {
      // exact filtered top-k: full lists scan, predicate pushed, no probe
      def exact(): DataFrame = Ann.listsFrame(spark, idxDir)
        .filter(pred)
        .withColumn("score", graft.functions.CosineSimilarity(
          col("embedding"), array(qVec.map(lit): _*)))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(k)
        .select(col("vec_id"))
      ids(exact()) // warm the scan path once
      val (want, tExact) = time(ids(exact()))
      System.err.println(f"[fb] $label exact filtered scan: $tExact%.3f s, ${want.size} rows")
      for (nprobe <- Seq(1, 2, 4, nCentroids); widen <- Seq(false, true)) {
        val (got, t) = time(ids(Ann.ivfSearchFiltered(spark, idxDir, qVec,
          pred, k = k, nprobe = nprobe, widenToFill = widen)))
        val recall =
          if (want.isEmpty) 1.0
          else (want.toSet & got.toSet).size.toDouble / want.size
        System.err.println(f"[fb] $label nprobe=$nprobe widen=$widen: " +
          f"$t%.3f s, ${got.size} rows, recall@$k=$recall%.2f " +
          f"(${tExact / t}%.1fx vs exact)")
      }
    }
    spark.stop()
  }
}
