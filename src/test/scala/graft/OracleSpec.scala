package graft

import java.nio.file.{Files, Paths}

/** The oracle is a function of the data dir: the entries that embed
  * trained or derived state (centroids, codebooks, SQ8 and whitening
  * models, probe plans) read the same build-once caches and derivations
  * as their queries, so they exist before any query has run, follow the
  * dir they are asked about, and equal the state the query itself used.
  */
class OracleSpec extends SparkSpec {
  private val testdata = "/root/testdata"

  private val trained = Seq(
    "q28_ivf_kmeans", "q65_pq_topk", "q100_semdedup", "q107_pagerank",
    "q126_whitened_topk", "q144_cluster_quality", "q174_ivfpq",
    "q186_nprobe_curve", "q203_pq_distortion", "q211_ivfpq_residual",
    "q213_retrieval_quality", "q217_sq8_affine", "q221_adaptive_probe",
    "q222_ivf_sq8", "q223_maxsim_plaid", "q224_margin_frontier",
    "q225_matryoshka_curve")

  /** A fresh copy of sf0.001's embeddings and documents: a new path (and
    * so a new cache key), hence no build-once cache is warm for it.
    */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_oracle")
    for (t <- Seq("embeddings", "documents"))
      Files.copy(Paths.get(s"$testdata/sf0.001/$t.parquet"), d.resolve(s"$t.parquet"))
    d.toString
  }

  private def trainedOracles(d: String): Map[String, String] =
    trained.flatMap(n => SparkEntry.oracleSql(spark, d, n).map(n -> _)).toMap

  /** Computed before any query has run on [[dir]]. */
  private lazy val cold: Map[String, String] = trainedOracles(dir)

  test("every trained oracle exists before its query has run") {
    assert(trained.forall(SparkEntry.queries.contains))
    val missing = trained.filterNot(cold.contains)
    assert(missing.isEmpty, s"no oracle without a prior run: $missing")
  }

  test("running a query on another data dir leaves this dir's oracle unchanged") {
    SparkEntry.queries("q28_ivf_kmeans")(spark, s"$testdata/sf0.01").collect()
    val unchanged = SparkEntry.oracleSql(spark, dir, "q28_ivf_kmeans") ==
      cold.get("q28_ivf_kmeans")
    assert(unchanged, "q28's oracle followed the dir q28 last ran on")
  }

  test("every trained oracle equals the one returned after its query ran") {
    for (n <- trained) SparkEntry.queries(n)(spark, dir).collect()
    val warm = trainedOracles(dir)
    val changed = trained.filterNot(n => warm.get(n) == cold.get(n))
    assert(changed.isEmpty, s"oracle changed by running the query: $changed")
  }
}
