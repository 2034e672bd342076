package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding whitening for retrieval: estimate the (prefix-dim) covariance
  * of an embedding column distributively, eigendecompose the d×d matrix on
  * the driver (d is small — a model constant, not data-sized), and apply
  * the ZCA whitening projection W = U Λ^{-1/2} Uᵀ as a pure column
  * expression. Whitening decorrelates embedding dimensions, which is the
  * standard pre-step before scalar/product quantization (it equalizes
  * per-dimension variance so [[Ann]]'s SQ8/PQ codebooks waste no range) and
  * improves cosine retrieval on anisotropic embedding spaces
  * ("Whitening Sentence Representations", Su et al. 2021).
  *
  * Scale posture: the distributed parts are one map-side per-row product
  * expansion into a two-phase hash aggregate (covariance; d(d+1)/2 keys)
  * and one narrow projection (apply). Only the d×d matrix ever reaches the
  * driver. Fixed-point (scaled-integer) sums make the aggregate exact and
  * associative — float summation order never leaks into the result, so the
  * same corpus always yields bit-identical sums on any partitioning.
  */
object Whiten {

  /** Per-row quantization: first `dims` components, `floor(x·scale)` as
    * long. scale=1e6 keeps 6 fractional digits; products fit a long for
    * corpora up to ~9e18/scale² ≈ 9·10⁶ rows — beyond that, raise the
    * aggregate to DECIMAL(38,0) (sums stay exact, see covariance doc).
    */
  private def quantized(vecCol: String, dims: Int, scale: Double): Column =
    transform(slice(col(vecCol), 1, dims),
      x => floor(x.cast("double") * scale).cast("long"))

  /** Rows a moment aggregate can use: non-null vectors with at least
    * `dims` components. Without this, slice/transform yield null
    * elements whose sum silently drops but whose count(1) still counts
    * the row — a skewed mean, not an error.
    */
  private def validRows(emb: DataFrame, vecCol: String, dims: Int): DataFrame =
    emb.filter(col(vecCol).isNotNull && size(col(vecCol)) >= dims)

  /** Upper-triangle second moments of the quantized prefix: one row per
    * (dim_i ≤ dim_j) with the exact integer Σ qᵢ·qⱼ and the row count.
    * Dimensions are 1-based. Per row the d(d+1)/2 products are generated
    * map-side and partially aggregated before the (tiny, d²-keyed)
    * shuffle. At long-overflow scale cast the product column to
    * DECIMAL(38,0) — kept long here so the cross-engine oracle hashes the
    * exact same integers.
    */
  def covarianceFixedPoint(emb: DataFrame, vecCol: String = "embedding",
                           dims: Int = 16, scale: Double = 1e6): DataFrame = {
    require(dims >= 1 && dims <= 64, s"dims must be in [1,64], got $dims")
    // r19 (guide §2.3, the r19 per-stage profile): exploding dims·(dims+1)/2
    // structs per row shipped the row machinery 136× per vector before the
    // partial aggregate collapsed it. One global aggregate with a sum
    // column per (i, j) pair keeps the whole pass inside one codegen
    // stage (aggregate state = 137 longs), and the single aggregated
    // row unpivots into the same (dim_i, dim_j, sum_xy, n) rows — the
    // integer sums are identical.
    val pairs = for { i <- 1 to dims; j <- i to dims } yield (i, j)
    val sums = pairs.map { case (i, j) =>
      sum(element_at(col("__q"), i) * element_at(col("__q"), j))
        .as(s"s_${i}_$j")
    } :+ count(lit(1)).as("n")
    val one = validRows(emb, vecCol, dims)
      .select(quantized(vecCol, dims, scale).as("__q"))
      .agg(sums.head, sums.tail: _*)
    val out = array(pairs.map { case (i, j) =>
      struct(lit(i.toLong).as("dim_i"), lit(j.toLong).as("dim_j"),
        col(s"s_${i}_$j").as("sum_xy"), col("n").as("n"))
    }: _*)
    one.select(explode(out).as("t"))
      .select(col("t.dim_i").as("dim_i"), col("t.dim_j").as("dim_j"),
        col("t.sum_xy").as("sum_xy"), col("t.n").as("n"))
  }

  /** First moments of the quantized prefix: Σ qᵢ per dimension plus the
    * count — the mean vector for centering, same exactness argument.
    */
  def momentsFixedPoint(emb: DataFrame, vecCol: String = "embedding",
                        dims: Int = 16, scale: Double = 1e6): DataFrame = {
    require(dims >= 1 && dims <= 64, s"dims must be in [1,64], got $dims")
    // same one-codegen-stage shape as covarianceFixedPoint (r19)
    val sums = (1 to dims).map(i =>
      sum(element_at(col("__q"), i)).as(s"s_$i")) :+ count(lit(1)).as("n")
    val one = validRows(emb, vecCol, dims)
      .select(quantized(vecCol, dims, scale).as("__q"))
      .agg(sums.head, sums.tail: _*)
    val out = array((1 to dims).map(i =>
      struct(lit(i.toLong).as("dim_i"), col(s"s_$i").as("sum_x"),
        col("n").as("n"))): _*)
    one.select(explode(out).as("t"))
      .select(col("t.dim_i").as("dim_i"), col("t.sum_x").as("sum_x"),
        col("t.n").as("n"))
  }

  /** Driver-side: covariance matrix (as doubles, unscaled) from the two
    * fixed-point aggregates. cov[i][j] = E[xy] − E[x]E[y].
    */
  def covMatrix(cov: DataFrame, moments: DataFrame, dims: Int,
                scale: Double = 1e6): (Array[Array[Double]], Array[Double]) = {
    val mRows = moments.collect()
    require(mRows.length == dims, s"expected $dims moment rows, got ${mRows.length}")
    val n = mRows.head.getAs[Long]("n").toDouble
    val mean = Array.ofDim[Double](dims)
    mRows.foreach { r =>
      mean(r.getAs[Long]("dim_i").toInt - 1) = r.getAs[Long]("sum_x") / (n * scale)
    }
    val c = Array.ofDim[Double](dims, dims)
    cov.collect().foreach { r =>
      val i = r.getAs[Long]("dim_i").toInt - 1
      val j = r.getAs[Long]("dim_j").toInt - 1
      val exy = r.getAs[Long]("sum_xy") / (n * scale * scale)
      val v = exy - mean(i) * mean(j)
      c(i)(j) = v; c(j)(i) = v
    }
    (c, mean)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors as columns). d is tiny (≤64), so the
    * O(d³·sweeps) driver cost is microseconds.
    */
  def jacobiEigen(a0: Array[Array[Double]], sweeps: Int = 30,
                  tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (sweep < sweeps && off > tol) {
      for (p <- 0 until d - 1; q <- p + 1 until d if math.abs(a(p)(q)) > tol / (d * d)) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        // stable tangent of the rotation angle; theta == 0 (equal diagonal)
        // must yield t = 1 (45° rotation), so no signum(0) == 0 shortcut
        val t =
          if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
        val cth = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * cth
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = cth * akp - s * akq
          a(k)(q) = s * akp + cth * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = cth * apk - s * aqk
          a(q)(k) = s * apk + cth * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = cth * vkp - s * vkq
          v(k)(q) = s * vkp + cth * vkq
        }
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    s
  }

  /** ZCA whitening matrix W = U Λ^{-1/2} Uᵀ with eigenvalue floor `eps`
    * (degenerate directions are left unscaled rather than exploded).
    */
  def whiteningMatrix(cov: Array[Array[Double]], eps: Double = 1e-9): Array[Array[Double]] = {
    val d = cov.length
    val (lam, u) = jacobiEigen(cov)
    val invSqrt = lam.map(l => if (l > eps) 1.0 / math.sqrt(l) else 1.0)
    Array.tabulate(d, d) { (i, j) =>
      var s = 0.0
      var k = 0
      while (k < d) { s += u(i)(k) * invSqrt(k) * u(j)(k); k += 1 }
      s
    }
  }

  /** Apply `W · (v[1..d] − mean)` as a pure column expression (array of
    * doubles) — d² multiply-adds per row, fully codegen'd, no UDF, no
    * shuffle. The literal W/mean ship with the plan (d² doubles, trivial).
    * Bound: keep d ≤ 64 here — the expression tree is O(d²) literal
    * nodes (~12k at 64), and beyond that analysis cost and the 64 KB
    * codegen method limit make the literal tree the wrong tool; use
    * [[applyWhiteningLarge]] for big embedding dims (e.g. the
    * reference's 384).
    */
  def applyWhitening(vecCol: Column, w: Array[Array[Double]],
                     mean: Array[Double]): Column = {
    val d = w.length
    require(d <= 64,
      s"applyWhitening literal expression is bounded at d=64 (got $d); " +
      "use applyWhiteningLarge for large dims")
    array((0 until d).map { i =>
      (0 until d).map { j =>
        (vecCol.getItem(j).cast("double") - lit(mean(j))) * lit(w(i)(j))
      }.reduce(_ + _)
    }: _*)
  }

  // ===========================================================================
  // Large-dim path (d up to 1024; the reference's real embedding dim is 384,
  // /root/reference/repo_to_vector.py:28). The explode-based fixed-point
  // aggregates above are oracle-replayable but emit d(d+1)/2 rows PER INPUT
  // ROW — the right shape at d ≤ 64, a 74k-row-per-row blow-up at 384. Here
  // the whole upper triangle accumulates in one flat long[] per partition and
  // merges hierarchically (treeAggregate — the same shape spark.ml's
  // RowMatrix.computeCovariance uses), so the corpus is read once, nothing
  // shuffles, and the driver only ever sees d(d+1)/2 longs (~592 KB at 384).
  // Sums are the SAME quantized integers as the small-dim path — exact,
  // associative, partitioning-independent — spec-asserted equal at small d.
  // ===========================================================================

  /** One-pass first+second moments of the quantized `dims`-prefix:
    * (upper-triangle Σqᵢqⱼ row-major, Σqᵢ, row count). Long overflow
    * bound is the same as the small path: exact for corpora up to
    * ~9e18/scale² rows at |x| ≤ 1 (9e6 at the default scale; drop scale
    * to 1e4 to buy 9e10 rows at 4 fractional digits).
    */
  def momentsLarge(emb: DataFrame, vecCol: String = "embedding",
                   dims: Int = 384, scale: Double = 1e6)
      : (Array[Long], Array[Long], Long) = {
    require(dims >= 1 && dims <= 1024, s"dims must be in [1,1024], got $dims")
    val ds = validRows(emb, vecCol, dims)
      .select(quantized(vecCol, dims, scale).as("q"))
    val spark = emb.sparkSession
    import spark.implicits._
    val m = dims * (dims + 1) / 2
    ds.as[Seq[Long]].rdd.treeAggregate(
      (new Array[Long](m), new Array[Long](dims), 0L))(
      seqOp = { case ((xy, x, n), q) =>
        var idx = 0
        var i = 0
        while (i < dims) {
          val qi = q(i)
          x(i) += qi
          var j = i
          while (j < dims) { xy(idx) += qi * q(j); idx += 1; j += 1 }
          i += 1
        }
        (xy, x, n + 1)
      },
      combOp = { case ((a1, b1, n1), (a2, b2, n2)) =>
        var i = 0
        while (i < m) { a1(i) += a2(i); i += 1 }
        i = 0
        while (i < dims) { b1(i) += b2(i); i += 1 }
        (a1, b1, n1 + n2)
      })
  }

  /** Driver-side covariance + mean from [[momentsLarge]] output — the
    * large-dim twin of [[covMatrix]].
    */
  def covMatrixLarge(xy: Array[Long], x: Array[Long], n: Long, dims: Int,
                     scale: Double = 1e6): (Array[Array[Double]], Array[Double]) = {
    require(n > 0, "covMatrixLarge: zero valid rows")
    require(xy.length == dims * (dims + 1) / 2 && x.length == dims,
      s"moment shapes don't match dims=$dims")
    val mean = x.map(_ / (n.toDouble * scale))
    val c = Array.ofDim[Double](dims, dims)
    var idx = 0
    var i = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        val v = xy(idx) / (n.toDouble * scale * scale) - mean(i) * mean(j)
        c(i)(j) = v; c(j)(i) = v
        idx += 1; j += 1
      }
      i += 1
    }
    (c, mean)
  }

  /** Fit the whole large-dim whitening model in one corpus pass:
    * moments → covariance → Jacobi eigen (d³·sweeps driver work — a few
    * seconds at 384, still microscopic next to one corpus scan) → W.
    */
  def fitWhitenLarge(emb: DataFrame, vecCol: String = "embedding",
                     dims: Int = 384, scale: Double = 1e6)
      : (Array[Array[Double]], Array[Double]) = {
    val (xy, x, n) = momentsLarge(emb, vecCol, dims, scale)
    val (c, mean) = covMatrixLarge(xy, x, n, dims, scale)
    (whiteningMatrix(c), mean)
  }

  /** `W · (v[1..d] − mean)` for large d as a Scala UDF: the d² dense
    * multiply is BLAS-shaped imperative work, not relational — at
    * d = 384 a literal expression tree would be ~440k Catalyst nodes,
    * far past the codegen method limit, so the tight while-loop kernel
    * is the FASTER plan here, not a compromise. W/mean ride the closure
    * (d² doubles — broadcast with the task binary). Null/short vectors
    * map to null, matching [[validRows]]'s fit-side filter.
    */
  def applyWhiteningLarge(w: Array[Array[Double]],
                          mean: Array[Double]): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (v: Seq[Double]) =>
      val d = w.length
      if (v == null || v.length < d) null
      else {
        val centered = new Array[Double](d)
        var j = 0
        while (j < d) { centered(j) = v(j) - mean(j); j += 1 }
        val out = new Array[Double](d)
        var i = 0
        while (i < d) {
          val wi = w(i)
          var s = 0.0
          var k = 0
          while (k < d) { s += wi(k) * centered(k); k += 1 }
          out(i) = s
          i += 1
        }
        out
      }
    }
}
