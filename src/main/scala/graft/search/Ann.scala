package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity
import graft.functions.VectorFunctions._

/** Approximate nearest-neighbor search over an embedding column — the
  * scale path beyond the reference's exact brute-force scan
  * (`/root/reference/mock_vector_db_api.py:275-282`).
  *
  * Partitioning strategy (100 TB posture): [[signBucket]] is an
  * axis-aligned random-hyperplane LSH — a deterministic, data-independent
  * coarse quantizer. The corpus is hash-partitioned by bucket; a query
  * touches only its probe buckets, so the scan cost drops from O(N) to
  * O(N / 2^bits × nprobe). Bucketing the stored table by `bucket`
  * (`df.write.bucketBy`) makes the probe a partition-pruned read with no
  * shuffle at all. Brute-force [[Search.topK]] remains the exact
  * baseline / recall oracle.
  */
object Ann {

  /** LSH bucket id from the signs of the first `bits` vector components
    * (bit i set ⟺ component i > 0). Data-independent → identically
    * computable in DuckDB for the oracle, and stable under appends —
    * no retraining, unlike k-means IVF centroids.
    */
  def signBucket(vecColName: String, bits: Int = 8): Column =
    expr(s"""aggregate(sequence(0, ${bits - 1}), 0L,
            | (acc, i) -> acc + IF(element_at($vecColName, i + 1) > 0,
            |   shiftleft(1L, i), 0L))""".stripMargin)

  /** Corpus + bucket column (materialize once; bucketBy for storage).
    * Uses the native codegen [[graft.functions.SignBucket]] kernel —
    * spec-asserted value-identical to [[signBucket]], which remains the
    * oracle/witness phrasing — so bulk bucketing stays inside
    * whole-stage codegen instead of the HOF interpreter.
    */
  def withBucket(corpus: DataFrame, vecCol: String = "embedding",
                 bits: Int = 8): DataFrame =
    corpus.withColumn("bucket",
      graft.functions.SignBucket(col(vecCol), bits))

  /** IVF-style top-k: score ONLY the corpus rows in the query row's own
    * bucket (nprobe=1). `queryRow` is a 1-row (id?, vector) DataFrame;
    * broadcast, so the corpus never shuffles.
    */
  def ivfTopK(corpus: DataFrame, queryRow: DataFrame, queryVecCol: String,
              k: Int = 5, bits: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // keep ONLY the query vector: any other queryRow column (typically
    // the corpus id it was selected by) would collide with the corpus
    // side after the join and make col(idCol) ambiguous
    val q = broadcast(queryRow.select(col(queryVecCol))
      .withColumn("q_bucket",
        graft.functions.SignBucket(col(queryVecCol), bits)))
    withBucket(corpus, vecCol, bits)
      .join(q, col("bucket") === col("q_bucket"))
      .withColumn("score",
        CosineSimilarity(col(vecCol), col(queryVecCol)))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("score"), 6).as("score"))
  }

  /** Multiprobe sign-LSH top-k (Lv et al. 2007, "Multi-Probe LSH"):
    * score the query's own bucket PLUS every Hamming-1 neighbor bucket
    * (one hyperplane flipped) — the standard recall repair for LSH's
    * hyperplane-straddle misses without adding hash tables. Probe set
    * is `bits + 1` buckets, so scan cost is ≈ (bits+1)/2^bits of the
    * corpus instead of nprobe=1's 1/2^bits; with the corpus bucketBy'd
    * on `bucket` each probe is a pruned partition read and the only
    * broadcast is the (bits+1)-row probe list — the corpus never
    * shuffles. Deterministic (no perturbation sampling), so the DuckDB
    * oracle replays it exactly.
    *
    * Emits the UNROUNDED score: callers that derive ordering artifacts
    * (ranks, cutoffs) must compute them over this column and round only
    * the copy they emit — ranking over a rounded score ties scores that
    * differ by < 1e-6 and diverges from any engine ranking the exact
    * value.
    */
  def multiprobeTopK(corpus: DataFrame, queryRow: DataFrame, queryVecCol: String,
                     k: Int = 10, bits: Int = 8,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = array((col("q_bucket") +:
      (0 until bits).map(i => col("q_bucket").bitwiseXOR(lit(1L << i)))): _*)
    val q = broadcast(queryRow.select(col(queryVecCol))
      .withColumn("q_bucket",
        graft.functions.SignBucket(col(queryVecCol), bits))
      .withColumn("probe", explode(probes)))
    withBucket(corpus, vecCol, bits)
      .join(q, col("bucket") === col("probe"))
      .withColumn("score",
        CosineSimilarity(col(vecCol), col(queryVecCol)))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed: only pairs in
    * the SAME sign bucket are scored (each bucket joins with itself —
    * an equi-join, not a cross join), then exact cosine ≥ threshold.
    * The O(N²) pair space shrinks by ~2^bits; recall misses only pairs
    * straddling a hyperplane.
    */
  def nearDupPairs(corpus: DataFrame, threshold: Double = 0.8,
                   bits: Int = 8, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val b = withBucket(corpus, vecCol, bits)
      .select(col("bucket"), col(idCol), asDouble(col(vecCol)).as("v"))
    val x = b.select(col("bucket"), col(idCol).as("id_a"), col("v").as("v_a"))
    val y = b.select(col("bucket"), col(idCol).as("id_b"), col("v").as("v_b"))
    x.join(y, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", CosineSimilarity(col("v_a"), col("v_b")))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
  }

  /** Count-sketch random projection `inDim` → `outDim`: component i folds
    * into output bucket `i % outDim` with a deterministic md5-derived sign,
    * preserving inner products in expectation (Charikar count-sketch; the
    * cheap member of the Johnson–Lindenstrauss family — one pass, no dense
    * `inDim × outDim` matrix). Signs are fixed by `md5("cs_<i>")`, so any
    * engine — and the DuckDB oracle — reconstructs the same projection.
    * The expression is statically unrolled: codegen-friendly, no HOF
    * interpretation in the hot path.
    */
  def countSketchProject(vec: Column, inDim: Int, outDim: Int): Column = {
    require(inDim > 0 && outDim > 0 && outDim <= inDim,
      s"need 0 < outDim <= inDim, got $inDim -> $outDim")
    val signs = Array.tabulate(inDim)(i => if (sketchHash(i) % 2 == 0) 1.0 else -1.0)
    array((0 until outDim).map { j =>
      (j until inDim by outDim)
        .map(i => element_at(vec, i + 1).cast("double") * lit(signs(i)))
        .reduce(_ + _)
    }: _*)
  }

  /** First 8 md5 hex chars of "cs_<i>" as an unsigned 32-bit value —
    * `('0x' || substr(md5('cs_' || i), 1, 8))::BIGINT` in DuckDB.
    */
  private[graft] def sketchHash(i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"cs_$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  // =========================================================================
  // Binary embeddings: pack the sign bit of every component into 32-bit
  // words (a 1-bit scalar quantization). A 384-dim float vector becomes
  // 12 longs-worth of bits — 32× less scan I/O — and Hamming distance
  // (bit_count over XOR) approximates angular distance (Charikar: the
  // probability two random-hyperplane sign bits differ is θ/π). The
  // 100 TB pattern: store the code column alongside (or instead of) the
  // raw vectors, scan codes for a generous Hamming top-R, then re-rank
  // the R survivors with exact cosine over the float column.
  // =========================================================================

  /** Packed sign-bit code: word j holds the sign bits of components
    * [j·wordBits, (j+1)·wordBits) — bit i of word j set ⟺
    * vec[j·wordBits + i] > 0. Statically unrolled (one native SignBucket
    * kernel per word), whole-stage-codegen friendly.
    */
  def binaryCode(vec: Column, dim: Int, wordBits: Int = 32): Column = {
    require(dim > 0, s"dim must be > 0, got $dim")
    require(wordBits >= 1 && wordBits <= 63, s"wordBits in [1,63], got $wordBits")
    val nWords = (dim + wordBits - 1) / wordBits
    array((0 until nWords).map { j =>
      graft.functions.SignBucket(
        slice(vec, j * wordBits + 1, wordBits), wordBits)
    }: _*)
  }

  /** Hamming top-k over packed sign codes: distance = Σ_j
    * bit_count(code_j XOR queryCode_j), ascending, id tie-break. The
    * query's code is computed DRIVER-side and inlined as literals, so the
    * scan is pure integer ops per row — no per-row float math at all.
    * Semantically: the number of components whose sign differs from the
    * query's (the DuckDB oracle checks exactly that, unpacked).
    */
  def hammingTopK(corpus: DataFrame, queryVec: Seq[Double], k: Int = 10,
                  wordBits: Int = 32, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    hammingTopKCoded(
      corpus.filter(col(vecCol).isNotNull)
        .withColumn("__code",
          binaryCode(col(vecCol), queryVec.length, wordBits)),
      queryVec, k, wordBits, idCol, codeCol = "__code")

  /** [[hammingTopK]] over a PRECOMPUTED packed-code column — the
    * production path at 100 TB: codes are computed once at ingest and
    * stored (32× smaller than the float column), and the query scan
    * reads ONLY the code column — pure XOR+popcount per row, the float
    * vectors never leave disk. [[hammingTopK]] is the convenience form
    * that packs inline (AnnSpec asserts the two agree).
    */
  def hammingTopKCoded(coded: DataFrame, queryVec: Seq[Double], k: Int = 10,
                       wordBits: Int = 32, idCol: String = "vec_id",
                       codeCol: String = "code"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val dim = queryVec.length
    val nWords = (dim + wordBits - 1) / wordBits
    val qWords = Array.tabulate(nWords) { j =>
      graft.functions.SignBucket.bucketOf(
        queryVec.slice(j * wordBits, math.min((j + 1) * wordBits, dim)).toArray,
        wordBits)
    }
    val dist = (0 until nWords).map { j =>
      bit_count(element_at(col(codeCol), j + 1).bitwiseXOR(lit(qWords(j))))
    }.reduce(_ + _)
    coded
      .withColumn("hamming", dist.cast("long"))
      .orderBy(col("hamming").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("hamming"))
  }

  /** Matryoshka (prefix-dimension) two-stage ANN: stage 1 ranks the
    * corpus by cosine over only the first `prefixDim` components —
    * matryoshka-trained embeddings concentrate signal in the prefix, so
    * the cheap scan touches dim/prefixDim× less vector data (store the
    * prefix as its OWN column and, like the packed codes of
    * [[hammingTopKCoded]], the full vectors never leave disk for
    * non-survivors) — stage 2 reranks the `poolK` survivors with
    * full-dimension cosine, top-k, id tie-break.
    */
  def matryoshkaTopK(corpus: DataFrame, queryVec: Seq[Double],
                     prefixDim: Int, poolK: Int = 50, k: Int = 10,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(prefixDim > 0, s"prefixDim must be > 0, got $prefixDim")
    require(k > 0 && poolK >= k, s"need 0 < k <= poolK, got k=$k pool=$poolK")
    val qPre = array(queryVec.take(prefixDim).map(lit): _*)
    val qFull = array(queryVec.map(lit): _*)
    val pool = corpus
      .withColumn("__pre", graft.functions.CosineSimilarity(
        slice(col(vecCol).cast("array<double>"), 1, prefixDim), qPre))
      .orderBy(col("__pre").desc, col(idCol).asc)
      .limit(poolK)
      .select(col(idCol))
    corpus
      .join(broadcast(pool), Seq(idCol), "left_semi")
      .withColumn("score", graft.functions.CosineSimilarity(
        col(vecCol).cast("array<double>"), qFull))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Symmetric-int8 scalar-quantized code table — the SQ8 point on the
    * compression curve between the packed sign bits of [[binaryCode]]
    * (32×, coarse) and PQ (configurable): 4× smaller than float32 with
    * near-exact ranking. One row per vector: (idCol, scale, codes),
    * where scale = max|component| and codes are
    * [[graft.functions.VectorFunctions.quantizeInt8]]'s deterministic
    * floor-of-shifted codes. The production path computes this ONCE at
    * ingest and stores it; queries scan only (scale, codes) — the float
    * column never leaves disk for non-survivors.
    */
  def sq8Encode(corpus: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("scale", maxAbs(col("__v")))
      .select(col(idCol), col("scale"),
        quantizeInt8(col("__v"), col("scale")).as("codes"))

  /** SQ8 two-stage top-k: stage 1 ranks the coded table by the
    * reconstructed inner product — scale_x · Σ_i codes_i·qcodes_i (the
    * query's own scale is a constant factor, dropped; the integer dot
    * is a statically-unrolled sum of int multiplies, whole-stage-
    * codegen, no float math per component) — and keeps `poolK`
    * survivors; stage 2 reranks them with exact cosine over the float
    * column, top-k, id tie-break. The pool is a TakeOrderedAndProject
    * and returns ids only, so the rerank join broadcasts poolK rows —
    * the corpus never shuffles.
    */
  def sq8TopK(corpus: DataFrame, queryVec: Seq[Double],
              poolK: Int = 50, k: Int = 10,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    sq8TopKCoded(sq8Encode(corpus, idCol, vecCol), corpus, queryVec,
      poolK, k, idCol, vecCol)

  /** [[sq8TopK]] over a PRECOMPUTED code table (see [[sq8Encode]]) —
    * the stored-index form; the convenience form encodes inline and
    * AnnSpec asserts the two agree.
    */
  def sq8TopKCoded(coded: DataFrame, corpus: DataFrame, queryVec: Seq[Double],
                   poolK: Int = 50, k: Int = 10,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && poolK >= k, s"need 0 < k <= poolK, got k=$k pool=$poolK")
    val dim = queryVec.length
    // the query quantizes driver-side with quantizeInt8's exact rule
    val qScale = queryVec.foldLeft(0.0)((acc, x) => math.max(acc, math.abs(x)))
    val qCodes = queryVec.map(x =>
      if (qScale == 0.0) 0L else math.floor(127.0 * x / qScale + 0.5).toLong)
    val intDot = (0 until dim).map(i =>
      element_at(col("codes"), i + 1).cast("long") * lit(qCodes(i)))
      .reduce(_ + _)
    val pool = coded
      .withColumn("__approx", col("scale") * intDot.cast("double"))
      .orderBy(col("__approx").desc, col(idCol).asc)
      .limit(poolK)
      .select(col(idCol))
    val qFull = array(queryVec.map(lit): _*)
    corpus
      .join(broadcast(pool), Seq(idCol), "left_semi")
      .withColumn("score", graft.functions.CosineSimilarity(
        col(vecCol).cast("array<double>"), qFull))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Hubness audit (Radovanović et al. 2010): the k-occurrence
    * distribution — for each point, how many OTHER points list it in
    * their k nearest neighbors, histogrammed. High-dimensional
    * embedding spaces grow "hubs" (points in everyone's neighbor list)
    * and anti-hubs (in nobody's); a heavy k-occurrence tail degrades
    * ANN recall and dedup precision, so this is the diagnostic to run
    * before trusting either. Neighborhoods here are computed WITHIN
    * sign-LSH buckets — the same partition-local approximation the
    * production scan uses, so the audit measures the geometry the
    * index actually serves. Output: (k_occurrence, n_points), n_points
    * summing to the corpus size (singleton-bucket points score 0).
    *
    * Scale shape: the pair expansion is an equi-join on bucket, so a
    * bucket of b rows costs b² — bounded by `maxBucketSize`² per
    * bucket, never corpus². The per-point top-k is a row_number
    * window on the bucket-partitioned pairs (WindowGroupLimit keeps
    * the exchange k-bounded); occurrence counting and the histogram
    * are two-phase hash aggregates.
    */
  /** LSH width that holds EXPECTED bucket occupancy at `targetOccupancy`
    * as the corpus grows: bits = ⌈log₂(n / targetOccupancy)⌉, clamped to
    * [minBits, maxBits]. A FIXED bits is a scale-killer for any
    * within-bucket pairing: occupancy grows linearly in n, so pair work
    * grows quadratically (the round-8 stress battery measured 39× at
    * 20× for fixed bits=8); holding occupancy constant keeps per-bucket
    * work O(targetOccupancy²) at any corpus size. The 1e-9 slack keeps
    * exact powers of two from rounding up on float noise.
    */
  def occupancyBits(n: Long, targetOccupancy: Double = 2.0,
                    minBits: Int = 4, maxBits: Int = 24): Int = {
    require(n > 0, s"corpus size must be > 0, got $n")
    require(targetOccupancy > 0, s"targetOccupancy must be > 0, got $targetOccupancy")
    val raw = math.ceil(math.log(n / targetOccupancy) / math.log(2.0) - 1e-9).toInt
    math.min(maxBits, math.max(minBits, raw))
  }

  /** Clone-collapsed hubness: identical output to [[hubness]] (same k,
    * same occupancy-derived bits over the DISTINCT vector set) but with
    * the pair expansion run between DISTINCT vectors only, and each
    * point's k-occurrence reconstructed exactly from clone multiplicities
    * in closed form. This closes the clone hole of an occupancy-sized
    * [[hubness]] ([[occupancyBits]] over the corpus count): no
    * bit-width separates EXACT duplicate vectors (they share every LSH
    * bucket by construction), so on clone-heavy corpora — the realistic
    * web shape, and the 100× stress replica, where fixed-content
    * replication put every bucket at clone-multiplicity occupancy —
    * within-bucket pair work grows quadratically in multiplicity
    * (measured 179 s at 100×, a 381× blow-up; PERF.md round-10). Here the
    * quadratic step touches each distinct vector once, exactly the q97
    * clone-guard discipline.
    *
    * Exactness argument (spec-asserted against [[hubness]] on planted
    * clone corpora): a clone group of size m ties at cos 1.0, the maximal
    * similarity, so each member's neighbor list starts with its
    * c = min(k, m−1) lowest-id co-clones; by rank arithmetic the member
    * with the j-th smallest id receives m−1 internal occurrences when
    * j ≤ c, c when j = c+1, else 0. The remaining r = k−(m−1) slots (only
    * when m ≤ k) are filled by OTHER groups in (cos desc, rep asc) order,
    * each group w contributing min(max(r − Σ m_before, 0), m_w) of its
    * lowest-id members — so external occurrences land on member ranks
    * 1..take, m_u-fold per choosing group. The only approximation is the
    * tie-break among DISTINCT vectors at exactly equal cos (measure-zero
    * in float space): plain hubness interleaves by raw id, this orders by
    * group rep.
    *
    * Scale posture: the bucket pair join and its per-u window run over
    * distinct vectors at constant occupancy; the member expansion
    * (explode over multiplicities) is one linear pass; everything else is
    * hash aggregation. No step is quadratic in corpus size OR clone
    * multiplicity.
    */
  def hubnessCloneCollapsed(corpus: DataFrame, k: Int = 3,
                            targetOccupancy: Double = 2.0,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val distinct = corpus.groupBy(col(vecCol).as("__v"))
      .agg(min(col(idCol)).as("rep"), count(lit(1)).as("m"))
      .localCheckpoint() // consumed by count(), both join sides, expansion
    val bits = occupancyBits(distinct.count(), targetOccupancy)
    val d = distinct.withColumn("bucket",
      graft.functions.SignBucket(col("__v"), bits))
    // u side: only groups with external slots (m <= k) probe for
    // neighbors; every group serves as a w-side candidate regardless
    val x = d.filter(col("m") <= k)
      .select(col("bucket"), col("rep").as("rep_u"),
        col("__v").as("__vu"), col("m").as("m_u"))
    val y = d.select(col("bucket"), col("rep").as("rep_w"),
      col("__v").as("__vw"), col("m").as("m_w"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rep_u")).orderBy(col("__cos").desc, col("rep_w").asc)
    val edges = x.join(y, Seq("bucket"))
      .filter(col("rep_u") =!= col("rep_w"))
      .withColumn("__cos", CosineSimilarity(
        col("__vu").cast("array<double>"), col("__vw").cast("array<double>")))
      .withColumn("__cum_before", coalesce(sum(col("m_w")).over(
        wOrd.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("take", least(
        greatest(lit(k.toLong) - (col("m_u") - 1) - col("__cum_before"), lit(0L)),
        col("m_w")))
      .filter(col("take") > 0)
      .select(col("rep_w").as("erep"), col("take"), col("m_u"))
    val points = d
      .select(col("rep"), col("m"), explode(sequence(lit(1L), col("m"))).as("j"))
      .withColumn("__c", least(lit(k.toLong), col("m") - 1))
      .withColumn("occ0",
        when(col("j") <= col("__c"), col("m") - 1)
          .when(col("j") === col("__c") + 1, col("__c"))
          .otherwise(lit(0L)))
    points
      .join(edges, col("rep") === col("erep") && col("j") <= col("take"), "left")
      .groupBy(col("rep"), col("j"))
      .agg(first(col("occ0")).as("occ0"), sum(col("m_u")).as("__ext"))
      .withColumn("k_occurrence", col("occ0") + coalesce(col("__ext"), lit(0L)))
      .groupBy(col("k_occurrence")).agg(count(lit(1)).as("n_points"))
  }

  def hubness(corpus: DataFrame, k: Int = 3, bits: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val b = withBucket(corpus.select(col(idCol), col(vecCol)), vecCol, bits)
    val bounded =
      if (maxBucketSize == Int.MaxValue) b
      else {
        val small = b.groupBy(col("bucket"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucketSize)
          .select(col("bucket"))
        b.join(small, Seq("bucket"), "left_semi")
      }
    val x = bounded.select(col("bucket"), col(idCol).as("src"),
      col(vecCol).as("__vx"))
    val y = bounded.select(col("bucket"), col(idCol).as("dst"),
      col(vecCol).as("__vy"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("__cos").desc, col("dst").asc)
    val topNeighbors = x.join(y, Seq("bucket"))
      .filter(col("src") =!= col("dst"))
      .withColumn("__cos", graft.functions.CosineSimilarity(
        col("__vx").cast("array<double>"), col("__vy").cast("array<double>")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
    val occ = topNeighbors.groupBy(col("dst")).agg(count(lit(1)).as("k_occurrence"))
    corpus.select(col(idCol).as("dst"))
      .join(occ, Seq("dst"), "left")
      .select(coalesce(col("k_occurrence"), lit(0L)).as("k_occurrence"))
      .groupBy(col("k_occurrence"))
      .agg(count(lit(1)).as("n_points"))
  }

  /** kNN label-noise screen (the Confident-Learning/Cleanlab-style
    * point-level check): for every vector, how many of its k nearest
    * within-bucket neighbors carry a DIFFERENT label. A point whose
    * neighborhood outvotes its label is a mislabel candidate — the
    * screen that runs BEFORE q142's per-label cohesion (which averages
    * a whole label and can't see individual flips) and q163's centroid
    * confusion (which sees label PAIRS, not points). Output per label:
    * points audited, neighbor/disagreement mass, the exact noise rate,
    * and how many points lost their neighborhood vote (2·diff > k_nb).
    *
    * Scale shape: identical to [[hubness]] — sign-LSH buckets at
    * occupancy-derived width (pair work is O(occupancy²) per bucket at
    * any corpus size), per-point top-k via a bucket-partitioned
    * row_number window, then hash aggregates. Singleton buckets
    * contribute no neighbors and are excluded from the audit (their
    * points are unknowable, not clean); over-`maxBucketSize` buckets
    * are dropped like hubness's cap.
    */
  def knnLabelNoise(corpus: DataFrame, k: Int = 3,
                    targetOccupancy: Double = 8.0,
                    maxBucketSize: Int = 4096,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val bits = occupancyBits(corpus.count(), targetOccupancy)
    val b = withBucket(
      corpus.select(col(idCol), col(labelCol), col(vecCol)), vecCol, bits)
    val sized = b.groupBy(col("bucket"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2 && col("__n") <= maxBucketSize)
      .select(col("bucket"))
    val kept = b.join(sized, Seq("bucket"), "left_semi")
    val x = kept.select(col("bucket"), col(idCol).as("src"),
      col(labelCol).as("__lx"), col(vecCol).as("__vx"))
    val y = kept.select(col("bucket"), col(idCol).as("dst"),
      col(labelCol).as("__ly"), col(vecCol).as("__vy"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("__cos").desc, col("dst").asc)
    val perPoint = x.join(y, Seq("bucket"))
      .filter(col("src") =!= col("dst"))
      .withColumn("__cos", graft.functions.CosineSimilarity(
        col("__vx").cast("array<double>"), col("__vy").cast("array<double>")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .groupBy(col("src"), col("__lx"))
      .agg(count(lit(1)).as("__nb"),
        sum(when(col("__ly") =!= col("__lx"), 1L).otherwise(0L)).as("__diff"))
    perPoint
      .groupBy(col("__lx").as("label"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("__nb")).as("n_neighbors"),
        sum(col("__diff")).as("n_disagree"),
        sum(when(col("__diff") * 2 > col("__nb"), 1L).otherwise(0L))
          .as("n_flagged"))
      .withColumn("noise_rate", round(
        col("n_disagree").cast("double") / col("n_neighbors").cast("double"), 6))
  }

  /** [[knnLabelNoise]] with clone collapse — the [[hubnessCloneCollapsed]]
    * template applied to the label-noise screen (closes q183's clone
    * hole: the per-id form's maxBucketSize cap DROPS clone-heavy buckets,
    * so on a duplicate-heavy corpus the screen silently audits only the
    * clean part; here pair work is O(distinct-occupancy²) regardless of
    * clone multiplicity, so those buckets stay audited).
    *
    * Collapse unit: distinct (vector, label) subgroups with multiplicity
    * m_vl, rolled up to per-vector totals m_v. Every point of a subgroup
    * has identical neighbor stats, reconstructed closed-form:
    *
    *   - internal: a point's co-clones (cos exactly 1.0) outrank every
    *     non-identical vector, so it takes c_int = min(k, m_v−1) of them;
    *     when k cuts INSIDE the clone set, subgroups are consumed in
    *     rep-id order (exact vs the per-id dst-asc order whenever each
    *     subgroup's ids form contiguous ascending blocks — and label-pure
    *     groups make the order irrelevant entirely);
    *   - external: only vectors with m_v ≤ k have slots left; remaining
    *     r = k − (m_v−1) slots fill greedily over DISTINCT same-bucket
    *     vectors in (cos desc, rep asc) order with multiplicity m_w,
    *     labels within a consumed-partway w again in rep-subgroup order.
    *
    * Exact vs [[knnLabelNoise]] except under cross-group cosine TIES cut
    * mid-tie (per-id breaks ties by raw id across groups) — impossible
    * on generic float vectors, and AnnSpec pins equality on all-distinct,
    * planted label-pure-clone, and mixed-label-clone corpora. Bucket
    * admission mirrors the per-id form with the cap reinterpreted:
    * ≥ 2 POINTS (pairs exist) and ≤ maxBucketSize DISTINCT vectors (the
    * quantity that actually bounds pair work here).
    */
  def knnLabelNoiseCollapsed(corpus: DataFrame, k: Int = 3,
                             targetOccupancy: Double = 8.0,
                             maxBucketSize: Int = 4096,
                             idCol: String = "vec_id", vecCol: String = "embedding",
                             labelCol: String = "label"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    import org.apache.spark.sql.expressions.Window
    // distinct (vector, label) subgroups; several consumers → checkpoint
    val byVl = corpus
      .groupBy(col(vecCol).as("__v"), col(labelCol).as("__l"))
      .agg(count(lit(1)).as("m_vl"), min(col(idCol)).as("rep_vl"))
      .localCheckpoint(eager = false) // materialized by the bits agg below
    // point count for the occupancy-derived width comes off the
    // checkpoint (Σ m_vl ≡ corpus row count) — the separate
    // corpus.count() job re-scanned the full (often unioned) input (r19)
    // coalesce: sum() is NULL on an empty corpus — keep occupancyBits'
    // descriptive require(n > 0) instead of an opaque NPE (ADVICE r19)
    val bits = occupancyBits(
      byVl.agg(coalesce(sum(col("m_vl")), lit(0L))).head().getLong(0),
      targetOccupancy)
    val byV = byVl.groupBy(col("__v"))
      .agg(sum(col("m_vl")).as("m_v"), min(col("rep_vl")).as("rep"))
      .withColumn("bucket", graft.functions.SignBucket(col("__v"), bits))
      .localCheckpoint(eager = false) // lazy: no extra job barrier (r19)
    val sized = byV.groupBy(col("bucket"))
      .agg(sum(col("m_v")).as("__pts"), count(lit(1)).as("__nvec"))
      .filter(col("__pts") >= 2 && col("__nvec") <= maxBucketSize)
      .select(col("bucket"))
    val kept = byV.join(sized, Seq("bucket"), "left_semi")

    // ---- internal (co-clone) takes per src subgroup (v, l_src): the
    // (subgroups × subgroups-of-same-vector) frame is tiny (labels per
    // vector), never bucket-joined
    val srcSub = byVl.join(kept.select(col("__v"), col("m_v")), Seq("__v"))
      .select(col("__v"), col("__l").as("__ls"), col("m_vl").as("m_s"), col("m_v"))
    val nbSub = byVl.select(col("__v"), col("__l").as("__ln"),
      col("m_vl").as("m_n"), col("rep_vl").as("rep_n"))
    val wInt = Window.partitionBy(col("__v"), col("__ls")).orderBy(col("rep_n").asc)
    val cInt = least(lit(k.toLong), col("m_v") - 1)
    val internal = srcSub.join(nbSub, Seq("__v"))
      .withColumn("avail",
        when(col("__ln") === col("__ls"), col("m_n") - 1).otherwise(col("m_n")))
      .withColumn("cumb", coalesce(sum(col("avail")).over(
        wInt.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("take", least(greatest(cInt - col("cumb"), lit(0L)), col("avail")))
      .groupBy(col("__v"), col("__ls"))
      .agg(max(col("m_s")).as("m_s"), max(col("m_v")).as("m_v"),
        sum(col("take")).as("nb_int"),
        sum(when(col("__ln") =!= col("__ls"), col("take")).otherwise(lit(0L)))
          .as("diff_int"))

    // ---- external takes: same-bucket DISTINCT-vector pairs, u side only
    // vectors with slots left (m_v <= k), greedy over (cos desc, rep asc)
    // with multiplicities — the hubnessCloneCollapsed edge discipline
    val x = kept.filter(col("m_v") <= k)
      .select(col("bucket"), col("__v").as("__vu"), col("rep").as("rep_u"),
        col("m_v").as("m_u"))
    val y = kept.select(col("bucket"), col("__v").as("__vw"),
      col("rep").as("rep_w"), col("m_v").as("m_w"))
    val wExt = Window.partitionBy(col("rep_u"))
      .orderBy(col("__cos").desc, col("rep_w").asc)
    val edges = x.join(y, Seq("bucket"))
      .filter(col("rep_u") =!= col("rep_w"))
      .withColumn("__cos", graft.functions.CosineSimilarity(
        col("__vu").cast("array<double>"), col("__vw").cast("array<double>")))
      .withColumn("cumw", coalesce(sum(col("m_w")).over(
        wExt.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("take_w", least(
        greatest(lit(k.toLong) - (col("m_u") - 1) - col("cumw"), lit(0L)),
        col("m_w")))
      .filter(col("take_w") > 0)
      .select(col("__vu"), col("rep_u"), col("__vw").as("__vn"), col("take_w"))
    // split a partially-consumed w across its label subgroups (rep order)
    val wLab = Window.partitionBy(col("rep_u"), col("__vn"))
      .orderBy(col("rep_vl").asc)
    val extLab = edges
      .join(byVl.select(col("__v").as("__vn"), col("__l").as("__ln"),
        col("m_vl").as("m_n"), col("rep_vl")), Seq("__vn"))
      .withColumn("cuml", coalesce(sum(col("m_n")).over(
        wLab.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("take_l", least(
        greatest(col("take_w") - col("cuml"), lit(0L)), col("m_n")))
      .filter(col("take_l") > 0)
      .groupBy(col("__vu"), col("__ln"))
      .agg(sum(col("take_l")).as("t"))
      .localCheckpoint(eager = false) // consumed twice (totals + same-label)
    val extTot = extLab.groupBy(col("__vu")).agg(sum(col("t")).as("nb_ext"))

    // ---- per-subgroup stats × multiplicity → per-label rollup
    internal
      .join(extTot.withColumnRenamed("__vu", "__v"), Seq("__v"), "left")
      .join(extLab.select(col("__vu").as("__v"), col("__ln").as("__ls"),
        col("t").as("t_same")), Seq("__v", "__ls"), "left")
      .withColumn("nb", col("nb_int") + coalesce(col("nb_ext"), lit(0L)))
      .withColumn("diff", col("diff_int") +
        coalesce(col("nb_ext"), lit(0L)) - coalesce(col("t_same"), lit(0L)))
      .filter(col("nb") > 0)
      .groupBy(col("__ls").as("label"))
      .agg(sum(col("m_s")).as("n_points"),
        sum(col("m_s") * col("nb")).as("n_neighbors"),
        sum(col("m_s") * col("diff")).as("n_disagree"),
        sum(when(col("diff") * 2 > col("nb"), col("m_s")).otherwise(lit(0L)))
          .as("n_flagged"))
      .withColumn("noise_rate", round(
        col("n_disagree").cast("double") / col("n_neighbors").cast("double"), 6))
  }

  /** Margin-based pair mining (Artetxe & Schwenk 2019, the bitext-mining
    * criterion): candidate (src, tgt) pairs score
    * margin = cos / ((knn̄(src) + knn̄(tgt)) / 2) — similarity RELATIVE
    * to each side's neighborhood density, which kills hub vectors that
    * absolute-cosine thresholds mis-mine. Each src keeps its top-1 tgt
    * by margin, filtered at `minMargin`.
    *
    * Candidates are sign-LSH bucket joins (both sides bucketed on
    * `bits` hyperplanes; only same-bucket pairs scored) — the ANN
    * prescan form of the criterion, exactly how production bitext
    * mining runs it (Artetxe & Schwenk use FAISS kNN, not exact
    * all-pairs). Pass `bits` from [[occupancyBits]] to hold bucket
    * occupancy — and with it per-bucket pair work — constant in corpus
    * size: the all-pairs phrasing is output-quadratic (a 10× corpus
    * measured 131× wall-clock before this existed; PERF.md round-9).
    * The candidate table is localCheckpointed once — three consumers
    * (both knn averages + the margin join) re-partition it differently
    * and would otherwise recompute the scoring pass three times.
    */
  def marginMine(src: DataFrame, tgt: DataFrame, k: Int = 4,
                 minMargin: Double = 1.05, bits: Int = 8,
                 srcId: String = "src_id", srcVec: String = "va",
                 tgtId: String = "tgt_id", tgtVec: String = "vb"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val a = src.withColumn("bucket", graft.functions.SignBucket(col(srcVec), bits))
    val b = tgt.withColumn("bucket", graft.functions.SignBucket(col(tgtVec), bits))
    val pairs = a.join(b, Seq("bucket"))
      .withColumn("cos", round(CosineSimilarity(col(srcVec), col(tgtVec)), 6))
      .select(col(srcId), col(tgtId), col("cos"))
      .localCheckpoint()
    val ra = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcId)).orderBy(col("cos").desc, col(tgtId).asc)
    val rb = org.apache.spark.sql.expressions.Window
      .partitionBy(col(tgtId)).orderBy(col("cos").desc, col(srcId).asc)
    val knnA = pairs.withColumn("r", row_number().over(ra)).filter(col("r") <= k)
      .groupBy(col(srcId)).agg(avg(col("cos")).as("na"))
    val knnB = pairs.withColumn("r", row_number().over(rb)).filter(col("r") <= k)
      .groupBy(col(tgtId)).agg(avg(col("cos")).as("nb"))
    val rm = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcId)).orderBy(col("margin").desc, col(tgtId).asc)
    pairs
      .join(knnA, srcId)
      .join(knnB, tgtId)
      .withColumn("margin", round(col("cos") / ((col("na") + col("nb")) / 2), 6))
      .withColumn("rank", row_number().over(rm))
      .filter(col("rank") === 1 && col("margin") >= minMargin)
      .select(col(srcId), col(tgtId), col("cos"), col("margin"))
  }

  /** Bucket occupancy histogram — the skew diagnostic for the partition
    * strategy (a hot bucket → raise bits or salt that bucket).
    */
  def bucketStats(corpus: DataFrame, vecCol: String = "embedding",
                  bits: Int = 8): DataFrame =
    withBucket(corpus, vecCol, bits)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"))

  // =========================================================================
  // True IVF: k-means coarse quantizer (data-dependent, higher recall per
  // probe than the sign-LSH above, at the cost of a training pass and
  // retraining drift under appends)
  // =========================================================================

  /** A built IVF index: the corpus with its `centroid_id` assignment
    * (persist bucketed-by-centroid_id for shuffle-free probes) plus the
    * tiny centroid table (driver-resident; O(nCentroids × dim)).
    */
  final case class IvfIndex(assigned: DataFrame, centers: Array[Array[Double]])

  /** Train the coarse quantizer and assign every vector to its nearest
    * centroid. One ML fit (sampled Lloyd iterations) + one map-side
    * transform; the assignment join never shuffles the corpus.
    */
  def buildIvf(corpus: DataFrame, nCentroids: Int = 16, seed: Long = 42L,
               maxIter: Int = 10, vecCol: String = "embedding",
               initMode: String = "k-means||"): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withVec = corpus.withColumn("__fv",
      array_to_vector(asDouble(col(vecCol))))
    // initMode "random" (seeded, deterministic) skips the k-means|| init
    // passes — several whole-corpus jobs that dominate training cost when
    // the caller wants a usable coarse quantizer, not a converged one
    val model = new KMeans()
      .setK(nCentroids).setSeed(seed).setMaxIter(maxIter).setInitMode(initMode)
      .setFeaturesCol("__fv").setPredictionCol("centroid_id")
      .fit(withVec)
    IvfIndex(model.transform(withVec).drop("__fv"),
      model.clusterCenters.map(_.toArray))
  }

  // =========================================================================
  // IVF v3 on-disk protocol: immutable generations + atomic manifest
  // commits — the [[graft.sources.Versioned]] commit discipline applied
  // to the index (VERDICT r17 item 1). Every mutation (writeIvf,
  // appendToIvf, upsertIntoIvf, deleteFromIvf, compactIvf,
  // sq8AugmentIvf) writes fresh files under a new `gen-<v>` directory
  // and commits by renaming ONE small manifest into `_manifests/` —
  // nothing a committed manifest references is ever rewritten or
  // renamed, so a probe planned at version N resolves N's immutable
  // files no matter how many mutations commit while it runs. The
  // probe-vs-maintenance race of the v2 in-place directory swaps is
  // gone by construction; crash recovery shrinks to orphan-sweeping
  // (a crashed writer leaves only an unreferenced gen dir + maybe a
  // manifest .tmp — invisible to every reader). Old generations are
  // reclaimed by [[gcIvf]] under an explicit retention contract.
  // =========================================================================

  /** One live inverted-list tree of an [[IvfManifest]]: a
    * hive-partitioned parquet dir (`…/lists/centroid_id=N`)
    * contributing `cids`' lists to the version. `whole` records that
    * the dir's physical partition set equals `cids`, so readers scan it
    * BARE — a single relation with PartitionFilters intact (the
    * q205/q210 plan gates). A dir some of whose lists were superseded by
    * a later generation is partial (`whole = false`) and is scanned
    * with an explicit `centroid_id IN (live)` filter — still partition
    * pruning, never row filtering.
    */
  final case class IvfListDir(dir: String, cids: Seq[Int], whole: Boolean)

  /** A committed version of a persisted IVF index: every path is
    * relative to the index root and points into an immutable
    * generation directory. Tombstone dirs accumulate one per
    * [[deleteFromIvf]] commit and are consolidated by
    * [[upsertIntoIvf]] / dropped by [[compactIvf]].
    */
  final case class IvfManifest(version: Long, centroids: String,
                               listDirs: Seq[IvfListDir],
                               tombstones: Seq[String],
                               sq8Model: Option[String])

  private def ivfFs(spark: org.apache.spark.sql.SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ivfManifestDir(path: String) =
    new org.apache.hadoop.fs.Path(path, "_manifests")

  private def ivfManifestPath(path: String, v: Long) =
    new org.apache.hadoop.fs.Path(ivfManifestDir(path), f"v$v%06d.manifest")

  private def ivfGenDir(v: Long): String = f"gen-$v%06d"

  /** Highest committed version of the index at `path`, 0 if none. */
  def latestIvfVersion(spark: org.apache.spark.sql.SparkSession,
                       path: String): Long = {
    val fs = ivfFs(spark, path)
    val dir = ivfManifestDir(path)
    if (!fs.exists(dir)) return 0L
    val V = """v(\d+)\.manifest""".r
    fs.listStatus(dir).map(_.getPath.getName).collect {
      case V(n) => n.toLong
    }.foldLeft(0L)(math.max)
  }

  /** IVF manifest files opened since JVM start — the observability
    * hook AnnSpec's writer-entry cost assertion counts (a mutation's
    * metadata cost must stay O(1) in index age, VERDICT r18 item 3).
    */
  private[graft] val ivfManifestReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Parse a committed manifest (default: latest). Fails with a layout
    * diagnosis — pre-v3 index, empty dir, non-index path — rather than
    * Spark's raw path/schema error.
    */
  private[graft] def readIvfManifest(
      spark: org.apache.spark.sql.SparkSession, path: String,
      version: Long = -1L): IvfManifest = {
    ivfManifestReads.incrementAndGet()
    val fs = ivfFs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    require(fs.exists(root), s"no IVF index at $path (path missing)")
    val v = if (version < 0) latestIvfVersion(spark, path) else version
    require(v > 0, {
      val preV3 = fs.exists(new org.apache.hadoop.fs.Path(root, "lists"))
      if (preV3) s"$path is a pre-v3 IVF layout (lists at the root, no " +
        "manifest) — rebuild with writeIvf"
      else s"$path has no committed IVF manifest (build with writeIvf)"
    })
    val p = ivfManifestPath(path, v)
    require(fs.exists(p), s"no version $v at $path (missing ${p.getName} — " +
      "reclaimed by gcIvf or never committed)")
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    var centroids: String = null
    var sq8: Option[String] = None
    val lists = scala.collection.mutable.ArrayBuffer.empty[IvfListDir]
    val tombs = scala.collection.mutable.ArrayBuffer.empty[String]
    lines.foreach { line =>
      line.split('\t') match {
        case Array("centroids", rel)  => centroids = rel
        case Array("sq8_model", rel)  => sq8 = Some(rel)
        case Array("tombstones", rel) => tombs += rel
        case Array("lists", rel, cids, w) =>
          lists += IvfListDir(rel,
            cids.split(',').filter(_.nonEmpty).map(_.toInt).toSeq,
            w == "whole")
        case _ => throw new IllegalArgumentException(
          s"corrupt IVF manifest line at $path v$v: '$line'")
      }
    }
    require(centroids != null && lists.nonEmpty,
      s"corrupt IVF manifest at $path v$v (missing centroids/lists entries)")
    IvfManifest(v, centroids, lists.toSeq, tombs.toSeq, sq8)
  }

  /** Serialize + atomically commit `m` as version `m.version` through
    * the table log's create-if-absent publish
    * ([[graft.sources.Versioned.publish]]): a same-version race between
    * two maintenance writers cannot clobber the winner's manifest, and
    * the loser surfaces as [[graft.sources.ConcurrentCommitException]]
    * with its orphan generation left for [[recoverIvf]] (VERDICT r18 item 2:
    * the index keeps the documented single-maintenance-writer
    * contract, and a violation now fails CLEANLY instead of losing a
    * commit).
    */
  private def commitIvfManifest(spark: org.apache.spark.sql.SparkSession,
                                path: String, m: IvfManifest): Unit = {
    val fs = ivfFs(spark, path)
    val lines =
      Seq(s"centroids\t${m.centroids}") ++
      m.listDirs.map(ld => s"lists\t${ld.dir}\t${ld.cids.mkString(",")}\t" +
        (if (ld.whole) "whole" else "partial")) ++
      m.tombstones.map(t => s"tombstones\t$t") ++
      m.sq8Model.map(s => s"sq8_model\t$s").toSeq
    fs.mkdirs(ivfManifestDir(path))
    // writer-unique tmp: racers sharing one tmp path could publish
    // each other's content (same hazard as Versioned.commitDelta)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(ivfManifestDir(path),
      f".v${m.version}%06d.$nonce.manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    graft.sources.Versioned.publish(fs, tmp, ivfManifestPath(path, m.version), lines)
  }

  /** Test seam for the manifest publish: commit a crafted manifest at
    * an explicit version so AnnSpec can collide two writers on the
    * same version deterministically.
    */
  private[graft] def commitIvfManifestForTest(
      spark: org.apache.spark.sql.SparkSession, path: String,
      m: IvfManifest): Unit = commitIvfManifest(spark, path, m)

  /** The physical centroid_id partition set under an absolute lists
    * dir — what the writer records as the new generation's `cids`.
    */
  private def physicalCids(spark: org.apache.spark.sql.SparkSession,
                           absListsDir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(absListsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath.getName).collect {
      case s if s.startsWith("centroid_id=") =>
        s.stripPrefix("centroid_id=").toInt
    }.sorted.toSeq
  }

  /** The CURRENT inverted lists of a persisted index as one frame —
    * the bare single-relation partition-pruned scan in the common
    * single-generation case (fresh build / post-compaction), a union
    * of partition-pruned scans after appends/upserts fragmented the
    * index across generations ([[compactIvf]] collapses it back).
    */
  def listsFrame(spark: org.apache.spark.sql.SparkSession,
                 path: String): DataFrame =
    listsFrameOf(spark, path, readIvfManifest(spark, path))

  private def listsFrameOf(spark: org.apache.spark.sql.SparkSession,
                           path: String, m: IvfManifest): DataFrame =
    m.listDirs.map { ld =>
      val df = spark.read.parquet(s"$path/${ld.dir}")
      if (ld.whole) df
      else df.filter(col("centroid_id").isin(ld.cids: _*))
    }.reduce(_.unionByName(_))

  /** Persist an IVF index: the assigned corpus partitioned by inverted
    * list (one directory per centroid_id) plus the trained centroid
    * table (tiny, one file), both under a fresh immutable generation,
    * committed with one manifest rename. A probe that filters on
    * centroid_id reads only nprobe directories (PartitionFilters in
    * the scan, zero I/O for the other lists) — the storage layout that
    * makes IVF an actual index at 100 TB rather than a
    * full-scan-with-a-filter. Persisting the trained centers (rather
    * than re-deriving list means on load) keeps probe ranking identical
    * to the in-memory index even when training stopped short of
    * convergence. On an existing index this is a REBUILD: the new
    * manifest references only the new generation (tombstones and SQ8
    * codes are intentionally not carried — they describe the old
    * corpus assignment), while readers of prior versions keep resolving
    * their own files until [[gcIvf]] reclaims them.
    */
  def writeIvf(index: IvfIndex, path: String): Unit = {
    require(!index.assigned.isEmpty,
      s"refusing to persist an empty IVF index to $path (no vectors assigned)")
    val spark = index.assigned.sparkSession
    recoverIvf(spark, path) // writer entry: sweep crashed-commit orphans
    val v = latestIvfVersion(spark, path) + 1
    val gen = ivfGenDir(v)
    index.assigned.write
      .partitionBy("centroid_id")
      .mode("overwrite")
      .parquet(s"$path/$gen/lists")
    import spark.implicits._
    index.centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "centroid")
      .coalesce(1) // nCentroids tiny rows — one file
      .write.mode("overwrite").parquet(s"$path/$gen/centroids")
    val cids = physicalCids(spark, s"$path/$gen/lists")
    commitIvfManifest(spark, path, IvfManifest(v, s"$gen/centroids",
      Seq(IvfListDir(s"$gen/lists", cids, whole = true)), Nil, None))
  }

  /** Decode a persisted centroid table (`centroidsDir`, one row per
    * (centroid_id, centroid)) into the driver-resident dense array
    * indexed by centroid_id. Ids are contiguous from training, but gaps
    * are tolerated: a missing id gets a zero vector, which cosine-scores
    * 0 and is never probed first. The one decoder behind [[readIvf]]
    * and the writers.
    */
  private[graft] def readCenters(spark: org.apache.spark.sql.SparkSession,
                                 centroidsDir: String): Array[Array[Double]] = {
    val byId = spark.read.parquet(centroidsDir).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .toMap
    require(byId.nonEmpty, s"IVF centroid table at $centroidsDir is empty")
    val k = byId.keys.max + 1
    val dim = byId.values.head.length
    Array.tabulate(k)(i => byId.getOrElse(i, new Array[Double](dim)))
  }

  /** Resolve ONE committed version (default: latest) into its manifest
    * plus the index it names: centers and inverted lists (minus
    * tombstones, anti-joined on `idCol`) both come from that manifest,
    * so a commit landing mid-probe can never pair one version's centers
    * with another's lists. Every persisted-layout probe resolves
    * through here exactly once.
    */
  private def resolveIvf(spark: org.apache.spark.sql.SparkSession,
                         path: String, version: Long,
                         idCol: String): (IvfManifest, IvfIndex) = {
    val m = readIvfManifest(spark, path, version)
    (m, IvfIndex(listsMinusTombstones(spark, path, m, idCol),
      readCenters(spark, s"$path/${m.centroids}")))
  }

  /** Reload a persisted IVF index — a PURE read: one manifest resolve,
    * no filesystem mutation of any kind (ADVICE r17: a reader must
    * never race a writer's commit; under the manifest protocol it
    * cannot). `version` opts into time travel to any retained commit.
    * The centroid table is driver-sized (nCentroids rows); the
    * inverted lists stay distributed and partition-prunable. Deletes
    * ride along: an index with tombstone dirs reloads as the surviving
    * rows (no extra plan node when there are none).
    */
  def readIvf(spark: org.apache.spark.sql.SparkSession,
              path: String, version: Long = -1L): IvfIndex =
    resolveIvf(spark, path, version, "vec_id")._2

  // =========================================================================
  // Product quantization (Jégou et al., "Product Quantization for Nearest
  // Neighbor Search"): split the D-dim space into M subspaces, k-means
  // each subspace to `ks` centroids, store each vector as M small codes
  // (D×4 bytes → M bytes at ks ≤ 256 — the 100 TB memory story), and
  // search with asymmetric distance computation: per-query lookup tables
  // turn the scan into M array lookups + adds per row, no per-row
  // vector math at all.
  // =========================================================================

  /** A built PQ index: the corpus with its `codes` column (M small ints)
    * plus the codebooks, `codebooks(j)(c)` = centroid c of subspace j
    * (driver-resident; O(m × ks × D/m) = O(ks × D)).
    */
  final case class PqIndex(encoded: DataFrame, codebooks: Array[Array[Array[Double]]])

  /** Train per-subspace codebooks and encode every vector. M k-means
    * fits (each over the D/m-dim slice — `trainFraction` samples the
    * training pass at scale; encoding always covers the full corpus) and
    * M map-side transforms; the corpus is never shuffled.
    */
  def buildPq(corpus: DataFrame, m: Int = 8, ks: Int = 16, seed: Long = 42L,
              maxIter: Int = 10, vecCol: String = "embedding",
              trainFraction: Double = 1.0,
              initMode: String = "k-means||"): PqIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(m > 0 && ks > 1, s"need m > 0, ks > 1; got m=$m ks=$ks")
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val d = corpus.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"dim $d must be divisible by m=$m subspaces")
    val sub = d / m
    val train0 =
      if (trainFraction < 1.0) corpus.sample(withReplacement = false, trainFraction, seed)
      else corpus
    // r20 (guide §2.6 "overlap independent jobs"): the M sub-quantizer
    // fits are independent (disjoint column slices, independent seeds)
    // but each .fit() blocks the driver through a chain of small
    // k-means jobs whose per-job floor — not compute — dominates a
    // 16-centroid fit; a small pool keeps a few fits in flight so one
    // fit's stage tail back-fills with the next fit's work. Results are
    // bit-identical: every fit is seeded and sees the same training
    // frame regardless of scheduling. Pool of 4: enough to hide floors,
    // not enough to thrash executor memory with concurrent training
    // caches.
    val fitSlices = (0 until m).map { j =>
      j -> array_to_vector(asDouble(slice(col(vecCol), j * sub + 1, sub)))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(m, 4))
    val models =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futs = fitSlices.map { case (j, sliceVec) =>
          scala.concurrent.Future {
            new KMeans()
              .setK(ks).setSeed(seed + j).setMaxIter(maxIter).setInitMode(initMode)
              .setFeaturesCol("__pq_f").setPredictionCol(s"__pq_c$j")
              .fit(train0.select(sliceVec.as("__pq_f")))
          }
        }
        futs.map(f => scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    val codebooks = Array.ofDim[Array[Array[Double]]](m)
    var encoded = corpus
    fitSlices.foreach { case (j, sliceVec) =>
      codebooks(j) = models(j).clusterCenters.map(_.toArray)
      encoded = models(j).transform(encoded.withColumn("__pq_f", sliceVec))
        .drop("__pq_f")
    }
    PqIndex(
      encoded
        .withColumn("codes", array((0 until m).map(i => col(s"__pq_c$i")): _*))
        .drop((0 until m).map(i => s"__pq_c$i"): _*),
      codebooks)
  }

  /** PQ quantization-distortion audit: per subspace, integer-micro
    * stats of the squared L2 distance between each vector's subslice
    * and its ASSIGNED centroid — the index-quality number (FAISS's
    * imbalance/quantization-error report) that decides whether the
    * codebook needs more centroids, more training iterations, or a
    * different subspace split BEFORE recall pays for it. A subspace
    * whose mean error dwarfs the others is the one dragging ADC
    * ranking quality.
    *
    * Exactness: the per-row error is one fixed-order fold over literal
    * codebook doubles, converted to integer micro-units (round·1e6 →
    * BIGINT) BEFORE any cross-row aggregation, so mean/max replay
    * exactly in any engine; the oracle re-derives the
    * assignment as the d2-argmin over the SAME codebook literals (the
    * q65-proven equivalence with spark.ml's transform). Scale shape:
    * ONE scan of the encoded table (m zip_with folds per row), one
    * m-row aggregate; vectors with a wrong/absent dimensionality are
    * excluded identically on both engines.
    */
  def pqDistortion(index: PqIndex, vecCol: String = "embedding"): DataFrame = {
    val m = index.codebooks.length
    val sub = index.codebooks(0)(0).length
    val d = m * sub
    val e = asDouble(col(vecCol))
    val errs = array((0 until m).map { j =>
      val bookLit = typedLit(index.codebooks(j).map(_.toSeq).toSeq)
      val x = slice(e, j * sub + 1, sub)
      val cvec = element_at(bookLit, col("codes").getItem(j) + 1)
      aggregate(zip_with(x, cvec, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v)
    }: _*)
    index.encoded
      .filter(size(col(vecCol)) === d)
      .select(posexplode(errs).as(Seq("subspace", "__err")))
      .select(col("subspace").cast("long").as("subspace"),
        round(col("__err") * 1000000, 0).cast("long").as("__e"))
      .groupBy(col("subspace"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("__e")).as("__s"),
        max(col("__e")).as("max_err_micro"))
      .select(col("subspace"), col("n_vectors"),
        expr("__s div n_vectors").as("mean_err_micro"),
        col("max_err_micro"))
  }

  /** Persist a PQ index: the codes table (the 32×-smaller scan layout —
    * the float column is not stored at all) plus the codebooks flattened
    * to (subspace, code, centroid) rows, so a scan fleet reopens the
    * index with [[readPq]] and never retrains. Two artifacts under one
    * `path`, written atomically enough for the usual overwrite-then-read
    * deployment (a production store would version the directory).
    */
  def writePq(index: PqIndex, path: String,
              idCol: String = "vec_id"): Unit = {
    index.encoded.select(col(idCol), col("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
    val spark = index.encoded.sparkSession
    import spark.implicits._
    index.codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid")
      .coalesce(1) // m × ks tiny rows — one file
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Reload a persisted PQ index. The codebook table is driver-sized
    * (m × ks rows); codes stay distributed.
    */
  def readPq(spark: org.apache.spark.sql.SparkSession,
             path: String): PqIndex = {
    val encoded = spark.read.parquet(s"$path/codes")
    val flat = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(flat.nonEmpty, s"PQ store at $path has no codebooks")
    val m = flat.map(_._1).max + 1
    // subspaces may train DIFFERENT center counts (k-means returns fewer
    // than ks when a tiny/duplicate-heavy corpus can't support k distinct
    // clusters), so the books are ragged per subspace — each must only be
    // contiguous from 0, since codes index into it positionally
    val books = Array.tabulate(m) { j =>
      val rows = flat.filter(_._1 == j).sortBy(_._2)
      require(rows.nonEmpty && rows.map(_._2).toSeq == (0 until rows.length),
        s"PQ store at $path: subspace $j codebook is missing code entries " +
          s"(have ${rows.map(_._2).mkString(",")})")
      rows.map(_._3)
    }
    PqIndex(encoded, books)
  }

  /** PQ asymmetric-distance top-k: the per-subspace tables
    * `tab(j)(c) = ‖q_j − codebook(j)(c)‖²` are computed DRIVER-side from
    * the query (O(ks × D) work), embedded as array literals, and the scan
    * cost per row is M `element_at` lookups + adds — statically unrolled,
    * codegen-friendly, and independent of D. Approximate squared-L2
    * ranking, ascending, id tie-break.
    */
  def pqSearch(index: PqIndex, queryVec: Seq[Double], k: Int = 5,
               idCol: String = "vec_id"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val m = index.codebooks.length
    val sub = index.codebooks(0)(0).length
    require(queryVec.length == m * sub,
      s"query dim ${queryVec.length} != index dim ${m * sub}")
    val tabs = Array.tabulate(m) { j =>
      index.codebooks(j).map { c =>
        var s = 0.0; var i = 0
        while (i < sub) {
          val dlt = queryVec(j * sub + i) - c(i); s += dlt * dlt; i += 1
        }
        s
      }
    }
    val dist = (0 until m).map { j =>
      element_at(array(tabs(j).map(lit).toSeq: _*), col("codes")(j) + 1)
    }.reduce(_ + _)
    index.encoded
      .withColumn("approx_dist2", dist)
      .orderBy(col("approx_dist2").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("approx_dist2"), 6).as("approx_dist2"))
  }

  /** Append a batch to a persisted IVF index WITHOUT retraining: each
    * new vector is assigned to its nearest stored centroid (argmin
    * squared L2, centroid-index tie-break — the same rule as
    * spark.ml's KMeansModel.transform and the q28 oracle) with the
    * centroids inlined as literals, so assignment is a pure map-side
    * expression over the batch; rows land in a fresh generation's
    * `lists/centroid_id=N` partitions, committed with one manifest
    * rename (probes keep resolving the prior version until the commit
    * lands; [[compactIvf]] collapses generation fragmentation). The
    * quantizer is intentionally FROZEN — an index must not re-rank its
    * existing lists every ingest; retrain with buildIvf + writeIvf
    * when drift warrants (the stored centers keep probe ranking
    * consistent either way). The corpus is never read here: cost is
    * O(batch × nCentroids × dim), embarrassingly parallel.
    */
  def appendToIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                  batch: DataFrame, vecCol: String = "embedding"): Unit = {
    recoverIvf(spark, path) // writer entry: sweep crashed-commit orphans
    val m = readIvfManifest(spark, path)
    val assigned = withIndexSchema(spark, path, m, assignToCenters(batch,
      readCenters(spark, s"$path/${m.centroids}"), vecCol), vecCol)
    val v = m.version + 1
    val gen = ivfGenDir(v)
    assigned.write.partitionBy("centroid_id").mode("overwrite")
      .parquet(s"$path/$gen/lists")
    val cids = physicalCids(spark, s"$path/$gen/lists")
    commitIvfManifest(spark, path, m.copy(version = v,
      listDirs = m.listDirs :+ IvfListDir(s"$gen/lists", cids, whole = true)))
  }

  /** The frozen-quantizer assignment expression shared by
    * [[appendToIvf]] and [[upsertIntoIvf]]: nearest stored centroid by
    * squared L2, lowest-index tie-break — the same rule as spark.ml's
    * KMeansModel.transform and the q28 oracle — with the centroids
    * inlined as literals, so assignment is a pure map-side expression
    * over the batch (cost O(batch × nCentroids × dim), the corpus is
    * never read).
    */
  private def assignToCenters(batch: DataFrame,
                              centers: Array[Array[Double]],
                              vecCol: String): DataFrame = {
    require(centers.nonEmpty, "assignToCenters: no centroids")
    // dimension guard: a mismatched vector would null-pad in zip_with,
    // make its d2 null, and — struct ordering being nulls-first —
    // silently land in centroid 0. Enforced PER ROW inside the
    // assignment expression (raise_error), not on a sampled first row —
    // a mixed-dimension batch must fail, not half-land (r7 advice).
    // Zero extra pass over the batch: the check rides the same
    // projection as the assignment itself.
    val dim = centers(0).length
    val v = asDouble(col(vecCol))
    val d2s = centers.zipWithIndex.map { case (c, i) =>
      struct(
        aggregate(
          zip_with(v, array(c.map(lit): _*), (a, b) => (a - b) * (a - b)),
          lit(0.0), _ + _).as("d2"),
        lit(i).as("cid"))
    }
    // struct ordering compares d2 first, then cid — array_min IS the
    // argmin with the lowest-index tie-break
    batch.withColumn("centroid_id",
      when(col(vecCol).isNull || size(col(vecCol)) =!= dim,
        raise_error(concat(
          lit(s"appendToIvf: vector dim != index dim $dim (got "),
          coalesce(size(col(vecCol)).cast("string"), lit("null")),
          lit(")"))).cast("int"))
      .otherwise(array_min(array(d2s: _*)).getField("cid")))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic near-duplicate removal over embeddings WITHOUT
    * corpus×corpus pairs — cluster with a coarse quantizer, then
    * compare only within clusters. A vector is dropped when some
    * LOWER-ID member of its cluster is cosine-≥-`threshold` similar
    * (keep-first-occurrence; deterministic and replayable, vs the
    * paper's order-dependent sequential greedy). Cosine is rounded to
    * 6 decimals BEFORE the threshold compare so the boundary is
    * engine-stable.
    *
    * Returns (idCol, cluster_id, kept). The pair join is an equi-join
    * on cluster_id — quadratic only within one cluster, the operator's
    * whole point; size k ~ n/√k keeps clusters bounded, and
    * `maxClusterSize` skips over-full clusters outright (the LSH
    * hot-bucket treatment: an over-full cluster means the quantizer is
    * too coarse — raise nCentroids — and its members are kept, never
    * silently dropped). Training a quantizer inside the op is correct
    * here: SemDeDup IS the offline indexing/dedup batch job, not a
    * query-time probe.
    */
  def semDedup(index: IvfIndex, threshold: Double = 0.9,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxClusterSize: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val members = index.assigned.select(col("centroid_id"), col(idCol), col(vecCol))
    val bounded =
      if (maxClusterSize == Int.MaxValue) members
      else {
        val ok = members.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxClusterSize)
          .drop("__n")
        members.join(ok, Seq("centroid_id"), "left_semi")
      }
    val dropped = bounded
      .select(col("centroid_id"), col(idCol).as("__ida"), col(vecCol).as("__va"))
      .join(bounded.select(col("centroid_id"), col(idCol).as("__idb"),
        col(vecCol).as("__vb")), Seq("centroid_id"))
      .filter(col("__idb") < col("__ida"))
      .filter(round(CosineSimilarity(col("__va"), col("__vb")), 6) >= threshold)
      .select(col("__ida").as(idCol))
      .distinct()
      .withColumn("__dropped", lit(true))
    index.assigned.select(col(idCol), col("centroid_id").as("cluster_id"))
      .join(dropped, Seq(idCol), "left_outer")
      .select(col(idCol), col("cluster_id"),
        coalesce(!col("__dropped"), lit(true)).as("kept"))
  }

  /** Bucket-local k-NN isolation outliers — the complement of
    * [[hubnessCloneCollapsed]]: where hubness finds points that appear
    * in too MANY neighbor lists, this finds points too FAR from
    * everything near them — the junk-embedding / mis-encoded-document
    * screen run before ANN serving or semantic dedup trusts the space.
    * Per point: candidates = co-bucket mass under the occupancy-derived
    * sign-LSH partitioning, and the k-th smallest distance among them
    * (micro-quantized). Top `topK` by that distance, descending.
    *
    * Clone discipline (the q118 lesson, applied from day one): exact
    * duplicate vectors collapse to (distinct vector, multiplicity m)
    * BEFORE the bucket pair join, so clone-heavy corpora never pay
    * m² pair work. A group's own clones are candidates at distance 0 —
    * m−1 > k means its k-NN distance IS 0 — and the k-th-with-
    * multiplicity read-off is the same cumulative-mass rule the
    * hubness closed form uses. Buckets with n_cands < k are excluded
    * (nothing to rank against); at the production occupancy (~32)
    * that's the empty-region signal itself.
    *
    * Scale: per-bucket pair work is O(occupancy²) at any corpus size;
    * the per-u windows partition on rep_u; everything downstream of the
    * pair join is hash aggregation.
    */
  def bucketOutliers(corpus: DataFrame, k: Int = 3,
                     targetOccupancy: Double = 32.0, topK: Int = 20,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(topK > 0, s"topK must be > 0, got $topK")
    val distinct = corpus.groupBy(col(vecCol).as("__v"))
      .agg(min(col(idCol)).as("rep"), count(lit(1)).as("m"))
      .localCheckpoint() // consumed by count(), bucket mass, both join sides
    val bits = occupancyBits(distinct.count(), targetOccupancy)
    val d = distinct.withColumn("bucket",
      graft.functions.SignBucket(col("__v"), bits))
    val bmass = d.groupBy(col("bucket")).agg(sum(col("m")).as("__bm"))
    val base = d.join(bmass, Seq("bucket"))
      .select(col("rep"), col("m"), (col("__bm") - 1).as("n_cands"))
      .filter(col("n_cands") >= k)
    val x = d.select(col("bucket"), col("rep").as("rep_u"),
      col("__v").as("__vu"), col("m").as("m_u"))
    val y = d.select(col("bucket"), col("rep").as("rep_w"),
      col("__v").as("__vw"), col("m").as("m_w"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rep_u")).orderBy(col("__dmu").asc, col("rep_w").asc)
    val kthCross = x.join(y, Seq("bucket"))
      .filter(col("rep_u") =!= col("rep_w"))
      .withColumn("__dmu", round(sqrt(aggregate(
        zip_with(asDouble(col("__vu")), asDouble(col("__vw")),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, s) => acc + s)) * 1e6, 0).cast("long"))
      .withColumn("__cum", sum(col("m_w")).over(wOrd.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      // the group's own m−1 zero-distance clones sit ahead of every
      // cross distance, so the k-th lands where cumulative mass
      // (clones + cross so far) first reaches k
      .filter(col("__cum") + col("m_u") - 1 >= k)
      .groupBy(col("rep_u")).agg(min(col("__dmu")).as("__kcross"))
    base.join(kthCross, base("rep") === kthCross("rep_u"), "left")
      .select(col("rep").as(idCol), col("n_cands"),
        when(col("m") - 1 >= k, lit(0L)).otherwise(col("__kcross"))
          .as("knn_micro"))
      .orderBy(col("knn_micro").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Davies–Bouldin cluster-quality audit over a built IVF index
    * (Davies & Bouldin 1979): per cluster i, scatter Sᵢ = mean member
    * distance to its own centroid, and the DB component
    * Rᵢ = max_{j≠i} (Sᵢ+Sⱼ)/Mᵢⱼ with Mᵢⱼ the centroid distance — the
    * standard "is this clustering any good" number for embedding-space
    * curation (a high Rᵢ cluster overlaps a neighbor; semantic dedup
    * and IVF probe quality both degrade there).
    *
    * Scale shape: ONE corpus pass — the assignment frame joins the
    * |k|-row centroid table (LocalRelation broadcast), each member's
    * distance folds inside the row (`zip_with`+`aggregate`, quantized
    * to integer micro-units so the per-cluster sums are exact), then a
    * |k|-row aggregate. Everything pairwise (Mᵢⱼ, Rᵢ) happens on the
    * k×k driver-side matrix — never a corpus cartesian (and never a
    * k-row crossJoin in the plan either: PlanAuditSpec forbids the
    * shape globally, and k² driver flops are free). The scatter
    * aggregate runs once at construction (bounded |k|-row collect, the
    * IVF-centroid discipline) to derive the Rᵢ literals, and the
    * returned plan recomputes it distributed for the output rows.
    *
    * Output: (cluster_id, n_members, scatter_micro, db_ratio) —
    * scatter_micro an exact integer (micro-units, `div`), db_ratio the
    * only double, rounded.
    */
  def daviesBouldin(index: IvfIndex, vecCol: String = "embedding"): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val k = index.centers.length
    require(k >= 2, s"Davies-Bouldin needs >= 2 clusters, got $k")
    val ctr = index.centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "__ctr")
    def scatter: DataFrame = index.assigned
      .join(broadcast(ctr), Seq("centroid_id"))
      .select(col("centroid_id"),
        round(sqrt(aggregate(
          zip_with(asDouble(col(vecCol)), col("__ctr"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)) * 1e6, 0).cast("long").as("__dmu"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("__dmu")).as("__sum_dmu"))
      .select(col("centroid_id").as("cluster_id"), col("n_members"),
        expr("__sum_dmu div n_members").as("scatter_micro"))
    // |k|-row collect to fold the pairwise max driver-side
    val s = scatter.collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    def m(i: Int, j: Int): Double = {
      var d = 0.0; var t = 0
      while (t < index.centers(i).length) {
        val dl = index.centers(i)(t) - index.centers(j)(t); d += dl * dl; t += 1
      }
      math.sqrt(d)
    }
    val r = (0 until k).filter(s.contains).map { i =>
      val ri = (0 until k)
        .filter(j => j != i && s.contains(j))
        .map { j =>
          val mij = m(i, j)
          require(mij > 0.0,
            s"duplicate centroids $i/$j — Davies-Bouldin undefined")
          (s(i) + s(j)).toDouble / (mij * 1e6)
        }.max
      (i, BigDecimal(ri).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("cluster_id", "db_ratio")
    scatter.join(broadcast(r), Seq("cluster_id"))
      .select(col("cluster_id"), col("n_members"), col("scatter_micro"),
        col("db_ratio"))
  }

  /** Driver-side cosine over `a`'s length; 0 when either side is all
    * zeros. The one driver cosine of the engine: probe ranking, MMR
    * diversity and the centroid tables oracles embed as literals.
    */
  private[graft] def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The one IVF probe-ranking rule: every centroid as (id, cosine to
    * the query), by cosine desc then id asc; a probe takes a prefix. A
    * query whose dimension differs from the index's fails here with
    * both dimensions named.
    */
  private[graft] def rankCentroids(centers: Array[Array[Double]],
                                   queryVec: Seq[Double]): Array[(Int, Double)] = {
    val q = queryVec.toArray
    require(centers.forall(_.length == q.length),
      s"query dimension ${q.length} != index dimension ${centers.head.length}")
    centers.zipWithIndex.map { case (c, i) => (i, cos(c, q)) }
      .sortBy { case (i, s) => (-s, i) }
  }

  /** The `n` best probes of [[rankCentroids]]. */
  private[graft] def probeIds(centers: Array[Array[Double]],
                              queryVec: Seq[Double], n: Int): Seq[Int] =
    rankCentroids(centers, queryVec).take(n).map(_._1).toSeq

  /** IVF probe: rank centroids against the query DRIVER-side (the
    * centroid table is tiny), then score only the rows of the `nprobe`
    * nearest inverted lists — a partition-pruned scan when the assigned
    * table is stored bucketed by centroid_id, never a corpus shuffle.
    */
  def ivfSearch(index: IvfIndex, queryVec: Seq[Double], k: Int = 5,
                nprobe: Int = 2, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val probes = probeIds(index.centers, queryVec, nprobe)
    val q = array(queryVec.map(lit): _*)
    index.assigned
      .filter(col("centroid_id").isin(probes: _*))
      .withColumn("score", CosineSimilarity(col(vecCol), q))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("centroid_id"),
        round(col("score"), 6).as("score"))
  }

  /** Batched IVF probe over a PERSISTED index (VERDICT r14 item 5) —
    * the production serving shape behind [[Search.topKBatch]] when an
    * index exists: every query row probes its own `nprobe` inverted lists,
    * and the lists scan is partition-pruned to the UNION of all
    * queries' probes.
    *
    * Probe ranking is [[ivfSearch]]'s exactly (centroid cosine desc,
    * id asc, take nprobe) but computed PER ROW as a map-side expression
    * over the stored-center literals (the [[appendToIvf]] discipline) —
    * the query batch stays distributed; nothing batch-sized is ever
    * collected. The one driver materialization is the distinct
    * probed-centroid set, bounded by nCentroids BY CONSTRUCTION
    * (index-sized, never batch- or corpus-sized), which becomes a
    * literal `centroid_id IN (...)` on the lists scan: partition
    * pruning is static and guaranteed (PlanAuditSpec asserts the
    * PartitionFilters), not dependent on runtime DPP firing. The
    * per-query restriction — each query scores ONLY its own probed
    * lists — rides the broadcast equi-join on centroid_id, so a row of
    * list L is scored once per query that probed L and never for the
    * others.
    *
    * The probe is an explicit call, not an optimizer rule: the batched
    * top-k's query vectors are join ATTRIBUTES, not foldable literals,
    * so no plan-time rule could rank probes against them.
    *
    * Output: (queryIdCol, idCol, centroid_id, rank, score), rank 1..k
    * per query (score desc, id asc — topKBatch's window contract),
    * score rounded to 6dp.
    */
  def ivfSearchBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, k: Int = 5, nprobe: Int = 2,
                     queryIdCol: String = "query_id",
                     queryVecCol: String = "query_vec",
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     threshold: Double = Double.NegativeInfinity,
                     maxBroadcastQueries: Int = 100000,
                     pred: Option[Column] = None): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(nprobe > 0, s"nprobe must be >= 1, got $nprobe")
    require(maxBroadcastQueries > 0,
      s"maxBroadcastQueries must be > 0, got $maxBroadcastQueries")
    val (_, index) = resolveIvf(spark, path, -1L, idCol)
    val qv = asDouble(col(queryVecCol))
    val probeArr = transform(
      slice(rankCentroidsCol(index.centers, qv), 1,
        math.min(nprobe, index.centers.length)),
      p => p.getField("cid"))
    // the probes frame is read TWICE (probe-union collect + the join);
    // a lazy localCheckpoint pins one evaluation, so a non-deterministic
    // queries source can't probe lists absent from the static pruning
    // literal and silently drop rows (ADVICE r15). Lazy: it materializes
    // inside the collect action of the join core — no extra job
    // (JobAuditSpec).
    val probes = queries.select(col(queryIdCol), qv.as("__qv"),
      explode(probeArr).as("centroid_id")).localCheckpoint(false)
    // `pred` is the batched form of [[ivfSearchFiltered]]'s metadata
    // filter: applied directly on the pruned lists scan so it pushes into
    // the parquet reader (shared across the batch — per-query predicates
    // belong in the queries frame as join columns, not here); None adds
    // no plan node
    val rankedRows = probeJoinTopK(index.assigned, probes, pred,
      math.min(nprobe, index.centers.length), maxBroadcastQueries, k,
      queryIdCol, idCol, vecCol, carry = Nil)
    // threshold applies to the RAW score BEFORE the 6dp display rounding,
    // so the indexed serving path shares Search.topKBatch's threshold
    // semantic exactly (ADVICE r15: a score within 5e-7 of the threshold
    // must land the same way on both paths). Separate filter node, added
    // only when finite, so the default plan (q205, PlanAuditSpec) is
    // unchanged.
    val thresholded =
      if (threshold.isNegInfinity) rankedRows
      else rankedRows.filter(col("score") >= threshold)
    thresholded
      .select(col(queryIdCol), col(idCol), col("centroid_id"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** [[rankCentroids]] as one row-local expression over the
    * stored-center literals: (−score, cid) structs sort ascending ==
    * (score desc, cid asc).
    */
  private def rankCentroidsCol(centers: Array[Array[Double]],
                               qv: Column): Column =
    sort_array(array(centers.zipWithIndex.map { case (c, i) =>
      struct((-CosineSimilarity(qv, array(c.map(lit).toSeq: _*))).as("ns"),
        lit(i).as("cid"))
    }.toSeq: _*))

  /** The probe-join core of [[ivfSearchBatch]] and [[ivfSearchAdaptive]]
    * over the checkpointed (queryIdCol, __qv, carry…, centroid_id)
    * `probes` frame: its distinct probe union (≤ nCentroids ids) is the
    * static partition-pruning literal on the `lists` scan, then `pred`.
    * The probe side is broadcast gated on a bounded count probe (the
    * hardNegatives discipline — O(cap) work however large the batch
    * is): a micro-batch beyond `maxBroadcastQueries` falls back to a
    * shuffle join on centroid_id instead of risking an OOM on a
    * batch-sized × nprobe × vector-width broadcast (ADVICE r15); the
    * count reads the checkpointed blocks, never the source. Output:
    * (queryIdCol, idCol, centroid_id, carry…, score, rank), rank 1..k
    * per query by (score desc, id asc), score raw.
    */
  private def probeJoinTopK(lists: DataFrame, probes: DataFrame,
                            pred: Option[Column], maxProbesPerQuery: Int,
                            maxBroadcastQueries: Int, k: Int,
                            queryIdCol: String, idCol: String,
                            vecCol: String, carry: Seq[String]): DataFrame = {
    val probedIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val pruned = pred.foldLeft(
      lists.filter(col("centroid_id").isin(probedIds.toSeq: _*)))(_.filter(_))
    val probeRowCap = math.min(Int.MaxValue.toLong - 1,
      maxBroadcastQueries.toLong * maxProbesPerQuery).toInt
    val probeSide =
      if (probes.limit(probeRowCap + 1).count() <= probeRowCap)
        broadcast(probes)
      else probes
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol).asc)
    pruned.join(probeSide, Seq("centroid_id"))
      .withColumn("score", CosineSimilarity(col(vecCol), col("__qv")))
      .select((Seq(queryIdCol, idCol, "centroid_id") ++ carry :+ "score")
        .map(col): _*)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** MARGIN-ADAPTIVE batched IVF probe: instead of a fixed nprobe,
    * each query probes exactly the centroids whose (6dp-rounded)
    * cosine is within `margin` of its best centroid, clamped to
    * `maxProbe` — the query-adaptive serving policy (cf. FAISS/SPANN
    * adaptive-probing discussions, public knowledge). An easy query
    * (one dominant centroid) pays 1 list; an ambiguous query near a
    * Voronoi boundary automatically widens. At a fixed recall target
    * this probes strictly fewer lists than the fixed-nprobe worst case
    * — the knob that matters when the p50 query is easy and the p99
    * is not.
    *
    * Same plan discipline as [[ivfSearchBatch]] (map-side probe
    * ranking over center literals, probe-union static partition
    * pruning, broadcast-gated probe join, window top-k); the margin
    * test runs on 6dp-ROUNDED scores so the probe-set membership
    * replays deterministically in the oracle. Output adds `n_probes`
    * (that query's probe count): (queryIdCol, idCol, centroid_id,
    * n_probes, rank, score).
    */
  def ivfSearchAdaptive(spark: org.apache.spark.sql.SparkSession,
                        path: String, queries: DataFrame, k: Int = 5,
                        margin: Double = 0.05, maxProbe: Int = 8,
                        queryIdCol: String = "query_id",
                        queryVecCol: String = "query_vec",
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxBroadcastQueries: Int = 100000): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(margin >= 0.0, s"margin must be >= 0, got $margin")
    require(maxProbe > 0, s"maxProbe must be >= 1, got $maxProbe")
    val (_, index) = resolveIvf(spark, path, -1L, idCol)
    val qv = asDouble(col(queryVecCol))
    val ranked = rankCentroidsCol(index.centers, qv)
    // clamp to the maxProbe best first (row-local, bounded), then keep
    // those within margin of the best — the first element always
    // qualifies, so every query probes >= 1 list
    val maxProbes = math.min(maxProbe, index.centers.length)
    val probeArr = transform(
      filter(slice(ranked, 1, maxProbes), p => round(-p.getField("ns"), 6) >=
        round(-element_at(ranked, 1).getField("ns"), 6) - lit(margin)),
      p => p.getField("cid"))
    val probes = queries.select(col(queryIdCol), qv.as("__qv"),
        size(probeArr).cast("long").as("n_probes"),
        explode(probeArr).as("centroid_id"))
      .localCheckpoint(false) // one evaluation: pruning literal == join side
    probeJoinTopK(index.assigned, probes, None, maxProbes, maxBroadcastQueries, k,
        queryIdCol, idCol, vecCol, carry = Seq("n_probes"))
      .select(col(queryIdCol), col(idCol), col("centroid_id"),
        col("n_probes"), col("rank"), round(col("score"), 6).as("score"))
  }

  // =========================================================================
  // Filtered search + delete-by-id on the persisted IVF layout — the two
  // remaining table-stakes vector-store operations (every production
  // vector DB ships metadata-filtered queries and deletes; the reference
  // only truncates, /root/reference/vector_db_api.py clear_database)
  // =========================================================================

  /** The persisted inverted lists minus any tombstoned ids. When the
    * index has no tombstone table (the common case: [[deleteFromIvf]]
    * never ran, or [[compactIvf]] folded them in) the frame is the raw
    * lists scan with NO extra plan node, so the existing probe plans
    * (q205/q210, PlanAuditSpec) are untouched. With tombstones
    * present, exclusion is a LEFT ANTI join on the id — broadcastable
    * while the tombstone table is small (AQE decides from its actual
    * size; deletes are assumed rare relative to the corpus — a
    * deployment whose tombstones rival the corpus should [[compactIvf]],
    * which this module treats as the compaction contract).
    */
  private def listsMinusTombstones(
      spark: org.apache.spark.sql.SparkSession, path: String,
      m: IvfManifest, idCol: String): DataFrame = {
    val lists = listsFrameOf(spark, path, m)
    if (m.tombstones.isEmpty) lists
    else lists.join(
      spark.read.parquet(m.tombstones.map(t => s"$path/$t"): _*)
        .select(col(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /** Delete-by-id on a persisted IVF index: the ids land in a fresh
    * tombstone dir committed as the next version, and every probe
    * path over the persisted layout ([[ivfSearchBatch]],
    * [[ivfSearchFiltered]]) anti-joins the manifest's tombstone dirs
    * out. The lists parquet is NOT rewritten — at 100 TB a delete must
    * be O(deleted ids), not O(index); reclaiming the space is
    * [[compactIvf]]'s job (the LSM-style tombstone/compaction split
    * every mutable columnar store uses). Idempotent: re-deleting an id
    * commits a duplicate row that the probe-side `distinct` collapses
    * and the next compaction drops.
    */
  def deleteFromIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                    ids: Seq[Long], idCol: String = "vec_id"): Unit = {
    require(ids.nonEmpty, s"deleteFromIvf($path): empty id list")
    recoverIvf(spark, path) // writer entry: sweep crashed-commit orphans
    val m = readIvfManifest(spark, path)
    val v = m.version + 1
    val gen = ivfGenDir(v)
    import spark.implicits._
    ids.toDF(idCol).write.mode("overwrite").parquet(s"$path/$gen/tombstones")
    commitIvfManifest(spark, path, m.copy(version = v,
      tombstones = m.tombstones :+ s"$gen/tombstones"))
  }

  /** Crash-recovery sweep over a persisted IVF index. Under the v3
    * manifest protocol a crashed writer can strand only two artifact
    * kinds, both INVISIBLE to readers (a reader resolves committed
    * manifests exclusively), so recovery is pure garbage collection:
    *
    *  - a dead `_manifests/.v*.manifest.tmp` (crash between manifest
    *    write and rename) → dropped;
    *  - an orphan `gen-*` directory referenced by NO committed
    *    manifest (crash before the manifest rename) → dropped.
    *
    * Called on entry by every WRITER (writeIvf, appendToIvf,
    * upsertIntoIvf, deleteFromIvf, compactIvf, sq8AugmentIvf) under
    * the single-maintenance-writer contract — and by nothing else:
    * [[readIvf]] and the probe paths never mutate the filesystem
    * (ADVICE r17 medium). Returns the actions taken (empty on a
    * healthy index) so callers/specs can observe what was swept.
    */
  def recoverIvf(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    val mDir = ivfManifestDir(path)
    if (fs.exists(mDir)) {
      fs.listStatus(mDir).foreach { st =>
        if (st.getPath.getName.endsWith(".manifest.tmp")) {
          fs.delete(st.getPath, false)
          actions += s"dropped dead manifest tmp ${st.getPath.getName}"
        }
      }
    }
    // Orphan test in O(listing), ZERO manifest reads (VERDICT r18
    // item 3 — the previous all-manifests sweep made every writer
    // entry O(versions)): generation `gen-N` is created exclusively by
    // the writer attempting commit N, so any gen numbered AT OR BELOW
    // the latest committed version belongs to a committed manifest
    // (possibly an expired one whose gens gcIvf deliberately retains
    // for later manifests) and is NEVER recovery's to sweep; a crashed
    // commit — the only producer of orphans — left its gen numbered
    // ABOVE every committed version. AnnSpec pins the read count.
    val latest = latestIvfVersion(spark, path)
    val G = """gen-(\d+)""".r
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case G(n) if st.isDirectory && n.toLong > latest =>
          fs.delete(st.getPath, true)
          actions += s"dropped orphan generation ${st.getPath.getName}"
        case _ => ()
      }
    }
    actions.toSeq
  }

  /** Reclaim old generations: drop every manifest below
    * `latest - keepVersions + 1` and every `gen-*` directory no
    * RETAINED manifest references. Retention is the serving contract
    * for lock-free reads: a probe planned at version N stays valid
    * while N's manifest is retained, so run gcIvf with `keepVersions`
    * covering the longest in-flight query (the Iceberg
    * expire-snapshots discipline). `keepVersions = 1` reclaims
    * everything but the current version — correct only under an
    * external no-readers-in-flight guarantee. Same single-writer
    * contract as the mutators. Returns the deleted names.
    */
  def gcIvf(spark: org.apache.spark.sql.SparkSession, path: String,
            keepVersions: Int = 2): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val fs = ivfFs(spark, path)
    val latest = latestIvfVersion(spark, path)
    if (latest == 0) return Seq.empty
    val cutoff = math.max(1L, latest - keepVersions + 1)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    val retained: Set[String] = (cutoff to latest).flatMap { v =>
      if (!fs.exists(ivfManifestPath(path, v))) Seq.empty
      else {
        val m = readIvfManifest(spark, path, v)
        (m.centroids +: (m.listDirs.map(_.dir) ++ m.tombstones ++
          m.sq8Model.toSeq)).map(_.split('/').head)
      }
    }.toSet
    (1L until cutoff).foreach { v =>
      val p = ivfManifestPath(path, v)
      if (fs.exists(p)) { fs.delete(p, false); actions += s"expired ${p.getName}" }
    }
    val root = new org.apache.hadoop.fs.Path(path)
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("gen-") &&
          !retained.contains(name)) {
        fs.delete(st.getPath, true)
        actions += s"reclaimed generation $name"
      }
    }
    actions.toSeq
  }

  /** Compact a persisted IVF index: fold the tombstones into the lists
    * (rewrite minus the deleted ids) AND collapse generation
    * fragmentation (appends/upserts each add a generation; compaction
    * rewrites the live rows into ONE whole generation, restoring the
    * single-relation probe scan). No-op when the index is already
    * compact (one whole generation, no tombstones). The commit is one
    * manifest rename; nothing the prior versions reference is touched,
    * so in-flight probes and time travel are unaffected until
    * [[gcIvf]] reclaims the old generations. Refuses to compact an
    * index whose rows are ALL tombstoned: the rewrite would produce an
    * empty partitioned parquet directory that subsequent reads cannot
    * infer a schema from — a fully-deleted index should be removed,
    * not compacted.
    */
  def compactIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                 idCol: String = "vec_id"): Unit = {
    recoverIvf(spark, path)
    val m = readIvfManifest(spark, path)
    if (m.tombstones.isEmpty && m.listDirs.size == 1 &&
        m.listDirs.head.whole) return // already compact
    val survivors = listsMinusTombstones(spark, path, m, idCol)
    require(!survivors.isEmpty,
      s"compactIvf($path): every row is tombstoned — compaction would " +
      "write an unreadable empty lists directory; delete the index " +
      "directory instead")
    val v = m.version + 1
    val gen = ivfGenDir(v)
    survivors
      .write.partitionBy("centroid_id").mode("overwrite")
      .parquet(s"$path/$gen/lists")
    val cids = physicalCids(spark, s"$path/$gen/lists")
    commitIvfManifest(spark, path, m.copy(version = v,
      listDirs = Seq(IvfListDir(s"$gen/lists", cids, whole = true)),
      tombstones = Nil))
  }

  /** UPSERT on a persisted IVF index: replace any existing rows carrying
    * the incoming ids and insert the new rows under the frozen
    * quantizer ([[appendToIvf]]'s assignment rule) — ONE atomic commit.
    * The replacement is a TARGETED list rewrite: one pushed-filter scan
    * finds which inverted lists hold the incoming ids (parquet
    * row-group stats prune everything else), ONLY those lists are
    * rewritten minus the ids into the new generation alongside the
    * assigned batch, prior manifests' entries for the affected lists
    * are superseded, and any tombstones for the ids are consolidated
    * away so the fresh rows aren't masked by a past delete. Cost is
    * O(affected lists + batch), never O(index) — the granularity a
    * 100 TB index needs for row updates. On an SQ8-augmented index the
    * incoming rows are encoded with the persisted model so every
    * generation carries the same schema. Same single-maintenance-writer
    * assumption as the other mutators; concurrent PROBES are safe at
    * any point — they resolve the previous manifest's immutable files
    * until the commit rename lands.
    */
  def upsertIntoIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                    rows: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    recoverIvf(spark, path) // writer entry: sweep crashed-commit orphans
    val m = readIvfManifest(spark, path)
    // batch-sized by assumption (an upsert batch is an ingest batch,
    // not a corpus) — the same bound appendToIvf already relies on
    val ids = rows.select(col(idCol)).distinct().collect().map(_.get(0))
    require(ids.nonEmpty, s"upsertIntoIvf($path): empty batch")
    val live = listsFrameOf(spark, path, m)
    val affected = live.filter(col(idCol).isin(ids.toSeq: _*))
      .select(col("centroid_id")).distinct().collect().map(_.getInt(0)).sorted
    val assigned = withIndexSchema(spark, path, m, assignToCenters(rows,
      readCenters(spark, s"$path/${m.centroids}"), vecCol), vecCol)
    val newRows =
      if (affected.isEmpty) assigned
      else live.filter(col("centroid_id").isin(affected.toSeq: _*) &&
          !col(idCol).isin(ids.toSeq: _*))
        .unionByName(assigned)
    val v = m.version + 1
    val gen = ivfGenDir(v)
    newRows.write.partitionBy("centroid_id").mode("overwrite")
      .parquet(s"$path/$gen/lists")
    val cids = physicalCids(spark, s"$path/$gen/lists")
    // prior generations lose the affected lists (superseded, not touched)
    val affSet = affected.toSet
    val prunedDirs = m.listDirs.flatMap { ld =>
      val keep = ld.cids.filterNot(affSet)
      if (keep.isEmpty) None
      else Some(ld.copy(cids = keep,
        whole = ld.whole && keep.size == ld.cids.size))
    }
    // unmask: a tombstone for an upserted id would hide the NEW row —
    // consolidate the surviving tombstones into this generation
    val tombLines =
      if (m.tombstones.isEmpty) Seq.empty[String]
      else {
        val liveT = spark.read
          .parquet(m.tombstones.map(t => s"$path/$t"): _*)
          .filter(!col(idCol).isin(ids.toSeq: _*))
        if (liveT.isEmpty) Seq.empty[String]
        else {
          liveT.write.mode("overwrite").parquet(s"$path/$gen/tombstones")
          Seq(s"$gen/tombstones")
        }
      }
    commitIvfManifest(spark, path, m.copy(version = v,
      listDirs = prunedDirs :+ IvfListDir(s"$gen/lists", cids, whole = true),
      tombstones = tombLines))
  }

  /** Align an assigned batch with the index's stored row schema: on an
    * SQ8-augmented index ([[sq8AugmentIvf]]) every stored row carries
    * `sq8_codes`, so incoming rows are encoded with the persisted
    * model — otherwise a later bare generation scan / strict union
    * would see mixed schemas.
    */
  private def withIndexSchema(spark: org.apache.spark.sql.SparkSession,
                              path: String, m: IvfManifest,
                              assigned: DataFrame,
                              vecCol: String): DataFrame =
    if (m.sq8Model.isEmpty) assigned
    else assigned.drop("sq8_codes")
      .withColumn("sq8_codes", sq8CodesCol(sq8ModelOf(spark, path, m), vecCol))

  /** Metadata-FILTERED ANN over a persisted IVF index — the "vector
    * search with a WHERE clause" every vector store serves (cosine
    * top-k among rows matching `pred`). The predicate references the
    * payload columns stored IN the inverted lists (writeIvf persists
    * every corpus column), so it rides the same scan the probe already
    * does: partition pruning cuts to `nprobe` list directories and the
    * predicate pushes into the parquet reader (PushedFilters — audited
    * by PlanAuditSpec), i.e. filter-during-search, not post-filter over
    * a materialized candidate set.
    *
    * The production failure mode of filtered ANN is RECALL STARVATION:
    * a selective predicate can leave fewer than k matches inside the
    * probed lists even though the corpus holds plenty. `widenToFill`
    * opts into the standard mitigation (probe widening, cf. FAISS
    * selector / Milvus iterative-filter): one bounded `limit(k).count`
    * probe of the filtered candidate frame, and only on shortfall a
    * single re-probe at nprobe = nCentroids (exact-within-filter).
    * Two stages, not a loop — O(1) extra jobs, worst case one full
    * filtered scan, which is what a correct answer costs at that point.
    *
    * Output: (idCol, extraCols…, score) ordered by (score desc, id
    * asc), at most k rows, score rounded 6dp after the ordering. (No
    * rank column — callers wanting one apply `row_number` over the
    * already-ordered frame; q212's oracle pins this exact schema.)
    */
  def ivfSearchFiltered(spark: org.apache.spark.sql.SparkSession,
                        path: String, queryVec: Seq[Double], pred: Column,
                        k: Int = 5, nprobe: Int = 2,
                        widenToFill: Boolean = false,
                        extraCols: Seq[String] = Seq("label"),
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(nprobe > 0, s"nprobe must be >= 1, got $nprobe")
    val (_, index) = resolveIvf(spark, path, -1L, idCol)
    val ranked = rankCentroids(index.centers, queryVec).map(_._1).toSeq
    val q = array(queryVec.map(lit): _*)
    def candidates(n: Int): DataFrame = index.assigned
      .filter(col("centroid_id").isin(ranked.take(n): _*))
      .filter(pred)
    val nEff =
      if (!widenToFill || nprobe >= index.centers.length) nprobe
      // bounded shortfall probe: reads at most k rows of the filtered
      // pruned scan (limit-pushdown), never the corpus
      else if (candidates(nprobe).limit(k).count() >= k) nprobe
      else index.centers.length
    candidates(nEff)
      .withColumn("score", CosineSimilarity(col(vecCol), q))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol) +: extraCols.map(col) :+
        round(col("score"), 6).as("score"): _*)
  }

  /** A combined IVF-PQ index (Jégou et al. 2011's IVFADC layout): the
    * corpus carries BOTH its inverted-list assignment (`centroid_id`)
    * and its PQ codes, so a probe prunes lists first and then scans
    * codes, never floats. Coarse centers and codebooks are both
    * driver-resident literals at search time.
    *
    * By DEFAULT the codes quantize the RAW vectors, not the residual
    * (vector − coarse centroid) FAISS defaults to: residual encoding
    * couples the two quantizers (codes become meaningless without the
    * centroid), buys accuracy mainly at high nCentroids, and — decisive
    * here — raw-vector codes let the DuckDB oracle replay encode/ADC
    * with the SAME argmin rule q65 already proves out. The exact-rerank
    * stage absorbs most of the accuracy difference at the shortlist
    * sizes a serving path uses. `residual = true` (VERDICT r15 item 4)
    * opts into the FAISS default for deployments that want it: codes
    * quantize (vector − assigned center) and ADC builds per-PROBE
    * lookup tables from (query − probed center). The oracled gate
    * (q174) stays on the raw form; AnnSpec A/Bs recall at a fixed code
    * budget and PERF.md records the numbers.
    */
  final case class IvfPqIndex(encoded: DataFrame,
                              centers: Array[Array[Double]],
                              codebooks: Array[Array[Array[Double]]],
                              residual: Boolean = false)

  /** Train both quantizers over the corpus: the coarse IVF (one KMeans)
    * and the per-subspace PQ codebooks (M KMeans over D/M-dim slices),
    * then encode every vector with both. The corpus is never shuffled —
    * both assignment passes are map-side model transforms (the residual
    * subtraction is a zip_with against the ≤nCentroids center literal,
    * map-side too).
    */
  def buildIvfPq(corpus: DataFrame, nCentroids: Int = 16, m: Int = 8,
                 ks: Int = 16, seed: Long = 42L, maxIter: Int = 10,
                 vecCol: String = "embedding",
                 initMode: String = "k-means||",
                 residual: Boolean = false): IvfPqIndex = {
    val ivf = buildIvf(corpus, nCentroids, seed, maxIter, vecCol, initMode)
    if (!residual) {
      val pq = buildPq(ivf.assigned, m, ks, seed, maxIter, vecCol,
        trainFraction = 1.0, initMode = initMode)
      IvfPqIndex(pq.encoded, ivf.centers, pq.codebooks)
    } else {
      val centersLit = typedLit(ivf.centers.map(_.toSeq).toSeq)
      val withRes = ivf.assigned.withColumn("__res",
        zip_with(asDouble(col(vecCol)),
          element_at(centersLit, col("centroid_id") + 1), (a, b) => a - b))
      val pq = buildPq(withRes, m, ks, seed, maxIter, vecCol = "__res",
        trainFraction = 1.0, initMode = initMode)
      IvfPqIndex(pq.encoded.drop("__res"), ivf.centers, pq.codebooks,
        residual = true)
    }
  }

  /** The production ANN serving shape — FAISS-style IVF-PQ with exact
    * rerank, three stages each strictly cheaper than the last one's
    * input:
    *  1. probe: rank coarse centroids vs the query DRIVER-side (same
    *     cosine rule as [[ivfSearch]]), keep `nprobe` lists — a
    *     partition-pruned scan when the encoded table is stored
    *     partitioned by centroid_id;
    *  2. ADC scan: rank ONLY the probed lists by the per-subspace
    *     distance-table sum (M `element_at` lookups per row, no vector
    *     math — [[pqSearch]]'s kernel), keep a `shortlist`;
    *  3. exact rerank: cosine on the shortlist's float vectors, top-k.
    * At 100 TB the float column is only ever read for `shortlist` rows
    * per query; everything corpus-scale touches codes alone.
    */
  def ivfPqSearch(index: IvfPqIndex, queryVec: Seq[Double], k: Int = 5,
                  nprobe: Int = 2, shortlist: Int = 32,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(nprobe > 0, s"nprobe must be > 0, got $nprobe")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val m = index.codebooks.length
    val sub = index.codebooks(0)(0).length
    require(queryVec.length == m * sub,
      s"query dim ${queryVec.length} != index dim ${m * sub}")
    val probes = probeIds(index.centers, queryVec, nprobe)
    def distTables(q: IndexedSeq[Double]): Array[Array[Double]] =
      Array.tabulate(m) { j =>
        index.codebooks(j).map { c =>
          var s = 0.0; var i = 0
          while (i < sub) {
            val dlt = q(j * sub + i) - c(i); s += dlt * dlt; i += 1
          }
          s
        }
      }
    val adc =
      if (!index.residual) {
        val tabs = distTables(queryVec.toIndexedSeq)
        (0 until m).map { j =>
          element_at(array(tabs(j).map(lit).toSeq: _*), col("codes")(j) + 1)
        }.reduce(_ + _)
      } else {
        // residual coding (FAISS's IVFADC default, VERDICT r15 item 4):
        // codes quantize (vector − assigned center), so the lookup
        // tables are PER PROBED LIST — built driver-side from
        // (query − center_c) for each of the nprobe probes (O(nprobe ×
        // ks × D) work, still query-sized) and shipped as one map
        // literal keyed by centroid_id. Scan cost per row is unchanged:
        // m element_at lookups + adds.
        val tabsByProbe = probes.map { c =>
          val qres = IndexedSeq.tabulate(queryVec.length)(i =>
            queryVec(i) - index.centers(c)(i))
          c -> distTables(qres).map(_.toSeq).toSeq
        }.toMap
        val tabsLit = typedLit(tabsByProbe)
        (0 until m).map { j =>
          element_at(element_at(element_at(tabsLit, col("centroid_id")),
            j + 1), col("codes")(j) + 1)
        }.reduce(_ + _)
      }
    val q = array(queryVec.map(lit): _*)
    index.encoded
      .filter(col("centroid_id").isin(probes: _*))
      .withColumn("approx_dist2", adc)
      .orderBy(col("approx_dist2").asc, col(idCol).asc)
      .limit(shortlist)
      .withColumn("score", CosineSimilarity(col(vecCol), q))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("centroid_id"),
        round(col("approx_dist2"), 6).as("approx_dist2"),
        round(col("score"), 6).as("score"))
  }

  /** Matryoshka dimension-recall curve — the table that picks the
    * prefix dimension budget for [[matryoshkaTopK]]: ONE corpus scan
    * computes the prefix cosine for every candidate dimension AND the
    * full-dimension score, a per-dim window keeps `poolK` stage-1
    * survivors, a second per-dim window reranks them by the full
    * score, and recall@k is measured against the full-dimension entry
    * (exact by construction when dims includes the full width). The
    * dims axis rides ONE explode (×|dims| rows), so the curve costs
    * one scan + two bounded windows — not |dims| separate searches.
    * Output: (prefix_dim, hits, recall_ppm) ordered by prefix_dim.
    */
  def matryoshkaRecallCurve(corpus: DataFrame, queryVec: Seq[Double],
                            dims: Seq[Int], poolK: Int = 50, k: Int = 10,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty && dims.forall(dd => dd > 0 && dd <= queryVec.length),
      s"dims must be in 1..${queryVec.length}, got $dims")
    require(dims.contains(queryVec.length),
      "dims must include the full dimension (the exact baseline)")
    require(k > 0 && poolK >= k, s"need 0 < k <= poolK, got k=$k pool=$poolK")
    val v = col(vecCol).cast("array<double>")
    val qFull = array(queryVec.map(lit): _*)
    val structs = dims.map { dd =>
      struct(lit(dd).as("dim"),
        CosineSimilarity(slice(v, 1, dd),
          array(queryVec.take(dd).map(lit): _*)).as("ps"))
    }
    val stacked = corpus
      .select(col(idCol), CosineSimilarity(v, qFull).as("fs"),
        explode(array(structs: _*)).as("x"))
      .select(col(idCol), col("fs"),
        col("x.dim").as("dim"), col("x.ps").as("ps"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dim")).orderBy(col("ps").desc, col(idCol).asc)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dim")).orderBy(col("fs").desc, col(idCol).asc)
    val topk = stacked
      .withColumn("pr", row_number().over(w1)).filter(col("pr") <= poolK)
      .withColumn("fr", row_number().over(w2)).filter(col("fr") <= k)
      .select(col("dim"), col(idCol))
    val exact = topk.filter(col("dim") === queryVec.length)
      .select(col(idCol))
    topk.join(broadcast(exact), Seq(idCol))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("hits"))
      .select(col("dim").cast("long").as("prefix_dim"), col("hits"),
        expr(s"(hits * 1000000L) div ${k}L").as("recall_ppm"))
      .orderBy(col("prefix_dim"))
  }

  // =========================================================================
  // SQ8 scalar quantization — int8-coded search with exact rescore
  // (FAISS's ScalarQuantizer QT_8bit layout, public knowledge; the
  // reference only ships the exact scan, mock_vector_db_api.py:275-282)
  // =========================================================================

  /** Per-dimension affine SQ8 quantizer: code = clamp₀₂₅₅(⌊(x − lo) ·
    * 255 / span + 0.5⌋). Training is corpus min/max per dimension; a
    * degenerate dimension (span 0) codes to 0 everywhere (constant
    * contribution — rank-neutral). 4 bytes/dim float32 → 1 byte/dim:
    * a 100 TB float corpus scans as 25 TB of codes, and the ranking
    * inner loop is integer multiply-adds (SIMD-able, no FP).
    */
  final case class Sq8Model(lo: Array[Double], span: Array[Double]) {
    require(lo.length == span.length, "sq8: lo/span length mismatch")
    /** Driver-side encode — the SAME arithmetic (and the same IEEE
      * operation tree) as [[sq8CodesCol]], so a query encodes
      * identically to the corpus.
      */
    def encode(x: Seq[Double]): Array[Long] = {
      require(x.length == lo.length,
        s"sq8: dim mismatch (${x.length} vs ${lo.length})")
      Array.tabulate(x.length) { i =>
        if (span(i) == 0.0) 0L
        else {
          val c = math.floor((x(i) - lo(i)) * 255.0 / span(i) + 0.5).toLong
          math.min(255L, math.max(0L, c))
        }
      }
    }
  }

  /** Train an [[Sq8Model]] on the corpus: ONE typed aggregate
    * ([[graft.functions.VectorAggregates.MinMaxAgg]]) shuffling 2·dim
    * doubles per partition — never an exploded per-element pass.
    */
  def sq8Train(corpus: DataFrame, vecCol: String = "embedding"): Sq8Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val mm = corpus
      .select(col(vecCol).cast("array<double>").as("v"))
      .as[Seq[Double]]
      .select(graft.functions.VectorAggregates.MinMaxAgg.toColumn)
      .head()
    require(mm.n > 0, "sq8Train: empty corpus")
    Sq8Model(mm.mn.toArray,
      mm.mn.zip(mm.mx).map { case (a, b) => b - a }.toArray)
  }

  /** The code array as a Column (array<bigint>, values 0..255) — pure
    * built-in zip_with/floor arithmetic, so encoding stays inside
    * whole-stage codegen and replays bit-identically in the DuckDB
    * oracle (identical double operation tree, then integer clamp).
    */
  def sq8CodesCol(model: Sq8Model, vecCol: String = "embedding"): Column = {
    val lo = array(model.lo.map(lit): _*)
    val sp = array(model.span.map(lit): _*)
    val shifted = zip_with(col(vecCol).cast("array<double>"), lo,
      (x, l) => x - l)
    zip_with(shifted, sp, (d, s) =>
      when(s === 0.0, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          floor(d * lit(255.0) / s + lit(0.5))))))
  }

  /** Materialize affine-SQ8 codes INTO a persisted IVF index
    * ([[writeIvf]] layout): the live inverted lists are rewritten with
    * an extra `sq8_codes` column into a fresh generation and the
    * model's lo/span vectors persist beside them — one manifest
    * commit, like every mutator. Because parquet is columnar, a probe
    * that projects (id, codes) READS 1 byte/dim while the float
    * vectors stay on disk — the compressed-at-rest serving layout
    * ([[ivfSq8Search]]); the floats remain available for the
    * shortlist rescore and for every existing float-path probe, which
    * is unchanged (extra columns are invisible to them). Tombstones
    * are carried (the augment rewrites raw rows; deletes keep masking
    * at probe time), and later [[appendToIvf]]/[[upsertIntoIvf]]
    * batches are encoded with this model so every generation shares
    * one schema.
    */
  def sq8AugmentIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                    model: Sq8Model,
                    vecCol: String = "embedding"): Unit = {
    recoverIvf(spark, path)
    val m = readIvfManifest(spark, path)
    val v = m.version + 1
    val gen = ivfGenDir(v)
    import spark.implicits._
    model.lo.zip(model.span).zipWithIndex
      .map { case ((l, sp), i) => (i, l, sp) }.toSeq
      .toDF("dim", "lo", "span")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/$gen/sq8_model")
    listsFrameOf(spark, path, m)
      .drop("sq8_codes") // idempotent re-augment
      .withColumn("sq8_codes", sq8CodesCol(model, vecCol))
      .write.partitionBy("centroid_id").mode("overwrite")
      .parquet(s"$path/$gen/lists")
    val cids = physicalCids(spark, s"$path/$gen/lists")
    commitIvfManifest(spark, path, m.copy(version = v,
      listDirs = Seq(IvfListDir(s"$gen/lists", cids, whole = true)),
      sq8Model = Some(s"$gen/sq8_model")))
  }

  /** Reload the SQ8 model persisted by [[sq8AugmentIvf]]. */
  def readSq8Model(spark: org.apache.spark.sql.SparkSession,
                   path: String): Sq8Model =
    sq8ModelOf(spark, path, readIvfManifest(spark, path))

  private def sq8ModelOf(spark: org.apache.spark.sql.SparkSession,
                         path: String, m: IvfManifest): Sq8Model = {
    require(m.sq8Model.nonEmpty,
      s"no SQ8 model at $path (index was never sq8AugmentIvf'd)")
    val dir = s"$path/${m.sq8Model.get}"
    val rows = spark.read.parquet(dir)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(rows.nonEmpty, s"no SQ8 model at $dir")
    Sq8Model(rows.map(_._2), rows.map(_._3))
  }

  /** IVF-SQ8 probe — the production compressed-serving shape: partition
    * pruning cuts to `nprobe` inverted lists, the RANKING pass projects
    * only (id, centroid_id, sq8_codes) — the float column never leaves
    * disk, 4× less scan at equal recall (PlanAuditSpec asserts the
    * ReadSchema) — ranks by the exact-integer code dot against the
    * driver-encoded query, keeps `shortlist`, and ONLY those rows'
    * floats are fetched (a second pruned scan semi-joined on the
    * broadcast shortlist ids) for the exact-cosine top-k.
    * Output: (idCol, centroid_id, ascore, score) by (score desc, id
    * asc), score rounded 6dp.
    */
  def ivfSq8Search(spark: org.apache.spark.sql.SparkSession, path: String,
                   queryVec: Seq[Double], k: Int = 5, nprobe: Int = 2,
                   shortlist: Int = 32, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && shortlist >= k,
      s"need shortlist >= k > 0, got k=$k shortlist=$shortlist")
    require(nprobe > 0, s"nprobe must be >= 1, got $nprobe")
    val (m, index) = resolveIvf(spark, path, -1L, idCol)
    val model = sq8ModelOf(spark, path, m)
    val probes = probeIds(index.centers, queryVec, nprobe)
    val qc = model.encode(queryVec)
    val qcArr = array(qc.map(lit): _*)
    val ascore = aggregate(
      zip_with(col("sq8_codes"), qcArr, (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    // tombstone-aware like every persisted-layout probe; no extra plan
    // node when the index has no tombstone table
    val pruned = index.assigned.filter(col("centroid_id").isin(probes: _*))
    val short = pruned
      .select(col(idCol), col("centroid_id"), ascore.as("ascore"))
      .orderBy(col("ascore").desc, col(idCol).asc)
      .limit(shortlist)
    val q = array(queryVec.map(lit): _*)
    pruned
      .select(col(idCol), col(vecCol))
      .join(broadcast(short), Seq(idCol))
      .withColumn("score", CosineSimilarity(col(vecCol), q))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("centroid_id"), col("ascore"),
        round(col("score"), 6).as("score"))
  }

  /** AFFINE-SQ8 two-stage top-k — the TRAINED counterpart of the
    * untrained per-vector symmetric [[sq8TopK]] (q114): rank the WHOLE
    * corpus by the integer dot product of its codes against the
    * pre-encoded query codes (exact 64-bit arithmetic —
    * hash-replayable), keep a `shortlist`, rescore ONLY the shortlist
    * with exact float cosine, return top-k.
    *
    * Plan shape: one corpus scan → codegen'd encode + int dot →
    * TakeOrderedAndProject(shortlist) → driver-sized exact rescore.
    * The scan carries no shuffle; at scale the codes column would be
    * PRE-computed at ingest (see [[sq8CodesCol]]) so the scan reads
    * 1 byte/dim instead of 4. Output: (idCol, ascore, score) by
    * (score desc, id asc), score rounded 6dp.
    */
  def sq8AffineTopK(corpus: DataFrame, model: Sq8Model, queryVec: Seq[Double],
                    k: Int = 5, shortlist: Int = 32,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && shortlist >= k,
      s"need shortlist >= k > 0, got k=$k shortlist=$shortlist")
    val qc = model.encode(queryVec)
    val qcArr = array(qc.map(lit): _*)
    val ascore = aggregate(
      zip_with(sq8CodesCol(model, vecCol), qcArr, (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val q = array(queryVec.map(lit): _*)
    corpus
      .withColumn("ascore", ascore)
      .orderBy(col("ascore").desc, col(idCol).asc)
      .limit(shortlist)
      .withColumn("score", CosineSimilarity(col(vecCol), q))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("ascore"),
        round(col("score"), 6).as("score"))
  }
}
