package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** Deterministic, oracle-replayable distinct-count sketches — the
  * bounded-memory cardinality layer for 100 TB corpora, where
  * `count(DISTINCT token)` per group is a vocabulary-sized shuffle and
  * anything cross-source is quadratic in vocabularies.
  *
  * Two classic sketches (Flajolet et al. 2007 HyperLogLog; Bar-Yossef
  * et al. 2002 / Beyer et al. 2007 k-minimum-values), both built on the
  * md5-prefix hash the rest of the engine uses, so DuckDB reconstructs
  * bit-identical sketches for the correctness gate — no engine-opaque
  * binary state (same portability argument as [[CountMin]]).
  *
  * Engine-stability note: every intermediate that decides a value is
  * INTEGER (hash buckets, rank positions, the 2^(55−ρ) register sum);
  * doubles appear only in the final estimates, each a single
  * correctly-rounded division of identical integer inputs on both
  * engines. No transcendental ever touches an emitted or ordering
  * column — the q101 lesson.
  */
object DistinctSketch {

  /** HLL register count (m = 2^6). 64 registers ≈ 13% relative error —
    * a demo-friendly size; the structure is identical at m = 2^14.
    */
  val HllM = 64

  /** α₆₄ · m² · 2^55 as an exact product of one parsed double constant
    * and powers of two (exponent shifts — exact), so both engines fold
    * the same double. α₆₄ = 0.709 (Flajolet et al. §4 for m = 64).
    */
  private val HllNumerator = 0.709 * 4096.0 * 36028797018963968.0

  /** HLL distinct estimate per group over `valueCol`: one exploded pass,
    * a (group, bucket)→max(ρ) partial-aggregating shuffle of at most
    * |groups|·m rows, then the closed-form estimate. Per value the
    * 60-bit hash splits into the low 6 register bits and a 54-bit tail w
    * with ρ = leading zeros + 1 = 55 − bitlength(w) (w = 0 → ρ = 55;
    * bitlength via length(bin(w)) — both engines print minimal binary
    * digits, '0' for zero). The register sum Σ_j 2^(55−ρ_j) runs over
    * all m registers (absent registers contribute 2^55) in exact long
    * arithmetic (≤ m·2^55 = 2^61 < 2^63); the only double op is the
    * final division. Small-range linear counting is deliberately
    * omitted: it needs ln(), which is not engine-stable — the raw
    * estimator is emitted as-is with the zero-register count alongside
    * for the consumer to judge.
    *
    * Output: (groupCol, n_zero_registers, hll_distinct).
    */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    hllEstimate(hllRegisters(df, groupCol, valueCol), groupCol)

  /** The sketch state itself: (group, bucket, rmax) — at most m rows per
    * group regardless of input size, and MERGEABLE by max(rmax), which
    * is what lets partial sketches from partitions, batches, or days be
    * combined without touching raw data.
    */
  def hllRegisters(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val h = HashFunctions.md5Int60(col(valueCol))
    val w = shiftright(h, 6) // == h div 64: h is non-negative, shift is exact
    val rho = when(w === 0L, lit(55)).otherwise(lit(55) - length(bin(w)))
    df.select(col(groupCol), pmod(h, lit(HllM.toLong)).as("bucket"), rho.as("rho"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("rho")).as("rmax"))
  }

  /** FUSED exact-distinct + HLL estimate per group in ONE pass over the
    * value stream: `count(DISTINCT value)` and the sketch share their
    * expensive step — the (group, value) distinct — so computing them
    * separately (as q130 did through round 10) scans and shuffles the
    * corpus twice for no reason. Here the distinct frame is aggregated
    * ONCE into (group, bucket) rows carrying BOTH max(ρ) and the count
    * of distinct values in that bucket; buckets partition the distinct
    * value set, so Σ n_distinct over a group's buckets IS the exact
    * distinct count, and no lineage is consumed twice (nothing to
    * checkpoint — the explode runs once, structurally).
    *
    * Scale shape: one corpus scan → one (group, value) distinct shuffle
    * (the exact side's irreducible cost; drop the exact column and use
    * [[hllDistinct]] when you don't want it) → a map-combined
    * (group, bucket) aggregate whose exchange carries ≤ |groups|·m rows.
    * Registers are hash-identical to [[hllRegisters]] (max over the
    * distinct set == max over the multiset), so the estimate matches
    * bit-for-bit.
    *
    * Output: (groupCol, exact_distinct, n_zero_registers, hll_distinct).
    */
  def hllDistinctWithExact(df: DataFrame, groupCol: String,
                           valueCol: String): DataFrame =
    hllWithExactFromDistinct(
      df.select(col(groupCol), col(valueCol)).distinct(),
      groupCol, HashFunctions.md5Int60(col(valueCol)))

  /** [[hllDistinctWithExact]] over a PRE-HASHED 60-bit column (r19: the
    * shingle consumers hash inside the native
    * [[graft.functions.ShingleHashes]] kernel — same md5Int60 longs, so
    * every register and the estimate are bit-identical; exact_distinct
    * counts distinct HASHES, which equals distinct values modulo the
    * measure-zero 60-bit collision the q97 index already pinned). The
    * distinct pass shuffles 8-byte keys instead of value strings.
    */
  def hllDistinctWithExactHashed(df: DataFrame, groupCol: String,
                                 hashCol: String): DataFrame =
    hllWithExactFromDistinct(
      df.select(col(groupCol), col(hashCol)).distinct(),
      groupCol, col(hashCol))

  private def hllWithExactFromDistinct(distinctDf: DataFrame,
                                       groupCol: String,
                                       h: Column): DataFrame = {
    val w = shiftright(h, 6)
    val rho = when(w === 0L, lit(55)).otherwise(lit(55) - length(bin(w)))
    distinctDf
      .select(col(groupCol), pmod(h, lit(HllM.toLong)).as("bucket"), rho.as("rho"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max(col("rho")).as("rmax"), count(lit(1)).as("n_distinct"))
      .groupBy(col(groupCol))
      .agg(
        sum(col("n_distinct")).as("exact_distinct"),
        sum(expr("shiftleft(1L, 55 - rmax)")).as("s_present"),
        count(lit(1)).as("n_present"))
      .select(
        col(groupCol),
        col("exact_distinct"),
        (lit(HllM.toLong) - col("n_present")).as("n_zero_registers"),
        round(
          lit(HllNumerator) /
            (col("s_present") +
              (lit(HllM.toLong) - col("n_present")) * shiftleft(lit(1L), 55))
              .cast("double"),
          4).as("hll_distinct"))
  }

  /** Closed-form estimate from a (group, bucket, rmax) register table. */
  def hllEstimate(regs: DataFrame, groupCol: String): DataFrame =
    regs.groupBy(col(groupCol))
      .agg(
        sum(expr("shiftleft(1L, 55 - rmax)")).as("s_present"),
        count(lit(1)).as("n_present"))
      .select(
        col(groupCol),
        (lit(HllM.toLong) - col("n_present")).as("n_zero_registers"),
        round(
          lit(HllNumerator) /
            (col("s_present") +
              (lit(HllM.toLong) - col("n_present")) * shiftleft(lit(1L), 55))
              .cast("double"),
          4).as("hll_distinct"))

  /** KMV sketch: the k smallest distinct 60-bit hashes per group. The
    * distinct pass shuffles VOCABULARY-sized (group, hash) rows — not
    * corpus-sized — and the rank window runs over that reduced table;
    * the sketch itself is ≤ k rows per group. Output: (groupCol,
    * rank 1..k, h).
    */
  def kmvSketch(df: DataFrame, groupCol: String, valueCol: String,
                k: Int = 256): DataFrame =
    kmvSketchHashed(
      df.select(col(groupCol), HashFunctions.md5Int60(col(valueCol)).as("h")),
      groupCol, "h", k)

  /** [[kmvSketch]] over a PRE-HASHED 60-bit column (r19: the shingle
    * consumers hash inside the native [[graft.functions.ShingleHashes]]
    * kernel, so the sketch must not re-hash — values are the same
    * md5Int60 longs either way, and the distinct pass shuffles 8-byte
    * keys instead of shingle strings).
    */
  def kmvSketchHashed(df: DataFrame, groupCol: String, hashCol: String,
                      k: Int = 256): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.select(col(groupCol), col(hashCol).as("h"))
      .distinct()
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("h").asc)))
      .filter(col("rank") <= k)
  }

  /** Pairwise set-operation estimates from KMV sketches (Beyer et al.
    * 2007): for each unordered group pair, merge the two ≤k-row
    * sketches, keep the k smallest hashes of the union, and count how
    * many sit in BOTH input sketches. With U = largest kept hash and
    * n_merged = number of kept rows:
    *   est_union        = (k−1) · 2^60 / U      (n_merged = k)
    *                    = n_merged               (n_merged < k: the
    *                      merged sketch IS the exact union hash set)
    *   est_jaccard      = overlap / n_merged
    *   est_intersection = est_jaccard · est_union.
    * Everything downstream of the sketches is |groups|²·k rows —
    * broadcast-scale for any real source count.
    *
    * Output: (group_a, group_b, overlap_k, est_union, est_jaccard,
    * est_intersection), group_a < group_b.
    */
  def kmvPairStats(sketch: DataFrame, groupCol: String,
                   k: Int = 256): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val g = sketch.select(col(groupCol).as("g"), col("h"))
    val pairs = g.select(col("g").as("group_a")).distinct()
      .crossJoin(g.select(col("g").as("group_b")).distinct())
      .filter(col("group_a") < col("group_b"))
    // per pair: every hash from either sketch with membership flags; a
    // hash in both sketches appears once (groupBy h) flagged twice
    val fromA = pairs.join(broadcast(g), col("group_a") === col("g"))
      .select(col("group_a"), col("group_b"), col("h"),
        lit(1).as("in_a"), lit(0).as("in_b"))
    val fromB = pairs.join(broadcast(g), col("group_b") === col("g"))
      .select(col("group_a"), col("group_b"), col("h"),
        lit(0).as("in_a"), lit(1).as("in_b"))
    val mergedK = fromA.unionByName(fromB)
      .groupBy(col("group_a"), col("group_b"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("group_a"), col("group_b"))
          .orderBy(col("h").asc)))
      .filter(col("rank") <= k)
    val estUnion = when(col("n_merged") < k, col("n_merged").cast("double"))
      .otherwise(lit((k - 1).toDouble * 1152921504606846976.0) /
        col("u_k").cast("double"))
    val estJaccard = col("overlap_k").cast("double") /
      col("n_merged").cast("double")
    mergedK.groupBy(col("group_a"), col("group_b"))
      .agg(
        sum((col("in_a") * col("in_b")).cast("long")).as("overlap_k"),
        max(col("h")).as("u_k"),
        count(lit(1)).as("n_merged"))
      .select(
        col("group_a"), col("group_b"), col("overlap_k"),
        round(estUnion, 4).as("est_union"),
        round(estJaccard, 6).as("est_jaccard"),
        round(estJaccard * estUnion, 4).as("est_intersection"))
  }
}
