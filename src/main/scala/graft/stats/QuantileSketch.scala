package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic log-linear quantile sketch — the bounded-memory
  * quantile layer for 100 TB corpora, complementing [[CountMin]]
  * (frequencies) and [[DistinctSketch]] (cardinalities). The exact
  * quantile path (q117) shuffles every distinct value per group; this
  * sketch reduces a group's entire value distribution to at most
  * 64·M = 2048 integer bucket counts that MERGE BY SUM — across
  * partitions, batches, or days — so a per-source length distribution
  * over a petabyte costs one |sources|·2048-row exchange (same
  * mergeability contract as the HLL registers, spec-asserted
  * bucket-for-bucket).
  *
  * The bucket family is DDSketch's relative-error design (Masson,
  * Lee & Rigollet, VLDB 2019) in its log₂-linear parameterization —
  * the one HdrHistogram popularized — chosen over the paper's
  * log_γ(v) index because ⌈log_γ v⌉ is a transcendental whose
  * boundary behavior differs across engines/libms (the q101 lesson:
  * no transcendental may decide an emitted value). Here every index
  * is pure integer arithmetic both engines reproduce bit-identically:
  *
  *   octave   e   = ⌊log₂ v⌋ = length(bin(v)) − 1   (minimal binary
  *                  digits — Spark and DuckDB print identically)
  *   sub-bucket   = ⌊(v − 2^e)·M / 2^e⌋ ∈ [0, M)
  *   bucket       = e·M + sub;  v = 0 keeps its own exact bucket −1.
  *
  * With M = 32 the relative bucket width is 2^e/M over a lower bound
  * ≥ 2^e, so any quantile read off the sketch is within 1/M ≈ 3.1 %
  * of an exact lower-quantile — the guarantee q134's rel_err column
  * exposes next to the exact value. Overflow-safe to v < 2^62: the
  * sub-bucket division divides by 2^(e−5) instead of multiplying
  * first (exact for e ≥ 5; for e < 5, M/2^e is itself a power of
  * two, so the multiply form is exact and small).
  */
object QuantileSketch {

  /** Sub-buckets per octave. 32 → ≤ 3.1 % relative error; the
    * structure is identical at 128 (0.8 %) — only the constant in the
    * |groups|·64·M exchange changes.
    */
  val M = 32

  /** SQL fragment (Spark-side) for the bucket index of non-negative
    * long column `v`. Kept as expr text so the identical arithmetic
    * reads side-by-side with the DuckDB oracle's.
    */
  private def bucketExpr(v: String): String =
    s"""CASE WHEN $v = 0 THEN -1L ELSE
       | (length(bin($v)) - 1) * $M +
       | CASE WHEN length(bin($v)) - 1 >= 5
       |   THEN ($v - shiftleft(1L, length(bin($v)) - 1)) div shiftleft(1L, length(bin($v)) - 6)
       |   ELSE ($v - shiftleft(1L, length(bin($v)) - 1)) * ($M div shiftleft(1L, length(bin($v)) - 1))
       | END END""".stripMargin.replaceAll("\n", " ")

  /** Bucket lower bound — the value a quantile read emits. Exact
    * integer: 2^e + sub·2^(e−5) (e ≥ 5), resp. the multiply form for
    * e < 5 where sub·2^e is divisible by M by construction.
    */
  private def lowerBoundExpr(b: String): String =
    s"""CASE WHEN $b = -1 THEN 0L ELSE
       | shiftleft(1L, cast($b div $M as int)) +
       | CASE WHEN $b div $M >= 5
       |   THEN ($b % $M) * shiftleft(1L, cast($b div $M as int) - 5)
       |   ELSE (($b % $M) * shiftleft(1L, cast($b div $M as int))) div $M
       | END END""".stripMargin.replaceAll("\n", " ")

  /** The sketch state: (group, bucket, cnt) — at most 64·M rows per
    * group regardless of input size, mergeable by sum(cnt). Negative
    * values are rejected per row (raise_error beats silently folding
    * them into the zero bucket); nulls are dropped.
    */
  def sketch(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol),
        when(col(valueCol) < 0, raise_error(concat(
          lit(s"QuantileSketch: negative $valueCol: "), col(valueCol))))
          .otherwise(col(valueCol).cast("long")).as("__v"))
      .select(col(groupCol), expr(bucketExpr("__v")).as("bucket"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Merge partial sketches (from partitions, batches, days): sum by
    * (group, bucket). Closed under further merging.
    */
  def merge(partials: DataFrame*): DataFrame =
    partials.reduce(_ unionByName _)
      .groupBy(col(partials.head.columns.head), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Read quantiles off a sketch: for each integer percent p, the
    * lower bound of the first bucket whose cumulative count reaches
    * rank ⌈p·n/100⌉ — the lower-quantile rule, all-integer so the
    * oracle lands on the identical bucket. Windows partition by group
    * over ≤ 64·M rows each; nothing corpus-sized runs here.
    * Output: (groupCol, p, est_value).
    */
  def quantilesFromSketch(sk: DataFrame, groupCol: String,
                          percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1,100], got $percents")
    val wCum = Window.partitionBy(col(groupCol))
      .orderBy(col("bucket").asc)
    val wAll = Window.partitionBy(col(groupCol))
    sk.withColumn("__cum", sum(col("cnt")).over(wCum))
      .withColumn("__n", sum(col("cnt")).over(wAll))
      .withColumn("p", explode(array(percents.map(lit): _*)))
      .withColumn("__target", expr("(__n * p + 99) div 100"))
      .filter(col("__cum") >= col("__target"))
      .groupBy(col(groupCol), col("p"))
      .agg(min(col("bucket")).as("__b"))
      .select(col(groupCol), col("p"),
        expr(lowerBoundExpr("__b")).as("est_value"))
  }

  /** One-shot convenience: sketch + read. */
  def quantiles(df: DataFrame, groupCol: String, valueCol: String,
                percents: Seq[Int]): DataFrame =
    quantilesFromSketch(sketch(df, groupCol, valueCol), groupCol, percents)

  /** Sketch estimates next to the exact lower-quantile under the SAME
    * integer rank rule, with the relative error exposed — the q134
    * surface. The exact side shuffles (group, value) distinct-value
    * counts (fine at verify scale; at 100 TB one ships only the
    * sketch — same division of labor as q130's exact_distinct column).
    * Output: (groupCol, p, exact_value, est_value, rel_err).
    */
  def quantileAudit(df: DataFrame, groupCol: String, valueCol: String,
                    percents: Seq[Int]): DataFrame = {
    val est = quantiles(df, groupCol, valueCol, percents)
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("__v").asc)
    val wAll = Window.partitionBy(col(groupCol))
    val exact = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast("long").as("__v"))
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .withColumn("p", explode(array(percents.map(lit): _*)))
      .withColumn("__target", expr("(__n * p + 99) div 100"))
      .filter(col("__cum") >= col("__target"))
      .groupBy(col(groupCol), col("p"))
      .agg(min(col("__v")).as("exact_value"))
    exact.join(est, Seq(groupCol, "p"))
      .select(col(groupCol), col("p"), col("exact_value"), col("est_value"),
        round((col("est_value") - col("exact_value")) /
          col("exact_value").cast("double"), 6).as("rel_err"))
  }
}
