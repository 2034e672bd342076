package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Corpus statistics — the reference's `/stats` endpoint aggregations
  * (`/root/reference/mock_vector_db_api.py:314-379`, SURVEY.md §2.6),
  * generalized over any chunk/document table. All are single partial→final
  * hash aggregates in Spark; the exact-distinct variants have
  * `approx_count_distinct` twins for the 100 TB path.
  */
object Stats {

  /** Exact percentile rank (strictly-below mass, ppm) of every DISTINCT
    * value of an integer column — rank normalization WITHOUT a global
    * sort. The q117 discipline: value-count histogram (one hash
    * aggregate), then a running sum over ≤ |distinct values| rows; the
    * result is a (value, pct_ppm) lookup the caller joins back onto the
    * corpus (broadcast for the bounded domains this serves — length,
    * token count, milli-ratios). A corpus-scale rank()/cume_dist() here
    * would be one reducer scanning everything; this never moves more
    * than the histogram.
    */
  def rankPercentilePpm(df: DataFrame, valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(valueCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    df.groupBy(col(valueCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__cum", coalesce(sum(col("__n")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__tot", sum(col("__n")).over(wAll))
      .select(col(valueCol), expr("(__cum * 1000000) div __tot").as("pct_ppm"))
  }

  /** A2: histogram by a category column; null/empty buckets to 'unknown'
    * (mock_vector_db_api.py:341).
    */
  def countByCategory(df: DataFrame, cat: String): DataFrame =
    df.groupBy(
        when(col(cat).isNull || col(cat) === "", lit("unknown"))
          .otherwise(col(cat)).as(cat))
      .agg(count(lit(1)).as("n"))

  /** EXACT distributed quantiles over a discrete-valued column with NO
    * global sort: the classic sort-based percentile is a non-starter at
    * 100 TB, and `percentile_approx` trades error for speed — but when
    * the value domain is discrete (char counts, token counts, ratings),
    * the exact answer falls out of a VALUE-COUNT histogram: one
    * two-phase (group, value) aggregate, a per-group running sum over
    * the ≤|distinct values| histogram rows (the window partition is
    * the histogram, never the corpus), and the p-quantile is the
    * smallest value whose cumulative count reaches ⌈p·n⌉ — tested as
    * the integer cross-multiplication cum·den ≥ n·num, so no float
    * ever decides a boundary.
    *
    * `quantiles` are (name, num, den) rationals, e.g.
    * ("median", 1, 2), ("p90", 9, 10). Output is long-form:
    * (groupCol, quantile, value, n_rows) — one row per group ×
    * quantile.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, groupCol: String,
                     quantiles: Seq[(String, Int, Int)] =
                       Seq(("p50", 1, 2), ("p90", 9, 10))): DataFrame = {
    require(quantiles.nonEmpty &&
      quantiles.forall { case (_, n, d) => n > 0 && d > 0 && n <= d },
      s"quantiles must be rationals in (0, 1], got $quantiles")
    val byG = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val hist = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(byG.orderBy(col(valueCol))))
      .withColumn("__n", sum(col("__c")).over(byG))
    val qs = array(quantiles.map { case (nm, num, den) =>
      struct(lit(nm).as("name"), lit(num.toLong).as("num"), lit(den.toLong).as("den"))
    }: _*)
    hist
      .select(col(groupCol), col(valueCol), col("__cum"), col("__n"),
        explode(qs).as("__q"))
      .filter(col("__cum") * col("__q.den") >= col("__n") * col("__q.num"))
      .groupBy(col(groupCol), col("__q.name").as("quantile"))
      .agg(min(col(valueCol)).as("value"), max(col("__n")).as("n_rows"))
  }

  /** Winsorized per-group moments: mean/std of `valueCol` AFTER clipping
    * to the group's own exact [lo, hi] quantiles — the robust-statistics
    * pass a corpus length/score audit wants (a handful of 100 MB crawl
    * blobs otherwise owns the mean). Quantiles come from
    * [[exactQuantiles]]'s histogram discipline (no sort, no
    * percentile_approx error bar), pivoted to one (group, lo, hi) row
    * and BROADCAST back onto the scan (|groups| rows, aggregate-bounded
    * — the plan-audit-clean broadcast shape).
    *
    * Engine stability: clipped values are integers, so the clipped sum
    * and sum of squares accumulate in decimal(38,0) (exact at any
    * corpus size; a long Σv² overflows at ~9e18). The only doubles are
    * the final mean and the population std — one division and one
    * IEEE-correctly-rounded sqrt over identical integers on both
    * engines, then rounded.
    *
    * Output: (groupCol, n_rows, lo, hi, n_clipped_low, n_clipped_high,
    * win_mean, win_std).
    */
  def winsorizedStats(df: DataFrame, valueCol: String, groupCol: String,
                      lo: (Int, Int) = (1, 20), hi: (Int, Int) = (19, 20)): DataFrame = {
    require(lo._1.toLong * hi._2 < hi._1.toLong * lo._2,
      s"lo quantile must be below hi, got $lo vs $hi")
    val q = exactQuantiles(df, valueCol, groupCol,
      Seq(("lo", lo._1, lo._2), ("hi", hi._1, hi._2)))
    val bounds = q.groupBy(col(groupCol)).agg(
      max(when(col("quantile") === "lo", col("value"))).as("__lo"),
      max(when(col("quantile") === "hi", col("value"))).as("__hi"))
    val clipped = df
      .join(broadcast(bounds), Seq(groupCol))
      .select(col(groupCol), col(valueCol).cast("long").as("__v"),
        col("__lo"), col("__hi"))
      .withColumn("__c", least(greatest(col("__v"), col("__lo")), col("__hi")))
    clipped.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        max(col("__lo")).as("lo"),
        max(col("__hi")).as("hi"),
        sum(when(col("__v") < col("__lo"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("__v") > col("__hi"), 1L).otherwise(0L)).as("n_clipped_high"),
        sum(col("__c").cast("decimal(38,0)")).as("__sc"),
        // cast-then-multiply: a long*long square wraps before the cast
        // for values past ~3e9 (decimal(19,0)^2 widens to (38,0) exactly)
        sum(col("__c").cast("decimal(19,0)") * col("__c").cast("decimal(19,0)"))
          .as("__scc"))
      .select(col(groupCol), col("n_rows"), col("lo"), col("hi"),
        col("n_clipped_low"), col("n_clipped_high"),
        round(col("__sc").cast("double") / col("n_rows").cast("double"), 4)
          .as("win_mean"),
        // clamp at 0: on a near-constant group the exact-integer moments
        // can round to an epsilon-NEGATIVE variance in double, and
        // sqrt(-eps) is NaN — the clamp is engine-mirrored in the oracle
        round(sqrt(greatest(lit(0.0),
          (col("__scc").cast("double") -
            col("__sc").cast("double") * col("__sc").cast("double") /
              col("n_rows").cast("double")) / col("n_rows").cast("double"))),
          4).as("win_std"))
  }

  /** A1+A3+A4: one-row corpus summary. `approxDistinct` swaps the exact
    * count-distinct (a full shuffle of distinct values) for HLL — the
    * right default at 100 TB.
    */
  def corpusStats(df: DataFrame, pathCol: String, contentCol: String,
                  approxDistinct: Boolean = false): DataFrame = {
    val nd: Column =
      if (approxDistinct) approx_count_distinct(col(pathCol))
      else countDistinct(col(pathCol))
    df.agg(
      count(lit(1)).as("total_documents"),
      nd.as("unique_files"),
      round(sum(length(col(contentCol))) / 1024.0, 4).as("total_content_kb"))
  }

  /** A5: avg chunks per file with last-wins dedup by path — the reference
    * builds a path→total_chunks dict in insertion order then averages the
    * values (mock_vector_db_api.py:354-360). `orderCol` supplies the
    * insertion order ("last" is meaningless on an unordered DataFrame).
    */
  def avgChunksPerFile(df: DataFrame, pathCol: String,
                       totalChunksCol: String, orderCol: String): DataFrame =
    df.groupBy(col(pathCol))
      // composite max_by key: bare max_by makes no tie-break promise, so
      // equal orderCol values (same ingest timestamp) would pick a
      // partition-order-dependent winner; ties now break on the larger
      // chunk count, deterministically
      .agg(max_by(col(totalChunksCol),
        struct(col(orderCol), col(totalChunksCol))).as("last_chunks"))
      .agg(avg(col("last_chunks")).as("avg_chunks_per_file"))

  /** Top-k rows per group ("best documents per domain"). One shuffle on
    * the group keys; the rank window never sorts globally, so at 100 TB
    * each task ranks only its own groups. Ties are broken by `tieBreak`
    * so the result is deterministic (and oracle-comparable).
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   order: Column, tieBreak: Column, k: Int,
                   rankCol: String = "rk"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(!df.columns.contains(rankCol),
      s"input already has a '$rankCol' column — pass a different rankCol " +
        "instead of silently overwriting it")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(order, tieBreak)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Deterministic stratified sampling: a row survives iff the md5-derived
    * hash of its key falls under its stratum's per-mille fraction. RNG-free,
    * so the sample is stable across runs/retries/executors — the property
    * `df.sampleBy` (seeded Bernoulli per partition) cannot give when the
    * partitioning changes. A pure narrow filter: no shuffle, pushes past
    * nothing but reads only key + stratum columns.
    */
  def stratifiedSampleByHash(df: DataFrame, strataCol: String, keyCol: String,
                             perMille: Map[String, Int],
                             defaultPerMille: Int): DataFrame = {
    require((defaultPerMille +: perMille.values.toSeq)
      .forall(p => p >= 0 && p <= 1000), "per-mille fractions must be in [0,1000]")
    val bucket = graft.functions.HashFunctions
      .md5Int32(col(keyCol).cast("string")) % 1000
    val cut = perMille.foldLeft(lit(defaultPerMille)) { case (acc, (s, p)) =>
      when(col(strataCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(bucket < cut)
  }

  /** Corpus snapshot diff: given two versions of a document table keyed by
    * `idCol`, classify every key as added / removed / changed / unchanged
    * and count each class. Both sides are reduced to (id, content-hash)
    * BEFORE the join, so the full-outer exchange carries two longs per
    * row — never document text. That is the property that makes
    * "diff two 100 TB crawls" a cheap join instead of a content shuffle;
    * the id-keyed hash partitioning is skew-free by construction.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val ha = a.select(col(idCol),
      graft.functions.HashFunctions.md5Int32(col(textCol)).as("h_a"))
    val hb = b.select(col(idCol),
      graft.functions.HashFunctions.md5Int32(col(textCol)).as("h_b"))
    ha.join(hb, Seq(idCol), "full_outer")
      .select(
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Deterministic class-balance undersampling report: each stratum is
    * down-sampled toward the minority stratum's count by the md5-hash
    * rate rule `hash(id) % 1000 < (1000·n_min) div n_orig` — integer
    * division on both sides of the oracle boundary, RNG-free, stable
    * under retries/repartitioning, and window-free (no per-stratum
    * row_number sort; a global sort per class is exactly what this
    * phrasing avoids at scale). Emits (stratum, n_orig, n_kept).
    * The rate rule keeps ≈n_min per class, not exactly n_min — the
    * documented trade for a scan-only plan.
    */
  def balancedSample(df: DataFrame, strataCol: String,
                     keyCol: String): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_orig"))
    val withMin = counts.crossJoin(counts.agg(min(col("n_orig")).as("n_min")))
    val bucket = graft.functions.HashFunctions
      .md5Int32(col(keyCol).cast("string")) % 1000
    df.join(broadcast(withMin), strataCol)
      .filter(bucket < expr("(1000 * n_min) div n_orig"))
      .groupBy(col(strataCol))
      .agg(max(col("n_orig")).as("n_orig"), count(lit(1)).as("n_kept"))
  }

  /** Temperature-based mixture sampling (the multilingual /
    * multi-source rebalancing rule of XLM-R and mT5: sampling weight ∝
    * p_s^α, here at α = 1/2 — the member of the family whose weight is
    * sqrt, an IEEE correctly-rounded op both engines compute
    * identically, where p^0.3 would be a transcendental the q101
    * lesson forbids in a decision). Each stratum's per-row keep rate
    * realizes expected counts ∝ √n_s under a total budget of
    * ⌊N·budgetNum/budgetDen⌋ rows, capped at rate 1 (a stratum is
    * never up-sampled — same cap UniMax applies via epochs).
    *
    * Engine-stability: weights quantize to integer milli-units
    * (⌊√(n_s·10⁶)⌋) BEFORE the cross-stratum sum, so Σw is an
    * order-free integer aggregate; the rate is one double expression
    * over those integers with a fixed association, floored to integer
    * micro-units; selection is the RNG-free md5 rate rule of
    * [[balancedSample]]. Scan-only plan: counts broadcast back, no
    * per-stratum window, corpus never key-shuffled.
    * Emits (stratum, n_orig, rate_micro, n_kept).
    */
  def temperatureSample(df: DataFrame, strataCol: String, keyCol: String,
                        budgetNum: Long = 1, budgetDen: Long = 2): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0,
      s"need a positive budget fraction, got $budgetNum/$budgetDen")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_orig"))
      .withColumn("w_milli",
        floor(sqrt(col("n_orig").cast("double") * 1000000.0)).cast("long"))
    val tot = counts.agg(sum(col("n_orig")).as("n_total"),
      sum(col("w_milli")).as("w_total"))
    val rates = counts.crossJoin(tot)
      .withColumn("budget", expr(s"(n_total * $budgetNum) div $budgetDen"))
      .withColumn("rate_micro",
        least(lit(1000000L),
          floor(lit(1000000.0) * col("budget").cast("double") *
              col("w_milli").cast("double") /
              (col("w_total").cast("double") * col("n_orig").cast("double")))
            .cast("long")))
      .select(col(strataCol), col("n_orig"), col("rate_micro"))
    df.join(broadcast(rates), strataCol)
      .filter(graft.functions.HashFunctions.md5Int32(col(keyCol).cast("string"))
        % 1000000 < col("rate_micro"))
      .groupBy(col(strataCol))
      .agg(max(col("n_orig")).as("n_orig"),
        max(col("rate_micro")).as("rate_micro"),
        count(lit(1)).as("n_kept"))
  }

  /** Decile calibration of an integer-quantized score against a binary
    * outcome — "does the quality score actually predict the thing we
    * filter for?" Bins are EXACT corpus deciles of the score (the
    * [[exactQuantiles]] cumulative-mass rule, cum·10 ≥ n·k), computed
    * from a value-count histogram, so the global-sort trap never
    * appears: `scoreCol` MUST be integer-quantized (e.g. a per-mille
    * ratio in [0, 1000]) so the histogram — and the unpartitioned
    * running-sum window over it — is bounded by the value domain, not
    * the corpus. Docs land in bucket 1 + |{k : b_k < score}| (strict
    * less, so ties collapse deterministically; degenerate boundaries
    * merge buckets rather than split rows).
    *
    * Output: (decile, n_docs, score_lo, score_hi, outcome_rate) — a
    * monotone outcome_rate over decile is the score doing its job.
    *
    * Scale shape: one (score → count) aggregate, window over ≤|domain|
    * histogram rows, 9 boundary values broadcast back as one array
    * literal row, one final 10-row aggregate. The corpus is scanned
    * once and never key-shuffled.
    */
  /** Exact cum-mass bucket boundaries of an integer-quantized score —
    * THE one decile rule (q155's calibration and q172's curriculum
    * striping both ride it; a tie-handling change here moves both in
    * lockstep, which is the point of sharing it). One ≤-|distinct
    * scores|-row window over the score histogram; returns a 1-row frame
    * holding the sorted boundary array `__bs`, sized for broadcast.
    */
  def bucketBounds(df: DataFrame, scoreCol: String, buckets: Int): DataFrame = {
    val hist = df.groupBy(col(scoreCol)).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col(scoreCol))))
      .withColumn("__n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val ks = array((1 until buckets).map(k => lit(k.toLong)): _*)
    hist
      .select(col(scoreCol), col("__cum"), col("__n"), explode(ks).as("__k"))
      .filter(col("__cum") * buckets >= col("__n") * col("__k"))
      .groupBy(col("__k")).agg(min(col(scoreCol)).as("__b"))
      .agg(sort_array(collect_list(col("__b"))).as("__bs"))
  }

  /** 1-based bucket index of a score against a joined-in `__bs` bounds
    * array (count of strictly-smaller boundaries + 1).
    */
  def bucketIndex(score: Column): Column =
    (size(filter(col("__bs"), b => b < score)) + lit(1)).cast("long")

  def scoreCalibration(df: DataFrame, scoreCol: String, outcomeCol: String,
                       buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, s"need 2 <= buckets <= 1000, got $buckets")
    df.crossJoin(broadcast(bucketBounds(df, scoreCol, buckets)))
      .withColumn("__bucket", bucketIndex(col(scoreCol)))
      .groupBy(col("__bucket").as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(scoreCol)).as("score_lo"),
        max(col(scoreCol)).as("score_hi"),
        round(avg(col(outcomeCol).cast("double")), 6).as("outcome_rate"))
  }

  /** Weekly cohort retention: cohort = ISO week (Monday-truncated) of a
    * user's first activity; retention(c, k) = |cohort-c users active in
    * week c+k| / |cohort c|. The corpus-collection health read ("are the
    * crawl's sources still producing?") and the classic product-analytics
    * primitive.
    *
    * Scale shape: the (user, week) activity grid is distinct-aggregated
    * FIRST (shuffle on (user, week) — |users|·|weeks| rows at worst, not
    * |events|), first-week via one more user-keyed aggregate, then a
    * user-co-partitioned shuffle join grid⋈first, and a |weeks|²-bounded
    * final aggregate. Because the grid is distinct per (user, week) and
    * the offset is injective given the cohort, the active-user count is a
    * plain count — no count-distinct expansion. Cohort sizes are a
    * |weeks|-row broadcast.
    */
  def retentionCohorts(events: DataFrame, userCol: String = "user_id",
                       tsCol: String = "ts"): DataFrame =
    retentionFromGrid(activityGrid(events, userCol, tsCol))

  /** The (user, ISO-week) activity grid — retention's minimal sufficient
    * statistic, and its mergeable partial: grids of disjoint event
    * subsets union-distinct to the grid of their union.
    */
  def activityGrid(events: DataFrame, userCol: String = "user_id",
                   tsCol: String = "ts"): DataFrame =
    events
      .select(col(userCol).as("user_id"),
        date_trunc("week", col(tsCol)).cast("date").as("week"))
      .distinct()

  /** Retention from an already-distinct (user_id, week) activity grid
    * ([[activityGrid]]'s output). Input MUST be distinct per
    * (user_id, week); a duplicated row would double-count.
    */
  def retentionFromGrid(gridIn: DataFrame): DataFrame = {
    val grid = gridIn
      .select(col("user_id").as("__u"), col("week").as("__week"))
      .localCheckpoint(eager = true) // grid + first-week both read one scan
    val first = grid.groupBy(col("__u")).agg(min(col("__week")).as("__cw"))
    val sizes = first.groupBy(col("__cw")).agg(count(lit(1)).as("cohort_users"))
    grid.join(first, Seq("__u"))
      .select(col("__cw"), expr("datediff(__week, __cw) div 7").as("week_offset"))
      .groupBy(col("__cw"), col("week_offset"))
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(sizes), Seq("__cw"))
      // ISO string, not DateType: date32 vs an oracle DATE hash
      // differently in serialized compares
      .select(date_format(col("__cw"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("active_users"), col("cohort_users"),
        round(col("active_users").cast("double") /
          col("cohort_users").cast("double"), 6).as("retention"))
  }

  /** k-anonymity risk audit (Sweeney 2002): an equivalence class is a
    * distinct tuple of the quasi-identifier columns; a class smaller than
    * k re-identifies its members. For each k in `ks`, reports classes
    * below k, the rows they expose, and the exposed fraction — the
    * privacy gate a pipeline runs BEFORE publishing corpus metadata.
    *
    * Scale shape: one hash aggregate to class sizes (quasi-identifier-
    * domain-bounded rows), a ×|ks| explode on that small frame, one final
    * |ks|-row aggregate — nothing corpus-sized past the first exchange.
    */
  /** Exact two-sample Kolmogorov–Smirnov distance of each group's
    * `valueCol` distribution against the REST of the corpus:
    * D_g = max_v |CDF_g(v) − CDF_rest(v)|, evaluated at every distinct
    * corpus value (where the step functions jump — the exact statistic,
    * not a quantile approximation). The distribution-shift screen that
    * catches what a mean/quantile comparison can't (shape changes at
    * equal medians); PSI (q106) needs a bucket scheme, KS doesn't.
    *
    * Scale shape: ONE corpus-scale exchange (the (group, value) count
    * aggregate); everything downstream lives on the |groups|·|values|
    * histogram grid — value totals re-aggregated from it, the grid built
    * by crossing distinct values with the |groups|-row totals frame
    * (aggregate-bounded broadcast), cumulative sums under a
    * PARTITIONED-by-group window, and a |groups|-row max. `valueCol`
    * must be domain-bounded (ints like lengths/counts, or pre-quantized
    * doubles) — the grid is |groups|·|distinct values|.
    */
  def ksDrift(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = true) // values + groups + grid read it
    val values = counts.groupBy(col(valueCol)).agg(sum(col("__c")).as("__call"))
    val groups = counts.groupBy(col(groupCol)).agg(sum(col("__c")).as("__ns"))
    val total = groups.agg(sum(col("__ns")).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    values
      .crossJoin(broadcast(groups))
      .join(counts, Seq(groupCol, valueCol), "left")
      .na.fill(0L, Seq("__c"))
      .withColumn("__cums", sum(col("__c")).over(w))
      .withColumn("__cuma", sum(col("__call")).over(w))
      .crossJoin(broadcast(total))
      .filter(col("__ns") < col("__n")) // rest-side empty ⇒ KS undefined
      .withColumn("__d", abs(
        col("__cums").cast("double") / col("__ns").cast("double") -
          (col("__cuma") - col("__cums")).cast("double") /
            (col("__n") - col("__ns")).cast("double")))
      .groupBy(col(groupCol))
      .agg(max(col("__ns")).as("n_rows"), round(max(col("__d")), 6).as("ks_d"))
  }

  /** Population stability index (q106) of the quality-score and
    * doc-length distributions between the two halves of ONE document
    * scan, split by the boolean `isRefCol` (true = reference snapshot):
    * one pass with a flag instead of one scan per side. Fixed buckets
    * (quality ×10 → 11 buckets, token count /20 capped at 9 → 10
    * buckets) and add-one smoothing by the feature's full bucket-range
    * cardinality keep every number an exact integer until the final ln.
    * Buckets seen on one side only take part with count 0 on the other.
    * Output: (feature, n_buckets, psi), one row per feature present.
    */
  def psiPaired(docs: DataFrame, isRefCol: String): DataFrame = {
    val base = docs
      .withColumn("__w", TextAnalysis.tokens(col("text")))
      .select(col(isRefCol),
        TextAnalysis.qualityScoreFromTokens(col("text"), col("__w")).as("__q"),
        size(col("__w")).cast("long").as("__n_tokens"))
    val quality = base.select(col(isRefCol), lit("quality").as("feature"),
      floor(col("__q") * 10).cast("long").as("bucket"))
    val length = base.select(col(isRefCol), lit("length").as("feature"),
      least(floor(col("__n_tokens") / 20), lit(9L)).cast("long").as("bucket"))
    val flagged = quality.unionByName(length)
      .groupBy(col("feature"), col("bucket"))
      .agg(sum(when(col(isRefCol), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col(isRefCol), 1L).otherwise(0L)).as("n_cur"))
      .withColumn("__nb",
        when(col("feature") === "quality", lit(11)).otherwise(lit(10)))
    val totals = flagged.groupBy(col("feature"))
      .agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    flagged.join(broadcast(totals), Seq("feature"))
      .withColumn("p_ref",
        (col("n_ref") + 1).cast("double") / (col("t_ref") + col("__nb")))
      .withColumn("p_cur",
        (col("n_cur") + 1).cast("double") / (col("t_cur") + col("__nb")))
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("n_buckets"),
        round(sum((col("p_cur") - col("p_ref")) *
          log(col("p_cur") / col("p_ref"))), 6).as("psi"))
  }

  /** Burstiness of each event type as the Fano factor of its per-hour
    * counts: F = var/mean over the grid of ALL corpus-observed hours
    * (zero hours included — they change n, not the sums, so no grid
    * materializes). F ≈ 1 is Poisson-like arrival; F ≫ 1 flags bursty
    * types (crawler stampedes, batch replays) that need admission
    * smoothing before rate-based anomaly rules make sense. From integer
    * sums only: n = |distinct hours| (corpus-wide), S1 = Σc, S2 = Σc²
    * per type ⇒ F = S2/S1 − S1/n — deterministic doubles off exact
    * longs. One (type, hour) hash aggregate is the only corpus-scale
    * exchange; S2 overflow needs a single hour-bucket of one type past
    * ~3e9 events, far beyond an hourly bucket's plausible mass.
    */
  def fanoFactor(events: DataFrame, typeCol: String = "event_type",
                 tsCol: String = "ts"): DataFrame = {
    val perHour = events
      .select(col(typeCol).as("__t"), date_trunc("hour", col(tsCol)).as("__h"))
      .groupBy(col("__t"), col("__h")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(eager = true) // hour total + per-type sums share it
    val hours = perHour.select(col("__h")).distinct()
      .agg(count(lit(1)).as("__n"))
    perHour.groupBy(col("__t"))
      .agg(sum(col("__c")).as("__s1"), sum(col("__c") * col("__c")).as("__s2"),
        count(lit(1)).as("active_hours"))
      .crossJoin(broadcast(hours))
      .select(col("__t").as(typeCol), col("__n").as("n_hours"),
        col("active_hours"), col("__s1").as("n_events"),
        round(col("__s2").cast("double") / col("__s1").cast("double") -
          col("__s1").cast("double") / col("__n").cast("double"), 6).as("fano"))
  }

  /** Exact Gini concentration of `valueCol` mass per group, computed
    * from the value histogram (exact for discrete data — every member
    * of a histogram bucket holds the same value): with buckets sorted
    * by value, G = 1 − Σᵢ cᵢ·(cumvᵢ₋₁ + cumvᵢ) / (n·T). The
    * inequality statistic a mixture designer reads next to q154's KL:
    * does one source's mass sit in a few giant documents?
    *
    * Scale shape: one (group, value) hash aggregate (the only corpus-
    * scale exchange), then windows PARTITIONED by group over the
    * domain-bounded histogram grid. The Σ term is accumulated as an
    * ORDERED window sum of doubles (sequential in value order on any
    * engine — deterministic, and immune to the long overflow a
    * corpus-scale n·T product would hit); only the final bucket's row
    * (cum count = n) survives to the |groups|-row output.
    */
  def giniByGroup(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__v", col(valueCol).cast("double") * col("__c").cast("double"))
      .withColumn("__cumc", sum(col("__c")).over(w))
      .withColumn("__cumv", sum(col("__v")).over(w))
      .withColumn("__term",
        col("__c").cast("double") * (lit(2.0) * col("__cumv") - col("__v")))
      .withColumn("__g", sum(col("__term")).over(w))
      .withColumn("__n", max(col("__cumc")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))))
      .withColumn("__t", max(col("__cumv")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))))
      .filter(col("__cumc") === col("__n")) // the last bucket's row
      .select(col(groupCol), col("__n").as("n_rows"),
        round(col("__t"), 1).as("total_value"),
        round(lit(1.0) - col("__g") /
          (col("__n").cast("double") * col("__t")), 6).as("gini"))
  }

  def kAnonymity(df: DataFrame, quasiIds: Seq[Column],
                 ks: Seq[Long] = Seq(2L, 5L, 10L, 20L)): DataFrame = {
    require(quasiIds.nonEmpty, "need at least one quasi-identifier column")
    require(ks.nonEmpty && ks.forall(_ >= 2), s"need ks all >= 2, got $ks")
    df.groupBy(quasiIds: _*)
      .agg(count(lit(1)).as("__cls"))
      .select(col("__cls"), explode(array(ks.map(lit(_)): _*)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("total_classes"),
        sum(col("__cls")).as("total_docs"),
        count(when(col("__cls") < col("k"), lit(1))).as("risky_classes"),
        coalesce(sum(when(col("__cls") < col("k"), col("__cls"))), lit(0L))
          .as("risky_docs"))
      .withColumn("risk_frac", round(col("risky_docs").cast("double") /
        col("total_docs").cast("double"), 6))
  }

  /** Event-time disorder audit — the measurement that sizes
    * `withWatermark`. Lateness of an event is `running-max(event time
    * over arrivals so far) − its own event time`: exactly how far a
    * streaming watermark tracking max-seen-ts would have advanced past
    * it. Reported per type as the late fraction plus p50/p95/p99/max
    * lateness seconds; pick the watermark delay at the tail quantile the
    * pipeline can tolerate dropping.
    *
    * The naive running max is ONE unpartitioned window over the corpus —
    * the single-reducer shape the plan audit exists to reject. Instead
    * the classic two-level prefix scan: arrival order is blocked by
    * `arrivalCol div blockSize`; per-block maxima (hash aggregate,
    * corpus-scale but shuffle-free map-side combine) get a prefix-max
    * window over |N/blockSize| skinny rows, and each event's running max
    * is `greatest(previous blocks' prefix max, intra-block running max)`
    * where the intra-block window is PARTITIONED by block. At 1e11
    * events and the default block of 65536 the global window sees ~1.5M
    * 16-byte rows — a single reducer's worth of nothing — while both
    * corpus-scale passes stay partitioned.
    */
  def disorderAudit(events: DataFrame, typeCol: String = "event_type",
                    tsCol: String = "ts", arrivalCol: String = "event_id",
                    blockSize: Long = 65536L): DataFrame =
    finishLateness(
      latenessHistogram(events, typeCol, tsCol, arrivalCol, blockSize), typeCol)

  /** The (type, lateness_s, cnt) histogram [[disorderAudit]] is
    * finished from.
    */
  def latenessHistogram(events: DataFrame, typeCol: String = "event_type",
                        tsCol: String = "ts", arrivalCol: String = "event_id",
                        blockSize: Long = 65536L): DataFrame = {
    require(blockSize >= 2, s"need blockSize >= 2, got $blockSize")
    val w = org.apache.spark.sql.expressions.Window
    val ev = events.select(col(typeCol), col(tsCol), col(arrivalCol))
      .withColumn("__blk", expr(s"$arrivalCol div $blockSize"))
    val blkPrefix = ev.groupBy(col("__blk")).agg(max(col(tsCol)).as("__blkmax"))
      .withColumn("__prevmax", max(col("__blkmax")).over(
        w.orderBy(col("__blk")).rowsBetween(w.unboundedPreceding, -1)))
      .select(col("__blk"), col("__prevmax"))
    ev.join(blkPrefix, Seq("__blk"))
      .withColumn("__inmax", max(col(tsCol)).over(
        w.partitionBy(col("__blk")).orderBy(col(arrivalCol))
          .rowsBetween(w.unboundedPreceding, 0)))
      .withColumn("__runmax",
        greatest(col("__inmax"), coalesce(col("__prevmax"), col("__inmax"))))
      .select(col(typeCol),
        (unix_timestamp(col("__runmax")) - unix_timestamp(col(tsCol)))
          .as("lateness_s"))
      .groupBy(col(typeCol), col("lateness_s"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** q117 cum-mass finisher over a (type, lateness_s, cnt) histogram —
    * the batch audit's (q171) last step.
    */
  def finishLateness(hist: DataFrame,
                     typeCol: String = "event_type"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val cum = hist
      .withColumn("__cum", sum(col("cnt")).over(
        w.partitionBy(col(typeCol)).orderBy(col("lateness_s"))))
      .withColumn("__n", sum(col("cnt")).over(w.partitionBy(col(typeCol))))
    cum.groupBy(col(typeCol))
      .agg(max(col("__n")).as("n_events"),
        coalesce(sum(when(col("lateness_s") > 0, col("cnt"))), lit(0L))
          .as("n_late"),
        min(when(col("__cum") * 2 >= col("__n"), col("lateness_s"))).as("p50_s"),
        min(when(col("__cum") * 20 >= col("__n") * 19, col("lateness_s"))).as("p95_s"),
        min(when(col("__cum") * 100 >= col("__n") * 99, col("lateness_s"))).as("p99_s"),
        max(col("lateness_s")).as("max_s"))
      .withColumn("late_frac",
        round(col("n_late").cast("double") / col("n_events").cast("double"), 6))
      .select(col(typeCol), col("n_events"), col("n_late"), col("late_frac"),
        col("p50_s"), col("p95_s"), col("p99_s"), col("max_s"))
  }

  /** Per-type seasonality: lag autocorrelation of the hourly event-count
    * series over the COMPLETED corpus hour grid (absent hours count 0 —
    * computing autocorrelation over active hours only destroys the very
    * gaps that carry the periodicity). r at lag 24 ≈ 1 means strong
    * daily rhythm — batch-driven or timezone-concentrated traffic, which
    * changes capacity planning and windowed-aggregation sizing; r ≈ 0
    * means arrival is steady and q164's Fano burstiness is local, not
    * periodic. One corpus-scale (type, hour) hash aggregate; the grid,
    * the mean join, and the lag windows are all calendar-bounded
    * (|types|·|hours| rows at any corpus size).
    */
  def seasonality(events: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts",
                  lags: Seq[Int] = Seq(1, 24)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), s"need lags all >= 1, got $lags")
    val w = org.apache.spark.sql.expressions.Window
    val ph = events
      .groupBy(col(typeCol), expr(s"unix_timestamp($tsCol) div 3600").as("__h"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint() // corpus aggregate; bounds/types/grid all read it
    val bounds = ph.agg(min(col("__h")).as("__h0"), max(col("__h")).as("__h1"))
    val hours = bounds.select(explode(sequence(col("__h0"), col("__h1"))).as("__h"))
    val types = ph.select(col(typeCol)).distinct()
    val grid = types.crossJoin(broadcast(hours))
      .join(ph, Seq(typeCol, "__h"), "left")
      .select(col(typeCol), col("__h"),
        coalesce(col("__c"), lit(0L)).cast("double").as("__y"))
    // per-type mean/count as PARTITIONED window expressions instead of a
    // groupBy + join-back (one fewer broadcast-build job; same
    // calendar-bounded frame — the r13 q179 discipline)
    val wt = w.partitionBy(col(typeCol))
    val lw = wt.orderBy(col("__h"))
    val withMu = grid
      .withColumn("__mu", avg(col("__y")).over(wt))
      .withColumn("__n", count(lit(1)).over(wt))
    val lagged = lags.foldLeft(withMu) { (d, l) =>
      d.withColumn(s"__y$l", lag(col("__y"), l).over(lw))
    }
    val aggs =
      Seq(max(col("__n")).as("n_hours"), max(col("__mu")).as("__mu2"),
        sum((col("__y") - col("__mu")) * (col("__y") - col("__mu"))).as("__den")) ++
      lags.map(l => sum(when(col(s"__y$l").isNotNull,
        (col("__y") - col("__mu")) * (col(s"__y$l") - col("__mu")))).as(s"__num$l"))
    val s0 = lagged.groupBy(col(typeCol)).agg(aggs.head, aggs.tail: _*)
    lags.foldLeft(
      s0.withColumn("mean_per_hour", round(col("__mu2"), 6))) { (d, l) =>
      d.withColumn(s"r_lag$l",
        when(col("__den") > 0, round(col(s"__num$l") / col("__den"), 6))
          .otherwise(lit(null).cast("double")))
    }.select(col(typeCol) +: col("n_hours") +: col("mean_per_hour") +:
      lags.map(l => col(s"r_lag$l")): _*)
  }

  /** Per-type daily-volume trend: closed-form OLS of events-per-day on
    * the day index, with R² — the capacity-planning read ("is this event
    * type growing, and how linearly?") that eyeballing q164's burstiness
    * can't give. The day grid is completed per type (a type with no
    * events on an active corpus day contributes y = 0 — trends over
    * active-days-only are biased toward flat), so the regression frame
    * is |types|·|corpus days| rows: calendar-bounded at ANY corpus size,
    * which is why the broadcast of the day frame is safe at every scale.
    * One corpus-scale hash aggregate (type × day counts); sums feeding
    * the normal equations are doubles (Σy² overflows a long once daily
    * volumes pass ~1e9 at 100 TB).
    */
  def volumeTrend(events: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts"): DataFrame = {
    val (grid0, day0) = dayCountGrid(events, typeCol, tsCol)
    val grid = grid0.crossJoin(day0)
      .select(col(typeCol),
        datediff(col("__d"), col("__d0")).cast("double").as("__x"),
        col("__c").cast("double").as("__y"))
    grid.groupBy(col(typeCol))
      .agg(count(lit(1)).as("__n"), sum("__x").as("__sx"),
        sum("__y").as("__sy"), sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
      .withColumn("__nd", col("__n").cast("double"))
      .withColumn("__covn", col("__nd") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__varx", col("__nd") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__vary", col("__nd") * col("__syy") - col("__sy") * col("__sy"))
      .select(col(typeCol), col("__n").as("n_days"),
        col("__sy").cast("long").as("n_events"),
        when(col("__varx") > 0, round(col("__covn") / col("__varx"), 6))
          .otherwise(lit(null).cast("double")).as("slope_per_day"),
        when(col("__varx") > 0, round(
          (col("__sy") - col("__covn") / col("__varx") * col("__sx")) / col("__nd"), 6))
          .otherwise(lit(null).cast("double")).as("intercept"),
        when(col("__varx") * col("__vary") > 0, round(
          col("__covn") * col("__covn") / (col("__varx") * col("__vary")), 6))
          .otherwise(lit(null).cast("double")).as("r2"))
  }

  /** The completed (type, day, count) grid both daily-volume reads ride
    * — absent days count 0 (a silent day IS the signal for the anomaly
    * screen, and its absence biases the trend flat). Returns the grid
    * plus the 1-row first-day frame. One corpus-scale hash aggregate
    * (localCheckpointed — days, types, day0, and the left join all read
    * it); everything after is |types|·|corpus days|, calendar-bounded.
    */
  private def dayCountGrid(events: DataFrame, typeCol: String,
                           tsCol: String): (DataFrame, DataFrame) = {
    val perDay = events
      .groupBy(col(typeCol), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val days = perDay.select(col("__d")).distinct()
    val types = perDay.select(col(typeCol)).distinct()
    val day0 = perDay.agg(min(col("__d")).as("__d0"))
    val grid = types.crossJoin(broadcast(days))
      .join(perDay, Seq(typeCol, "__d"), "left")
      .select(col(typeCol), col("__d"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    (grid, day0)
  }

  /** Robust daily-volume anomaly screen: per type, the median and MAD
    * (median absolute deviation) of the completed daily-count series,
    * the number of days beyond `k`·MAD, and the single worst day — the
    * monitoring read q170's least-squares trend can't give (OLS is
    * itself dragged by the outliers this screens for; median/MAD have a
    * 50% breakdown point). Zero-filled days participate, so a silent
    * day (crawler down) flags exactly like a flood. MAD = 0 (an
    * ultra-regular series) reports zero anomalies rather than dividing
    * by it. Medians use the q117 cum-mass rule (lower median) via
    * row_number over the per-type day frame; every window is
    * PARTITIONED by type over calendar-bounded rows. Worst-day
    * tie-break: highest deviation, then latest day.
    */
  def volumeAnomaly(events: DataFrame, typeCol: String = "event_type",
                    tsCol: String = "ts", k: Double = 3.0): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val w = org.apache.spark.sql.expressions.Window
    val wt = w.partitionBy(col(typeCol))
    val (grid, _) = dayCountGrid(events, typeCol, tsCol)
    // Both median rounds as PARTITIONED window expressions over the
    // calendar-bounded grid — the lower median is
    // min(value | rn·2 ≥ n) within the type partition, so neither round
    // needs the filter→groupBy→join-back (each of which cost a
    // broadcast-build job; the r12 audit measured 19 jobs, VERDICT item
    // 6). The whole screen is now one window-chained pass: grid →
    // median → |deviation| → MAD → flags/worst-day → |types|-row
    // aggregate. Every window is type-partitioned over
    // |types|·|corpus days| rows — calendar-bounded, never corpus-sized.
    val g = grid
      .withColumn("__rn", row_number().over(wt.orderBy(col("__c"))))
      .withColumn("__n", count(lit(1)).over(wt))
      .withColumn("__med",
        min(when(col("__rn") * 2 >= col("__n"), col("__c"))).over(wt))
      .withColumn("__ad", abs(col("__c") - col("__med")))
      .withColumn("__rn2", row_number().over(wt.orderBy(col("__ad"))))
      .withColumn("__mad",
        min(when(col("__rn2") * 2 >= col("__n"), col("__ad"))).over(wt))
      .withColumn("__anom",
        col("__mad") > 0 && col("__ad").cast("double") > lit(k) * col("__mad"))
      .withColumn("__wrn", row_number().over(
        wt.orderBy(col("__ad").desc, col("__d").desc)))
    g.groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_days"), max(col("__med")).as("median_cnt"),
        max(col("__mad")).as("mad"),
        coalesce(sum(when(col("__anom"), 1L)), lit(0L)).as("n_anomalous"),
        // ISO string, not DateType: date columns reach pandas as objects
        // on one engine and datetime64 on the other — strings compare flat
        max(when(col("__wrn") === 1,
          date_format(col("__d"), "yyyy-MM-dd"))).as("worst_day"),
        max(when(col("__wrn") === 1, col("__c"))).as("worst_cnt"))
  }

  /** Embedding-space dimension-collapse audit: the variance spectrum's
    * effective rank (Roy & Vetterli 2007 — exp of the entropy of the
    * normalized per-dimension variances), participation ratio
    * ((Σv)²/Σv²), and top-dimension share. The representation-health
    * read next to q176's per-dimension table and q126's whitening: an
    * encoder whose 384-dim output has effective rank 40 wastes 90% of
    * its index/memory budget and makes cosine scores cluster — the
    * anisotropy failure the whitening fix exists for. One number per
    * concept so the audit can gate a pipeline.
    *
    * Exactness discipline: per-dimension variances come from ONE
    * map-side moments pass (q176's aggregator) and are ROUNDED to 6dp
    * BEFORE the spectrum statistics, so both engines fold over
    * IDENTICAL inputs; the folds themselves run sequentially in
    * dimension order inside a 1-row frame (`aggregate` HOF / ordered
    * list), so reduce-order float noise is ~1e-15 on same inputs —
    * invisible at the 6dp output. Nothing but the 1-row moments struct
    * ever leaves the scan.
    */
  def effectiveRank(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val m = emb
      .agg(graft.functions.VectorAggregates
        .moments(col(vecCol).cast("array<double>")).as("m"))
      .select(col("m.sum").as("__s"), col("m.sumsq").as("__ss"),
        col("m.n").as("__n"))
    m.withColumn("__vars", expr(
        "transform(arrays_zip(__s, __ss), " +
          "x -> round(x.__ss / __n - (x.__s / __n) * (x.__s / __n), 6))"))
      .withColumn("__tot", expr(
        "aggregate(__vars, cast(0 as double), (a, x) -> a + x)"))
      .withColumn("__sq", expr(
        "aggregate(__vars, cast(0 as double), (a, x) -> a + x * x)"))
      .withColumn("__ent", expr(
        "aggregate(__vars, cast(0 as double), (a, x) -> a + " +
          "(CASE WHEN x > 0 AND __tot > 0 " +
          "THEN -(x / __tot) * ln(x / __tot) ELSE cast(0 as double) END))"))
      .select(
        expr("size(__vars)").cast("long").as("n_dims"),
        col("__n").as("n_vectors"),
        round(col("__tot"), 6).as("total_variance"),
        when(col("__tot") > 0, round(exp(col("__ent")), 6)).as("effective_rank"),
        when(col("__sq") > 0, round(col("__tot") * col("__tot") / col("__sq"), 6))
          .as("participation_ratio"),
        when(col("__tot") > 0,
          round(expr("array_max(__vars)") / col("__tot"), 6)).as("top_dim_share"))
  }

  /** Mutual information between two categorical columns (nats), with
    * per-cell pointwise MI and the normalized MI (NMI =
    * MI / sqrt(H_a · H_b)) attached to every cell row. The mixture-design
    * confound detector: if MI(source, lang) is high, a "balance by
    * source" pass silently rebalances languages too (and vice versa), so
    * per-axis budgets like q103/q132 are not independent knobs. Cells,
    * marginals, and entropies all derive from ONE corpus-scale hash
    * aggregate (`groupBy(a, b).count`); every join after that lives on
    * the ≤ |a|·|b|-row cell frame, and the entropy/MI scalars fall out of
    * the identity Σ_cells p_cell·ln(p_a) = Σ_a p_a·ln(p_a) — no second
    * corpus pass, no window. Counts are cast to double BEFORE the
    * n_cell·N product (at 100 TB the long product overflows).
    */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("n_cell"))
      .localCheckpoint() // |a|·|b| rows, read by the marginals AND the output
    val na = cells.groupBy(col(aCol)).agg(sum("n_cell").as("__n_a"))
    val nb = cells.groupBy(col(bCol)).agg(sum("n_cell").as("__n_b"))
    val tot = cells.agg(sum("n_cell").as("__n"))
    val j = cells.join(na, Seq(aCol)).join(nb, Seq(bCol)).crossJoin(tot)
      .withColumn("__pmi", log(
        col("n_cell").cast("double") * col("__n").cast("double") /
          (col("__n_a").cast("double") * col("__n_b").cast("double"))))
      .withColumn("__p", col("n_cell").cast("double") / col("__n").cast("double"))
    val scalars = j.agg(
      sum(col("__p") * col("__pmi")).as("__mi"),
      (-sum(col("__p") * log(col("__n_a").cast("double") /
        col("__n").cast("double")))).as("__h_a"),
      (-sum(col("__p") * log(col("__n_b").cast("double") /
        col("__n").cast("double")))).as("__h_b"))
    j.crossJoin(scalars)
      .select(col(aCol), col(bCol), col("n_cell"),
        round(col("__pmi"), 6).as("pmi"),
        round(col("__mi"), 6).as("mi_nats"),
        // degenerate axes (single source / single lang) have H = 0: NMI
        // is undefined there, surfaced as NULL rather than NaN
        when(col("__h_a") * col("__h_b") > 0,
          round(col("__mi") / sqrt(col("__h_a") * col("__h_b")), 6))
          .otherwise(lit(null).cast("double")).as("nmi"))
  }
}
