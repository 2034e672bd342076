package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity
import graft.functions.VectorFunctions._

/** Exact cosine top-k search — the reference's flagship query path
  * (`/root/reference/mock_vector_db_api.py:230-312`, SURVEY.md §2.5).
  *
  * Scale notes (the part the reference cannot do):
  *  - single query: score is a scalar projection over a columnar scan; the
  *    ORDER BY + LIMIT plans as `TakeOrderedAndProject` — a per-partition
  *    partial top-k followed by a k-row merge on the driver, i.e. no full
  *    sort and no shuffle of the corpus, which is exactly the plan you want
  *    at 100 TB;
  *  - multi query: the (small) query set is broadcast and cross-scored
  *    against the corpus; per-query top-k uses a window ranked within the
  *    query partition. The corpus is never shuffled by the join itself
  *    (BroadcastNestedLoopJoin); only the ranked candidates shuffle, and a
  *    per-partition pre-prune keeps that small.
  */
object Search {

  /** Reference parity quirks (SURVEY.md §2.9.1): the score threshold is
    * applied AFTER the top-k slice — fewer than k rows can come back; ties
    * at rank k break deterministically by ascending id.
    */
  def topK(corpus: DataFrame,
           queryVec: Seq[Double],
           k: Int = 5,
           threshold: Double = 0.1,
           idCol: String = "vec_id",
           vecCol: String = "embedding"): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    corpus
      .withColumn("score", CosineSimilarity(col(vecCol), q))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .filter(col("score") >= threshold)
      .drop(vecCol)
  }

  /** Same as [[topK]] but the query vector comes from a 1-row DataFrame
    * (e.g. "the embedding of vec_id 0"), broadcast-cross-joined so nothing
    * is collected to the driver.
    */
  def topKFromRow(corpus: DataFrame,
                  queryRow: DataFrame,
                  queryVecCol: String,
                  k: Int = 5,
                  threshold: Double = 0.1,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    corpus
      // only the query vector crosses over: other queryRow columns
      // (typically the id the row was selected by) would collide with
      // the corpus side and make col(idCol) ambiguous
      .crossJoin(broadcast(queryRow.select(col(queryVecCol))))
      .withColumn("score",
        CosineSimilarity(col(vecCol), col(queryVecCol)))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .filter(col("score") >= threshold)
      .drop(vecCol, queryVecCol)

  /** Batch top-k: every row of `queries` (id + vector) against the corpus.
    * Returns (query id, corpus id, rank, score), rank 1..k, threshold
    * applied after ranking (parity with the single-query path).
    */
  def topKBatch(corpus: DataFrame,
                queries: DataFrame,
                k: Int = 5,
                threshold: Double = 0.1,
                corpusId: String = "vec_id",
                corpusVec: String = "embedding",
                queryId: String = "query_id",
                queryVec: String = "query_vec"): DataFrame = {
    val scored = corpus
      .join(broadcast(queries)) // cross product; queries side broadcast
      .withColumn("score",
        CosineSimilarity(col(corpusVec), col(queryVec)))
      .select(col(queryId), col(corpusId), col("score"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("score").desc, col(corpusId).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k && col("score") >= threshold)
  }

  /** Hard-negative mining for contrastive embedding training: for every
    * anchor, the top-k most-similar corpus rows with a DIFFERENT label —
    * the near-miss negatives that actually move a contrastive loss
    * (random negatives are trivially separable). The anchor batch
    * BROADCASTS (a training batch is tiny next to the corpus), the label
    * inequality is part of the join condition so same-label rows never
    * enter the per-anchor ranking, and the per-anchor top-k is a window
    * partitioned by anchor — the corpus streams map-side, one shuffle of
    * (anchor, id, label, score) tuples sized corpus × anchors, prunable
    * further with any ANN prefilter from [[graft.search.Ann]].
    *
    * Null labels (either side) make the SQL inequality NULL and are
    * excluded — an unlabeled corpus row is never offered as a negative
    * (its true class is unknown, it could be a positive). Pre-filter
    * `labelCol.isNull` rows in explicitly if unlabeled data should count
    * as negatives.
    *
    * Scale guard: the broadcast is gated on a bounded count probe
    * (`limit(max+1).count()` — O(max) work however large the anchor set
    * is). Above `maxBroadcastAnchors` the call fails fast with the two
    * escape hatches named: chunk the batch driver-side, or pass
    * `broadcastAnchors = false` to let Spark plan a partitioned
    * nested-loop over shuffled sides (no driver materialization; the
    * anchors × corpus work is inherent to exact mining — cut it with
    * [[hardNegativesPrescan]] instead). Size the cap to your row width:
    * the default 100k anchors × 768-dim float vectors ≈ 300 MB broadcast.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int = 5,
                    corpusId: String = "vec_id",
                    corpusVec: String = "embedding",
                    labelCol: String = "label",
                    anchorId: String = "anchor_id",
                    anchorVec: String = "anchor_vec",
                    anchorLabel: String = "anchor_label",
                    maxBroadcastAnchors: Int = 100000,
                    broadcastAnchors: Boolean = true): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(maxBroadcastAnchors > 0,
      s"maxBroadcastAnchors must be > 0, got $maxBroadcastAnchors")
    val anchorSide =
      if (!broadcastAnchors) anchors
      else {
        val probe = anchors.limit(maxBroadcastAnchors + 1).count()
        require(probe <= maxBroadcastAnchors,
          s"anchor set exceeds maxBroadcastAnchors=$maxBroadcastAnchors — " +
          "broadcasting it would risk a driver/executor OOM and an " +
          "anchors-by-corpus nested-loop explosion. Chunk the batch, raise " +
          "the cap deliberately, use hardNegativesPrescan, or pass " +
          "broadcastAnchors = false for a partitioned (non-broadcast) join")
        broadcast(anchors)
      }
    val scored = corpus
      .join(anchorSide, col(labelCol) =!= col(anchorLabel))
      .withColumn("score", CosineSimilarity(col(corpusVec), col(anchorVec)))
      .select(col(anchorId), col(corpusId), col(labelCol), col("score"))
    val w = Window.partitionBy(col(anchorId))
      .orderBy(col("score").desc, col(corpusId).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Two-stage hard-negative mining — the compute-bounded path when
    * anchors × corpus full-dimension scoring is too expensive: stage 1
    * ranks every (anchor, different-label corpus row) pair by cosine
    * over only the first `prefixDim` vector components (matryoshka-style
    * prefix scoring, dim/prefixDim× less float math and — with the
    * prefix stored as its own column — dim/prefixDim× less vector I/O;
    * see [[Ann.matryoshkaTopK]]) and keeps a per-anchor pool of `poolK`
    * candidate ids via the same WindowGroupLimit-bounded window as the
    * exact path; stage 2 rescores ONLY the pooled (anchor, candidate)
    * pairs at full dimension — poolK·anchors rows instead of
    * corpus·anchors — and takes the final per-anchor top-k.
    *
    * Exactness is poolK-bounded as in any prescan re-ranker: a true
    * top-k negative outside the prefix-score pool is missed. With
    * matryoshka-trained embeddings modest pools recover the exact
    * result (SearchSpec asserts prescan == exact on test vectors);
    * raise poolK to trade compute for recall.
    */
  def hardNegativesPrescan(corpus: DataFrame, anchors: DataFrame,
                           k: Int = 5, prefixDim: Int = 16, poolK: Int = 50,
                           corpusId: String = "vec_id",
                           corpusVec: String = "embedding",
                           labelCol: String = "label",
                           anchorId: String = "anchor_id",
                           anchorVec: String = "anchor_vec",
                           anchorLabel: String = "anchor_label",
                           maxBroadcastAnchors: Int = 100000): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(prefixDim > 0, s"prefixDim must be > 0, got $prefixDim")
    require(poolK >= k, s"poolK ($poolK) must be >= k ($k)")
    // same bounded probe as hardNegatives: the prescan cuts FLOAT MATH,
    // not broadcast size — an oversize anchor set must still fail fast
    // here, not OOM twice (stage-1 pool + stage-2 rescore broadcasts)
    require(anchors.limit(maxBroadcastAnchors + 1).count() <= maxBroadcastAnchors,
      s"anchor set exceeds maxBroadcastAnchors=$maxBroadcastAnchors — chunk " +
      "the batch or raise the cap deliberately; the prescan still " +
      "broadcasts the anchors in both stages")
    // stage 1: prefix-dim scoring; only (anchor_id, corpus_id) survive
    val pool = corpus
      .join(broadcast(anchors), col(labelCol) =!= col(anchorLabel))
      .withColumn("__pscore", CosineSimilarity(
        slice(col(corpusVec), 1, prefixDim),
        slice(col(anchorVec), 1, prefixDim)))
      .select(col(anchorId), col(corpusId), col("__pscore"))
      .withColumn("__prank", row_number().over(
        Window.partitionBy(col(anchorId))
          .orderBy(col("__pscore").desc, col(corpusId).asc)))
      .filter(col("__prank") <= poolK)
      .select(col(anchorId), col(corpusId))
    // stage 2: full-dimension rescore of the k-bounded pool only; the
    // pool (anchors × poolK ids) broadcasts, the corpus again streams
    val rescored = corpus
      .select(col(corpusId), col(corpusVec), col(labelCol))
      .join(broadcast(pool), corpusId)
      .join(broadcast(anchors.select(col(anchorId), col(anchorVec))), anchorId)
      .withColumn("score", CosineSimilarity(col(corpusVec), col(anchorVec)))
      .select(col(anchorId), col(corpusId), col(labelCol), col("score"))
    val w = Window.partitionBy(col(anchorId))
      .orderBy(col("score").desc, col(corpusId).asc)
    rescored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Score every corpus row against a query vector (no slice) — the
    * building block for histograms / threshold sweeps.
    */
  def scoreAll(corpus: DataFrame, queryVec: Seq[Double],
               vecCol: String = "embedding"): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    corpus.withColumn("score", CosineSimilarity(col(vecCol), q))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998): greedily select k results, each maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s)` — relevance traded
    * against redundancy with what's already picked.
    *
    * Two stages, the production re-ranker shape: (1) the distributed
    * exact scan keeps only the top `poolSize` candidates by relevance
    * (TakeOrderedAndProject — per-partition partial top-k, no corpus
    * shuffle; the ONLY stage that sees the corpus); (2) the O(k·poolSize)
    * greedy loop runs driver-side over that bounded pool (poolSize × dim
    * doubles — the same driver residency as any cross-encoder re-ranker).
    * Ties break by ascending id; all math in Double, so the selection is
    * deterministic.
    *
    * Returns (rank 1..k, idCol, rel, mmr) in selection order.
    */
  def mmrTopK(corpus: DataFrame, queryVec: Seq[Double], k: Int = 5,
              lambda: Double = 0.7, poolSize: Int = 50,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && poolSize >= k, s"need 0 < k <= poolSize, got k=$k pool=$poolSize")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = corpus.sparkSession
    val q = array(queryVec.map(lit): _*)
    val poolDf = corpus
      .withColumn("__v", asDouble(col(vecCol)))
      .withColumn("rel", CosineSimilarity(col("__v"), q))
      // a NaN embedding component makes rel NaN, and Spark's desc ordering
      // puts NaN first — such a row would otherwise occupy rank 1; it can
      // never be a meaningful result, so it is excluded from the pool
      .filter(!isnan(col("rel")))
      .orderBy(col("rel").desc, col(idCol).asc)
      .limit(poolSize)
      .select(col(idCol).as("id"), col("rel"), col("__v"))
    // The id is kept UNTYPED (any orderable Spark type — long doc ids,
    // string paths, ...) so the output column preserves the input's type;
    // tie-breaks use the value's natural ordering (all orderable Spark
    // atomic types collect as java.lang.Comparable).
    val idType = poolDf.schema("id").dataType
    val pool = poolDf.collect()
      .map(r => (r.get(0), r.getDouble(1), r.getSeq[Double](2).toArray))

    // Tie-break ordering over collected id values. Atomic orderable Spark
    // types collect as java.lang.Comparable; BinaryType collects as
    // Array[Byte] (unsigned lexicographic, matching Spark's BinaryType
    // ordering) and nulls sort first (Spark's asc NULLS FIRST default).
    def idLt(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => false
      case (null, _)    => true
      case (_, null)    => false
      case (x: Array[Byte], y: Array[Byte]) =>
        val n = math.min(x.length, y.length)
        var i = 0; var c = 0
        while (i < n && c == 0) { c = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
        if (c != 0) c < 0 else x.length < y.length
      case (x: Comparable[_], y) =>
        x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
      case _ => false
    }

    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Double, Double)]
    val selectedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, rel, v) =>
        val mmr =
          if (selectedVecs.isEmpty) lambda * rel
          else lambda * rel - (1.0 - lambda) * selectedVecs.map(Ann.cos(v, _)).max
        (id, rel, mmr)
      }
      // java.lang.Double.compare is a total order, so the fold is
      // deterministic for every input (primitive `>`/`==` are not: both
      // are false against NaN, which silently kept the leftmost element).
      // NaN itself cannot reach here — NaN-rel rows are filtered from the
      // pool, and a NaN-free pool cannot produce a NaN mmr.
      val best = scored.reduceLeft { (x, y) =>
        val c = java.lang.Double.compare(y._3, x._3)
        if (c > 0 || (c == 0 && idLt(y._1, x._1))) y else x
      }
      val idx = remaining.indexWhere(_._1 == best._1)
      selectedVecs += remaining(idx)._3
      remaining.remove(idx)
      selected += ((rank, best._1, best._2, best._3))
      rank += 1
    }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      StructField(idCol, idType),
      StructField("rel", DoubleType, nullable = false),
      StructField("mmr", DoubleType, nullable = false)))
    val rows = selected.toSeq.map { case (r, id, rel, mmr) => Row(r, id, rel, mmr) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .select(col("rank"), col(idCol),
        round(col("rel"), 6).as("rel"), round(col("mmr"), 6).as("mmr"))
  }

  /** The |Q| × K centroid-cosine tables [[maxSimPlaidTopK]]'s stage 1
    * runs on — public so an oracle can embed the IDENTICAL doubles as
    * literals (the shared-literal float discipline).
    */
  def centroidCosTables(centers: Array[Array[Double]],
                        queryVecs: Seq[Seq[Double]]): Seq[Array[Double]] =
    queryVecs.map { q =>
      val qa = q.toArray
      centers.map(Ann.cos(_, qa))
    }

  /** Two-stage MaxSim with centroid pruning — PLAID/ColBERTv2's
    * serving shape (Santhanam et al. 2022, public knowledge): stage 1
    * scores every document by the CENTROID approximation of MaxSim
    * (each query token's best match among the doc's assigned k-means
    * centroids — the doc's vectors never load), keeps `shortlist`
    * docs, and stage 2 runs exact [[maxSimTopK]] scoring on only
    * those. The centroid score table is |Q| × K driver-computed
    * doubles shipped as literals, so stage 1 touches one
    * (doc, centroid) DISTINCT frame — at 100 TB that is the entire
    * difference between scanning every token vector and scanning a
    * per-doc centroid-id set 100× smaller.
    *
    * `assigned` is a (docCol, vecCol, centroid_id) frame — an IVF
    * build's assignment ([[Ann.buildIvf]]/[[Ann.readIvf]]) joined with
    * the doc ids. Output: (docCol, n_vecs, approx_score, score) by
    * (score desc, doc asc), both scores rounded 6dp; approx uses only
    * literal-derived values, so it replays bit-identically.
    */
  def maxSimPlaidTopK(assigned: DataFrame, centers: Array[Array[Double]],
                      queryVecs: Seq[Seq[Double]], k: Int = 5,
                      shortlist: Int = 20, docCol: String = "doc_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(queryVecs.nonEmpty, "need at least one query token vector")
    require(k > 0 && shortlist >= k,
      s"need shortlist >= k > 0, got k=$k shortlist=$shortlist")
    // |Q| x K centroid-cosine tables, driver-computed, shipped as
    // literal arrays (the q213 shared-literal discipline: no
    // cross-engine float math anywhere in stage 1)
    val ctabs = centroidCosTables(centers, queryVecs)
    val approxAggs = ctabs.zipWithIndex.map { case (tab, i) =>
      max(element_at(array(tab.map(lit).toSeq: _*),
        col("centroid_id") + 1)).as(s"__a$i")
    }
    val approx = queryVecs.indices.map(i => col(s"__a$i")).reduce(_ + _)
    val short = assigned
      .select(col(docCol), col("centroid_id"))
      .distinct()
      .groupBy(col(docCol))
      .agg(approxAggs.head, approxAggs.tail: _*)
      .withColumn("__approx", approx)
      .orderBy(col("__approx").desc, col(docCol).asc)
      .limit(shortlist)
      .select(col(docCol), col("__approx"))
    val cosCols = queryVecs.zipWithIndex.map { case (q, i) =>
      CosineSimilarity(col(vecCol).cast("array<double>"),
        array(q.map(lit): _*)).as(s"__c$i")
    }
    val maxAggs = queryVecs.indices.map(i => max(col(s"__c$i")).as(s"__m$i"))
    val score = queryVecs.indices.map(i => col(s"__m$i")).reduce(_ + _)
    assigned
      .join(broadcast(short), Seq(docCol))
      .select(col(docCol) +: col("__approx") +: cosCols: _*)
      .groupBy(col(docCol), col("__approx"))
      .agg(count(lit(1)).as("n_vecs"), maxAggs: _*)
      .withColumn("__score", score)
      .orderBy(col("__score").desc, col(docCol).asc)
      .limit(k)
      .select(col(docCol), col("n_vecs"),
        round(col("__approx"), 6).as("approx_score"),
        round(col("__score"), 6).as("score"))
  }

  /** Late-interaction (MaxSim) top-k — ColBERT's scoring rule
    * (Khattab & Zaharia 2020, public knowledge) over a MULTI-VECTOR
    * corpus: each document is a bag of token vectors (one corpus row
    * per vector, `docCol` groups them), each query a small driver-side
    * bag, and score(doc) = Σ_q max_{v∈doc} cos(q, v) — every query
    * token finds its best-matching document token, no pooling loss.
    * This is the retrieval family single-vector cosine cannot express:
    * q01's pooled score collapses a document to one point; MaxSim keeps
    * per-token alignment (the quality/cost midpoint between bi-encoder
    * and cross-encoder reranking).
    *
    * Scale shape: the query bag ships as |Q| literal arrays, so the
    * plan is ONE corpus scan computing |Q| codegen'd cosines per row,
    * a partial-max hash aggregate per (doc) — map-side combine reduces
    * the shuffle to |docs| × |Q| doubles — and a
    * TakeOrderedAndProject over the doc frame. No join, no corpus
    * shuffle. Float discipline: per-token maxes are order-independent;
    * the final sum folds left over the FIXED token order (a literal
    * expression tree), so the score replays bit-identically.
    *
    * Output: (docCol, n_vecs, score) by (score desc, doc asc), score
    * rounded 6dp after ordering.
    */
  def maxSimTopK(corpus: DataFrame, queryVecs: Seq[Seq[Double]],
                 k: Int = 5, docCol: String = "doc_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(queryVecs.nonEmpty, "need at least one query token vector")
    require(queryVecs.map(_.length).distinct.size == 1,
      "query token vectors must share one dimension")
    require(k > 0, s"k must be > 0, got $k")
    val cosCols = queryVecs.zipWithIndex.map { case (q, i) =>
      CosineSimilarity(col(vecCol).cast("array<double>"),
        array(q.map(lit): _*)).as(s"__c$i")
    }
    val maxAggs = queryVecs.indices.map(i =>
      max(col(s"__c$i")).as(s"__m$i"))
    val score = queryVecs.indices.map(i => col(s"__m$i")).reduce(_ + _)
    corpus
      .select(col(docCol) +: cosCols: _*)
      .groupBy(col(docCol))
      .agg(count(lit(1)).as("n_vecs"), maxAggs: _*)
      .withColumn("__score", score)
      .orderBy(col("__score").desc, col(docCol).asc)
      .limit(k)
      .select(col(docCol), col("n_vecs"),
        round(col("__score"), 6).as("score"))
  }
}
