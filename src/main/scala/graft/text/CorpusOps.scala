package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level text diagnostics a large-scale training-data pipeline runs
  * before (and after) the per-document filters in [[TextAnalysis]]: within-
  * document repetition (the intra-doc half of "Deduplicating Training Data
  * Makes Language Models Better", Lee et al. 2022), blocklisted-phrase
  * audits, cross-source distribution similarity, and mixed-language
  * detection (the CCNet-style "document is not one language" drop rule).
  *
  * Scale posture: every operator here is a map-side projection (token /
  * n-gram / segment expansion fused into the scan) followed by hash
  * aggregation on keys that include the document or token identity — no
  * all-pairs step, no driver materialization, no global sort outside a
  * final TakeOrderedAndProject.
  */
object CorpusOps {

  /** Token n-grams of `text` as `array<string>` (space-joined windows over
    * the whitespace tokenization shared with [[TextAnalysis.tokens]]).
    * Empty array when the document has fewer than `n` tokens.
    */
  def tokenNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = TextAnalysis.tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
      .otherwise(typedLit(Seq.empty[String]))
  }

  /** Within-document repeated n-gram audit: for each document, how many
    * n-gram positions repeat an n-gram already seen in the SAME document
    * (`repeated_positions` = Σ(count−1) over its n-grams), and how many
    * distinct n-grams repeat at all. High values flag boilerplate-stuffed
    * or looping documents that inflate memorization — the intra-document
    * counterpart of the cross-corpus dedup family in [[graft.dedup.Dedup]].
    *
    * Plan: scan → n-gram generate (map-side) → hash agg on
    * (doc_id, ngram) → hash agg on doc_id → TakeOrderedAndProject(topK).
    * Both aggregation keys contain doc_id, so partitions stay balanced
    * regardless of corpus-wide n-gram skew; nothing driver-sized exists
    * anywhere. Documents shorter than `n` tokens contribute no n-grams and
    * drop out (both engines agree on that semantic).
    */
  def intraDocRepeats(docs: DataFrame, n: Int = 5, topK: Int = 20): DataFrame =
    docs.select(col("doc_id"), explode(tokenNgrams(col("text"), n)).as("ng"))
      .groupBy(col("doc_id"), col("ng"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_ngrams"),
        (sum(col("cnt")) - count(lit(1))).as("repeated_positions"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("distinct_repeated"))
      .orderBy(col("repeated_positions").desc, col("doc_id").asc)
      .limit(topK)

  /** Occurrences of literal `phrase` in the `text` column, via the
    * length-delta-of-replace identity — exact, regex-free, and computed
    * identically by any engine with a literal `replace`. Counts substring
    * occurrences (overlapping occurrences of self-overlapping phrases are
    * counted per disjoint replacement, the standard replace semantic).
    */
  def phraseHits(p: String): Column = {
    require(p.nonEmpty && !p.contains("'"), s"phrase must be non-empty, quote-free: '$p'")
    ((length(col("text")) - length(expr(s"replace(text, '$p', '')"))) /
      lit(p.length)).cast("long")
  }

  /** Blocklist audit: per (source, phrase), total occurrence count and the
    * number of documents hit, for a small fixed phrase list — the
    * "how contaminated is each source with X" report that decides whether
    * a source needs filtering before it enters a training mix. All
    * phrases are counted by the native single-pass kernel
    * ([[graft.functions.MultiPhraseCounts]] — one text materialization,
    * no per-phrase replaced copies), then one two-phase hash aggregate.
    * [[blocklistAuditComposed]] is the built-ins-only phrasing kept as
    * the kernel's spec-asserted equivalence witness.
    */
  def blocklistAudit(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phrase list must be non-empty")
    docs
      .select(col("source"),
        posexplode(graft.functions.MultiPhraseCounts(col("text"), phrases))
          .as(Seq("k", "hits")))
      .groupBy(col("source"), col("k"))
      .agg(sum(col("hits")).as("total_hits"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_hit"))
      .select(col("source"),
        typedLit(phrases).getItem(col("k")).as("phrase"),
        col("total_hits"), col("docs_hit"))
  }

  /** Built-ins-only form of [[blocklistAudit]]: |phrases| replace passes
    * via [[phraseHits]]. Equivalence witness for the native kernel.
    */
  def blocklistAuditComposed(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phrase list must be non-empty")
    val terms = array(phrases.map(p =>
      struct(lit(p).as("phrase"), phraseHits(p).as("hits"))): _*)
    docs.select(col("source"), explode(terms).as("t"))
      .select(col("source"), col("t.phrase").as("phrase"), col("t.hits").as("hits"))
      .groupBy(col("source"), col("phrase"))
      .agg(sum(col("hits")).as("total_hits"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_hit"))
  }

  /** First-round BPE merge induction: the adjacent character pairs (within
    * whitespace words, case-folded) ranked by corpus frequency — the
    * statistic a byte-pair-encoding tokenizer trainer computes to pick its
    * next merge (Sennrich et al. 2016). Char-level, so it complements the
    * word-level bigrams (q69) and the fixed-vocab fertility audit (q120).
    *
    * Plan: two nested map-side generates (words, then char pairs — only
    * 2-char strings ever shuffle) into one two-phase hash aggregate over
    * the pair vocabulary, then TakeOrderedAndProject(topK).
    */
  def bpeMergeCandidates(docs: DataFrame, topK: Int = 20): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .select(explode(when(length(col("w")) >= 2,
          transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2))))
        .otherwise(typedLit(Seq.empty[String]))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topK)

  /** Cross-source vocabulary similarity: for each source pair, the exact
    * integer dot product of their token-count vectors plus each side's
    * squared norm — cosine similarity between source unigram distributions
    * is one division away, while the emitted integers stay hash-exact
    * across engines. The report that says "src3 and src14 are near-clones,
    * down-weight one" when composing a training mixture.
    *
    * Plan: token counts per (source, token) [one shuffle, vocab×sources
    * keys], then a token-keyed self-join. Per-token fan-out is bounded by
    * |sources|² (not corpus size), so a stop-word appearing everywhere
    * contributes at most |sources|² pairs — no quadratic blow-up in corpus
    * size. Norms are a tiny |sources|-row aggregate, broadcast back.
    */
  def sourceTokenSimilarity(docs: DataFrame, topK: Int = 30): DataFrame = {
    // counts feeds FOUR plan references (both self-join sides + both norm
    // arms); localCheckpoint materializes the vocab×sources aggregate once
    // instead of re-tokenizing the corpus per reference (the q115/q116
    // precedent — eager, so the feature pass runs at invocation time)
    val counts = docs
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = true)
    val norms = counts.groupBy(col("source"))
      .agg(sum(col("cnt") * col("cnt")).as("norm_sq"))
    val dots = counts.as("a")
      .join(counts.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source"), col("b.source"))
      .agg(sum(col("a.cnt") * col("b.cnt")).as("dot"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"), col("dot"))
    dots
      .join(broadcast(norms.select(col("source"), col("norm_sq").as("norm_a"))),
        col("src_a") === col("source")).drop("source")
      .join(broadcast(norms.select(col("source"), col("norm_sq").as("norm_b"))),
        col("src_b") === col("source")).drop("source")
      .orderBy(col("dot").desc, col("src_a").asc, col("src_b").asc)
      .limit(topK)
  }

  /** Fixed-length character segments of `text` (non-overlapping windows of
    * `segLen` chars); every document yields at least one segment, so empty
    * docs still classify (as 'unknown').
    */
  def charSegments(text: Column, segLen: Int): Column = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    transform(
      sequence(lit(0),
        greatest(ceil(length(text) / lit(segLen.toDouble)).cast("int") - 1, lit(0))),
      k => text.substr(k * segLen + lit(1), lit(segLen)))
  }

  /** Mixed-language document detection: segment each document into
    * `segLen`-char windows, language-ID each segment with the shared
    * stopword heuristic ([[TextAnalysis.langId]]), and report per document
    * the segment count, the number of distinct predicted languages, and
    * the majority language's segment count. Documents whose segments
    * disagree (n_langs > 1) are the code-switch / concatenation artifacts
    * a CCNet-style pipeline drops or splits before training.
    *
    * Plan: segment generate (map-side, fused with the langid expression) →
    * hash agg on (doc_id, seg_lang) → hash agg on doc_id →
    * TakeOrderedAndProject(topK) by disagreement.
    */
  /** Intra-document repeated-segment SCRUB — the removal twin of
    * [[intraDocRepeats]] (which only counts): split each document into
    * consecutive non-overlapping `w`-token segments, drop every segment
    * whose exact text already occurred EARLIER in the same document
    * (keep-first — the RefinedWeb/CCNet "drop repeated lines" cleaning
    * rule, with fixed token windows standing in for lines on unlined
    * text), and report the per-document damage: segments dropped, the
    * cleaned text's length, and its 32-bit content hash (so the oracle
    * verifies the RECONSTRUCTED text, not just the counts).
    *
    * Plan shape (r19): keep-first-within-doc has NO cross-document
    * interaction, so the whole scrub — segmenting, first-occurrence
    * dedup, cleaned-text reassembly, length and content hash — runs
    * inside the native [[graft.functions.IntraDocScrub]] kernel as ONE
    * map-side projection; the only exchange is the final
    * TakeOrderedAndProject(topK). The previous composed form exploded
    * every segment and shuffled the segment STRINGS corpus-wide twice
    * (a (doc, seg) row_number window + a per-doc collect_list/
    * array_sort/array_join aggregate), ~70 MB of shuffle per run at the
    * sf1 replica — also the round-18 chronic bench-contention source.
    * The kernel is value-identical (CorpusOpsSpec pins kernel ==
    * composed); `kernelScrub = false` keeps the composed phrasing as
    * the spec witness, the q137/q175 discipline.
    */
  def intraDocScrub(docs: DataFrame, w: Int = 2, topK: Int = 20,
                    kernelScrub: Boolean = true): DataFrame = {
    require(w >= 1, s"segment width must be >= 1, got $w")
    if (kernelScrub) {
      // null-text docs carry no segments in the composed form (the
      // explode emits no rows) — drop them here the same way
      return docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.IntraDocScrub(TextAnalysis.tokens(col("text")), w)
            .as("t"))
        .select(col("doc_id"), col("t.n_segments").as("n_segments"),
          col("t.n_dropped").as("n_dropped"),
          col("t.cleaned_n_chars").as("cleaned_n_chars"),
          col("t.cleaned_hash").as("cleaned_hash"))
        .orderBy(col("n_dropped").desc, col("doc_id").asc)
        .limit(topK)
    }
    val tk = TextAnalysis.tokens(col("text"))
    val nSeg = ((size(tk) + w - 1) / w).cast("int") // int div on ints
    val segs = when(size(tk) > 0,
      transform(sequence(lit(0), nSeg - 1),
        i => array_join(slice(tk, i * w + 1, lit(w)), " ")))
      .otherwise(typedLit(Seq.empty[String]))
    val byFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("seg")).orderBy(col("idx").asc)
    docs.select(col("doc_id"), posexplode(segs).as(Seq("idx", "seg")))
      .withColumn("__rn", row_number().over(byFirst))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__rn") === 1, struct(col("idx"), col("seg"))))),
            s => s.getField("seg")), " ").as("__cleaned"))
      .select(col("doc_id"), col("n_segments"), col("n_dropped"),
        length(col("__cleaned")).cast("long").as("cleaned_n_chars"),
        graft.functions.HashFunctions.md5Int32(col("__cleaned")).as("cleaned_hash"))
      .orderBy(col("n_dropped").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** fastText-style linear quality classifier INFERENCE over hashed bigram
    * features (Joulin et al. 2016's bag-of-ngrams architecture; CCNet and
    * the GPT-3/LLaMA quality filters run exactly this shape at corpus
    * scale). The model here is a deterministic stand-in — weight(bucket) =
    * md5("w"+bucket) % 2001, centered to [-1000, 1000] milli-units — with
    * the real serving plan: feature hashing to `buckets` dims, weight
    * lookup, mean-pool, threshold. Swapping in trained weights changes a
    * lambda, not the plan.
    *
    * Scale posture: ZERO-shuffle scoring — the bigram expansion, hashing,
    * and weight sum all happen inside one codegen'd projection via
    * `transform`/`aggregate` (no explode, no per-doc hash agg), so scoring
    * 100 TB is a map-only pass; the only exchange is the final
    * TakeOrderedAndProject(topK). Integer arithmetic end-to-end: raw
    * weights stay in [0, 2000] so the mean divides non-negatives (Spark
    * `div` truncates toward zero, DuckDB `//` floors — they agree only on
    * non-negative operands), centering happens after the division.
    * The per-bigram feature hash is md5, which the DuckDB oracle replays
    * bit-exact.
    */
  /** The q137 weight table — the MODEL: `buckets` longs, materialized
    * once on the driver and shipped as a plan literal (the
    * broadcast-the-model serving discipline; with trained weights this
    * is the only line that changes). JVM md5 is bit-identical to the
    * engines' md5, so the precomputation is oracle-exact.
    */
  private def bigramWeightTable(buckets: Int): IndexedSeq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until buckets).map { b =>
      md.reset()
      val d = md.digest(("w" + b).getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(x => f"$x%02x").mkString, 16) % 2001
    }
  }

  def hashedBigramQuality(docs: DataFrame, buckets: Int = 4096,
                          topK: Int = 20): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val weights = bigramWeightTable(buckets)
    // ONE codegen kernel per row (tokenize once, digest raw bytes per
    // bigram, weight-table sum) — bit-identical to the composed
    // tokenNgrams→transform→aggregate form below, which stays as the
    // spec-asserted equivalence witness. The r12 measurement that
    // motivated it: the composed form's per-bigram expression machinery
    // (slice + array_join + md5-hex-parse chain) was the cost, not the
    // digest.
    docs.select(col("doc_id"), col("source"),
        graft.functions.BigramWeightSum(col("text"), weights).as("__bg"))
      .select(col("doc_id"), col("source"),
        col("__bg").getField("n_bigrams").as("n_bigrams"),
        col("__bg").getField("wsum").as("__wsum"))
      .filter(col("n_bigrams") > 0)
      .withColumn("score_milli", expr("__wsum div n_bigrams - 1000"))
      .withColumn("keep", col("score_milli") >= 0)
      .orderBy(col("score_milli").desc, col("doc_id").asc)
      .limit(topK)
      .select("doc_id", "source", "n_bigrams", "score_milli", "keep")
  }

  /** Built-ins-only composed form of [[hashedBigramQuality]]'s scoring —
    * the per-bigram expression-tree pipeline the native kernel replaced.
    * Kept as the kernel's spec-asserted equivalence witness (the
    * blocklistAudit discipline): CorpusOpsSpec pins kernel == composed.
    */
  def hashedBigramQualityComposed(docs: DataFrame, buckets: Int = 4096,
                                  topK: Int = 20): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val weights = bigramWeightTable(buckets)
    val bucketOf: Column => Column = g =>
      (graft.functions.HashFunctions.md5Int32(g) % buckets).cast("int")
    val weightOf: Column => Column = g =>
      element_at(typedLit(weights), bucketOf(g) + 1)
    docs.select(col("doc_id"), col("source"),
        tokenNgrams(col("text"), 2).as("g"))
      .withColumn("n_bigrams", size(col("g")).cast("long"))
      .filter(col("n_bigrams") > 0)
      .withColumn("__wsum",
        aggregate(transform(col("g"), weightOf), lit(0L), (acc, x) => acc + x))
      .withColumn("score_milli", expr("__wsum div n_bigrams - 1000"))
      .withColumn("keep", col("score_milli") >= 0)
      .orderBy(col("score_milli").desc, col("doc_id").asc)
      .limit(topK)
      .select("doc_id", "source", "n_bigrams", "score_milli", "keep")
  }

  /** Vocabulary coverage / OOV audit: induce the top-`vocabSize` token
    * bigrams by corpus frequency (count desc, bigram asc — the same rank
    * rule as [[bpeMergeCandidates]], one level up), then measure each
    * source's out-of-vocabulary mass in ppm. This is the coverage check a
    * tokenizer/vocab choice gets before training: a source with high OOV
    * under the candidate vocabulary will fragment into long byte-fallback
    * sequences (the fertility blow-up q120 measures after the fact).
    *
    * Plan: one hash agg on (source, bigram) — localCheckpointed because
    * the vocabulary cut AND the per-source rollups both consume it — then
    * a vocabulary re-agg with a rank cut, and a BROADCAST anti-join of the
    * (source, bigram) counts against the ≤ vocabSize vocab rows. The
    * corpus token stream is aggregated exactly once; nothing re-shuffles
    * on a text key.
    */
  def bigramVocabCoverage(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val stc = docs
      .select(col("source"), explode(tokenNgrams(col("text"), 2)).as("g"))
      .groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val vocab = stc.groupBy("g").agg(sum("cnt").as("c"))
      .orderBy(col("c").desc, col("g").asc)
      .limit(vocabSize)
    val tot = stc.groupBy("source").agg(sum("cnt").as("n_grams"))
    val oov = stc.join(broadcast(vocab.select("g")), Seq("g"), "left_anti")
      .groupBy("source").agg(sum("cnt").as("n_oov"))
    tot.join(oov, Seq("source"), "left")
      .na.fill(0L, Seq("n_oov"))
      .withColumn("oov_ppm", expr("(n_oov * 1000000) div n_grams"))
  }

  /** [[bigramVocabCoverage]] in the 60-bit hash domain — the form q139
    * registers: ONE [[graft.functions.TokenBigramHashes]] kernel scan
    * (no per-window slice/join/md5-hex chains), (source, hash-long)
    * aggregate, vocabulary cut ranked (count desc, HASH asc) — the same
    * deterministic total order as the string form's (count desc, gram
    * asc), just over a different tie-break key, mirrored verbatim in the
    * oracle. Output has no gram strings, so the result is identical to
    * the string form except when a count TIE straddles the vocab-size
    * boundary (both engines then agree with each other — the cut is
    * replayed on the same key) or two bigrams collide in 60 bits
    * (~V²/2^61). Shuffles move fixed 8-byte longs instead of
    * variable-length bigram strings — the measured ~2× class (q83/q160).
    */
  def bigramVocabCoverageHashed(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val stc = docs
      .select(col("source"),
        explode(graft.functions.TokenBigramHashes(col("text"))).as("g"))
      .groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val vocab = stc.groupBy("g").agg(sum("cnt").as("c"))
      .orderBy(col("c").desc, col("g").asc)
      .limit(vocabSize)
    val tot = stc.groupBy("source").agg(sum("cnt").as("n_grams"))
    val oov = stc.join(broadcast(vocab.select("g")), Seq("g"), "left_anti")
      .groupBy("source").agg(sum("cnt").as("n_oov"))
    tot.join(oov, Seq("source"), "left")
      .na.fill(0L, Seq("n_oov"))
      .withColumn("oov_ppm", expr("(n_oov * 1000000) div n_grams"))
  }

  /** [[intraDocRepeats]] in the 60-bit hash domain — the form q121
    * registers: ONE [[graft.functions.TokenNgramHashes]] kernel scan,
    * (doc_id, hash) aggregate, per-doc rollup, top-K. The output carries
    * no n-gram strings, so the result is bit-identical to the string
    * form unless two n-grams of the SAME document collide in 60 bits
    * (~per-doc-windows²/2^61 — vanishing, and the oracle replays the
    * identical hash so both engines move together). CorpusOpsSpec pins
    * hashed == string on clone/adversarial corpora.
    */
  def intraDocRepeatsHashed(docs: DataFrame, n: Int = 5, topK: Int = 20): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.TokenNgramHashes(col("text"), n)).as("ng"))
      .groupBy(col("doc_id"), col("ng"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_ngrams"),
        (sum(col("cnt")) - count(lit(1))).as("repeated_positions"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("distinct_repeated"))
      .orderBy(col("repeated_positions").desc, col("doc_id").asc)
      .limit(topK)

  /** Heaps'-law fit — the vocabulary-growth exponent β (and log-space
    * intercept) of V = K·N^β across documents, by closed-form least
    * squares on (ln n_tokens, ln n_types) per document. β far from the
    * 0.4–0.6 natural-text band is a corpus smell: β → 1 means
    * near-random token soup (every token new), β → 0 means template
    * spam (no vocabulary growth) — the corpus-level twin of q120's
    * per-source fertility.
    *
    * Engine stability: each document's two logs are quantized to integer
    * micro-nats (the q112 discipline) so every sum the regression
    * consumes is EXACT integer arithmetic — Σx, Σy as longs, Σxy, Σx² in
    * decimal(38,0) (products reach 1.3e14 per doc; 9e18 overflows at
    * ~70k docs, far below any real corpus). The final slope/intercept
    * are computed in double FROM those exact sums with an identical
    * expression on both engines, then rounded. ln(K) is emitted instead
    * of K — exp() is not engine-stable, ln on the small integer domain
    * of token counts is (both engines agree on the micro-nat rounding;
    * same argument as q99/q112).
    *
    * Scale shape: one map-side projection per document (tokens, distinct
    * tokens — array ops inside the row, no explode) and ONE global
    * aggregate. Nothing shuffles more than the 5-number summary.
    */
  def heapsLawFit(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = docs
      .select(TextAnalysis.tokens(col(textCol)).as("__w"))
      .select(size(col("__w")).cast("long").as("n"),
        size(array_distinct(col("__w"))).cast("long").as("v"))
      .filter(col("n") >= 2 && col("v") >= 1)
      .select(
        round(log(col("n").cast("double")) * 1e6, 0).cast("long").as("x"),
        round(log(col("v").cast("double")) * 1e6, 0).cast("long").as("y"))
    // nullif on the variance term: a uniform-length corpus (all x equal)
    // zeroes the denominator, and double 0/0 is engine-shaped NaN — null
    // beta/ln_k is the deterministic, cross-engine answer for "no fit"
    t.agg(
        count(lit(1)).as("n_docs"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      .select(col("n_docs"),
        round(
          (col("n_docs").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          nullif(col("n_docs").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"), lit(0.0)),
          6).as("beta"),
        round(
          ((col("sy").cast("double") -
            ((col("n_docs").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
             nullif(col("n_docs").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double"), lit(0.0))) *
            col("sx").cast("double")) /
            col("n_docs").cast("double")) / 1e6,
          6).as("ln_k"))
  }

  /** Per-source distribution shift: smoothed unigram KL divergence of each
    * source against the whole corpus — the domain-weighting diagnostic the
    * mixture papers start from (DoReMi, Xie et al. 2023 §2 measures domain
    * shift over exactly this unigram statistic before reweighting; DSIR,
    * Xie et al. 2023 uses the same importance-ratio family).
    *
    * Definitions: corpus vocab V = distinct tokens, corpus q(w) = c(w)/T
    * (never zero on its own support); source p_s add-1 smoothed over V,
    * p_s(w) = (c_s(w)+1)/(t_s+V), so KL(p_s || q) is finite even where
    * the source never uses a corpus word. The absent-word mass is closed
    * form — with p0 = 1/(t_s+V) and L = Σ_{w∈V} ln q(w):
    *
    *   KL = Σ_present p_s ln(p_s/q)  +  p0·[(V−V_s)·ln p0 − (L − L_s)]
    *
    * so the plan never materializes the (source × vocab) dense grid: one
    * token-keyed join for the present terms, aggregates for the rest.
    *
    * Scale shape: tokenize once; (source, token) and (token) hash
    * aggregates; ONE equi-join of source counts against corpus counts on
    * the token key (shuffle join — vocabulary is corpus-derived, never
    * broadcast); the corpus scalars (T, V, L) and per-source totals are
    * aggregate-bounded broadcasts. No windows, no all-pairs.
    */
  def sourceKlDivergence(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    // two plan references each (present-term join + totals) — checkpoint
    // like sourceTokenSimilarity so the corpus tokenizes once
    val sc = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cs"))
      .localCheckpoint(eager = true)
    // cc stays LAZY: its two consumers (corpus scalars + present join)
    // each re-run one vocabulary-sized aggregate over the CHECKPOINTED
    // sc frame — cheaper than a second eager materialization job, and
    // the corpus itself still tokenizes exactly once (r13 job shave)
    val cc = sc.groupBy(col("tok")).agg(sum(col("cs")).as("c"))
    val corpus = cc.agg(
      sum(col("c")).as("t_corpus"),
      count(lit(1)).as("v_corpus"),
      sum(log(col("c").cast("double"))).as("slc")) // Σ ln c(w); L = slc − V·ln T
    val st = sc.groupBy(col("source"))
      .agg(sum(col("cs")).as("ts"), count(lit(1)).as("vs"))
    val present = sc
      .join(cc, Seq("tok"))
      .join(broadcast(st), Seq("source"))
      .crossJoin(broadcast(corpus))
      .withColumn("ps",
        (col("cs") + lit(1)).cast("double") / (col("ts") + col("v_corpus")).cast("double"))
      .withColumn("lnq",
        log(col("c").cast("double")) - log(col("t_corpus").cast("double")))
      .groupBy(col("source"))
      .agg(sum(col("ps") * (log(col("ps")) - col("lnq"))).as("kl_present"),
        sum(col("lnq")).as("ls"))
    st.join(present, Seq("source"))
      .crossJoin(broadcast(corpus))
      .withColumn("p0", lit(1.0) / (col("ts") + col("v_corpus")).cast("double"))
      .withColumn("l_all",
        col("slc") - col("v_corpus").cast("double") * log(col("t_corpus").cast("double")))
      .select(col("source"), col("ts").as("n_tokens"), col("vs").as("vocab_used"),
        round(col("kl_present") +
          col("p0") * ((col("v_corpus") - col("vs")).cast("double") * log(col("p0")) -
            (col("l_all") - col("ls"))), 6).as("kl"))
  }

  /** Interpolated Kneser–Ney bigram cross-entropy per source (Kneser &
    * Ney 1995; Chen & Goodman 1999 eq. 4.21 with a single fixed discount):
    * build the corpus bigram LM
    *
    *   P_KN(w2|w1) = max(c(w1 w2) − d, 0)/c(w1·)
    *               + d·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|
    *
    * from ONE tokenized pass, then score each source by its average
    * −log2 P_KN over its own bigram tokens. This is the smoothed-LM form
    * of the q149 raw continuation counts and the q99 unsmoothed surprisal:
    * the number a mixture/filter pipeline reads as "how surprising is this
    * source to a corpus-level bigram LM" without the degenerate zero-prob
    * spikes the unsmoothed LM has on rare continuations.
    *
    * Scale posture: per-(source, w1, w2) occurrence counts are aggregated
    * FIRST, so every downstream join runs on vocabulary-sized frames keyed
    * by token — correctly shuffle joins (a corpus vocabulary is never
    * broadcast-sized); the only broadcast is the 1-row type total. The
    * per-source sum folds counts, not occurrences, so summation cost is
    * vocabulary-bounded per source.
    */
  def kneserNeyPerSource(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, s"need 0 < discount < 1, got $discount")
    val d = lit(discount)
    val w = TextAnalysis.tokens(col("text"))
    // per-(source, bigram) occurrence counts — the scoring side
    val pairs = docs
      .select(col("source"), w.as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(col("source"), explode(arrays_zip(
        slice(col("__w"), lit(1), size(col("__w")) - 1),
        slice(col("__w"), lit(2), size(col("__w")) - 1))).as("b"))
      .select(col("source"), col("b.0").as("w1"), col("b.1").as("w2"))
      .groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // three LM views + scoring read one tokenize
    val cab = pairs.groupBy(col("w1"), col("w2"))
      .agg(sum(col("n")).as("c_ab"))
      .localCheckpoint(eager = true)
    // c(w1·) and the right-continuation fan-out N1+(w1·) in one aggregate
    val ctx = cab.groupBy(col("w1"))
      .agg(sum(col("c_ab")).as("c_a"), count(lit(1)).as("r_cont"))
    val lcont = cab.groupBy(col("w2")).agg(count(lit(1)).as("l_cont"))
    val types = cab.agg(count(lit(1)).as("b_types"))
    pairs
      .join(cab, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(lcont, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("pkn",
        greatest(col("c_ab").cast("double") - d, lit(0.0)) / col("c_a").cast("double")
          + d * col("r_cont").cast("double") / col("c_a").cast("double")
            * (col("l_cont").cast("double") / col("b_types").cast("double")))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(-col("n").cast("double") * log(col("pkn"))).as("__nats"))
      .select(col("source"), col("n_bigrams"),
        round(col("__nats") / log(lit(2.0)) / col("n_bigrams").cast("double"), 6)
          .as("kn_bits_per_bigram"))
  }

  /** [[kneserNeyPerSource]] with every vocabulary join moved into the
    * 60-bit hash domain — the production form q160 registers. The
    * string form shuffles (w1, w2) VARCHAR keys through four joins; at
    * corpus scale the bigram vocabulary is tens of millions of rows and
    * variable-length keys dominate the shuffle (the measured ~2× class:
    * q83's distinct-count move, PERF.md r12). Here ONE codegen kernel
    * ([[graft.functions.TokenPairHashes]]) tokenizes and hashes each
    * token to its md5Int60 long in a single pass, so pairs/cab/ctx/lcont
    * all key on fixed 8-byte longs and the string never leaves the scan.
    *
    * The KN statistics are count-shaped (c_ab, c(w1·), N1+(·w2), type
    * counts), so the result is bit-identical to the string form unless
    * two distinct TOKENS collide in 60 bits (~V²/2^61 — V = 10⁶ vocab →
    * 4·10⁻⁷; a collision merges two context rows). CorpusOpsSpec pins
    * hashed == string on the test corpora; the DuckDB oracle replays the
    * identical per-token hash, so Spark and oracle move together even on
    * a collision.
    */
  def kneserNeyPerSourceHashed(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, s"need 0 < discount < 1, got $discount")
    val d = lit(discount)
    val pairs = docs
      .select(col("source"),
        explode(graft.functions.TokenPairHashes(col("text"))).as("b"))
      .select(col("source"), col("b.h1").as("h1"), col("b.h2").as("h2"))
      .groupBy(col("source"), col("h1"), col("h2"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // three LM views + scoring read one tokenize
    val cab = pairs.groupBy(col("h1"), col("h2"))
      .agg(sum(col("n")).as("c_ab"))
      .localCheckpoint(eager = true)
    val ctx = cab.groupBy(col("h1"))
      .agg(sum(col("c_ab")).as("c_a"), count(lit(1)).as("r_cont"))
    val lcont = cab.groupBy(col("h2")).agg(count(lit(1)).as("l_cont"))
    val types = cab.agg(count(lit(1)).as("b_types"))
    pairs
      .join(cab, Seq("h1", "h2"))
      .join(ctx, Seq("h1"))
      .join(lcont, Seq("h2"))
      .crossJoin(broadcast(types))
      .withColumn("pkn",
        greatest(col("c_ab").cast("double") - d, lit(0.0)) / col("c_a").cast("double")
          + d * col("r_cont").cast("double") / col("c_a").cast("double")
            * (col("l_cont").cast("double") / col("b_types").cast("double")))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(-col("n").cast("double") * log(col("pkn"))).as("__nats"))
      .select(col("source"), col("n_bigrams"),
        round(col("__nats") / log(lit(2.0)) / col("n_bigrams").cast("double"), 6)
          .as("kn_bits_per_bigram"))
  }

  /** Quality-signal agreement: per source, the exact Pearson correlation
    * between two independent per-document quality signals — the q137
    * hashed-bigram classifier score and the q172 type-token-ratio — the
    * redundancy audit a pipeline runs before stacking filters: two
    * signals that correlate at 0.9 in a source are one filter, not two,
    * and a source where they DISAGREE (r near 0) needs a human look
    * before either is trusted to gate it.
    *
    * Engine-stability discipline (q170's): both signals are
    * integer-quantized per doc (score_milli, ttr_pm), the five
    * correlation moments are EXACT integer sums, and floats appear only
    * in the final closed-form r over six scalars — no float ever
    * aggregates across rows. Moments fit int64 comfortably (|x|,|y| ≤
    * ~1000 ⇒ Σxy ≤ n·1e6: exact to n = 9e12 docs).
    *
    * Scale shape: signal x is ONE codegen kernel scan
    * ([[graft.functions.BigramWeightSum]]); signal y is the q172
    * tokenize + two-level aggregate (the corpus shuffles (doc, token)
    * once — tokenize-bound like q172 itself); the join is doc-keyed and
    * feeds straight into a |sources|-row aggregate.
    */
  def qualitySignalAgreement(docs: DataFrame, buckets: Int = 4096): DataFrame = {
    val weights = bigramWeightTable(buckets)
    val x = docs.select(col("doc_id"), col("source"),
        graft.functions.BigramWeightSum(col("text"), weights).as("__bg"))
      .select(col("doc_id"), col("source"),
        col("__bg").getField("n_bigrams").as("__nb"),
        col("__bg").getField("wsum").as("__ws"))
      .filter(col("__nb") > 0)
      .withColumn("x", expr("__ws div __nb - 1000"))
      .select(col("doc_id"), col("source"), col("x"))
    val y = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col("doc_id"))
      .agg(expr("(1000 * count(1)) div sum(__c)").as("y"))
    x.join(y, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
        sum(col("x") * col("x")).as("__sxx"),
        sum(col("y") * col("y")).as("__syy"),
        sum(col("x") * col("y")).as("__sxy"))
      .withColumn("mean_score_milli", expr("__sx div n_docs"))
      .withColumn("mean_ttr_pm", expr("__sy div n_docs"))
      .withColumn("__cov",
        col("n_docs").cast("double") * col("__sxy").cast("double") -
          col("__sx").cast("double") * col("__sy").cast("double"))
      .withColumn("__vx",
        col("n_docs").cast("double") * col("__sxx").cast("double") -
          col("__sx").cast("double") * col("__sx").cast("double"))
      .withColumn("__vy",
        col("n_docs").cast("double") * col("__syy").cast("double") -
          col("__sy").cast("double") * col("__sy").cast("double"))
      .withColumn("r", when(col("__vx") * col("__vy") > 0,
        round(col("__cov") / sqrt(col("__vx") * col("__vy")), 6)))
      .select(col("source"), col("n_docs"), col("mean_score_milli"),
        col("mean_ttr_pm"), col("r"))
  }

  /** Per-source document informativeness via RATIONAL inverse document
    * frequency — mean over each doc's DISTINCT tokens of
    * `(1e6 · N) div df(token)` in ppm, rolled up per source (mean /
    * min / max of the per-doc means). The boilerplate screen TF-IDF
    * gives without its float log: a doc of corpus-universal tokens
    * (df ≈ N) scores ≈ 1e6, a doc of hapaxes scores ≈ 1e6·N. Log-free
    * rational idf is the [[graft.text.Bm25]] parity discipline — every
    * arithmetic step is exact BIGINT (`div`), so there is NO float
    * anywhere and the oracle can't ULP-drift.
    *
    * Tokens ride the 60-bit hash domain ([[graft.functions
    * .TokenNgramHashes]] at n = 1, the q121 class): the df aggregate
    * and the idf join ship 8-byte longs, never token strings. A 60-bit
    * collision merges two df rows (~V²/2^61); the oracle replays the
    * identical hash, so both engines move together. Null text
    * coalesces to '' (tokenizes to [''], one token) on both engines —
    * the q189/q191 discipline.
    *
    * Scale shape: one tokenize+hash kernel scan (per-doc distinct done
    * INSIDE the row via array_distinct — no (doc, token) pre-shuffle),
    * one vocabulary-keyed df aggregate, one hash-keyed join back, one
    * per-doc aggregate, one |sources|-row rollup. The N scalar rides a
    * broadcast 1-row crossJoin.
    */
  def docInformativeness(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", srcCol: String = "source"): DataFrame = {
    val tk = docs
      .select(col(idCol), col(srcCol),
        explode(array_distinct(graft.functions.TokenNgramHashes(
          coalesce(col(textCol), lit("")), 1))).as("h"))
      .localCheckpoint(eager = true) // df aggregate + idf join both read it
    val nd = docs.agg(count(lit(1)).as("nd"))
    val dfreq = tk.groupBy(col("h")).agg(count(lit(1)).as("df"))
    tk.join(dfreq, Seq("h"))
      .crossJoin(broadcast(nd))
      .groupBy(col(idCol), col(srcCol))
      .agg(count(lit(1)).as("k"),
        sum(expr("(1000000 * nd) div df")).as("s"))
      .select(col(srcCol), expr("s div k").as("doc_idf_ppm"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_idf_ppm")).as("__s"),
        min(col("doc_idf_ppm")).as("min_doc_idf_ppm"),
        max(col("doc_idf_ppm")).as("max_doc_idf_ppm"))
      .select(col(srcCol).as("source"), col("n_docs"),
        expr("__s div n_docs").as("mean_doc_idf_ppm"),
        col("min_doc_idf_ppm"), col("max_doc_idf_ppm"))
  }

  /** Character classes the entropy profile counts: the 26 ASCII letters
    * plus space; anything else falls into one "other" bucket. Shared
    * with the oracle generator so the class list can never drift.
    */
  val EntropyClasses: Seq[String] = ('a' to 'z').map(_.toString) :+ " "

  /** Per-source character-entropy profile: Shannon entropy of each
    * doc's character distribution (a-z, space, other — 28 classes),
    * then integer micro-unit stats per source. Low-entropy docs are
    * degenerate (one repeated char, binary junk decoded as text);
    * anomalously high entropy flags encoding noise — both standard
    * pre-training triage signals (the character-level complement of
    * the token-level quality rules in [[graft.text.QualityRules]]).
    *
    * Exactness discipline: class counts come from the in-row
    * length-replace identity (no explode — the q122 trick, so a doc
    * never shuffles its characters); each p·ln(p) term rounds its ln
    * to 9dp before the FIXED-ORDER sum (the q180/q187 float rule), and
    * the per-doc entropy converts to integer micro-units before any
    * cross-row aggregation — sums/min/max are then exact integers in
    * any engine.
    *
    * Scale shape: one corpus scan (28 codegen'd replaces per row),
    * one |sources|-row aggregate. No shuffle carries text.
    */
  def charEntropy(docs: DataFrame, srcCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    // ONE byte pass for all 28 class counts (the kernel), vs the
    // composed witness's 28 string re-traversals — measured 15.8 s →
    // kernel time at 100×; charEntropyComposed is the spec-pinned
    // oracle-documenting form
    val cnts = graft.functions.CharClassCounts(t)
    val ks = (1 to graft.functions.CharClassCounts.NumClasses)
      .map(i => element_at(cnts, i))
    entropyRollup(docs, srcCol, length(t).cast("double"), ks)
  }

  /** Expression-tree witness of [[charEntropy]] (the length-replace
    * identity the generated oracle SQL documents); CorpusOpsSpec pins
    * bit equality with the kernel form.
    */
  def charEntropyComposed(docs: DataFrame, srcCol: String = "source",
                          textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val classCounts = EntropyClasses.map(c =>
      length(t) - length(replace(t, lit(c), lit(""))))
    val other = length(regexp_replace(t, "[a-z ]", ""))
    entropyRollup(docs, srcCol, length(t).cast("double"), classCounts :+ other)
  }

  /** Shared fixed-order 9dp-ln fold (a, b, …, z, space, other — the
    * oracle SQL chains the same terms in the same order) and the
    * per-source micro-unit rollup.
    */
  private def entropyRollup(docs: DataFrame, srcCol: String,
                            n: Column, ks: Seq[Column]): DataFrame = {
    def term(k: Column): Column = {
      val kd = k.cast("double")
      when(kd > 0, (kd / n) * round(log(kd / n), 9)).otherwise(lit(0.0))
    }
    val entropy = -ks.map(term).reduce(_ + _)
    val micro = round(entropy * 1000000, 0).cast("long")
    docs.select(col(srcCol).as("source"), micro.as("__e"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__e")).as("__s"),
        min(col("__e")).as("min_entropy_micro"),
        max(col("__e")).as("max_entropy_micro"))
      .select(col("source"), col("n_docs"),
        expr("__s div n_docs").as("mean_entropy_micro"),
        col("min_entropy_micro"), col("max_entropy_micro"))
  }

  /** Token position bias: for every vocabulary token, the mean relative
    * position (ppm of the 0..len-1 span) of its occurrences across the
    * corpus, ranked by distance from the uniform midpoint. Tokens that
    * systematically open documents (templated prefixes, boilerplate
    * headers) or close them (signatures, footers) surface at the top —
    * the positional complement of frequency-based boilerplate
    * detection ([[intraDocScrub]]). Single-token docs carry no
    * positional information and are excluded on both engines.
    *
    * All-integer: rel position is (1e6·pos) div (len−1); means are
    * sum div count. Scale: one scan + posexplode, vocabulary-bounded
    * aggregate, top-k total order (bias desc, token asc).
    */
  def tokenPositionBias(docs: DataFrame, textCol: String = "text",
                        topK: Int = 20): DataFrame = {
    val w = TextAnalysis.tokens(coalesce(col(textCol), lit("")))
    docs.select(w.as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(size(col("__w")).as("__len"),
        posexplode(col("__w")).as(Seq("pos", "token")))
      .select(col("token"),
        expr("(1000000L * pos) div (__len - 1)").as("__ppm"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occ"), sum(col("__ppm")).as("__s"))
      .select(col("token"), col("n_occ"),
        expr("__s div n_occ").as("mean_pos_ppm"))
      .withColumn("bias_ppm", abs(col("mean_pos_ppm") - 500000))
      .orderBy(col("bias_ppm").desc, col("token").asc)
      .limit(topK)
  }

  /** Token dispersion: document frequency vs collection frequency per
    * token. dispersion_ppm = 1e6·df/cf — 1.0 means the token never
    * repeats within a doc (function-word-like spread); low values mean
    * burstiness (a token concentrated in few docs — topical or
    * template spam). The cross-document complement of the within-doc
    * repetition ratios (q51/q121). Returns the topK MOST bursty
    * (lowest dispersion; token asc tiebreak — a total order).
    *
    * Scale shape: one scan, a (doc, token) partial-combined aggregate
    * (≈ vocab rows per doc, linear), then a vocabulary-bounded rollup.
    */
  def tokenDispersion(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", topK: Int = 20): DataFrame = {
    val w = TextAnalysis.tokens(coalesce(col(textCol), lit("")))
    docs.select(col(idCol), explode(w).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("__c"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("__c")).as("cf"))
      .select(col("token"), col("df"), col("cf"),
        expr("(1000000 * df) div cf").as("dispersion_ppm"))
      .orderBy(col("dispersion_ppm").asc, col("token").asc)
      .limit(topK)
  }

  /** [[tokenPositionBias]] in the 60-bit hash domain — built for
    * VERDICT r14 item 2 and then MEASURED SLOWER, so q197 registers the
    * string form (PERF.md r15: 15.4 s string vs 45.9 s md5-hash at
    * 100× — the q69 negative-result class: single-token
    * keys are short, map-side combine already shrinks the string
    * shuffle to the per-partition vocabulary, and the per-token digest
    * plus the winner-recovery scan dominate). Kept as the library's
    * alternative for long-token/URL-key corpora where the trade flips:
    * the aggregate rides ONE [[graft.functions.TokenNgramHashes]]
    * (n = 1) kernel scan, the top-K cut ranks (bias desc, HASH asc),
    * and only the ≤ topK winning hashes get strings back via
    * [[recoverTokens]]. Output is identical to the string form except
    * when a bias tie straddles the cut or two vocabulary tokens collide
    * in 60 bits (~V²/2^61); CorpusOpsSpec pins parity.
    */
  def tokenPositionBiasHashed(docs: DataFrame, textCol: String = "text",
                              topK: Int = 20): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val winners = docs
      .select(graft.functions.TokenNgramHashes(t, 1).as("__h"))
      .filter(size(col("__h")) >= 2)
      .select(size(col("__h")).as("__len"),
        posexplode(col("__h")).as(Seq("pos", "tokh")))
      .select(col("tokh"),
        expr("(1000000L * pos) div (__len - 1)").as("__ppm"))
      .groupBy(col("tokh"))
      .agg(count(lit(1)).as("n_occ"), sum(col("__ppm")).as("__s"))
      .select(col("tokh"), col("n_occ"),
        expr("__s div n_occ").as("mean_pos_ppm"))
      .withColumn("bias_ppm", abs(col("mean_pos_ppm") - 500000))
      .orderBy(col("bias_ppm").desc, col("tokh").asc)
      .limit(topK)
      // k rows, read twice (semi-join build + name re-attach): pin them
      // so the vocabulary aggregate runs once
      .localCheckpoint(eager = true)
    recoverTokens(docs, winners, textCol)
      .select(col("token"), col("n_occ"), col("mean_pos_ppm"), col("bias_ppm"))
      .orderBy(col("bias_ppm").desc, col("token").asc)
  }

  /** [[tokenDispersion]] in the 60-bit hash domain — same contract,
    * caveats, AND negative perf result as [[tokenPositionBiasHashed]]
    * (21.1 s string vs 44.7 s hashed at 100×), so q199 registers the
    * string form; this stays as the long-key alternative. The
    * (doc, token) combine and the vocabulary rollup both move longs;
    * (dispersion asc, HASH asc) is the cut's total order.
    */
  def tokenDispersionHashed(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text", topK: Int = 20): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val winners = docs
      .select(col(idCol),
        explode(graft.functions.TokenNgramHashes(t, 1)).as("tokh"))
      .groupBy(col(idCol), col("tokh")).agg(count(lit(1)).as("__c"))
      .groupBy(col("tokh"))
      .agg(count(lit(1)).as("df"), sum(col("__c")).as("cf"))
      .select(col("tokh"), col("df"), col("cf"),
        expr("(1000000 * df) div cf").as("dispersion_ppm"))
      .orderBy(col("dispersion_ppm").asc, col("tokh").asc)
      .limit(topK)
      .localCheckpoint(eager = true)
    recoverTokens(docs, winners, textCol)
      .select(col("token"), col("df"), col("cf"), col("dispersion_ppm"))
      .orderBy(col("dispersion_ppm").asc, col("token").asc)
  }

  /** Token-string recovery for a ≤ topK frame of winning 60-bit hashes
    * (`tokh` column): one more kernel scan zips every doc's tokens with
    * their hashes positionally, a BROADCAST semi-join drops everything
    * but winner occurrences BEFORE any shuffle touches a string (the
    * map-side-combined distinct then moves ≤ winners rows per
    * partition), and the tiny name table re-attaches broadcast. The
    * corpus-wide aggregates upstream never see a string key; the
    * recovery scan itself is the cost that (with the per-token digest)
    * made the move a net loss on short-token corpora — see the
    * registration notes on the two Hashed forms above.
    */
  private def recoverTokens(docs: DataFrame, winners: DataFrame,
                            textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val z = zip_with(TextAnalysis.tokens(t),
      graft.functions.TokenNgramHashes(t, 1),
      (tok, h) => struct(tok.as("token"), h.as("tokh")))
    val names = docs.select(explode(z).as("__p"))
      .select(col("__p.token").as("token"), col("__p.tokh").as("tokh"))
      .join(broadcast(winners.select(col("tokh"))), Seq("tokh"), "left_semi")
      .distinct()
    winners.join(broadcast(names), Seq("tokh"))
  }

  def mixedLanguage(docs: DataFrame, segLen: Int = 200, topK: Int = 20): DataFrame =
    // r20 (guide §1.2 per-task work): the composed langId walks each
    // segment's token array once per language through interpreted
    // `filter(isin)` lambdas (×2: max + tie-break) — the native LangId
    // kernel is one loop with hash-set membership, value-identical
    // (TextAnalysisSpec pin; the q16/q112 registrations already ride it)
    docs.select(col("doc_id"), explode(charSegments(col("text"), segLen)).as("seg"))
      .select(col("doc_id"),
        graft.functions.LangId(TextAnalysis.tokens(col("seg"))).as("seg_lang"))
      .groupBy(col("doc_id"), col("seg_lang"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_segments"),
        count(lit(1)).as("n_langs"),
        max(col("cnt")).as("majority_cnt"))
      .orderBy(col("n_langs").desc, col("doc_id").asc)
      .limit(topK)
}
