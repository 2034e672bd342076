package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, tokenization, and document fingerprinting. All are
  * pure map-side Catalyst expressions (codegen-friendly, no UDFs, no
  * shuffle), with md5-derived hashes so the DuckDB oracle can replay
  * them exactly.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword-hit
    * language heuristic. Ordered: earlier lists win score ties.
    */
  val StopwordLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "de", "y", "los", "en", "un", "es"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Stopword hits over a precomputed token-array column. */
  def stopwordHitsIn(w: Column, words: Seq[String]): Column =
    size(filter(w, t => t.isin(words.map(lit): _*)))

  /** Heuristic language ID over a precomputed token-array column: the
    * language whose stopword list scores the most token hits; ties
    * resolve in [[StopwordLists]] order; zero hits everywhere →
    * 'unknown'. Callers should stage the token array as its own
    * projection (`withColumn("w", tokens(...))`) so the split/lower pass
    * runs once, not once per language. (A production langid swaps in
    * char-n-gram profiles behind the same column contract.)
    */
  def langIdFromTokens(w: Column): Column = {
    val scored = StopwordLists.map { case (l, ws) => l -> stopwordHitsIn(w, ws) }
    // when-chain in priority order: first language reaching the max score
    val maxScore = greatest(scored.map(_._2): _*)
    scored.foldRight[Column](lit("unknown")) {
      case ((l, s), elseCol) => when(s === maxScore && maxScore > 0, lit(l)).otherwise(elseCol)
    }
  }

  /** Single-expression convenience form (tests, small data). */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Composite quality score in [0,1] over the text and its precomputed
    * token array: length sufficiency, mean token length sanity, stopword
    * presence, vocabulary diversity — equal weights, each clamped to
    * [0,1]. Deterministic and oracle-portable.
    */
  def qualityScoreFromTokens(text: Column, w: Column): Column = {
    val nTok = size(w).cast("double")
    val nChars = length(text).cast("double")
    val avgLen = nChars / nTok
    val stopHits = stopwordHitsIn(w, StopwordLists.head._2).cast("double")
    val lenScore = least(nTok / 100.0, lit(1.0))
    val avgLenScore = greatest(lit(0.0), lit(1.0) - abs(avgLen - 5.0) / 10.0)
    val stopScore = least(stopHits / nTok * 5.0, lit(1.0))
    val uniqScore = size(array_distinct(w)).cast("double") / nTok
    round((lenScore + avgLenScore + stopScore + uniqScore) / 4.0, 6)
  }

  /** Single-expression convenience form (tests, small data). */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(text))

  /** One-pass native token statistics over the text (the
    * [[graft.functions.TokenStats]] kernel with the English stopword
    * list): struct(n_tok, n_uniq, stop_hits, ne_n, ne_v, ne_mx).
    * Stage it as its own projection and derive quality + TTR from the
    * integers — replaces the interpreted `filter(isin)` /
    * `array_distinct` higher-order pass per row (r19, guide §1.2).
    */
  def tokenStats(text: Column): Column =
    graft.functions.TokenStats(text, StopwordLists.head._2)

  /** [[qualityScoreFromTokens]] over a precomputed [[tokenStats]]
    * struct — the IDENTICAL double-arithmetic tree fed by the kernel's
    * integers instead of the composed size/filter/array_distinct
    * expressions, so scores are bit-equal (TokenStatsSpec pins it).
    */
  def qualityScoreFromStats(text: Column, st: Column): Column = {
    val nTok = st.getField("n_tok").cast("double")
    val nChars = length(text).cast("double")
    val avgLen = nChars / nTok
    val stopHits = st.getField("stop_hits").cast("double")
    val lenScore = least(nTok / 100.0, lit(1.0))
    val avgLenScore = greatest(lit(0.0), lit(1.0) - abs(avgLen - 5.0) / 10.0)
    val stopScore = least(stopHits / nTok * 5.0, lit(1.0))
    val uniqScore = st.getField("n_uniq").cast("double") / nTok
    round((lenScore + avgLenScore + stopScore + uniqScore) / 4.0, 6)
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy: runs of letters, runs of digits, and single
    * punctuation marks each count as one token (the usual pre-tokenizer
    * regex shape). Native single-pass state machine — no regex engine,
    * no match-array allocation (graft.functions.BpeTokenCount; the regex
    * phrasing below documents the semantics and feeds the spec).
    */
  def bpeTokenCount(text: Column): Column =
    graft.functions.BpeTokenCount(lower(text))

  /** Regex phrasing of [[bpeTokenCount]] — value-identical; the form the
    * DuckDB oracle replays.
    */
  def bpeTokenCountRegex(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** MOSS-style fingerprints over an ALREADY-NORMALIZED (lowercased,
    * trimmed) text column: hashes of all char k-grams, thinned by keeping
    * h ≡ 0 (mod modulo). Output: distinct array of fingerprint hashes per
    * doc. Winnowing-lite — deterministic, portable, map-side. The column
    * must be a plain attribute (stage `lower(trim(text))` as its own
    * projection first): the lambda body references it once per k-gram
    * position, so an inlined normalization expression would re-lowercase
    * the whole document O(length) times per row. (expr-string form
    * because `substr` with a per-element position has no Column-DSL
    * variant.)
    */
  def fingerprintsOfNormalized(normColName: String, k: Int = 16,
                               modulo: Int = 16): Column =
    expr(
      s"""array_distinct(filter(
         |  transform(sequence(1, greatest(length($normColName) - ${k - 1}, 1)),
         |    i -> cast(conv(substr(md5(cast(substr($normColName, i, $k) as binary)), 1, 8), 16, 10) as bigint)),
         |  h -> h % $modulo = 0))""".stripMargin)

  /** Single-expression convenience form (tests, small data): normalizes
    * inline, so the lowercase pass runs per k-gram — prefer staging
    * `lower(trim(text))` + [[fingerprintsOfNormalized]] on real corpora.
    */
  def fingerprints(textColName: String, k: Int = 16, modulo: Int = 16): Column =
    expr(
      s"""array_distinct(filter(
         |  transform(sequence(1, greatest(length(lower(trim($textColName))) - ${k - 1}, 1)),
         |    i -> cast(conv(substr(md5(cast(substr(lower(trim($textColName)), i, $k) as binary)), 1, 8), 16, 10) as bigint)),
         |  h -> h % $modulo = 0))""".stripMargin)

  /** First-matching rejection reason for a training-data cleaning funnel
    * over a precomputed token-array column: 'too_short' (< minTokens),
    * 'low_diversity' (type–token ratio < minTtr — word-soup/boilerplate),
    * 'unknown_lang' (zero stopword hits in every [[StopwordLists]]
    * language), else 'kept'. One narrow pass; the per-reason counts are
    * the funnel observability a 100 TB cleaning job reports.
    */
  def cleaningReasonFromTokens(w: Column, minTokens: Int = 15,
                               minTtr: Double = 0.45): Column =
    when(size(w) < minTokens, lit("too_short"))
      .when(size(array_distinct(w)).cast("double") / size(w).cast("double")
        < minTtr, lit("low_diversity"))
      // native LangId kernel — spec-asserted equal to langIdFromTokens
      .when(graft.functions.LangId(w) === "unknown", lit("unknown_lang"))
      .otherwise(lit("kept"))

  /** Repetition ratio — the Gopher-style boilerplate signal: the fraction
    * of a document's word n-grams that are repeats of an earlier n-gram
    * (`1 − distinct/total`). 0.0 for texts with fewer than n words (no
    * n-gram exists, nothing can repeat). Narrow per-row compute — at
    * 100 TB this is a map stage fused into the scan.
    */
  def repetitionRatio(text: Column, n: Int = 5): Column = {
    val w = tokens(text)
    val grams = transform(
      sequence(lit(0), size(w) - n),
      i => concat_ws(" ", slice(w, i + 1, lit(n))))
    when(size(w) < n, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
  }

  // =========================================================================
  // PII scrubbing — the redaction pass every training-data pipeline runs
  // before publishing a corpus. Patterns are deliberately lookahead-free
  // so the same regex runs under Java's engine and RE2-family engines
  // (DuckDB) with identical matches.
  // =========================================================================

  /** Email addresses (user@host.tld). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** NNN-NNN-NNNN / NNN.NNN.NNNN phone shapes. */
  val PhoneRe = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

  /** Long digit runs (card/account numbers, 12-19 digits). */
  val LongNumRe = "[0-9]{12,19}"

  /** Replace each PII class with a typed placeholder. Email first (its
    * local part may contain digit runs), then phones (dash/dot-grouped
    * digits would otherwise be eaten by the long-number rule), then bare
    * long digit runs. Pure map-side expression — fused into the scan.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      LongNumRe, "<NUM>")

  /** Per-class PII hit counts on the UNredacted text, as one struct
    * (emails, phones, long_nums) — the audit metric that decides whether
    * a source needs review before release.
    */
  def piiCounts(text: Column): Column =
    struct(
      regexp_count(text, lit(EmailRe)).cast("long").as("emails"),
      regexp_count(text, lit(PhoneRe)).cast("long").as("phones"),
      regexp_count(text, lit(LongNumRe)).cast("long").as("long_nums"))
}
