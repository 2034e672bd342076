package graft

import org.apache.spark.sql.functions._
import graft.text.CorpusOps

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "source")

  test("tokenNgrams windows and short-doc empty case") {
    val df = Seq(("a b c d", 1L), ("a b", 2L)).toDF("text", "id")
    val got = df.select(col("id"), CorpusOps.tokenNgrams(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L).isEmpty)
  }

  test("intraDocRepeats counts repeated positions within a doc only") {
    // doc 1: "x y x y x y" → 3-grams: [x y x, y x y, x y x, y x y] →
    //   2 distinct, each twice → repeated_positions = 2, distinct_repeated = 2
    // doc 2: all-unique 3-grams → zero repeats
    // doc 3 repeats doc 2's text: cross-doc repetition must NOT count
    val d = docs(
      (1L, "x y x y x y", "s"),
      (2L, "p q r s t", "s"),
      (3L, "p q r s t", "s"))
    val got = CorpusOps.intraDocRepeats(d, n = 3, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.head == ((1L, 4L, 2L, 2L)))
    assert(got.filter(_._1 != 1L).forall(t => t._3 == 0L && t._4 == 0L))
  }

  test("phraseHits counts literal substring occurrences") {
    val df = Seq("slow slow fast", "nothing here", "slowslow").toDF("text")
    val got = df.select(CorpusOps.phraseHits("slow")).as[Long].collect()
    assert(got.toSeq == Seq(2L, 0L, 2L))
  }

  test("blocklistAudit aggregates per source and phrase") {
    val d = docs((1L, "bad thing", "s1"), (2L, "bad bad", "s1"), (3L, "clean", "s2"))
    val got = CorpusOps.blocklistAudit(d, Seq("bad"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == Set(("s1", "bad", 3L, 2L), ("s2", "bad", 0L, 0L)))
  }

  test("sourceTokenSimilarity emits exact integer dots and norms") {
    val d = docs(
      (1L, "a a b", "s1"),   // s1: a→2, b→1 → norm 5
      (2L, "a b b", "s2"),   // s2: a→1, b→2 → norm 5 ; dot(s1,s2)=2·1+1·2=4
      (3L, "c", "s3"))       // s3: disjoint → dot rows with 0 never materialize
    val got = CorpusOps.sourceTokenSimilarity(d, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("s1", "s2", 4L, 5L, 5L)))
  }

  test("mixedLanguage flags the doc whose segments disagree") {
    val en = "the a of and to in is it " * 4        // pure-en segment text
    val fr = "le la de et les des un est " * 4
    val d = docs(
      (1L, en + fr, "s"),   // 2 langs at segLen=32... use segLen to split cleanly
      (2L, en + en, "s"))
    val rows = CorpusOps.mixedLanguage(d, segLen = 32, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows(1L) >= 2L, "doc 1 mixes en and fr segments")
    assert(rows(2L) == 1L, "doc 2 is monolingual")
  }

  test("native blocklistAudit equals the composed replace-chain form") {
    val d = docs(
      (1L, "aaaa slow fast table fast table", "s1"),
      (2L, "", "s1"),
      (3L, "slowslow aa a vector", "s2"),
      (4L, "no hits at all", "s3"))
    val phrases = Seq("slow", "fast table", "aa", "vector")
    val native = CorpusOps.blocklistAudit(d, phrases)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val composed = CorpusOps.blocklistAuditComposed(d, phrases)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(native == composed)
    // overlap semantics: "aaaa" vs "aa" counts 2 (non-overlapping advance)
    assert(native.contains(("s1", "aa", 2L, 1L)))
  }

  test("bpeMergeCandidates ranks adjacent char pairs within words") {
    val d = docs((1L, "abab ab", "s"), (2L, "xy", "s"))
    // pairs: abab -> ab, ba, ab ; ab -> ab ; xy -> xy
    val got = CorpusOps.bpeMergeCandidates(d, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.head == (("ab", 3L)))
    assert(got.toMap == Map("ab" -> 3L, "ba" -> 1L, "xy" -> 1L))
  }

  test("intraDocRepeats plan has no driver-side step and bounded take") {
    val d = docs((1L, "x y z", "s"))
    val plan = CorpusOps.intraDocRepeats(d).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("intraDocScrub drops later repeats of a segment, keeps order, hashes cleaned text") {
    // doc 1 segments (w=2): [a b][a b][c d][a b] -> keep idx 0, 2
    // doc 2: no repeats; doc 3: odd tail segment "e" kept as its own window
    val d = docs(
      (1L, "a b a b c d a b", "s"),
      (2L, "p q r s", "s"),
      (3L, "m n m n e", "s"))
    val got = CorpusOps.intraDocScrub(d, w = 2, topK = 10)
      .select("doc_id", "n_segments", "n_dropped", "cleaned_n_chars")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 4L, 2L, 7L), // "a b c d"
      (2L, 2L, 0L, 7L), // "p q r s"
      (3L, 3L, 1L, 5L)  // "m n e"
    ), got.toString)
    // cleaned hash is content-derived: doc 1's cleaned text "a b c d"
    // must hash identically to a doc WRITTEN as "a b c d"
    val ref = docs((9L, "a b c d", "s"))
    val h1 = CorpusOps.intraDocScrub(d, w = 2, topK = 10)
      .filter($"doc_id" === 1).select("cleaned_hash").as[Long].head()
    val h9 = CorpusOps.intraDocScrub(ref, w = 2, topK = 10)
      .filter($"doc_id" === 9).select("cleaned_hash").as[Long].head()
    assert(h1 == h9)
  }

  test("intraDocScrub kernel == composed window/aggregate phrasing (r19)") {
    val d = docs(
      (1L, "a b a b c d a b", "s"),
      (2L, "p q r s", "s"),
      (3L, "m n m n e", "s"),
      (4L, "", "s"),              // empty text -> one empty segment
      (5L, "solo", "s"),          // single short token
      (6L, "x x x x x x", "s"))   // all-identical segments
    for (w <- Seq(1, 2, 3)) {
      val kernel = CorpusOps.intraDocScrub(d, w = w, topK = 100)
        .orderBy("doc_id").collect()
      val composed = CorpusOps.intraDocScrub(d, w = w, topK = 100,
        kernelScrub = false).orderBy("doc_id").collect()
      assert(kernel.length == composed.length && kernel.nonEmpty, s"w=$w")
      kernel.zip(composed).foreach { case (a, b) => assert(a == b, s"w=$w") }
    }
    // real-corpus sweep at the default width
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kr = CorpusOps.intraDocScrub(real, w = 2, topK = 1000)
      .orderBy("doc_id").collect()
    val cr = CorpusOps.intraDocScrub(real, w = 2, topK = 1000,
      kernelScrub = false).orderBy("doc_id").collect()
    assert(kr.length == cr.length && kr.nonEmpty)
    kr.zip(cr).foreach { case (a, b) => assert(a == b) }
  }

  /** JVM replica of the operator's md5-prefix hash (HashFunctions.md5Int32). */
  private def h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  test("hashedBigramQuality scores match a JVM replica; short docs drop") {
    val d = docs(
      (1L, "alpha beta gamma", "s"), // 2 bigrams
      (2L, "single", "s"),           // 0 bigrams -> excluded
      (3L, "alpha beta", "t"))       // 1 bigram
    val got = CorpusOps.hashedBigramQuality(d, buckets = 4096, topK = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    def weight(g: String): Long = h32("w" + (h32(g) % 4096).toString) % 2001
    def score(grams: Seq[String]): Long =
      grams.map(weight).sum / grams.size - 1000
    val s1 = score(Seq("alpha beta", "beta gamma"))
    val s3 = score(Seq("alpha beta"))
    val want = Seq((1L, "s", 2L, s1, s1 >= 0), (3L, "t", 1L, s3, s3 >= 0))
      .sortBy(t => (-t._4, t._1))
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
    assert(!got.exists(_._1 == 2L))
  }

  test("BigramWeightSum canonicalizes by weight CONTENT (ADVICE r12: " +
    "Array field broke CSE)") {
    val child = org.apache.spark.sql.catalyst.expressions.Literal("some text")
    val w1 = IndexedSeq(1L, 2L, 3L)
    val w2 = IndexedSeq(1L, 2L, 3L) // distinct instance, equal content
    val a = graft.functions.BigramWeightSum(child, w1)
    val b = graft.functions.BigramWeightSum(child, w2)
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.semanticEquals(b))
    assert(!a.semanticEquals(a.copy(weights = IndexedSeq(9L, 2L, 3L))))
  }

  test("a stale spark.graft.hasher=xxh conf changes no hashed query's rows") {
    // md5 is the only hasher: the key is read by nothing, so the seven
    // queries whose kernels once honoured it answer the same with it set
    val dir = "/root/testdata/sf0.001"
    val qs = Seq("q121_intradoc_repeats", "q137_quality_classifier",
      "q139_vocab_coverage", "q156_bigram_coverage", "q160_kn_score",
      "q175_cdc_dedup", "q195_doc_informativeness")
    def rows(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq
    val plain = qs.map(q => q -> rows(q)).toMap
    spark.conf.set("spark.graft.hasher", "xxh")
    val stale =
      try qs.map(q => q -> rows(q)).toMap
      finally spark.conf.unset("spark.graft.hasher")
    qs.foreach(q => assert(stale(q) == plain(q), q))
  }

  test("hashedBigramQuality native kernel == composed expression tree, " +
    "adversarial whitespace") {
    // edge inputs chosen to catch tokenization drift between the kernel
    // and Spark's split(lower(trim(text)), '\\s+'): leading/trailing
    // TABS (trim removes only spaces -> empty edge tokens), repeated
    // whitespace, digits/punctuation, mixed case, sub-2-token docs
    val d = docs(
      (1L, "Alpha BETA gamma", "s"),
      (2L, "\talpha beta", "s"),       // leading tab -> empty first token
      (3L, "alpha beta\t", "s"),       // trailing tab -> empty last token
      (4L, "a  b   c", "t"),           // runs of spaces
      (5L, "x1 2y z!z", "t"),
      (6L, "single", "t"),             // drops on both paths
      (7L, "  padded  ", "u"),         // spaces trimmed -> 1 token, drops
      (8L, "tab\tsep\ttokens", "u"))
    val kernel = CorpusOps.hashedBigramQuality(d, buckets = 4096, topK = 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    val composed = CorpusOps.hashedBigramQualityComposed(d, buckets = 4096,
        topK = 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    assert(kernel == composed, s"kernel=$kernel composed=$composed")
  }

  test("qualitySignalAgreement matches a JVM replica of both signals") {
    val d = docs(
      (1L, "alpha beta gamma alpha", "s"),
      (2L, "alpha beta", "s"),
      (3L, "x y z", "s"),
      (4L, "single", "s"),        // 1 token -> no bigram signal -> excluded
      (5L, "aa bb aa bb", "t"),
      (6L, "cc dd", "t"))
    def weight(g: String): Long = h32("w" + (h32(g) % 4096).toString) % 2001
    def x(text: String): Long = {
      val w = text.split("\\s+").toSeq
      val grams = w.sliding(2).map(_.mkString(" ")).toSeq
      grams.map(weight).sum / grams.size - 1000
    }
    def y(text: String): Long = {
      val w = text.split("\\s+").toSeq
      1000L * w.distinct.size / w.size
    }
    val bySource = Map(
      "s" -> Seq("alpha beta gamma alpha", "alpha beta", "x y z"),
      "t" -> Seq("aa bb aa bb", "cc dd"))
    val want = bySource.map { case (src, texts) =>
      val xs = texts.map(x); val ys = texts.map(y)
      val n = texts.size.toLong
      val (sx, sy) = (xs.sum, ys.sum)
      val (sxx, syy, sxy) = (xs.map(v => v * v).sum, ys.map(v => v * v).sum,
        xs.zip(ys).map { case (a, b) => a * b }.sum)
      val cov = n.toDouble * sxy - sx.toDouble * sy
      val vx = n.toDouble * sxx - sx.toDouble * sx
      val vy = n.toDouble * syy - sy.toDouble * sy
      val r = if (vx * vy > 0)
        Some(math.rint(cov / math.sqrt(vx * vy) * 1e6) / 1e6) else None
      (src, (n, sx / n, sy / n, r))
    }
    val got = CorpusOps.qualitySignalAgreement(d)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(got == want, s"got $got want $want")
  }

  test("heapsLawFit: micro-nat least squares matches a JVM replica; short docs drop") {
    val d = docs(
      (1L, "a b", "s"),               // (n=2, v=2)
      (2L, "a a b b", "s"),           // (4, 2)
      (3L, "a b c d e f g h", "s"),   // (8, 8)
      (4L, "solo", "s"))              // n=1 -> excluded
    val pts = Seq((2L, 2L), (4L, 2L), (8L, 8L))
      .map { case (n, v) =>
        (math.round(math.log(n.toDouble) * 1e6),
          math.round(math.log(v.toDouble) * 1e6)) }
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum.toDouble; val sy = pts.map(_._2).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val lnK = ((sy - beta * sx) / n) / 1e6
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CorpusOps.heapsLawFit(d).as[(Long, Double, Double)].head()
    assert(got == ((3L, r6(beta), r6(lnK))), s"got $got want (3, ${r6(beta)}, ${r6(lnK)})")
    // sanity: the planted data grows vocabulary sub-linearly -> 0 < beta < 1.2
    assert(got._2 > 0 && got._2 < 1.2)
  }

  test("heapsLawFit: uniform-length corpus yields null fit, not NaN") {
    // every doc has exactly 3 tokens -> zero x-variance -> denominator 0;
    // the contract is NULL beta/ln_k (cross-engine deterministic), never
    // an engine-shaped NaN/Infinity
    val d = docs((1L, "a b c", "s"), (2L, "d e f", "s"), (3L, "g h i", "s"))
    val row = CorpusOps.heapsLawFit(d).collect()(0)
    assert(row.getLong(0) == 3L)
    assert(row.isNullAt(1) && row.isNullAt(2), row.toString)
  }

  test("bigramVocabCoverage: rank-cut vocab, per-source OOV ppm") {
    // corpus bigram counts: "a b" 2, "b a" 1, "c d" 1; vocabSize=2 keeps
    // "a b" then the count-1 tie broken lexically -> "b a"; so source t's
    // single bigram "c d" is 100% OOV
    val d = docs((1L, "a b a b", "s"), (2L, "c d", "t"), (3L, "e", "t"))
    val got = CorpusOps.bigramVocabCoverage(d, vocabSize = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("s") == ((3L, 0L, 0L)), got.toString)
    assert(got("t") == ((1L, 1L, 1000000L)), got.toString)
  }

  test("sourceKlDivergence matches a dense hand computation") {
    // corpus: a:3 b:2 c:1 -> T=6, V=3; source s = "a a a b", t = "b c"
    val d = docs((1L, "a a a b", "s"), (2L, "b c", "t"))
    def kl(cs: Map[String, Long]): Double = {
      val corpus = Map("a" -> 3L, "b" -> 2L, "c" -> 1L)
      val t = corpus.values.sum.toDouble
      val ts = cs.values.sum
      val v = corpus.size
      corpus.map { case (w, c) =>
        val ps = (cs.getOrElse(w, 0L) + 1).toDouble / (ts + v)
        ps * math.log(ps / (c / t))
      }.sum
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CorpusOps.sourceKlDivergence(d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("s")._1 == 4L && got("s")._2 == 2L)
    assert(got("t")._1 == 2L && got("t")._2 == 2L)
    assert(math.abs(got("s")._3 - r6(kl(Map("a" -> 3L, "b" -> 1L)))) < 2e-6,
      s"s: ${got("s")._3} vs ${kl(Map("a" -> 3L, "b" -> 1L))}")
    assert(math.abs(got("t")._3 - r6(kl(Map("b" -> 1L, "c" -> 1L)))) < 2e-6,
      s"t: ${got("t")._3} vs ${kl(Map("b" -> 1L, "c" -> 1L))}")
  }

  test("sourceKlDivergence: a source matching the corpus has near-zero KL") {
    // two sources with identical token distributions -> smoothing noise only
    val d = docs((1L, "a a b c", "s"), (2L, "a a b c", "t"))
    val got = CorpusOps.sourceKlDivergence(d)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // at 4 tokens/source the add-1 smoothing alone contributes ~0.01
    assert(got.values.forall(v => v >= 0 && v < 0.05), got.toString)
    // and a wildly different source diverges more
    val d2 = docs((1L, "a a a a a a a a", "s"), (2L, "x y z w q r t u", "t"))
    val got2 = CorpusOps.sourceKlDivergence(d2)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got2("t") > got.values.max, s"$got2 vs $got")
  }

  test("kneserNeyPerSource: hand-computed interpolated KN on a 2-source corpus") {
    // Corpus: A = "a b a b" (bigrams ab, ba, ab), B = "a c" (bigram ac).
    // cab: ab=2, ba=1, ac=1. ctx: a -> c_a=3, r_cont=2; b -> c_a=1, r_cont=1.
    // lcont: a=1, b=1, c=1. b_types=3. d=0.75.
    //   P(b|a) = (2-.75)/3 + .75*(2/3)*(1/3) = 7/12
    //   P(a|b) = (1-.75)/1 + .75*(1/1)*(1/3) = 1/2
    //   P(c|a) = (1-.75)/3 + .75*(2/3)*(1/3) = 1/4
    val d = docs((1L, "a b a b", "A"), (2L, "a c", "B"))
    val got = CorpusOps.kneserNeyPerSource(d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("A")._1 == 3L && got("B")._1 == 1L, got.toString)
    // B's single bigram: -log2(1/4) = 2 bits exactly
    assert(got("B")._2 == 2.0, got.toString)
    val wantA = -(2.0 * math.log(7.0 / 12.0) + math.log(0.5)) / math.log(2.0) / 3.0
    assert(math.abs(got("A")._2 - wantA) < 2e-6, s"${got("A")._2} vs $wantA")
  }

  test("intraDocRepeatsHashed == string form; TokenNgramHashes(2) == TokenBigramHashes") {
    // hash-domain witness (q121): repeated windows, adversarial
    // whitespace (leading TAB, double space), sub-n docs
    val d = docs(
      (1L, "a b c a b c a b c d e", "s"),      // repeated 3-gram window
      (2L, "\tx  y z x y z", "s"),             // tab + empty token
      (3L, "one two", "t"),                    // < n tokens: no windows
      (4L, "p q r s t p q r s t p q r s t", "t"))
    for (n <- Seq(2, 3, 5)) {
      val str = CorpusOps.intraDocRepeats(d, n = n, topK = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val hsh = CorpusOps.intraDocRepeatsHashed(d, n = n, topK = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(hsh == str, s"n=$n: $hsh vs $str")
    }
    // the n=2 kernel is bit-identical to TokenBigramHashes
    val pair = d.select(
        graft.functions.TokenNgramHashes(col("text"), 2).as("a"),
        graft.functions.TokenBigramHashes(col("text")).as("b"))
      .collect()
    assert(pair.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("bigramVocabCoverageHashed == string form (single source: tie swaps " +
    "at the cut move equal mass, so oov is invariant)") {
    val d = docs(
      (1L, "a b " * 8 + "c d " * 4 + "e f " * 2 + "g h", "s"),
      (2L, "a b a b c d q r", "s"))
    val str = CorpusOps.bigramVocabCoverage(d, vocabSize = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val hsh = CorpusOps.bigramVocabCoverageHashed(d, vocabSize = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(hsh == str, s"$hsh vs $str")
  }

  test("tokenPositionBiasHashed / tokenDispersionHashed == string forms " +
    "(the q197/q199 hash-domain witnesses, r15 VERDICT r14 item 2)") {
    // adversarial whitespace: leading TAB (Spark trim strips only ASCII
    // space) plus a double space making an empty token; a 1-token doc
    // (excluded by position bias, counted by dispersion); clones
    val d = docs(
      (1L, "alpha beta gamma delta", "s"),
      (2L, "\tbeta  gamma alpha alpha", "s"),
      (3L, "solo", "t"),
      (4L, "gamma gamma gamma end alpha", "t"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq
    // topK ≥ vocabulary: the cut drops nothing, so the hash-vs-string
    // tie-break difference (the one documented divergence) can't move a
    // boundary and the outputs must be row-identical, order included
    val k = 100
    assert(rows(CorpusOps.tokenPositionBiasHashed(d, topK = k)) ==
      rows(CorpusOps.tokenPositionBias(d, topK = k)))
    assert(rows(CorpusOps.tokenDispersionHashed(d, topK = k)) ==
      rows(CorpusOps.tokenDispersion(d, topK = k)))
  }

  test("kneserNeyPerSourceHashed == string-keyed form (the q160 hash-domain witness)") {
    // The registered q160 keys its four LM joins on TokenPairHashes'
    // per-token md5Int60 longs; the string-keyed form is the readable
    // spec of the semantics. Equality must hold bit-exact on a corpus
    // with repeated bigrams, multi-source overlap, adversarial
    // whitespace (leading TAB — Spark trim strips only ASCII space —
    // plus a double space making an empty token), and mixed case.
    val d = docs(
      (1L, "a b a b the cat", "A"),
      (2L, "\tThe  cat a c", "B"),
      (3L, "b a THE the cat cat", "A"),
      (4L, "solo", "C")) // < 2 tokens: contributes nothing in both forms
    val str = CorpusOps.kneserNeyPerSource(d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val hsh = CorpusOps.kneserNeyPerSourceHashed(d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(hsh == str, s"$hsh vs $str")
  }

  test("docInformativeness: hand-computed rational idf, null text as ''") {
    val d = docs(
      (1L, "a b", "s"),
      (2L, "a c", "s"),
      (3L, "a", "t"),
      (4L, null, "t")) // coalesces to '' -> one '' token
    // N=4; df: a=3, b=1, c=1, ''=1; idf_ppm: a=1333333, others=4000000
    // d1=(1333333+4000000) div 2=2666666; d2=2666666; d3=1333333; d4=4000000
    val got = CorpusOps.docInformativeness(d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("s") == ((2L, 2666666L, 2666666L, 2666666L)), got("s"))
    assert(got("t") == ((2L, 2666666L, 1333333L, 4000000L)), got("t"))
  }

  test("charEntropy: hand-mirrored 9dp-ln fold, micro-units, other bucket, " +
    "null/empty as zero") {
    // mirror of the op's fixed-order fold (and the generated oracle SQL)
    def ent(text: String): Long = {
      val t = Option(text).getOrElse("")
      val n = t.length.toDouble
      def rnd9(x: Double) =
        BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val ks = CorpusOps.EntropyClasses.map(c => t.count(_.toString == c).toLong) :+
        t.count(ch => !(ch == ' ' || (ch >= 'a' && ch <= 'z'))).toLong
      val s = ks.map(k => if (k > 0) (k / n) * rnd9(math.log(k / n)) else 0.0)
        .foldLeft(0.0)(_ + _)
      math.round(-s * 1000000)
    }
    val d = docs(
      (1L, "aaaa", "s"),          // single class: entropy 0
      (2L, "ab", "s"),            // two equal classes: ln 2
      (3L, "a b!", "t"),          // space + other bucket
      (4L, null, "t"),            // null -> '' -> 0
      (5L, "the quick brown fox", "t"))
    val got = CorpusOps.charEntropy(d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val sVals = Seq(ent("aaaa"), ent("ab"))
    val tVals = Seq(ent("a b!"), ent(null), ent("the quick brown fox"))
    assert(ent("aaaa") == 0L && ent("ab") == 693147L)
    assert(got("s") == ((2L, sVals.sum / 2, sVals.min, sVals.max)), got("s"))
    assert(got("t") == ((3L, tVals.sum / 3, tVals.min, tVals.max)), got("t"))
  }

  test("charEntropy kernel == composed replace-chain form, adversarial " +
    "chars (uppercase, unicode, tabs); CharClassCounts is code-point exact") {
    val d = docs(
      (1L, "Mixed CASE with Upper", "s"),
      (2L, "tab\tand\nnewline chars", "s"),
      (3L, "unicode: café 世界 😀 end", "t"), // é, CJK, emoji
      (4L, "", "t"),
      (5L, null, "t"),
      (6L, "plain lowercase words only", "u"))
    val kernel = CorpusOps.charEntropy(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val composed = CorpusOps.charEntropyComposed(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(kernel == composed, s"kernel=$kernel composed=$composed")
    // direct kernel counts: surrogate-pair emoji counts ONCE in other
    val cnts = d.filter($"doc_id" === 3L)
      .select(graft.functions.CharClassCounts(coalesce($"text", lit(""))))
      .as[Seq[Long]].head()
    val txt = "unicode: café 世界 😀 end"
    assert(cnts.length == 28)
    assert(cnts(26) == txt.count(_ == ' '), "space slot")
    assert(cnts(0) == txt.count(_ == 'a'), "a slot")
    // other = code points − counted: é + 世 + 界 + emoji(1) + ':' = 5
    assert(cnts(27) == 5L, s"other slot: $cnts")
  }

  test("tokenPositionBias: integer ppm positions, single-token docs excluded, " +
    "bias ranks openers/closers first") {
    val d = docs(
      (1L, "start mid mid mid end", "s"), // start ppm 0, end ppm 1e6
      (2L, "start mid end", "s"),
      (3L, "lonely", "s")) // excluded: no positional information
    val got = CorpusOps.tokenPositionBias(d, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byTok = got.map(r => r._1 -> r).toMap
    assert(byTok("start") == (("start", 2L, 0L, 500000L)))
    assert(byTok("end") == (("end", 2L, 1000000L, 500000L)))
    // mid in doc1: 250000, 500000, 750000; doc2: 500000 -> mean 500000, bias 0
    assert(byTok("mid") == (("mid", 4L, 500000L, 0L)))
    assert(!byTok.contains("lonely"))
    // ordering: bias desc, token asc -> end before start before mid
    assert(got.map(_._1).toSeq == Seq("end", "start", "mid"))
  }

  test("tokenDispersion: df/cf ppm, bursty tokens rank first") {
    val d = docs(
      (1L, "spam spam spam spam common", "s"),
      (2L, "common other", "s"),
      (3L, "common third", "s"))
    val got = CorpusOps.tokenDispersion(d, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byTok = got.map(r => r._1 -> r).toMap
    assert(byTok("spam") == (("spam", 1L, 4L, 250000L)))   // maximally bursty
    assert(byTok("common") == (("common", 3L, 3L, 1000000L)))
    assert(got.head._1 == "spam") // lowest dispersion first
  }

  test("kneserNeyPerSource: discounted probabilities leave mass for unseen continuations") {
    // For any context, the summed probability over SEEN continuations must
    // be < 1 (the discount reserves mass) and every P_KN must be > 0 even
    // at c_ab = 1 (the continuation term never vanishes) — the property
    // that distinguishes KN from the unsmoothed q99 surprisal.
    val d = docs((1L, "a b a b a c", "A"), (2L, "b c b a c c", "B"))
    val scored = CorpusOps.kneserNeyPerSource(d).collect()
    assert(scored.forall(r => !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite),
      scored.mkString(", "))
    assert(scored.forall(_.getDouble(2) > 0.0), scored.mkString(", "))
  }

  test("q83 novelty restructure (r19): df=1 owner-recovery == hash-stream join") {
    // the r19 shape replaces the corpus-sized (doc, h) ⋈ dfreq join with
    // min(doc_id)-owner recovery inside the df aggregate + a doc-sized
    // join; per-source averages must match the joined phrasing exactly
    import graft.functions.TokenBigramHashes
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exploded = d.select(col("doc_id"), col("source"),
      explode(array_distinct(TokenBigramHashes(col("text")))).as("h"))
    val dfreq = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val joined = exploded.join(dfreq, "h")
      .groupBy(col("doc_id"), col("source"))
      .agg((sum(when(col("df") === 1, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("novelty"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("novelty")), 6).as("a"))
      .orderBy("source").collect().toSeq
    val perDoc = d.select(col("doc_id"), col("source"),
        size(array_distinct(TokenBigramHashes(col("text")))).cast("long").as("n_h"))
      .filter(col("n_h") > 0)
    val uniq = d.select(col("doc_id"),
        explode(array_distinct(TokenBigramHashes(col("text")))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .filter(col("df") === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_unique"))
    val restructured = perDoc.join(uniq, Seq("doc_id"), "left")
      .select(col("source"), (coalesce(col("n_unique"), lit(0L)).cast("double") /
        col("n_h").cast("double")).as("novelty"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("novelty")), 6).as("a"))
      .orderBy("source").collect().toSeq
    assert(joined.nonEmpty)
    assert(restructured == joined)
  }
}
