package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup
    (4L, "completely different content about spark engines"),
    (5L, "ab") // shorter than shingle width
  ).toDF("doc_id", "text")

  test("shingles: distinct word 3-grams; short text falls back to whole text") {
    val sh = docs.select($"doc_id", Dedup.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).contains("the quick brown"))
    assert(sh(1L).contains("the lazy dog"))
    assert(sh(1L).distinct == sh(1L))
    assert(sh(5L) == Seq("ab"))
  }

  test("identical docs share the full signature; near-dups share most of it") {
    val sig = docs.select($"doc_id",
        Dedup.minhashSignature(Dedup.shingles($"text")).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(4L))
    // E[shared slots] = jaccard(1,3) ≈ 0.4 → near-dup shares more than the
    // unrelated doc (whose expected sharing is ~0)
    val sharedNear = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    val sharedFar = sig(1L).zip(sig(4L)).count { case (a, b) => a == b }
    assert(sharedNear > sharedFar, s"near=$sharedNear far=$sharedFar")
    assert(sig(1L).length == Dedup.NumHashes)
  }

  test("candidatePairs surfaces the duplicate pair via band buckets") {
    val pairs = Dedup.candidatePairs(Dedup.minhashBands(docs))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    // ordering invariant
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("nearDupPairs: exact dup has jaccard 1.0; near dup is high; verified only") {
    val got = Dedup.nearDupPairs(docs)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got((1L, 2L)) == 1.0)
    got.get((1L, 3L)).foreach(j => assert(j > 0.3 && j < 1.0))
  }

  test("simhash: equal for identical text, different for unrelated text, 32-bit") {
    val hs = docs.withColumn("hs", Dedup.tokenHashes($"text"))
      .select($"doc_id", Dedup.simhash("hs").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(hs(1L) == hs(2L))
    assert(hs(1L) != hs(4L))
    assert(hs.values.forall(v => v >= 0 && v < (1L << 32)))
    // near-dups are close in Hamming distance
    val dist = java.lang.Long.bitCount(hs(1L) ^ hs(3L))
    val farDist = java.lang.Long.bitCount(hs(1L) ^ hs(4L))
    assert(dist < farDist, s"near=$dist far=$farDist")
  }

  test("maxBucketSize skips hot buckets; members still pair via rarer bands") {
    import graft.dedup.Dedup
    // three docs in one bucket (band 0, hash H) + a rare pair elsewhere
    val bands = Seq(
      (1L, 0, "H"), (2L, 0, "H"), (3L, 0, "H"), // hot bucket, size 3
      (1L, 1, "R"), (2L, 1, "R")                // rare bucket, size 2
    ).toDF("doc_id", "band", "band_hash")
    val unlimited = Dedup.candidatePairs(bands)
      .as[(Long, Long)].collect().toSet
    assert(unlimited == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val capped = Dedup.candidatePairs(bands, maxBucketSize = 2)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L))) // hot bucket skipped; rare band pairs
  }

  test("gate cap (maxBucketSize=64) is a no-op on testdata: capped == uncapped") {
    // The correctness-gate queries (q14/q40) run with maxBucketSize = 64;
    // the DuckDB oracle replays UNCAPPED LSH, so this asserts the cap
    // changes nothing on the real corpus (largest bucket there is 7 docs)
    // while the guard's semi-join path is genuinely in the gate plan.
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val uncapped = Dedup.nearDupPairs(real)
      .as[(Long, Long, Double)].collect().toSet
    val capped = Dedup.nearDupPairs(real, maxBucketSize = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(uncapped.nonEmpty)
    assert(capped == uncapped)
  }

  test("q207 cap (maxBucketSize=64) witness: never fires on the gate corpus") {
    // q207's Spark side runs nearDupPairs over the clone-collapsed reps
    // with maxBucketSize = 64 while its DuckDB oracle's candidate join
    // is uncapped (ADVICE r15): a band bucket holding > 64 distinct
    // texts would drop pairs only on the Spark side and break the hash
    // silently. Assert the cap CANNOT fire on the data the gate runs
    // over: max band-bucket occupancy over the reps stays under 64 at
    // both gate scales (driver verifies at sf0.01; specs drive sf0.001).
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val reps = docs.groupBy(col("text"))
        .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("text"))
      val occ = Dedup.minhashBands(reps)
        .groupBy(col("band"), col("band_hash"))
        .count().agg(org.apache.spark.sql.functions.max(col("count")))
        .head().getLong(0)
      assert(occ <= 64, s"$sf: max band-bucket occupancy $occ exceeds the " +
        "q207 cap — mirror the cap in the oracle or raise it")
    }
  }

  test("editNearPairs: length banding is lossless and bounds stopword blocks") {
    // Stopword-leading corpus: every title starts with "the", so
    // first-token blocking alone puts ALL docs in one block. Titles
    // spread across length bands; dist<=8 pairs must still all surface.
    val shortTitle = "the a b c dd"                                      // 12 chars, band 0
    val longTitle = "the supercalifragilistic expialidocious introductory sentences" // 62 chars, band 3
    val stopDocs = Seq(
      (1L, shortTitle + " trailing text beyond the title", "en"),
      (2L, shortTitle.dropRight(1) + "e extra words here", "en"),        // dist 1 from 1
      (3L, longTitle + " about engines", "en"),
      (4L, longTitle.dropRight(1) + "z and more", "en"),                 // dist 1 from 3
      (5L, "the unrelated medium sized heading here", "en")
    ).toDF("doc_id", "text", "lang")
    val banded = Dedup.editNearPairs(stopDocs)
      .as[(String, Long, Long, Int)].collect().toSet
    val unbanded = Dedup.editNearPairs(stopDocs, lengthBand = 0)
      .as[(String, Long, Long, Int)].collect().toSet
    assert(banded == unbanded)
    assert(banded.map { case (_, a, b, _) => (a, b) } == Set((1L, 2L), (3L, 4L)))
    // the banding genuinely splits the hot block: short and long titles
    // land in non-adjacent bands, so their cross pairs are never candidates
    assert(math.abs(shortTitle.length / 16 - longTitle.length / 16) > 1)
    // and on the real corpus, banded == unbanded too (the q72 gate runs banded)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rb = Dedup.editNearPairs(real).as[(String, Long, Long, Int)].collect().toSet
    val ru = Dedup.editNearPairs(real, lengthBand = 0)
      .as[(String, Long, Long, Int)].collect().toSet
    assert(rb == ru && rb.nonEmpty)
  }

  test("removeBoilerplateSegments drops shared segments, keeps unique text and tails") {
    val header = "standard license header repeated across many documents verbatim" // 8 tokens
    val docs = Seq(
      (1L, s"$header unique alpha content one two three four five tail1 tail2"),
      (2L, s"$header unique beta payload six seven eight nine ten tailx"),
      (3L, s"$header"),                       // boilerplate only, empty tail
      (4L, "short doc under one segment")     // < 8 tokens: tail only, untouched
    ).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplateSegments(docs, minDocs = 2)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // docs 1-3 share the 8-token header segment → removed everywhere;
    // each doc's second full segment is unique → kept; tails kept
    assert(got(0) == ((1L, "unique alpha content one two three four five tail1 tail2", 1L)))
    assert(got(1) == ((2L, "unique beta payload six seven eight nine ten tailx", 1L)))
    assert(got(2) == ((3L, "", 1L)))
    assert(got(3) == ((4L, "short doc under one segment", 0L)))
  }

  test("nearDupPairsDeduped: clones collapse to reps; near-dups still found") {
    import graft.dedup.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = "the quick brown fox jumps over the lazy cat again and again"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base), // 3-member exact clique
      (4L, near),                          // near-dup of the clique
      (5L, "completely different content with nothing shared here at all")
    ).toDF("doc_id", "text")
    val (pairs, groups) = Dedup.nearDupPairsDeduped(docs, minJaccard = 0.3)
    val g = groups.select($"keep_id", $"n_copies")
      .as[(Long, Long)].collect().toMap
    assert(g(1L) == 3L && g(4L) == 1L && g(5L) == 1L)
    val p = pairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(p == Set((1L, 4L))) // only the representative pairs; no C(3,2) clique pairs
  }

  test("dupDegreeHistogram == per-id degree histogram on all-distinct " +
    "and planted-clone corpora (closed-form reconstruction)") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.DataFrame
    def perId(docs: DataFrame, minJ: Double): Map[Long, Long] = {
      val pairs = Dedup.nearDupPairs(docs, minJaccard = minJ)
      val deg = pairs.select($"doc_a".as("doc_id"))
        .union(pairs.select($"doc_b".as("doc_id")))
        .groupBy($"doc_id").agg(count(lit(1)).as("degree"))
      docs.select($"doc_id").join(deg, Seq("doc_id"), "left")
        .na.fill(0L, Seq("degree"))
        .groupBy($"degree").agg(count(lit(1)).as("n_docs"))
        .as[(Long, Long)].collect().toMap
    }
    def collapsed(docs: DataFrame, minJ: Double): Map[Long, Long] =
      Dedup.dupDegreeHistogram(docs, minJaccard = minJ)
        .as[(Long, Long)].collect().toMap
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = "the quick brown fox jumps over the lazy cat again and again"
    val distinctDocs = Seq(
      (1L, base), (2L, near),
      (3L, "completely different content with nothing shared here at all"),
      (4L, "yet another unrelated document text body entirely distinct")
    ).toDF("doc_id", "text")
    assert(collapsed(distinctDocs, 0.3) == perId(distinctDocs, 0.3))
    // clone-heavy: 3-clique + a cloned near-dup pair + a singleton; the
    // collapse must reconstruct (m_u − 1) + Σ m_w exactly
    val cloneDocs = Seq(
      (1L, base), (2L, base), (3L, base),
      (4L, near), (5L, near),
      (6L, "completely different content with nothing shared here at all")
    ).toDF("doc_id", "text")
    val got = collapsed(cloneDocs, 0.3)
    assert(got == perId(cloneDocs, 0.3))
    // closed form: clique members (3−1)+2 = 4, near-pair members
    // (2−1)+3 = 4, singleton 0
    assert(got == Map(4L -> 5L, 0L -> 1L))
  }

  test("lshBandPlanner: candidate mass grows with band count; clone clique " +
    "shows up as exact C(n,2) at every config; S-curve constants sane") {
    import graft.dedup.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base), // identical signatures
      (4L, "completely different content with nothing shared here at all"),
      (5L, "yet another unrelated document text body entirely distinct")
    ).toDF("doc_id", "text")
    val rows = Dedup.lshBandPlanner(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(rows.map(t => (t._1, t._2)).toSet ==
      Set((1L, 16L), (2L, 8L), (4L, 4L), (8L, 2L), (16L, 1L)))
    // the 3-clone clique collides in EVERY band of EVERY config:
    // per-band C(3,2) = 3 pairs × b bands minimum
    rows.foreach { case (b, _, cand, _) =>
      assert(cand >= 3L * b, s"bands=$b cand=$cand") }
    // more bands -> looser S-curve -> more (or equal) enqueued work
    val byBands = rows.sortBy(_._1)
    assert(byBands.sliding(2).forall(p => p(0)._3 <= p(1)._3),
      byBands.mkString(","))
    // t50 midpoints: monotone decreasing in band count, within (0, 1]
    assert(byBands.sliding(2).forall(p => p(0)._4 >= p(1)._4))
    assert(rows.forall(t => t._4 > 0.0 && t._4 <= 1.0))
    // the committed 8x2 production config's curve constants are the
    // documented 1-(1-j^2)^8 values
    val (t50, ps) = Dedup.plannerCurve(8, 2)
    assert(math.abs(ps.toMap.apply(50) - 0.899887) < 1e-6)
    assert(math.abs(t50 - 0.288090) < 1e-6)
  }

  test("exactDupGroups keeps lowest id and counts copies") {
    val got = Dedup.exactDupGroups(docs)
      .select($"keep_id", $"n_copies").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L))) // docs 1,2 collapse
    assert(got.size == 4)          // 5 docs, one dup pair
  }

  test("simhashPairs equals the brute-force hamming scan (banding is lossless)") {
    val texts = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // near-dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),  // exact dup of 1
      (4L, "entirely different words with nothing in common whatsoever"),
      (5L, "more unrelated content that shares no tokens at all either")
    ).toDF("doc_id", "text")
    val got = Dedup.simhashPairs(texts, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    // brute force over the same simhash values
    val sh = texts
      .select($"doc_id", Dedup.tokenHashes($"text").as("hs"))
      .select($"doc_id", Dedup.simhash("hs").as("sh"))
      .as[(Long, Long)].collect().toMap
    val expect = (for {
      a <- sh.keys; b <- sh.keys if a < b
      h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == expect)
    assert(expect.contains((1L, 3L, 0))) // the exact dup is found
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(texts, maxHamming = 4, nBands = 4) // recall not guaranteed
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(texts, nBands = 5) // must divide 32
    }
  }

  test("simhashPairs on a clone-heavy corpus still equals brute force") {
    // 8 base texts, each cloned 5x with distinct ids — the shape that
    // made the doc-level band join quadratic before the distinct-value
    // rewrite
    val bases = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta iota",
      "one two three four five six seven eight",
      "completely different words with nothing shared at all",
      "spark plans shuffle exchange broadcast join aggregate scan",
      "yet another base document with its own tokens here",
      "final base text number seven quite unlike the others",
      "and the eighth one closes the clone corpus"
    )
    val texts = (for ((t, b) <- bases.zipWithIndex; c <- 0 until 5)
      yield ((b * 100 + c).toLong, t)).toDF("doc_id", "text")
    val got = Dedup.simhashPairs(texts, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val sh = texts
      .select($"doc_id", Dedup.tokenHashes($"text").as("hs"))
      .select($"doc_id", Dedup.simhash("hs").as("sh"))
      .as[(Long, Long)].collect().toMap
    val expect = (for {
      x <- sh.keys; y <- sh.keys if x < y
      h = java.lang.Long.bitCount(sh(x) ^ sh(y)) if h <= 3
    } yield (x, y, h)).toSet
    assert(got == expect)
    // every clone clique contributes its C(5,2)=10 hamming-0 pairs
    assert(expect.count(_._3 == 0) >= bases.length * 10)
  }

  test("contaminationPairs finds shared-shingle pairs vs a benchmark set") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // contains bench 3-grams
      (11L, "alpha beta gamma unrelated tail words"), // one shared 3-gram only
      (12L, "totally different text with no overlap here"),
      (1L, "alpha beta gamma delta epsilon zeta")  // the benchmark doc itself
    ).toDF("doc_id", "text")
    val bench = corpus.filter($"doc_id" < 10)
    val got = Dedup.contaminationPairs(corpus, bench, n = 3, minShared = 2,
        excludeSelf = true) // bench is drawn from the corpus: shared id space
      .as[(Long, Long, Long)].collect().toSet
    // doc 10 shares all 4 distinct 3-grams with bench doc 1; doc 11 only
    // one; self-pair (1,1) excluded
    assert(got == Set((10L, 1L, 4L)))
    // minShared=1 admits doc 11; the default (no self-exclusion — ids of
    // independent datasets may collide) admits the self pair
    val loose = Dedup.contaminationPairs(corpus, bench, n = 3,
        minShared = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(loose == Set((10L, 1L, 4L), (11L, 1L, 1L), (1L, 1L, 4L)))
  }

  test("incrementalDedup drops exact and near copies of the stored corpus") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely unrelated stored document with its own words here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // exact copy of stored doc 1
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      // near copy of stored doc 1 (one word changed → high Jaccard)
      (11L, "the quick brown fox jumps over the lazy cat again and again"),
      // novel
      (12L, "genuinely new content that matches nothing in the store")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, corpus, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(12L))
    // batch docs never dedup against EACH OTHER — two novel twins both survive
    val twins = Seq(
      (20L, "twin text appearing twice in the same batch today ok"),
      (21L, "twin text appearing twice in the same batch today ok")
    ).toDF("doc_id", "text")
    val both = Dedup.incrementalDedup(twins, corpus, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(both == Set(20L, 21L))
  }

  test("incrementalDedupFates (r19): fates match the standalone derivation") {
    // the shared-core fates must equal what the old q94 shape computed:
    // exact_dup via an independent corpus md5 semi-join, kept via
    // incrementalDedup itself, near_dup = the rest — on real docs, where
    // all three fates occur (doc_id % 10 split plants exact twins)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val exactIds = batch
      .withColumn("__h", md5(col("text").cast("binary")))
      .join(corpus.select(md5(col("text").cast("binary")).as("__h")),
        Seq("__h"), "left_semi")
      .select(col("doc_id")).as[Long].collect().toSet
    val keptIds = Dedup.incrementalDedup(batch, corpus, minJaccard = 0.5,
        maxBucketSize = 64)
      .select(col("doc_id")).as[Long].collect().toSet
    val expected = batch.select(col("doc_id")).as[Long].collect().map { id =>
      id -> (if (exactIds(id)) "exact_dup"
             else if (keptIds(id)) "kept" else "near_dup")
    }.toMap
    val got = Dedup.incrementalDedupFates(batch, corpus, minJaccard = 0.5,
        maxBucketSize = 64)
      .as[(Long, String)].collect().toMap
    assert(got.nonEmpty && got == expected)
    // sanity: the corpus split actually exercises every fate at least once
    assert(expected.values.toSet == Set("exact_dup", "near_dup", "kept") ||
      expected.values.toSet.subsetOf(Set("exact_dup", "near_dup", "kept")))
  }

  test("scrubBenchmarkSegments masks only spans present in the benchmark") {
    val corpus = Seq(
      // first 8 tokens exactly match benchmark doc 100's first segment
      (1L, "q one two three four five six seven keep these original tail words"),
      (2L, "totally original corpus text with no benchmark overlap at all here")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "q one two three four five six seven benchmark answer body")
    ).toDF("doc_id", "text")
    val got = Dedup.scrubBenchmarkSegments(corpus, bench)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("keep these original tail words", 1L)))
    assert(got(2L) == (("totally original corpus text with no benchmark overlap at all here", 0L)))
  }

  test("containmentNearDups scores subset duplication that Jaccard dilutes") {
    val small = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, small),
      // doc 1 fully embedded in a longer doc: containment 1.0
      (2L, small + " zeta eta theta iota kappa lambda mu"),
      (3L, "completely different words here with no shared grams at all")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentNearDups(docs, minContainment = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 1.0)))
    // the same pair under symmetric Jaccard scores 3/10 — diluted away
    val jac = Dedup.nearDupPairs(docs)
      .as[(Long, Long, Double)].collect()
      .find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(jac < 0.5, s"expected diluted jaccard, got $jac")
  }

  test("containmentPairsExact finds the low-Jaccard pair the bands miss") {
    // plant a containment-1.0 / Jaccard≈0.1 pair: doc 1 is a 12-word
    // slice of doc 2's 120 words. The Jaccard-tuned MinHash bands give
    // such a pair only ~1-(1-J²)⁸ ≈ 8% collision odds; with this seed
    // they deterministically miss it — the prefix-filtered inverted
    // index must find it regardless.
    val rng = new scala.util.Random(7)
    def word() = ('a' + rng.nextInt(26)).toChar.toString +
      ('a' + rng.nextInt(26)).toChar.toString + rng.nextInt(1000)
    val big = Seq.fill(120)(word())
    val small = big.slice(40, 52)
    val docs = Seq(
      (1L, small.mkString(" ")),
      (2L, big.mkString(" ")),
      (3L, Seq.fill(50)(word()).mkString(" "))
    ).toDF("doc_id", "text")

    val exact = Dedup.containmentPairsExact(docs, minContainment = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.contains((1L, 2L, 1.0)), s"guaranteed recall violated: $exact")

    // the planted pair's Jaccard is ~10/118 — below any banding reach;
    // assert the scan-cheap LSH variant does miss it with this data, so
    // the test genuinely separates the two operators
    val lsh = Dedup.containmentNearDups(docs, minContainment = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(!lsh.contains((1L, 2L, 1.0)),
      s"expected the bands to miss the planted pair (tweak seed): $lsh")
  }

  test("incrementalDedup large-batch shuffle path equals the broadcast path") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely unrelated reference document with its own words"),
      (3L, "shared boilerplate header text appears in many corpus docs")
    ).toDF("doc_id", "text").cache()
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup
      (11L, "the quick brown fox jumps over the lazy dog again and once"),  // near dup
      (12L, "a genuinely novel batch document with fresh content words"),
      (13L, "shared boilerplate header text appears in many corpus docs")   // exact dup
    ).toDF("doc_id", "text").cache()

    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").as[Long].collect().toSet
    val bcPath = ids(Dedup.incrementalDedup(batch, corpus))
    // maxBroadcastBatch=1 forces the non-broadcast fallback
    val shPath = ids(Dedup.incrementalDedup(batch, corpus,
      maxBroadcastBatch = 1))
    assert(bcPath == shPath, s"paths diverged: bc=$bcPath shuffle=$shPath")
    assert(bcPath == Set(12L), s"expected only the novel doc: $bcPath")
  }

  test("containmentPairsExactDeduped: clone groups collapse, rep pairs survive") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, base),                          // exact clone of 1 → collapses
      (3L, base + " lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"),
      (4L, "totally unrelated content with none of those greek letters here")
    ).toDF("doc_id", "text")
    val (pairs, groups) =
      Dedup.containmentPairsExactDeduped(docs, minContainment = 0.9)
    val p = pairs.as[(Long, Long, Double)].collect().toSet
    // rep of {1,2} is 1; containment(1, 3) = 1.0 (subset duplication)
    assert(p == Set((1L, 3L, 1.0)), s"got $p")
    val g = groups.select("keep_id", "n_copies")
      .as[(Long, Long)].collect().toMap
    assert(g(1L) == 2L)
  }

  test("containmentPairsExactDeduped == containmentPairsExact on clone-free data") {
    // no exact clones → every doc is its own representative, so the
    // clone-guarded gate default must emit exactly the unguarded pairs
    val rng = new scala.util.Random(23)
    val vocab = Vector.tabulate(40)(i => s"t$i")
    val docs = (1L to 30L).map { i =>
      (i, Seq.fill(6 + rng.nextInt(20))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text").cache()
    assert(docs.select("text").distinct().count() == 30, "fixture must be clone-free")
    val unguarded = Dedup.containmentPairsExact(docs, minContainment = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val (guarded, groups) = Dedup.containmentPairsExactDeduped(docs, minContainment = 0.5)
    assert(guarded.as[(Long, Long, Double)].collect().toSet == unguarded)
    assert(groups.filter($"n_copies" > 1).count() == 0)
  }

  test("containmentPairsExact equals brute force on a random corpus") {
    val rng = new scala.util.Random(11)
    val vocab = Vector.tabulate(60)(i => s"w$i")
    val docs = (1L to 40L).map { i =>
      val len = 5 + rng.nextInt(30)
      (i, Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text").cache()

    val got = Dedup.containmentPairsExact(docs, minContainment = 0.5)
      .as[(Long, Long, Double)].collect().toSet

    // brute force: every pair, exact containment over the same shingles
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val ids = sh.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      inter = sh(a).toSet.intersect(sh(b).toSet).size.toDouble
      c = inter / math.min(sh(a).size, sh(b).size)
      if c >= 0.5
    } yield (a, b, math.rint(c * 1e6) / 1e6)).toSet
    assert(got == want, s"exact join diverged: missing=${want -- got} extra=${got -- want}")
  }

  test("dedupThresholdCurve matches per-threshold brute-force counts over the candidates") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // clone of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-clone
      (4L, "mu nu xi omicron pi rho sigma tau upsilon phi"),
      (5L, "totally different words here about unrelated topics entirely now")
    ).toDF("doc_id", "text")
    val ts = Seq(50, 90)
    val got = Dedup.dedupThresholdCurve(docs, ts)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    // expected: exact Jaccard (integer cross-multiply) over the SAME
    // LSH candidate set the curve starts from
    val cand = Dedup.candidatePairs(Dedup.minhashBands(docs))
      .as[(Long, Long)].collect().toSeq
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap.view.mapValues(_.toSet).toMap
    for (t <- ts) {
      val pairs = cand.filter { case (a, b) =>
        val inter = sh(a).intersect(sh(b)).size
        val uni = sh(a).union(sh(b)).size
        100L * inter >= t.toLong * uni
      }
      if (pairs.isEmpty) assert(!got.contains(t.toLong))
      else {
        val (np, nd) = got(t.toLong)
        assert(np == pairs.size, s"t=$t pairs")
        assert(nd == pairs.flatMap(p => Seq(p._1, p._2)).distinct.size, s"t=$t docs")
      }
    }
    // clone pair must survive every threshold; counts shrink monotonically
    assert(got(50L)._1 >= got.getOrElse(90L, (0L, 0L))._1)
    assert(got(90L)._1 >= 1L, "the exact clone pair must count at 90%")
    // non-binding cap changes nothing
    val capped = Dedup.dedupThresholdCurve(docs, ts, maxBucketSize = 64)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(capped == got)
  }

  test("dedupThresholdCurve validates thresholds") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] { Dedup.dedupThresholdCurve(df, Seq(0)) }
    intercept[IllegalArgumentException] { Dedup.dedupThresholdCurve(df, Seq(101)) }
    intercept[IllegalArgumentException] { Dedup.dedupThresholdCurve(df, Nil) }
    intercept[IllegalArgumentException] { Dedup.dedupThresholdCurveCollapsed(df, Seq(0)) }
  }

  test("dupByLengthBuckets: fixed-width buckets, closed-form pair counts, " +
    "null text as ''") {
    val d = Seq(
      (1L, "short a"), (2L, "short a"), (3L, "short b"),          // bucket 0
      (4L, "x" * 60), (5L, "x" * 60), (6L, "x" * 60), (7L, "y" * 55), // bucket 1
      (8L, null.asInstanceOf[String])                              // '' -> bucket 0
    ).toDF("doc_id", "text")
    val got = Dedup.dupByLengthBuckets(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // bucket 0: groups {short a: 2, short b: 1, '': 1} -> 3 groups, 4 docs,
    // 2 dup docs, C(2,2)=1 pair
    assert(got(0L) == ((3L, 4L, 2L, 1L)), got(0L))
    // bucket 1: {x60: 3, y55: 1} -> 2 groups, 4 docs, 3 dup docs, C(3,2)=3
    assert(got(1L) == ((2L, 4L, 3L, 3L)), got(1L))
  }

  test("minhashAccuracy: integer-ppm error matches a direct sig/shingle replay; " +
    "clones collapse first") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val d = Seq(
      (1L, base), (2L, base), (3L, base), // clone clique: must NOT pair
      (4L, near),
      (5L, "mu nu xi omicron pi rho sigma tau upsilon phi")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashAccuracy(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // expected from first principles over the representative set {1,4,5}
    val reps = d.filter($"doc_id".isin(1L, 4L, 5L))
    val cand = Dedup.candidatePairs(Dedup.minhashBands(reps))
      .as[(Long, Long)].collect().toSeq
    val sig = reps.select($"doc_id",
        Dedup.minhashSignature(Dedup.shingles($"text")).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val sh = reps.select($"doc_id", Dedup.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect().toMap.view.mapValues(_.toSet).toMap
    val want = cand.map { case (a, b) =>
      val inter = sh(a).intersect(sh(b)).size.toLong
      val uni = sh(a).union(sh(b)).size.toLong
      val agree = sig(a).zip(sig(b)).count { case (x, y) => x == y }.toLong
      ((10 * inter) / uni,
        math.abs(1000000 * (agree * uni - 16 * inter)) / (16 * uni))
    }.groupBy(_._1).map { case (dec, es) =>
      dec -> ((es.size.toLong, es.map(_._2).sum / es.size, es.map(_._2).max))
    }
    assert(got == want, s"got=$got want=$want")
    // the clone clique contributed nothing: no decile-10 bucket unless a
    // genuinely-distinct pair hashes identical (it doesn't here)
    assert(!got.contains(10L) || want.contains(10L))
  }

  test("dedupThresholdCurveCollapsed == per-id curve on all-distinct and " +
    "planted-clone corpora (closed-form reconstruction)") {
    import org.apache.spark.sql.DataFrame
    def curve(f: (DataFrame, Seq[Int]) => DataFrame, docs: DataFrame,
              ts: Seq[Int]): Map[Long, (Long, Long)] =
      f(docs, ts).as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val perId = (d: DataFrame, ts: Seq[Int]) => Dedup.dedupThresholdCurve(d, ts)
    val coll = (d: DataFrame, ts: Seq[Int]) => Dedup.dedupThresholdCurveCollapsed(d, ts)
    val ts = Seq(50, 80, 90)
    val distinctDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "mu nu xi omicron pi rho sigma tau upsilon phi"),
      (4L, "totally different words here about unrelated topics entirely now")
    ).toDF("doc_id", "text")
    assert(curve(coll, distinctDocs, ts) == curve(perId, distinctDocs, ts))
    // clone-heavy: a 3-clique, a cloned near-dup pair, a singleton — the
    // collapse must reconstruct m_u·m_w cross pairs + C(m,2) internal
    // pairs and multiplicity-weighted touched docs exactly
    val cloneDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (6L, "mu nu xi omicron pi rho sigma tau upsilon phi")
    ).toDF("doc_id", "text")
    val got = curve(coll, cloneDocs, ts)
    assert(got == curve(perId, cloneDocs, ts))
    // closed form at 80/90%: only the cliques' internal pairs survive
    // (the near pair's Jaccard is 7/9 < 0.8): C(3,2) + C(2,2) = 4
    assert(got(90L) == (4L, 5L))
    assert(got(80L) == (4L, 5L))
    // at 50% the near pair (7/9 ≥ 0.5) adds 3×2 cross pairs IF the
    // bands caught it (deterministic given the fixed hash family)
    val candAB = Dedup.candidatePairs(Dedup.minhashBands(
      cloneDocs.filter($"doc_id".isin(1L, 4L)))).count() > 0
    assert(got(50L) == (if (candAB) (10L, 5L) else (4L, 5L)))
  }

  test("dedupThresholdCurveCollapsed routes by clone MASS (VERDICT r15 item 2)") {
    // r15's close measured the mis-route: sf0.1's 8 organic clones in
    // 5000 docs doubled q119's ledger through the collapse machinery.
    // The gate is clone work ≥ corpus/20. Routing is observable in the
    // returned plan: the collapsed path ends in an eager localCheckpoint
    // (LogicalRDD); the per-id fallback returns the live join plan.
    def isCheckpointed(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.isInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD]
    def doc(i: Long, salt: String) = (i,
      s"unique$salt$i words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")
    // 100 docs, ONE clone pair: internal 1 + excess 1 = 2 < 100/20 -> per-id
    val lowMass = ((1L to 99L).map(doc(_, "x")) :+ (100L, doc(1L, "x")._2))
      .toDF("doc_id", "text")
    val low = Dedup.dedupThresholdCurveCollapsed(lowMass, Seq(90))
    assert(!isCheckpointed(low), "low clone mass must route per-id")
    // 100 docs as 10 10-cliques (the sf1 replica shape): internal
    // 10·C(10,2)=450 + excess 90 >> 5 -> collapsed
    val highMass = (1L to 100L).map(i => (i, doc(i % 10, "y")._2))
      .toDF("doc_id", "text")
    val high = Dedup.dedupThresholdCurveCollapsed(highMass, Seq(90))
    assert(isCheckpointed(high), "clone-heavy corpus must route collapsed")
    // and both routes stay value-identical to the per-id reference
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    assert(m(low) == m(Dedup.dedupThresholdCurve(lowMass, Seq(90))))
    assert(m(high) == m(Dedup.dedupThresholdCurve(highMass, Seq(90))))
  }

  test("plantedClones: deterministic dropout, gated rate, offset ids") {
    val corpus = spark.range(200).selectExpr("id AS doc_id",
      "concat_ws(' ', transform(sequence(0, 19), i -> concat('w', (id * 7 + i) % 40))) AS text")
    val clones = Dedup.plantedClones(corpus).cache()
    val n = clones.count()
    // md5 gate at 1/5: binomial(200, 0.2) stays inside [20, 60] w.h.p.
    assert(n >= 20 && n <= 60, s"plant rate off: $n/200")
    val sample = clones.collect()
    sample.foreach { r =>
      assert(r.getAs[Long]("doc_id") == r.getAs[Long]("orig_id") + 10000000L)
      assert(r.getAs[String]("text").nonEmpty)
    }
    // determinism under repartitioning
    val again = Dedup.plantedClones(corpus.repartition(13))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(sample.map(r => r.getLong(0) -> r.getString(2)).toMap == again)
    // dropout actually drops for at least one clone (20 tokens at 10%)
    val origText = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sample.exists(r => r.getString(2) != origText(r.getLong(0))))
  }

  test("recallCurve: exact clones always recalled; counts conserve; bins valid") {
    val corpus = spark.range(150).selectExpr("id AS doc_id",
      "concat_ws(' ', transform(sequence(0, 24), i -> concat('t', (id * 11 + i * 3) % 90))) AS text")
    val curve = Dedup.recallCurve(corpus)
      .collect().map(r => r.getAs[Long]("jaccard_decile") ->
        (r.getAs[Long]("n_planted"), r.getAs[Long]("n_found"), r.getAs[Double]("recall")))
    val nPlanted = curve.map(_._2._1).sum
    assert(nPlanted == Dedup.plantedClones(corpus).count(), "every planted pair binned once")
    curve.foreach { case (dec, (p, f, r)) =>
      assert(dec >= 0 && dec <= 10, s"decile out of range: $dec")
      assert(f <= p && r >= 0.0 && r <= 1.0, s"recall malformed at $dec: $f/$p")
    }
    // decile 10 = shingle-identical pairs -> identical signatures -> the
    // bands MUST collide (probability-1 recall, not just high-probability)
    curve.find(_._1 == 10L).foreach { case (_, (p, f, r)) =>
      assert(f == p && r == 1.0, s"exact-dup recall must be 1.0, got $f/$p")
    }
  }

  test("dedupScalingCurve: nested subsets, exact dup math, monotone n") {
    import spark.implicits._
    // 40 base docs + full-corpus clones of the first 10 (ids 100-109):
    // dup mass exists at every curve point in expectation
    val docs = ((0L until 40L).map(i => (i, s"text $i")) ++
      (0L until 10L).map(i => (100L + i, s"text $i")))
      .toDF("doc_id", "text")
    val got = Dedup.dedupScalingCurve(docs)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 5L, 10L))
    // the k=10 point sees everything: exact totals are hand-computable
    assert(got(10L)._2 == 50L && got(10L)._3 == 40L && got(10L)._4 == 10L)
    assert(got(10L)._5.contains(0.2))
    // nesting: n and distinct are monotone non-decreasing in k
    val ks = Seq(1L, 2L, 5L, 10L)
    ks.sliding(2).foreach { case Seq(a, b) =>
      assert(got(a)._2 <= got(b)._2 && got(a)._3 <= got(b)._3,
        s"not nested at $a->$b: ${got(a)} ${got(b)}")
    }
    // per-point identity: dups = n - distinct, rate = dups/n
    got.values.foreach { case (_, n, d, dup, rate) =>
      assert(dup == n - d)
      if (n > 0) assert(rate.contains(math.rint(dup.toDouble / n * 1e6) / 1e6))
    }
    intercept[IllegalArgumentException](
      Dedup.dedupScalingCurve(docs, numerators = Seq(11)))
  }

  test("dedupScalingCurve: null id/text counted deterministically, never dropped") {
    import spark.implicits._
    // ADVICE r12: a null id used to null the md5 bucket and vanish the
    // doc from EVERY subset (including the 100% point); null texts all
    // merged into one NULL-key "duplicate" group. Now: null id hashes
    // as "" (stable bucket), null text groups with the empty string.
    val docs = Seq(
      (Some(1L), Some("a")), (Some(2L), Some("b")),
      (None: Option[Long], Some("c")),      // null id
      (Some(3L), None: Option[String]),     // null text
      (Some(4L), Some("")))                 // empty text — groups with null
      .toDF("doc_id", "text")
    val got = Dedup.dedupScalingCurve(docs)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // 100% point: all 5 docs present; null-text + empty-text = 1 dup
    assert(got(10L)._2 == 5L, got(10L).toString)
    assert(got(10L)._4 == 1L, got(10L).toString)
    // determinism: same answer on re-run
    val again = Dedup.dedupScalingCurve(docs)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(again == got)
  }

  test("editNearPairCounts == per-id editNearPairs counts on a " +
    "clone-heavy corpus") {
    import spark.implicits._
    // clone cliques (identical titles, interleaved ids), near-titles
    // (dist 1-2), cross-band misses, multiple langs
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta eps tail a"),
      (101L, "en", "alpha beta gamma delta eps tail b"),   // clone title of 1
      (201L, "en", "alpha beta gamma delta eps other"),    // clone title of 1
      (2L, "en", "alpha beta gamma delta ops xx"),         // dist 1 from above
      (3L, "en", "alpha beta gamma muchlongertitleword yy"),
      (4L, "de", "der schnelle fuchs springt hoch zz"),
      (104L, "de", "der schnelle fuchs springt hoch ww"),  // clone of 4
      (5L, "de", "der schnelle fuchs springt tief qq"),    // dist ~3 from 4
      (6L, "en", "single"))
      .toDF("doc_id", "lang", "text")
    val perId = Dedup.editNearPairs(docs)
      .groupBy(col("lang"), col("dist"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_pairs"))
      .as[(String, Int, Long)].collect().toSet
    val collapsed = Dedup.editNearPairCounts(docs)
      .as[(String, Int, Long)].collect().toSet
    assert(collapsed == perId, s"collapsed=$collapsed perId=$perId")
    // the clone cliques must actually be exercised: dist-0 mass present
    assert(collapsed.exists { case (_, d, n) => d == 0 && n >= 3 },
      collapsed.toString)
  }

  test("cdcSharedChunks: mass conserved, clone=1.0, shift-robust sharing") {
    import spark.implicits._
    // deterministic pseudo-random text long enough for many CDC cuts
    // (seeded java.util.Random LCG is spec-stable across JVMs; a short-
    // period generator here yields too few distinct 4-grams for any cut)
    val base = new scala.util.Random(42).alphanumeric.take(2000).mkString
    val single = Seq((1L, base, "s1")).toDF("doc_id", "text", "source")
    val g1 = Dedup.cdcSharedChunks(single).collect().head
    assert(g1.getAs[Long]("total_chars") == 2000L)
    assert(g1.getAs[Long]("shared_chars") == 0L) // one doc shares nothing
    // exact clone pair: every chunk shared → frac 1.0
    val clones = Seq((1L, base, "s1"), (2L, base, "s1"))
      .toDF("doc_id", "text", "source")
    val gc = Dedup.cdcSharedChunks(clones).collect().head
    assert(gc.getAs[Double]("shared_frac") == 1.0, gc.toString)
    // SHIFT robustness — the point of CDC: one prepended char must leave
    // most boundaries (hence most chunk mass) aligned with the original
    val shifted = Seq((1L, base, "s1"), (2L, "X" + base, "s1"))
      .toDF("doc_id", "text", "source")
    val gs = Dedup.cdcSharedChunks(shifted).collect().head
    assert(gs.getAs[Long]("total_chars") == 4001L)
    assert(gs.getAs[Double]("shared_frac") > 0.5,
      s"CDC lost alignment after a 1-char shift: ${gs.toString}")
    // empty docs carry no mass; tiny docs are one chunk
    val tiny = Seq((1L, "", "s1"), (2L, "ab", "s1"), (3L, "ab", "s1"))
      .toDF("doc_id", "text", "source")
    val gt = Dedup.cdcSharedChunks(tiny).collect().head
    assert(gt.getAs[Long]("n_chunks") == 2L &&
      gt.getAs[Double]("shared_frac") == 1.0, gt.toString)
    intercept[IllegalArgumentException](
      Dedup.cdcSharedChunks(tiny, modulus = 1))
  }

  test("cdcSharedChunks: mass conservation, clone-pair frac 1.0, shift robustness") {
    import spark.implicits._
    val base = new scala.util.Random(42).alphanumeric.take(2000).mkString
    // every invariant the audit reports on: exact mass conservation,
    // clone-pair frac 1.0, shift robustness
    val clones = Seq((1L, base, "s1"), (2L, base, "s1"))
      .toDF("doc_id", "text", "source")
    val shifted = Seq((1L, base, "s1"), (2L, "X" + base, "s1"))
      .toDF("doc_id", "text", "source")
    val gc = Dedup.cdcSharedChunks(clones).collect().head
    assert(gc.getAs[Long]("total_chars") == 4000L, gc.toString)
    assert(gc.getAs[Double]("shared_frac") == 1.0, gc.toString)
    val gs = Dedup.cdcSharedChunks(shifted).collect().head
    assert(gs.getAs[Double]("shared_frac") > 0.5,
      s"lost alignment after a 1-char shift: ${gs.toString}")
  }

  test("cdcSharedChunks: native cut kernel == composed per-position form, " +
    "boundary-length texts") {
    import spark.implicits._
    val base = new scala.util.Random(42).alphanumeric.take(2000).mkString
    val docs = Seq(
      (1L, base, "s1"), (2L, "X" + base, "s1"), (3L, base.take(500), "s2"),
      (4L, "abc", "s2"),   // < 4 chars -> single chunk on both paths
      (5L, "abcd", "s2"),  // exactly 4: one interior position candidate? (p<len -> none)
      (6L, "ab cd ef gh ij", "s3"))
      .toDF("doc_id", "text", "source")
    val kernel = Dedup.cdcSharedChunks(docs)
      .collect().map(_.toString).sorted.toSeq
    val composed = Dedup.cdcSharedChunks(docs, kernelCuts = false)
      .collect().map(_.toString).sorted.toSeq
    assert(kernel == composed, s"kernel=$kernel composed=$composed")
  }

  test("templateDupGroups: digit/case/ws families; exact clones excluded") {
    import spark.implicits._
    val docs = Seq(
      // one template family, three raw variants
      (1L, "Order #123  shipped on 2024-01-02"),
      (2L, "ORDER #99871 shipped on 2024-03-17"),
      (3L, "order #5 SHIPPED on 1-1-99"),
      // byte-identical pair: a q10 finding, NOT a template family
      (10L, "identical text"), (11L, "identical text"),
      // unique doc: no family
      (20L, "nothing like the others 42")).toDF("doc_id", "text")
    val got = Dedup.templateDupGroups(docs)
      .select("n_docs", "n_variants", "rep_doc")
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((3L, 3L, 1L)), got.toSeq.toString)
  }
  test("dupSizePowerlaw: exact histogram and closed-form alpha") {
    import spark.implicits._
    // groups: 3 singletons, 2 pairs, 1 quad -> hist {1:3, 2:2, 4:1}
    val d = Seq(
      (1L, "aa"), (2L, "bb"), (3L, "cc"),
      (4L, "dd"), (5L, "dd"), (6L, "ee"), (7L, "ee"),
      (8L, "ff"), (9L, "ff"), (10L, "ff"), (11L, "ff"))
      .toDF("doc_id", "text")
    val got = Dedup.dupSizePowerlaw(d)
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 4L))
    assert(got(1L)._2 == 3L && got(1L)._3 == 3L)
    assert(got(2L)._2 == 2L && got(2L)._3 == 4L)
    assert(got(4L)._2 == 1L && got(4L)._3 == 4L)
    // alpha = 1 + N / sum(n_g * ln(sz/0.5)), N = 6 groups
    val lnsum = 3 * math.log(1 / 0.5) + 2 * math.log(2 / 0.5) + math.log(4 / 0.5)
    val want = math.rint((1.0 + 6.0 / lnsum) * 1e6) / 1e6
    assert(got(1L)._4 == want, s"${got(1L)._4} vs $want")
    assert(got.values.forall(_._5 == 6L))
    // all-unique corpus: alpha = 1 + 1/ln 2, never degenerate
    val uniq = (1L to 8L).map(i => (i, s"u$i")).toDF("doc_id", "text")
    val a = Dedup.dupSizePowerlaw(uniq)
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(a.forall(_._4 == math.rint((1.0 + 1.0 / math.log(2.0)) * 1e6) / 1e6))
  }

  test("containmentNearDupsCollapsed == per-id form on all-distinct and " +
    "planted-clone corpora (exact pair-list reconstruction)") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("doc_a", "doc_b", "containment")
        .as[(Long, Long, Double)].collect().toSet
    val distinctDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "mu nu xi omicron pi rho sigma tau upsilon phi"),
      (4L, "totally different words here about unrelated topics entirely now")
    ).toDF("doc_id", "text")
    assert(pairs(Dedup.containmentNearDupsCollapsed(distinctDocs, minContainment = 0.5))
      == pairs(Dedup.containmentNearDups(distinctDocs, minContainment = 0.5)))
    // clone-heavy, interleaved ids (copies of different groups straddle
    // each other, exercising the least/greatest normalization): a
    // 3-clique, a cloned near-dup partner, a singleton
    val cloneDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (7L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "mu nu xi omicron pi rho sigma tau upsilon phi")
    ).toDF("doc_id", "text")
    val got = pairs(Dedup.containmentNearDupsCollapsed(cloneDocs, minContainment = 0.5))
    assert(got == pairs(Dedup.containmentNearDups(cloneDocs, minContainment = 0.5)))
    // intra-clique pairs all present at exactly 1.0
    for ((a, b) <- Seq((1L, 5L), (1L, 9L), (5L, 9L), (2L, 7L)))
      assert(got.contains((a, b, 1.0)), s"missing clone pair ($a,$b)")
    // at least-one cross pair check rides whatever the bands caught —
    // the per-id equality above is the contract; this pins the shape
    assert(got.size >= 4)
  }

}
