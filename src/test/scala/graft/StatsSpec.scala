package graft

import org.apache.spark.sql.functions.{col, expr}

import graft.stats.Stats

class StatsSpec extends SparkSpec {
  import spark.implicits._

  private def chunks = Seq(
    // (path, ext, content, total_chunks, seq)
    ("a.py", "py", "aaaa", 2, 1L),
    ("a.py", "py", "bb", 2, 2L),
    ("b.md", null.asInstanceOf[String], "cccccc", 1, 3L),
    ("a.py", "py", "dd", 4, 4L) // re-ingest of a.py with different chunking
  ).toDF("path", "extension", "content", "total_chunks", "seq")

  test("countByCategory buckets null/empty as 'unknown'") {
    val got = chunks.transform(Stats.countByCategory(_, "extension"))
      .as[(String, Long)].collect().toMap
    assert(got == Map("py" -> 3L, "unknown" -> 1L))
  }

  test("corpusStats counts rows, distinct paths, content KB") {
    val row = chunks.transform(Stats.corpusStats(_, "path", "content"))
      .as[(Long, Long, Double)].head()
    assert(row._1 == 4L)
    assert(row._2 == 2L)
    assert(math.abs(row._3 - 14.0 / 1024.0) < 1e-3)
  }

  test("avgChunksPerFile uses last-wins dedup by path (SURVEY.md §2.9.6)") {
    val got = chunks.transform(Stats.avgChunksPerFile(_, "path", "total_chunks", "seq"))
      .as[Double].head()
    // last write for a.py says 4 chunks; b.md says 1 → avg(4,1) = 2.5
    assert(got == 2.5)
  }

  test("topKPerGroup keeps exactly k rows per group, ordered with tie-break") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("g1", 1L, 10), ("g1", 2L, 30), ("g1", 3L, 30), ("g1", 4L, 20),
      ("g2", 5L, 5)
    ).toDF("g", "id", "v")
    val got = Stats.topKPerGroup(df, Seq("g"), col("v").desc, col("id").asc, k = 2)
      .select("g", "rk", "id").as[(String, Int, Long)].collect().toSet
    // g1: v=30 twice → tie broken by id (2 before 3); g2 has only one row
    assert(got == Set(("g1", 1, 2L), ("g1", 2, 3L), ("g2", 1, 5L)))
  }

  test("topKPerGroup rejects non-positive k") {
    import org.apache.spark.sql.functions._
    val df = Seq(("g", 1L)).toDF("g", "id")
    intercept[IllegalArgumentException] {
      Stats.topKPerGroup(df, Seq("g"), col("id"), col("id"), k = 0)
    }
  }

  test("stratifiedSampleByHash is deterministic and honors per-stratum fractions") {
    import org.apache.spark.sql.functions._
    val df = (0 until 2000).map(i => (if (i % 2 == 0) "a" else "b", i.toLong))
      .toDF("s", "id")
    val keep = Stats.stratifiedSampleByHash(df, "s", "id",
      perMille = Map("a" -> 500), defaultPerMille = 0)
    // stratum b is fully dropped; stratum a keeps roughly half
    val bySt = keep.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(!bySt.contains("b"))
    assert(bySt("a") > 350 && bySt("a") < 650, s"got ${bySt("a")}")
    // deterministic: same input → identical sample (run twice, repartitioned)
    val again = Stats.stratifiedSampleByHash(df.repartition(7), "s", "id",
      perMille = Map("a" -> 500), defaultPerMille = 0)
      .select("id").as[Long].collect().toSet
    assert(again == keep.select("id").as[Long].collect().toSet)
  }

  test("count-min sketch never undercounts; exact on the heavy hitter") {
    import graft.stats.CountMin
    import org.apache.spark.sql.functions._
    // 400 distinct rare tokens (forcing collisions in the 4x64 grid)
    // plus one heavy hitter
    val toks = ((0 until 400).map(i => s"tok$i") ++ Seq.fill(500)("heavy"))
      .toDF("token")
    val sketch = CountMin.build(toks, "token")
    assert(sketch.count() <= 4 * 64)
    val probes = ((0 until 400 by 37).map(i => s"tok$i") ++
      Seq("heavy", "never_seen")).toDF("token")
    val exact = toks.groupBy("token").count()
    val got = CountMin.estimate(sketch, probes, "token")
      .join(exact, Seq("token"), "left")
      .select(col("token"), col("est"),
        coalesce(col("count"), lit(0L)).as("exact"))
      .as[(String, Long, Long)].collect()
    got.foreach { case (t, est, ex) =>
      assert(est >= ex, s"count-min undercounted $t: $est < $ex")
    }
    // the heavy hitter dwarfs collision noise: estimate is close
    val (_, hEst, hEx) = got.find(_._1 == "heavy").get
    assert(hEx == 500L && hEst >= 500L && hEst <= 520L)
    intercept[IllegalArgumentException] {
      CountMin.build(toks, "token", depth = 0)
    }
  }

  test("stratifiedSampleByHash rejects out-of-range fractions") {
    val df = Seq(("a", 1L)).toDF("s", "id")
    intercept[IllegalArgumentException] {
      Stats.stratifiedSampleByHash(df, "s", "id", Map("a" -> 1001), 100)
    }
  }

  test("exactQuantiles: hand-computed median/p90, even and odd group sizes") {
    val df = (Seq(10L, 20L, 30L, 40L).map(("a", _)) ++
      Seq(5L, 5L, 7L).map(("b", _))).toDF("source", "n")
    val got = Stats.exactQuantiles(df, "n", "source")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // smallest v with cum·den >= n·num: even n=4 → p50 at the 2nd value
    assert(got(("a", "p50")) == (20L, 4L), got.toString)
    assert(got(("a", "p90")) == (40L, 4L))
    // repeated values collapse into one histogram row but keep weight
    assert(got(("b", "p50")) == (5L, 3L))
    assert(got(("b", "p90")) == (7L, 3L))
  }

  test("winsorizedStats clips at the group's exact p05/p95 and matches a replica") {
    // group a: 1..20 -> lo = 1 (cum 1 >= 20/20), hi = 19 (cum 19 >= 19);
    // only 20 clips (down to 19); mean = (sum(1..19)+19)/20 = 10.45
    val df = ((1L to 20L).map(("a", _)) ++ Seq(("b", 5L), ("b", 5L), ("b", 100L)))
      .toDF("source", "n")
    val got = Stats.winsorizedStats(df, "n", "source")
      .as[(String, Long, Long, Long, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    def replica(vals: Seq[Long], lo: Long, hi: Long) = {
      val c = vals.map(v => math.min(math.max(v, lo), hi))
      val mean = c.sum.toDouble / c.size
      val std = math.sqrt((c.map(x => x.toDouble * x).sum -
        c.sum.toDouble * c.sum.toDouble / c.size) / c.size)
      def r4(x: Double) =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r4(mean), r4(std))
    }
    val (ma, sa) = replica(1L to 20L, 1L, 19L)
    assert(got("a") == (("a", 20L, 1L, 19L, 0L, 1L, ma, sa)), got("a").toString)
    // group b: histogram {5:2, 100:1}, n=3 -> lo = 5 (cum 2 >= 3/20 -> first
    // value), hi = 100 (cum 3 >= 57/20); nothing clips
    val (mb, sb) = replica(Seq(5L, 5L, 100L), 5L, 100L)
    assert(got("b") == (("b", 3L, 5L, 100L, 0L, 0L, mb, sb)), got("b").toString)
  }

  test("winsorizedStats: constant group has std exactly 0.0 (clamped, never NaN)") {
    val df = Seq.fill(7)(("c", 42L)).toDF("source", "n")
    val got = Stats.winsorizedStats(df, "n", "source")
      .as[(String, Long, Long, Long, Long, Long, Double, Double)].head()
    assert(got == (("c", 7L, 42L, 42L, 0L, 0L, 42.0, 0.0)), got.toString)
  }

  test("exactQuantiles equals sort-based quantiles on random data") {
    val rnd = new scala.util.Random(3)
    val data = Seq.fill(500)(("g" + rnd.nextInt(3), rnd.nextInt(50).toLong))
    val got = Stats.exactQuantiles(data.toDF("source", "n"), "n", "source")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for ((g, vs) <- data.groupBy(_._1)) {
      val sorted = vs.map(_._2).sorted
      val n = sorted.length
      def q(num: Int, den: Int): Long = sorted((n * num + den - 1) / den - 1)
      assert(got((g, "p50")) == q(1, 2), s"$g p50")
      assert(got((g, "p90")) == q(9, 10), s"$g p90")
    }
  }

  test("exactQuantiles validates the rationals") {
    val df = Seq(("a", 1L)).toDF("source", "n")
    intercept[IllegalArgumentException] {
      Stats.exactQuantiles(df, "n", "source", Seq(("bad", 3, 2)))
    }
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val a = Seq((1L, "same"), (2L, "gone"), (3L, "old")).toDF("doc_id", "text")
    val b = Seq((1L, "same"), (3L, "new"), (4L, "born")).toDF("doc_id", "text")
    val got = Stats.snapshotDiff(a, b)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("unchanged" -> 1L, "removed" -> 1L, "changed" -> 1L, "added" -> 1L))
  }

  test("balancedSample keeps all of the minority stratum, downsamples the rest") {
    val rows = (1L to 300L).map(i => (i, if (i <= 60) "minor" else "major"))
    val got = Stats.balancedSample(rows.toDF("doc_id", "lang"), "lang", "doc_id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // minority: cut = 1000 -> everything kept
    assert(got("minor") == ((60L, 60L)))
    // majority: cut = (1000*60) div 240 = 250 per mille -> roughly a quarter,
    // strictly fewer than original and more than zero
    val (orig, kept) = got("major")
    assert(orig == 240L && kept > 0L && kept < 240L)
    // deterministic: same input, same result
    val again = Stats.balancedSample(rows.toDF("doc_id", "lang"), "lang", "doc_id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == got)
  }

  test("temperatureSample flattens toward sqrt weights under the budget cap") {
    // strata 900 / 100: sqrt weights 30 / 10 -> of budget 500, expected
    // 375 / 125; rates 375/900=0.4166, 125/100 capped at 1.0
    val rows = (1L to 1000L).map(i => (i, if (i <= 900) "big" else "small"))
    val got = Stats.temperatureSample(rows.toDF("doc_id", "source"),
      "source", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .map(t => t._1 -> t).toMap
    val (_, bOrig, bRate, bKept) = got("big")
    val (_, sOrig, sRate, sKept) = got("small")
    assert(bOrig == 900L && sOrig == 100L)
    // small stratum: uncapped rate would be 1.25 -> capped at exactly 1e6,
    // so every row survives
    assert(sRate == 1000000L && sKept == 100L)
    // big stratum: rate ~ 416666 micro; the md5 rule keeps ~41.7%
    assert(bRate > 400000L && bRate < 430000L, s"rate $bRate")
    assert(bKept > 300L && bKept < 500L, s"kept $bKept")
    // deterministic
    val again = Stats.temperatureSample(rows.toDF("doc_id", "source"),
      "source", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .map(t => t._1 -> t).toMap
    assert(again == got)
    // no corpus shuffle: the join side is broadcast
    val plan = Stats.temperatureSample(rows.toDF("doc_id", "source"),
      "source", "doc_id").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("heavyHittersExact == brute-force heavy hitters (no false negatives)") {
    import graft.stats.CountMin
    val rnd = new scala.util.Random(13)
    // skewed stream: a few hot tokens + a long singleton-ish tail that
    // must be pruned map-side but never cost a true heavy hitter
    val toks = (Seq.fill(400)("hot1") ++ Seq.fill(250)("hot2") ++
      Seq.fill(90)("warm") ++
      (0 until 600).map(i => s"tail${rnd.nextInt(500)}"))
    val df = toks.toDF("token")
    val got = CountMin.heavyHittersExact(df, "token", thresholdPpm = 50000)
      .as[(String, Long, Long)].collect()
    val total = toks.size.toLong
    val tau = math.max((total / 1000000L) * 50000L +
      ((total % 1000000L) * 50000L + 999999L) / 1000000L, 1L)
    val want = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= tau).toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
    assert(got.map(t => (t._1, t._2)).toSeq == want, s"got ${got.toSeq} want $want")
    // CM only overestimates
    assert(got.forall(t => t._3 >= t._2))
  }

  test("heavyHittersExact: empty input yields empty output, no crash") {
    import graft.stats.CountMin
    val got = CountMin.heavyHittersExact(
      Seq.empty[String].toDF("token"), "token")
    assert(got.collect().isEmpty)
  }

  test("rankPercentilePpm: strictly-below mass in ppm, no global sort of rows") {
    val df = Seq(10L, 10L, 20L, 30L, 30L, 30L, 40L, 50L, 50L, 60L).toDF("v")
    val got = Stats.rankPercentilePpm(df, "v")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 0L, 20L -> 200000L, 30L -> 300000L,
      40L -> 600000L, 50L -> 700000L, 60L -> 900000L), got.toString)
  }

  test("scoreCalibration: exact deciles, strict-less bucketing, outcome rates") {
    // scores 1..20 with outcome = score > 15; deciles split 2 values each
    val df = (1L to 20L).map(s => (s, if (s > 15) 1 else 0)).toDF("score", "y")
    val got = Stats.scoreCalibration(df, "score", "y")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.length == 10)
    // decile k (1-based) holds scores {2k-1, 2k}: boundary b_k = 2k by the
    // cum-mass rule, and strict-less bucketing puts score 2k in bucket k
    got.zipWithIndex.foreach { case ((dec, n, lo, hi, rate), i) =>
      val k = i + 1L
      assert(dec == k && n == 2L && lo == 2 * k - 1 && hi == 2 * k,
        s"decile $k malformed: ${got.toSeq}")
      val want = if (k <= 7) 0.0 else if (k == 8) 0.5 else 1.0
      assert(rate == want, s"decile $k outcome_rate $rate want $want")
    }
  }

  test("scoreCalibration: degenerate score mass merges buckets, conserves rows") {
    // 90% of rows share one score -> most boundaries coincide; buckets
    // merge (no row is double-counted, none dropped)
    val df = (Seq.fill(90)(5L) ++ Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 10L, 11L))
      .map(s => (s, 0)).toDF("score", "y")
    val got = Stats.scoreCalibration(df, "score", "y")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.map(_._2).sum == 100L, s"rows not conserved: ${got.toSeq}")
    val byDecile = got.map(r => r._1 -> r._2).toMap
    // scores 1..4 sit strictly below every boundary (b_1..b_9 are all >= 5)
    assert(byDecile(1L) >= 4L, got.toSeq.toString)
  }

  test("retentionCohorts: hand-computed weekly cohorts with in-week dedup") {
    // Weeks (Mondays): W0=2024-01-01, W1=2024-01-08, W2=2024-01-15.
    // u1: W0 (twice — must dedup), W1, W2; u2: W0, W2; u3: W1.
    // Cohort W0 (2 users): offset 0 -> 2 (1.0), offset 1 -> 1 (0.5),
    // offset 2 -> 2 (1.0). Cohort W1 (1 user): offset 0 -> 1 (1.0).
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-02 10:00:00")), (1L, ts("2024-01-05 09:00:00")),
      (1L, ts("2024-01-08 00:00:00")), (1L, ts("2024-01-21 23:59:59")),
      (2L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-17 12:00:00")),
      (3L, ts("2024-01-10 08:30:00"))
    ).toDF("user_id", "ts")
    val got = Stats.retentionCohorts(ev)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(got == Map(
      ("2024-01-01", 0L) -> ((2L, 2L, 1.0)),
      ("2024-01-01", 1L) -> ((1L, 2L, 0.5)),
      ("2024-01-01", 2L) -> ((2L, 2L, 1.0)),
      ("2024-01-08", 0L) -> ((1L, 1L, 1.0))), got.toString)
  }

  test("kAnonymity: singleton classes counted per k, risky mass conserved") {
    // Classes over (g, bucket): (x, 0) size 3, (y, 0) size 1, (x, 1) size 1.
    val df = Seq(("x", 10L), ("x", 20L), ("x", 99L), ("y", 5L), ("x", 150L))
      .toDF("g", "n")
    val got = Stats.kAnonymity(df, Seq(col("g"), expr("n div 100").as("b")))
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // k=2: the two singletons are risky (2 docs of 5)
    assert(got(2L) == ((3L, 5L, 2L, 2L, 0.4)), got.toString)
    // k=5: every class is below 5 -> all 5 docs exposed
    assert(got(5L) == ((3L, 5L, 3L, 5L, 1.0)), got.toString)
    assert(got(10L) == got(5L) && got(20L) == got(5L), got.toString)
  }

  test("ksDrift: hand-computed D, disjoint supports, identical distributions") {
    // A = [1,1,2], B = [1,2,2,2]: at v=1 cdf_A=2/3, cdf_B=1/4 -> D=5/12
    // (each group's "rest" is exactly the other group)
    val ab = (Seq.fill(2)(("A", 1L)) ++ Seq(("A", 2L)) ++
      Seq(("B", 1L)) ++ Seq.fill(3)(("B", 2L))).toDF("g", "v")
    val got = Stats.ksDrift(ab, "v", "g")
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("A") == ((3L, 0.416667)) && got("B") == ((4L, 0.416667)), got.toString)

    // disjoint supports -> D = 1 on both sides
    val dis = Seq(("A", 1L), ("A", 2L), ("B", 10L), ("B", 11L)).toDF("g", "v")
    val gotD = Stats.ksDrift(dis, "v", "g").as[(String, Long, Double)].collect()
    assert(gotD.forall(_._3 == 1.0), gotD.toSeq.toString)

    // identical distributions -> D = 0
    val same = Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 2L)).toDF("g", "v")
    val got0 = Stats.ksDrift(same, "v", "g").as[(String, Long, Double)].collect()
    assert(got0.forall(_._3 == 0.0), got0.toSeq.toString)
  }

  test("ksDrift: single-group corpus yields no rows (rest side empty)") {
    val df = Seq(("only", 1L), ("only", 5L)).toDF("g", "v")
    assert(Stats.ksDrift(df, "v", "g").count() == 0L)
  }

  test("psiPaired: empty input yields no rows; all-reference input equals " +
    "the add-one-smoothed PSI computed on the driver") {
    import org.apache.spark.sql.functions.{floor, least, lit, size}
    import graft.text.TextAnalysis
    val noDocs = Seq.empty[(String, Boolean)].toDF("text", "is_ref")
    assert(Stats.psiPaired(noDocs, "is_ref").collect().isEmpty)

    // every row is reference, so n_cur = 0 in every bucket
    def words(n: Int) = (1 to n).map(i => s"word$i").mkString(" ")
    val docs = Seq("short note", "another short note here",
      "The quick brown fox jumps over the lazy dog. It was a sunny day.",
      words(45), words(150), words(300))
      .map(t => (t, true)).toDF("text", "is_ref")
    // each doc's bucket per feature (quality ×10, token count /20 capped
    // at 9), then PSI per feature over its observed buckets: t_cur = 0,
    // p_ref = (n_ref + 1) / (N + nb), p_cur = 1 / nb
    val toks = TextAnalysis.tokens(col("text"))
    val buckets = docs.select(
        floor(TextAnalysis.qualityScoreFromTokens(col("text"), toks) * 10)
          .cast("long"),
        least(floor(size(toks) / 20), lit(9L)).cast("long"))
      .as[(Long, Long)].collect().toSeq
    def psi(bs: Seq[Long], nb: Int): (Long, Double) = {
      val counts = bs.groupBy(identity).values.map(_.length).toSeq
      val pCur = 1.0 / nb
      (counts.length.toLong, counts.map { c =>
        val pRef = (c + 1).toDouble / (bs.length + nb)
        (pCur - pRef) * math.log(pCur / pRef)
      }.sum)
    }
    val want = Map("quality" -> psi(buckets.map(_._1), 11),
      "length" -> psi(buckets.map(_._2), 10))
    assert(want("length")._1 == 4L, want.toString) // 0, 2, 7, 9
    val got = Stats.psiPaired(docs, "is_ref")
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == want.keySet, got.toString)
    for ((f, (nb, p)) <- want) {
      assert(got(f)._1 == nb, s"$f: $got vs $want")
      // Spark rounds to 6 places and may sum the buckets in another order
      assert(math.abs(got(f)._2 - p) <= 1e-6, s"$f: $got vs $want")
    }
  }

  test("fanoFactor: hand-computed variance-to-mean over the corpus hour grid") {
    // hours H0..H2 observed corpus-wide (H2 only via type B). Type A:
    // H0 -> 3 events, H1 -> 1, H2 -> 0 (zero hour counts in n only):
    // F = S2/S1 - S1/n = 10/4 - 4/3 = 7/6. Type B: one event in each of
    // H0, H2 and 0 in H1 -> F = 2/2 - 2/3 = 1/3.
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = (Seq.fill(3)(("A", ts("2024-03-01 10:15:00"))) ++ Seq(
      ("A", ts("2024-03-01 11:05:00")),
      ("B", ts("2024-03-01 10:59:59")), ("B", ts("2024-03-01 12:00:00"))))
      .toDF("event_type", "ts")
    val got = Stats.fanoFactor(ev)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("A") == ((3L, 2L, 4L, 1.166667)), got.toString)
    assert(got("B") == ((3L, 2L, 2L, 0.333333)), got.toString)
  }

  test("giniByGroup: hand values, equal-mass zero, two-point extreme") {
    // [1,1,2] -> G = 1/6; [5,5] -> 0; [0,10] -> (n-1)/n = 0.5
    val df = (Seq(("a", 1L), ("a", 1L), ("a", 2L)) ++
      Seq(("b", 5L), ("b", 5L)) ++ Seq(("c", 0L), ("c", 10L))).toDF("g", "v")
    val got = Stats.giniByGroup(df, "v", "g")
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == ((3L, 4.0, 0.166667)), got.toString)
    assert(got("b") == ((2L, 10.0, 0.0)), got.toString)
    assert(got("c") == ((2L, 10.0, 0.5)), got.toString)
  }

  test("kAnonymity: fully-anonymous table reports zero risk (coalesce path)") {
    val df = Seq.fill(40)("same").toDF("g")
    val got = Stats.kAnonymity(df, Seq(col("g")))
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(got.forall(r => r._4 == 0L && r._5 == 0L && r._6 == 0.0), got.toSeq.toString)
  }

  test("new stats ops degrade to empty output on empty input (no throw)") {
    import java.sql.Timestamp
    val noEvents = Seq.empty[(Long, Timestamp, String)]
      .toDF("event_id", "ts", "event_type")
    assert(Stats.disorderAudit(noEvents).count() == 0)
    assert(Stats.volumeTrend(noEvents.select($"event_type", $"ts")).count() == 0)
    assert(Stats.seasonality(noEvents.select($"event_type", $"ts")).count() == 0)
    val noDocs = Seq.empty[(String, String)].toDF("s", "l")
    assert(Stats.mutualInformation(noDocs, "s", "l").count() == 0)
  }

  test("seasonality: alternating series has r1=-0.95/r2=0.9; flat is NULL") {
    import java.sql.Timestamp
    def hts(h: Int) = Timestamp.valueOf(f"2024-03-10 ${h}%02d:30:00")
    // type a: one event in every EVEN hour of 0..18; type b's lone event
    // at hour 19 stretches the CORPUS grid to 20 hours, so a's series is
    // 1,0,1,0,...,0: mean .5, den 5, num1 = -.25·19, num2 = .25·18
    val rows = (0 until 20 by 2).map(h => ("a", hts(h))) :+ ("b", hts(19))
    val got = Stats.seasonality(rows.toDF("event_type", "ts"),
      lags = Seq(1, 2)).collect()
      .find(_.getString(0) == "a").get
    assert(got.getLong(1) == 20 && got.getDouble(2) == 0.5, got.toString)
    assert(got.getDouble(3) == -0.95 && got.getDouble(4) == 0.9, got.toString)
    // degenerate single-hour corpus: den = 0 → autocorr undefined
    val one = Stats.seasonality(
      Seq(("a", hts(3)), ("a", hts(3))).toDF("event_type", "ts"),
      lags = Seq(1)).collect().head
    assert(one.getLong(1) == 1 && one.isNullAt(3), one.toString)
    intercept[IllegalArgumentException](
      Stats.seasonality(rows.toDF("event_type", "ts"), lags = Seq(0)))
  }

  test("disorderAudit: hand lateness, and blocked == unblocked prefix scan") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s"2024-03-10 $s")
    // arrival order (event_id) vs event time: two late events (2 s, 9 s)
    val rows = Seq(
      (1L, ts("10:00:00")), (2L, ts("10:00:05")), (3L, ts("10:00:03")),
      (4L, ts("10:00:10")), (5L, ts("10:00:01")), (6L, ts("10:00:10")))
      .map { case (id, t) => (id, t, "click") }
    val df = rows.toDF("event_id", "ts", "event_type")
    val got = Stats.disorderAudit(df, blockSize = 2).collect().head
    assert(got.getLong(1) == 6 && got.getLong(2) == 2, got.toString)
    assert(got.getDouble(3) == math.rint(2.0 / 6.0 * 1e6) / 1e6)
    assert(got.getLong(4) == 0 && got.getLong(5) == 9 && got.getLong(6) == 9
      && got.getLong(7) == 9, got.toString)
    // block boundaries must not change the running max: tiny blocks vs
    // one block spanning everything agree on a multi-type interleaving
    val mixed = (0L until 200L).map { i =>
      val t = ts(f"10:${(i * 7 % 60)}%02d:${(i * 13 % 60)}%02d")
      (i, t, if (i % 3 == 0) "a" else "b")
    }
    val small = Stats.disorderAudit(mixed.toDF("event_id", "ts", "event_type"),
      blockSize = 4).collect().map(r => r.toSeq).toSet
    val big = Stats.disorderAudit(mixed.toDF("event_id", "ts", "event_type"),
      blockSize = 1000000L).collect().map(r => r.toSeq).toSet
    assert(small == big, s"$small vs $big")
  }

  test("volumeAnomaly: hand median/MAD, spike flagged, MAD=0 reports none") {
    import java.sql.Timestamp
    val cnts = Seq(8, 10, 12, 9, 11, 10, 10, 50)
    // type a: daily counts above (median 10, MAD 1, the 50-day beyond
    // 3*MAD); type b: constant 5 per day -> MAD 0 -> zero anomalies
    val rows = (0 until 8).flatMap { i =>
      val day = f"2024-03-${10 + i}%02d"
      (0 until cnts(i)).map(j =>
        ("a", Timestamp.valueOf(s"$day 0${j % 10}:0${j / 10}:00"))) ++
        (0 until 5).map(j => ("b", Timestamp.valueOf(s"$day 01:1$j:00")))
    }
    val got = Stats.volumeAnomaly(rows.toDF("event_type", "ts"))
      .as[(String, Long, Long, Long, Long, String, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("a") == ("a", 8L, 10L, 1L, 1L, "2024-03-17", 50L), got("a").toString)
    val b = got("b")
    assert(b._3 == 5L && b._4 == 0L && b._5 == 0L, b.toString)
    intercept[IllegalArgumentException](
      Stats.volumeAnomaly(rows.toDF("event_type", "ts"), k = 0.0))
  }

  test("volumeTrend: hand OLS, absent days as zeros, single-day NULLs") {
    import java.sql.Timestamp
    def ts(day: Int, h: Int) = Timestamp.valueOf(f"2024-03-${10 + day}%02d $h%02d:00:00")
    // A: 1,2,3 events on days 0,1,2 → slope 1, intercept 1, r2 1
    // B: 2 events on day 0 only → grid [2,0,0]: slope -1, icpt 5/3, r2 .75
    val rows = Seq(
      ("A", ts(0, 1)), ("A", ts(1, 1)), ("A", ts(1, 2)),
      ("A", ts(2, 1)), ("A", ts(2, 2)), ("A", ts(2, 3)),
      ("B", ts(0, 4)), ("B", ts(0, 5)))
    val got = Stats.volumeTrend(rows.toDF("event_type", "ts"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("A")
    assert(a.getLong(1) == 3 && a.getLong(2) == 6)
    assert(a.getDouble(3) == 1.0 && a.getDouble(4) == 1.0 && a.getDouble(5) == 1.0)
    val bb = got("B")
    assert(bb.getLong(1) == 3 && bb.getLong(2) == 2)
    assert(bb.getDouble(3) == -1.0)
    assert(bb.getDouble(4) == math.rint(5.0 / 3.0 * 1e6) / 1e6)
    assert(bb.getDouble(5) == 0.75)
    // single corpus day: varx = 0 → every fit column NULL
    val one = Stats.volumeTrend(Seq(("A", ts(0, 1))).toDF("event_type", "ts"))
      .collect().head
    assert(one.isNullAt(3) && one.isNullAt(4) && one.isNullAt(5))
  }

  test("mutualInformation: independence → 0, determinism → H, degenerate → NULL") {
    // independent 2x2 uniform: every pmi = ln(1) = 0, MI = 0, NMI = 0
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("s", "l")
    val gi = Stats.mutualInformation(indep, "s", "l").collect()
    assert(gi.length == 4)
    gi.foreach { r =>
      assert(r.getDouble(r.fieldIndex("pmi")) == 0.0, r.toString)
      assert(r.getDouble(r.fieldIndex("mi_nats")) == 0.0, r.toString)
      assert(r.getDouble(r.fieldIndex("nmi")) == 0.0, r.toString)
    }
    // deterministic map s→l, uniform marginals: MI = H = ln(2), NMI = 1
    val det = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y")).toDF("s", "l")
    val gd = Stats.mutualInformation(det, "s", "l").collect()
    assert(gd.length == 2)
    val ln2 = math.rint(math.log(2) * 1e6) / 1e6
    gd.foreach { r =>
      assert(r.getDouble(r.fieldIndex("mi_nats")) == ln2, r.toString)
      assert(r.getDouble(r.fieldIndex("nmi")) == 1.0, r.toString)
      assert(r.getDouble(r.fieldIndex("pmi")) == ln2, r.toString)
    }
    // single source: H_a = 0 → NMI undefined (NULL), MI = 0
    val degen = Seq(("only", "x"), ("only", "y")).toDF("s", "l")
    val gz = Stats.mutualInformation(degen, "s", "l").collect()
    gz.foreach { r =>
      assert(r.getDouble(r.fieldIndex("mi_nats")) == 0.0, r.toString)
      assert(r.isNullAt(r.fieldIndex("nmi")), r.toString)
    }
  }
  test("effectiveRank: isotropic spectrum reads full rank, collapsed reads ~1") {
    import spark.implicits._
    // 4 dims with equal variance (one-hot +/-1 per dim): eff rank = 4
    val iso = (0L until 64L).map { i =>
      val v = Array.fill(4)(0.0f)
      v((i % 4).toInt) = if (i % 2 == 0) 1.0f else -1.0f
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val r1 = Stats.effectiveRank(iso).collect().head
    assert(r1.getLong(0) == 4L && r1.getLong(1) == 64L)
    assert(math.abs(r1.getDouble(3) - 4.0) < 1e-4, r1.toString)
    assert(math.abs(r1.getDouble(4) - 4.0) < 1e-4, r1.toString)
    assert(math.abs(r1.getDouble(5) - 0.25) < 1e-4, r1.toString)
    // variance concentrated in one dim -> eff rank near 1, share near 1
    val coll = (0L until 64L).map { i =>
      (i, Seq(if (i % 2 == 0) 5.0f else -5.0f, 0.001f * (i % 3), 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val r2 = Stats.effectiveRank(coll).collect().head
    assert(r2.getDouble(3) < 1.02, r2.toString)
    assert(r2.getDouble(5) > 0.99, r2.toString)
  }

}
