package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, length, when}

/** Benchmark main: runs every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Self-defending against container-level timing noise (observed ±5x on
  * identical code across driver windows — see PERF.md):
  *   - each query runs SPARK_GRAFT_BENCH_PASSES times (default 3),
  *     INTERLEAVED (pass 1 over all queries, then pass 2, ...) so a
  *     transient slowdown hits one pass of many queries rather than all
  *     repetitions of one query;
  *   - the reported per-query number and the total are the per-query
  *     MEDIANS across passes; per-query minima ship alongside in
  *     "queries_min" for cross-checking;
  *   - a fixed no-op control job ("__control") runs once per pass and is
  *     reported separately as the noise floor — if the control's spread is
  *     wide, the window itself was noisy and cross-round deltas in that
  *     window are not code-attributable;
  *   - any query whose median reads > 3× its committed serial-history
  *     ledger is stamped "inflation_suspect" AND re-run once solo after
  *     all passes finish: "serial_recheck" ships the solo seconds and
  *     "recheck_regression" the suspects still >3× — the artifact
  *     adjudicates inflation-vs-regression by itself (VERDICT r13).
  *
  * Each query is materialized through the noop sink (full evaluation of
  * every column, no driver collect, no pruned-count shortcut) after a
  * warm-up of the session itself.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Per-query serial-history ledger (VERDICT r12 item 1): quiet-window
    * medians recorded by the builder's closing bench (run with
    * SPARK_GRAFT_WRITE_HISTORY=1) and committed at perf/serial_history
    * .json. Every later bench compares its in-bench medians against the
    * ledger and stamps "inflation_suspect" on any query reading > 3× its
    * serial history (with a 1 s absolute floor so sub-second jitter
    * never flags) — the mechanical form of the "driver windows carry
    * 2–6× multiprogramming inflation" adjudication PERF.md used to
    * record by hand each round. Keys: the sfDir basename ("sf0.1") for
    * the main run, "sf1" for the replica pass.
    */
  private[graft] val HistoryPath = "perf/serial_history.json"

  private[graft] def readHistory(key: String,
                                 path: String = HistoryPath): Map[String, Double] = try {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val sub = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(f).get(key)
      if (sub == null) Map.empty
      else {
        val it = sub.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next(); b += e.getKey -> e.getValue.asDouble()
        }
        b.result()
      }
    }
  } catch { case e: Throwable =>
    System.err.println(s"[bench] serial history unreadable: ${e.getMessage}")
    Map.empty
  }

  private[graft] def writeHistory(key: String, med: Seq[(String, Double)],
                                  path: String = HistoryPath): Unit = try {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val f = new java.io.File(path)
    val root: com.fasterxml.jackson.databind.node.ObjectNode =
      if (f.exists()) mapper.readTree(f).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else mapper.createObjectNode()
    val sub = root.`with`(key) // merge: existing queries not in this run survive
    med.foreach { case (n, v) => sub.put(n, math.rint(v * 1000) / 1000) }
    Option(f.getParentFile).foreach(_.mkdirs())
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
    System.err.println(s"[bench] serial history updated: $path [$key] ${med.size} queries")
  } catch { case e: Throwable =>
    System.err.println(s"[bench] serial history write failed: ${e.getMessage}")
  }

  /** The ledger row that stamps each history write with ITS machine
    * state: the control median of the session that recorded it. The
    * suspect rule then compares like with like across machine states —
    * r14's close showed a uniform ~+30% ambient drift that made raw
    * cross-round comparisons noisy (VERDICT r14 item 6).
    */
  private[graft] val ControlKey = "__control"

  /** Normalization factor for the >3× rule: how much slower THIS
    * session's control runs than the ledger-writing session's. Clamped
    * below at 1.0 — a faster machine keeps the raw rule (suspects only
    * get MORE scrutiny, never less) — and above at 10 so a pathological
    * control reading can't disable the tripwire entirely.
    */
  private[graft] def driftFactor(hist: Map[String, Double],
                                 ctlNow: Option[Double]): Double =
    (for { h <- hist.get(ControlKey) if h > 0; c <- ctlNow if c > 0 }
      yield math.min(10.0, math.max(1.0, c / h))).getOrElse(1.0)

  private[graft] def suspects(hist: Map[String, Double],
                              med: Seq[(String, Double)],
                              drift: Double = 1.0): Seq[String] =
    med.filter { case (n, t) =>
      n != ControlKey &&
        hist.get(n).exists(h => t > 3 * h * drift && t - h * drift > 1.0)
    }.map(_._1).sorted

  /** Solo re-run of every inflation suspect after ALL passes finish
    * (VERDICT r13 item 1): the in-bench number rode a multiprogrammed
    * window; one more measurement with nothing else queued adjudicates
    * inflation-vs-regression inside the artifact itself — BENCH_rN.json
    * carries "serial_recheck" (the solo seconds) and
    * "recheck_regression" (suspects STILL >3× their serial history
    * after the solo run — the only ones worth a human's attention).
    * Generic in the query type so the adjudication logic is
    * spec-coverable without a SparkSession.
    */
  private[graft] def recheckSuspects[F](names: Seq[(String, F)],
                                        suspectNames: Seq[String],
                                        runOnce: (String, F) => Option[Double])
      : Seq[(String, Double)] =
    suspectNames.flatMap(n => names.find(_._1 == n).flatMap {
      case (_, fn) => runOnce(n, fn).map(n -> _)
    })

  private[graft] def jsonMap(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }.mkString("{", ",", "}")

  private[graft] def jsonNames(ns: Seq[String]): String =
    ns.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Take rendered JSON fragments while their joined length fits a
    * character budget — entry-count caps alone can't bound the compact
    * stdout line when names are long (the r15 overflow class), so every
    * variable-length list in finalLine is CHAR-budgeted instead.
    */
  private[graft] def capChars(parts: Seq[String], budget: Int): Seq[String] = {
    var used = 0
    parts.takeWhile { p => used += p.length + 1; used <= budget }
  }

  private[graft] def jsonMapCapped(kv: Seq[(String, Double)], budget: Int): String =
    capChars(kv.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }, budget)
      .mkString("{", ",", "}")

  private[graft] def jsonNamesCapped(ns: Seq[String], budget: Int): String =
    capChars(ns.map("\"" + _ + "\""), budget).mkString("[", ",", "]")

  /** Round-over-round comparison as a mechanical artifact field (VERDICT
    * r15 item 7): the sum of this run's medians over exactly the queries
    * the committed ledger also carries, vs the ledger's sum over the same
    * set, raw and control-normalized (ratio divided by the UNCLAMPED
    * control drift, so a uniformly slower machine reads ~1.0). What the
    * judge reconstructed by hand from r14→r15 ledger diffs now ships in
    * the bench JSON itself.
    */
  private[graft] def ledgerDiff(hist: Map[String, Double],
                                med: Seq[(String, Double)],
                                driftRaw: Option[Double]): String = {
    val common = med.filter { case (n, _) => n != ControlKey && hist.contains(n) }
    if (common.isEmpty) """"ledger_diff":null"""
    else {
      val now = common.map(_._2).sum
      val led = common.map { case (n, _) => hist(n) }.sum
      if (led <= 0) """"ledger_diff":null"""
      else {
        val ratio = now / led
        f""""ledger_diff":{"n_common":${common.size},"sum_now":$now%.1f,""" +
          f""""sum_ledger":$led%.1f,"ratio":$ratio%.3f""" +
          driftRaw.filter(_ > 0).map(d => f""","ratio_ctl_norm":${ratio / d}%.3f""")
            .getOrElse("") + "}"
      }
    }
  }

  /** Budgeted sf1 sub-object for the final stdout line. Caps are hard:
    * 3 slowest, 4 suspects, 4 rechecks, 4 regressions, 3 nonclone rows —
    * the r15 artifact died because this block carried full per-query maps
    * and 10-deep lists (BENCH_r15 parsed:null). Full detail lives in
    * perf/bench_full.json and on stderr.
    */
  private[graft] def sf1Compact(value: Double, nQueries: Int, nFailed: Int,
                                slowest: Seq[(String, Double)],
                                nSuspect: Int, suspectNames: Seq[String],
                                recheck: Seq[(String, Double)],
                                regression: Seq[String],
                                nonclone: Option[Seq[(String, Double)]]): String =
    f""""sf1":{"value":$value%.3f,"n_queries":$nQueries,"n_failed":$nFailed,""" +
      s""""factor":$Sf1Factor,"slowest":${jsonMapCapped(slowest, 105)},""" +
      s""""n_inflation_suspect":$nSuspect,""" +
      s""""inflation_suspect":${jsonNamesCapped(suspectNames, 100)},""" +
      s""""serial_recheck":${jsonMapCapped(recheck, 140)},""" +
      s""""recheck_regression":${jsonNamesCapped(regression, 100)},""" +
      nonclone.map(nc => s""""nonclone":${jsonMapCapped(nc, 105)}""")
        .getOrElse(""""nonclone":null""") + "}"

  /** The ONE stdout line the driver parses, assembled under a hard budget:
    * the consumer captures only the last ~2000 chars of stdout, and r15's
    * final line overflowed it (headline value truncated out of the window,
    * sf0.1 serial_recheck dropped entirely — VERDICT r15 item 1). This
    * form caps every variable-length list (4 headline, 3 failed names,
    * 4 suspects, 4 rechecks, 4 regressions, capped sf1 block), carries
    * BOTH scales' recheck/regression blocks, and drops the corpus
    * fingerprint (it lives in perf/bench_full.json + stderr).
    * BenchSpec asserts the worst-case assembled length stays under 1900.
    */
  private[graft] def finalLine(total: Double, degraded: Boolean,
                               nQueries: Int, nFailed: Int,
                               failedNames: Seq[String], passes: Int,
                               headline: Seq[(String, Double)],
                               nSuspect: Int, suspectNames: Seq[String],
                               recheck: Seq[(String, Double)],
                               regression: Seq[String],
                               ctlJson: String, ledgerDiffJson: String,
                               sf1Json: Option[String], sfDir: String): String =
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","degraded":$degraded,""" +
      s""""n_queries":$nQueries,"n_failed":$nFailed,""" +
      s""""failed":${jsonNamesCapped(failedNames, 80)},"passes":$passes,""" +
      s""""queries":${jsonMapCapped(headline, 140)},""" +
      s""""n_inflation_suspect":$nSuspect,""" +
      s""""inflation_suspect":${jsonNamesCapped(suspectNames, 100)},""" +
      s""""serial_recheck":${jsonMapCapped(recheck, 140)},""" +
      s""""recheck_regression":${jsonNamesCapped(regression, 100)},""" +
      ctlJson + "," + ledgerDiffJson +
      sf1Json.map("," + _).getOrElse("") + s""","sf":"$sfDir"}"""

  /** Best-effort write of the full (uncapped) bench JSON to a committed
    * path, so nothing depends on the driver's stdout tail window
    * (VERDICT r15 item 7). Only an unfiltered run writes it: a filtered
    * dev-loop run would replace the full-registry ledger with a few rows.
    */
  private[graft] val FullJsonPath = "perf/bench_full.json"

  /** Provenance stamp for the committed artifact (VERDICT r16 item 8):
    * the git SHA the bench ran against plus the wall-clock time — a
    * bench_full.json is meaningless without knowing WHICH code it
    * measured. Best-effort: a missing git binary degrades to "unknown".
    */
  private[graft] def provenance(): String = {
    val sha = try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]+")) out else "unknown"
    } catch { case _: Throwable => "unknown" }
    val ts = java.time.Instant.now().toString
    s""""git_sha":"$sha","bench_time":"$ts""""
  }

  private[graft] def writeFull(json: String, path: String = FullJsonPath): Unit =
    try {
      val stamped = "{" + provenance() + "," + json.stripPrefix("{")
      val f = new java.io.File(path)
      Option(f.getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.write(f.toPath, (stamped + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full JSON written: $path (${stamped.length} chars)")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] full JSON write failed: ${e.getMessage}")
    }

  /** The SOLO LANE (VERDICT r17 item 3): queries whose sf1 readings have
    * needed in-band adjudication three rounds running — the in-bench
    * number reads 5–50× the committed ledger, every solo recheck lands
    * back at 0.1–3.7 s. The divergence is not the queries: it is WHERE
    * they sit in the single-pass sf1 sweep — right after heavyweight
    * predecessors whose shuffle files only unlink on a driver GC, so
    * the measurement pays the debris of the queries before it. Lane
    * members are pulled out of the sweep and measured LAST, each after
    * an explicit `System.gc()`, under their normal ledger keys — same
    * artifact fields, quieter readings.
    */
  private[graft] val SoloLane: Set[String] = Set(
    "q131_kmv_overlap", "q25_decode_stats", "q26_lang_histogram",
    "q27_display_results", "q28_ivf_kmeans")

  /** SELF-TUNING lane membership (VERDICT r18 item 7): the hand-listed
    * [[SoloLane]] quieted its five chronic rows, but each round a NEW
    * contention set appears wherever the sweep's heavyweight
    * predecessors moved — hand-listing chases it one round late. Every
    * bench run appends its sf1 suspect list to a committed history
    * (last [[SuspectRunsKept]] runs), and any query suspect in BOTH of
    * the two most recent prior runs is auto-promoted into the lane for
    * this run. Tagged entries (@nonclone) are never promoted — they are
    * measurement variants, not sweep members.
    */
  private[graft] val SuspectHistoryPath = "perf/suspect_history.json"
  private[graft] val SuspectRunsKept = 8

  private[graft] def dynamicLane(runs: Seq[Seq[String]]): Set[String] =
    runs.takeRight(2) match {
      case Seq(a, b) => a.toSet.intersect(b.toSet).filterNot(_.contains("@"))
      case _         => Set.empty
    }

  private[graft] def readSuspectRuns(key: String,
                                     path: String = SuspectHistoryPath): Seq[Seq[String]] = try {
    val f = new java.io.File(path)
    if (!f.exists()) Seq.empty
    else {
      val sub = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(f).get(key)
      if (sub == null || !sub.isArray) Seq.empty
      else {
        val b = Seq.newBuilder[Seq[String]]
        sub.forEach { run =>
          val r = Seq.newBuilder[String]
          run.forEach(n => r += n.asText())
          b += r.result()
        }
        b.result()
      }
    }
  } catch { case e: Throwable =>
    System.err.println(s"[bench] suspect history unreadable: ${e.getMessage}")
    Seq.empty
  }

  private[graft] def appendSuspectRun(key: String, suspects: Seq[String],
                                      path: String = SuspectHistoryPath): Unit = try {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val f = new java.io.File(path)
    val root: com.fasterxml.jackson.databind.node.ObjectNode =
      if (f.exists())
        mapper.readTree(f).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else mapper.createObjectNode()
    val runs = (readSuspectRuns(key, path) :+ suspects.sorted)
      .takeRight(SuspectRunsKept)
    val arr = mapper.createArrayNode()
    runs.foreach { run =>
      val a = mapper.createArrayNode()
      run.foreach(a.add)
      arr.add(a)
    }
    root.set(key, arr)
    Option(f.getParentFile).foreach(_.mkdirs())
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
    System.err.println(s"[bench] suspect history appended: $path [$key] " +
      s"${suspects.size} suspects, ${runs.size} runs kept")
  } catch { case e: Throwable =>
    System.err.println(s"[bench] suspect history write failed: ${e.getMessage}")
  }

  /** The sf1 replicas are 10 copies of sf0.1. */
  private val Sf1Factor = 10
  private val IdStride = 1000000000L // 1e9: far above any testdata key
  private val UserStride = 1000000L

  /** Replicate every fact table of `sfDir` [[Sf1Factor]]× into `workDir`
    * with disjoint id spaces, so joins/windows/dedup see a genuinely
    * bigger corpus rather than a corrupted one. Replica r shifts
    * documents.doc_id and embeddings.vec_id by r·1e9, events.user_id by
    * r·1e6, and c_custkey/o_orderkey (and their FKs) by r·1e9.
    * region/nation/part/supplier are dimensions: single-copy, FKs into
    * them unshifted (facts grow, dims do not).
    */
  private def replicateDir(spark: SparkSession, sfDir: String,
                           workDir: String): Unit = {
    def replicate(name: String, shifts: Map[String, Long]): Unit = {
      val src = s"$sfDir/$name.parquet"
      if (!new java.io.File(src).exists()) return
      val df = spark.read.parquet(src)
      val out =
        if (shifts.isEmpty) df
        else {
          val reps = spark.range(Sf1Factor).withColumnRenamed("id", "__rep")
          val crossed = df.crossJoin(reps)
          shifts.foldLeft(crossed) { case (d, (c, stride)) =>
            if (!df.columns.contains(c)) d
            else d.withColumn(c, col(c) + col("__rep") * stride)
          }.drop("__rep")
        }
      out.write.mode("overwrite").parquet(s"$workDir/$name.parquet")
    }
    replicate("documents", Map("doc_id" -> IdStride))
    replicate("embeddings", Map("vec_id" -> IdStride))
    replicate("events", Map("user_id" -> UserStride))
    replicate("customer", Map("c_custkey" -> IdStride))
    replicate("orders", Map("o_orderkey" -> IdStride, "o_custkey" -> IdStride))
    replicate("lineitem", Map("l_orderkey" -> IdStride))
    Seq("region", "nation", "part", "supplier").foreach(replicate(_, Map.empty))
  }

  /** NON-CLONE documents replica: ids shift like [[replicateDir]], but each
    * replica r > 0 also has EVERY word SUBSTITUTED by a same-length
    * md5-derived pseudo-word keyed on (word, replica) — a per-replica
    * bijective RENAMING of the vocabulary. Within a replica all organic
    * structure is preserved exactly (same word → same pseudo-word, so
    * token/shingle Jaccard between any two docs of one replica equals
    * the base corpus's), the token frequency profile is identical (the
    * support is renamed, not reweighted), and char/token mass match the
    * base byte-for-byte in length. Across replicas the overlap is ~0.
    *
    * History: the first cut (r15) substituted only every 4TH word, which
    * kept cross-replica VERIFIED similarity below every battery
    * threshold but left ~25% of token n-grams shared between a doc and
    * its perturbed twins — SUB-threshold candidate cliques quadratic in
    * the factor. q97's guaranteed-recall prefix-filter join must
    * enumerate such candidates, so at a 1000× replica the candidate
    * shuffle filled the disk. "Organic near-dups only" requires
    * cross-replica overlap ~0 at the GRAM level too, which the full
    * renaming provides. Replica 0 keeps the original text byte-for-byte.
    * Writes ONLY documents.parquet — the queries benched against it read
    * nothing else.
    */
  private def replicateDocsPerturbed(spark: SparkSession, sfDir: String,
                                     workDir: String): Unit = {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
    val reps = spark.range(Sf1Factor).withColumnRenamed("id", "__rep")
    val perturbed = expr(
      """array_join(
        |  transform(split(text, ' '),
        |    x -> IF(length(x) > 0,
        |      substring(repeat(md5(concat(x, ':', __rep)),
        |                       1 + int(length(x) / 32)), 1, length(x)),
        |      x)),
        |  ' ')""".stripMargin)
    var out = df.crossJoin(reps)
      .withColumn("doc_id", col("doc_id") + col("__rep") * IdStride)
      .withColumn("text",
        when(col("__rep") === 0, col("text")).otherwise(perturbed))
    if (df.columns.contains("n_chars"))
      out = out.withColumn("n_chars",
        length(col("text")).cast(df.schema("n_chars").dataType))
    out.drop("__rep")
      .write.mode("overwrite").parquet(s"$workDir/documents.parquet")
  }

  /** Fixed-size CPU-bound job used as the per-pass noise floor: a 2^22-row
    * range with a multiply-hash aggregate. No I/O, no shuffle beyond the
    * final single-partition agg; any variance in this number is the
    * container, not the engine.
    *
    * The per-row product is reduced mod 1e9+7 BEFORE the sum: 2^22 terms
    * each < 1e9 sum to < 4.2e15, far inside Long, so the aggregate cannot
    * hit ANSI ARITHMETIC_OVERFLOW (the unreduced sum is ~2.3e22 and did).
    */
  private def control(spark: SparkSession): Unit = {
    spark.range(1L << 22)
      .selectExpr("sum((id * 2654435761L) % 1000000007L) as s", "count(1) as c")
      .write.format("noop").mode("overwrite").save()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)
    // optional arg: comma-separated query-name filter (dev loop — the
    // driver always runs argless and benches everything)
    val only: Option[Set[String]] =
      args.headOption.map(_.split(",").toSet)
    only.foreach(SparkEntry.requireKnown)
    val spark = GraftSession("graft-bench")

    // Warm the JVM/session once (codegen, parquet footer cache paths) and
    // touch every table's footer/file listing so per-query numbers measure
    // compute, not first-touch metadata I/O. The same pass stamps a corpus
    // fingerprint (per-table rows + on-disk bytes, plus content-char mass
    // for documents) into the output JSON: the driver regenerated testdata
    // under round 11's bench and every cross-round delta silently broke —
    // with the fingerprint, a BENCH_rN total is attributable to code vs
    // data (VERDICT r11 item 1).
    spark.range(1000).selectExpr("sum(id)").collect()
    val fp = collection.mutable.ListBuffer.empty[String]
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { f =>
        try {
          val table = f.getName.stripSuffix(".parquet")
          val df = spark.read.parquet(f.getPath)
          val rows = df.count()
          def dirBytes(x: java.io.File): Long =
            if (x.isFile) x.length()
            else Option(x.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
          val extra =
            if (table == "documents" && df.columns.contains("text")) {
              // coalesce: sum(length(text)) is NULL on an empty or
              // all-null-text table, and a degenerate corpus must still
              // fingerprint its rows/bytes (ADVICE r12)
              val chars = df.selectExpr("coalesce(sum(length(text)), 0) as c")
                .collect()(0).getLong(0)
              s""","chars":$chars"""
            } else ""
          fp += s""""$table":{"rows":$rows,"bytes":${dirBytes(f)}$extra}"""
        } catch { case e: Throwable =>
          System.err.println(s"[bench] warmup skip ${f.getName}: ${e.getMessage}")
        }
      }
    val corpusJson = fp.mkString("\"corpus\":{", ",", "}")
    System.err.println(s"[bench] $corpusJson")

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val samples = collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // query -> number of passes in which it threw. Failed passes contribute
    // NO sample (a fast failure must not masquerade as a fast success).
    val failures = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val controlSamples = collection.mutable.ListBuffer.empty[Double]

    for (pass <- 1 to passes) {
      val c0 = System.nanoTime()
      try {
        control(spark)
        controlSamples += (System.nanoTime() - c0) / 1e9
        System.err.println(f"[bench] pass $pass __control ${controlSamples.last}%8.3f s")
      } catch {
        case e: Throwable =>
          failures("__control") += 1
          System.err.println(s"[bench] pass $pass __control FAILED: ${e.getMessage}")
      }
      names.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          samples(name) = samples(name) :+ sec
          System.err.println(f"[bench] pass $pass $name%-24s $sec%8.3f s")
        } catch {
          case e: Throwable =>
            failures(name) += 1
            System.err.println(s"[bench] pass $pass $name FAILED: ${e.getMessage}")
        }
      }
    }

    // Queries with at least one successful pass report their median/min over
    // the successful passes only; queries that failed every pass are omitted
    // from the timing maps and appear solely under "failed".
    val timed = names.filter { case (name, _) => samples(name).nonEmpty }
    val med = timed.map { case (name, _) => name -> median(samples(name)) }
    val mins = timed.map { case (name, _) => name -> samples(name).min }
    val mainKey = new java.io.File(sfDir.replaceAll("/+$", "")).getName
    val writeHist = sys.env.get("SPARK_GRAFT_WRITE_HISTORY").contains("1")
    val ctlMedian =
      if (controlSamples.nonEmpty) Some(median(controlSamples.toList)) else None
    val ctlEntry = ctlMedian.map(ControlKey -> _).toSeq
    // read BEFORE write: a WRITE_HISTORY (closing) run must adjudicate
    // against the PREVIOUS ledger, not the one it is about to define —
    // the old order made the builder's own suspect column vacuous
    // (every query compared to itself)
    val mainHist = readHistory(mainKey)
    if (writeHist) writeHistory(mainKey, med ++ ctlEntry)
    val mainDrift = driftFactor(mainHist, ctlMedian)
    if (mainDrift > 1.0)
      System.err.println(f"[bench] control drift vs ledger: $mainDrift%.2fx — " +
        "suspect rule normalized (VERDICT r14 item 6)")
    val mainSuspects = suspects(mainHist, med, mainDrift)
    // solo re-run of each suspect, AFTER the interleaved passes, so the
    // artifact adjudicates inflation-vs-regression by itself. Names tagged
    // @nonclone run against the perturbed replica.
    def soloRun(dir: String, ncDir: => Option[String] = None)(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val d = if (name.endsWith("@nonclone")) ncDir.getOrElse(return None) else dir
      val t0 = System.nanoTime()
      try {
        fn(spark, d).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] recheck $name%-24s $sec%8.3f s  (solo)")
        Some(sec)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] recheck $name FAILED: ${e.getMessage}")
        None
      }
    }
    val mainRecheck = recheckSuspects(names, mainSuspects, soloRun(sfDir))
    val mainStillBad = suspects(mainHist, mainRecheck, mainDrift)
    val suspectJson = s""""inflation_suspect":${jsonNames(mainSuspects)}"""
    def recheckJson(rc: Seq[(String, Double)], still: Seq[String]): String =
      s""""serial_recheck":${jsonMap(rc)},""" +
        s""""recheck_regression":${jsonNames(still)}"""
    val failedJson = failures.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + s"""\":$v""" }.mkString("{", ",", "}")
    // unclamped control drift for the ledger_diff normalization (the
    // clamped driftFactor is for the suspect rule only)
    val driftRaw = for { h <- mainHist.get(ControlKey) if h > 0
                         c <- ctlMedian if c > 0 } yield c / h
    val diffJson = ledgerDiff(mainHist, med, driftRaw)
    val total = med.map(_._2).sum
    // Cross-round totals are only comparable when divided by the noise
    // floor: the container's control median moved 1.7x between r9 and r10
    // on untouched code, making raw totals unreadable. value_per_control
    // (total / control median, dimensionless) is the number PERF.md uses
    // for round-over-round claims.
    val perControl = ctlMedian.filter(_ > 0).map(total / _)
    val perControlJson = perControl
      .map(v => f""""value_per_control":$v%.1f""")
      .getOrElse(""""value_per_control":null""")
    val ctl =
      (if (controlSamples.nonEmpty)
        f""""control":{"median":${median(controlSamples.toList)}%.3f,""" +
        f""""min":${controlSamples.min}%.3f,"max":${controlSamples.max}%.3f}"""
      else """"control":null""") + "," + perControlJson
    // degraded=true whenever ANY query failed any pass: the total only
    // sums queries that produced a sample, so a regression that makes a
    // query throw would otherwise LOWER the total and read as a speedup
    // to a consumer comparing totals without inspecting "failed".
    val degraded = failures.nonEmpty
    val fullJson =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","degraded":$degraded,""" +
      f""""queries":${jsonMap(med)},""" +
      f""""queries_min":${jsonMap(mins)},"passes":$passes,"failed":$failedJson,""" +
      suspectJson + "," + recheckJson(mainRecheck, mainStillBad) + "," +
      ctl + "," + diffJson + "," + corpusJson + f""","sf":"$sfDir"}"""
    // The consumer captures only the LAST ~2000 chars of stdout and
    // parses the final JSON line it finds there. The full per-query line
    // above is ~6 KB at 100+ queries, so it ships on stderr AND to the
    // committed perf/bench_full.json (unfiltered runs only); stdout ends
    // with the budgeted finalLine (see its doc — r15's final line
    // overflowed the window).
    System.err.println(fullJson)
    if (only.isEmpty) writeFull(fullJson)
    else System.err.println(s"[bench] filtered run: $FullJsonPath not written")
    val headline = (med.filter(_._1 == "q01_cosine_topk") ++
      med.sortBy(-_._2).take(3)).distinctBy(_._1)
    val failedNames = failures.keys.toSeq.sorted
    def stdoutLine(sf1: Option[String]): String =
      finalLine(total, degraded, med.size, failures.size, failedNames,
        passes, headline, mainSuspects.size, mainSuspects,
        mainRecheck, mainStillBad, ctl, diffJson, sf1, sfDir)
    println(stdoutLine(None))
    if (degraded)
      System.err.println(s"[bench] DEGRADED: failures in ${failures.keys.toSeq.sorted.mkString(", ")} — 'value' excludes them")

    // ---- optional sf1 pass: the scale-trend probe the sf0.1 noise floor
    // hides. 10× sf0.1 ≈ sf1; ONE pass (trend, not precision), replica
    // cached across runs. The sf0.1-only compact line is ALREADY printed
    // above, so a crash/timeout in here still leaves the driver a
    // parsable benchmark; on success a second compact line (with "sf1")
    // supersedes it as the last line of stdout.
    val sf1Wanted = sys.env.getOrElse("SPARK_GRAFT_SF1", "1") != "0" &&
      sfDir.replaceAll("/+$", "").endsWith("sf0.1") && only.isEmpty
    if (sf1Wanted) {
      var sf1Json = """"sf1":null"""
      var sf1Full = """"sf1":null"""
      try {
        val dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft-sf1")
        val marker = new java.io.File(dir, "_GRAFT_SF1_OK")
        if (!marker.exists()) {
          val r0 = System.nanoTime()
          replicateDir(spark, sfDir, dir)
          java.nio.file.Files.write(marker.toPath, s"$Sf1Factor\n".getBytes)
          System.err.println(f"[bench] sf1 replica built in ${(System.nanoTime() - r0) / 1e9}%.1f s")
        } else System.err.println(s"[bench] sf1 replica reused at $dir")
        val sf1Samples = collection.mutable.ListBuffer.empty[(String, Double)]
        var sf1Failed = 0
        // lane = the hand-pinned chronic set + any query suspect in both
        // of the two most recent prior runs (self-tuning, r18 item 7)
        val promoted = dynamicLane(readSuspectRuns("sf1"))
        if (promoted.nonEmpty)
          System.err.println(s"[bench] sf1 lane auto-promotions: " +
            promoted.toSeq.sorted.mkString(", "))
        val lane = SoloLane ++ promoted
        val (laneQs, sweepQs) = names.partition(n => lane.contains(n._1))
        def sf1Run(tag: String)(name: String,
            fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
          val t0 = System.nanoTime()
          try {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            sf1Samples += name -> sec
            System.err.println(f"[bench] sf1 $name%-24s $sec%8.3f s$tag")
          } catch {
            case e: Throwable =>
              sf1Failed += 1
              System.err.println(s"[bench] sf1 $name FAILED: ${e.getMessage}")
          }
        }
        sweepQs.foreach { case (n, f) => sf1Run("")(n, f) }
        // chronic contention rows measured last, each after a driver GC
        // (shuffle files unlink on GC) — see SoloLane
        laneQs.foreach { case (n, f) => System.gc(); sf1Run("  (lane)")(n, f) }
        // The id-shift replica turns every doc into a 10-clone clique, so
        // the dedup family's sf1 numbers measure worst-case (clone-pair)
        // output. Re-run those queries against a perturbed-text replica
        // whose only near-dups are the base corpus's organic ones, and
        // ship both variants' numbers (VERDICT r10 item 6). Measured
        // BEFORE the ledger write so the @nonclone entries ride the same
        // suspect/recheck machinery as everything else (r14 item 1: the
        // single cold post-pass number stamped q119 at 86.8 s where the
        // quiet-window close read 9.9 s, and nothing in-band said so).
        val nonCloneQs = Seq("q14_minhash_pairs", "q110_leak_split", "q119_dedup_curve")
        val ncSamples = collection.mutable.ListBuffer.empty[(String, Double)]
        var ncOk = false
        val ncDir = sys.env.getOrElse("SPARK_GRAFT_SF1_NC_DIR", "/tmp/graft-sf1-nonclone")
        try {
          // _v2: the perturbation switched from splice to same-mass
          // substitution; a replica built by the old code must not be reused
          val ncMarker = new java.io.File(ncDir, "_GRAFT_SF1_OK_v2")
          if (!ncMarker.exists()) {
            val r0 = System.nanoTime()
            replicateDocsPerturbed(spark, sfDir, ncDir)
            java.nio.file.Files.write(ncMarker.toPath, s"$Sf1Factor\n".getBytes)
            System.err.println(f"[bench] sf1 non-clone replica built in ${(System.nanoTime() - r0) / 1e9}%.1f s")
          } else System.err.println(s"[bench] sf1 non-clone replica reused at $ncDir")
          // 3 interleaved samples per query, MEDIAN reported: the single
          // cold read this column used to ship moved 11.6 → 31.5 s across
          // two same-code closes (replica first-touch + ambient) — the
          // exact ambiguity class the r14 verdict flagged. The first
          // pass absorbs the cold first-touch; the median lands on a
          // warm read.
          val ncRaw = collection.mutable.Map.empty[String, List[Double]]
            .withDefaultValue(Nil)
          for (p <- 1 to 3) {
            names.filter(n => nonCloneQs.contains(n._1)).foreach { case (name, fn) =>
              val t0 = System.nanoTime()
              fn(spark, ncDir).write.format("noop").mode("overwrite").save()
              val sec = (System.nanoTime() - t0) / 1e9
              ncRaw(name) = ncRaw(name) :+ sec
              System.err.println(f"[bench] sf1-nonclone pass $p $name%-24s $sec%8.3f s")
            }
          }
          nonCloneQs.filter(ncRaw.contains).foreach(n =>
            ncSamples += n -> median(ncRaw(n)))
          ncOk = true
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] sf1 non-clone pass aborted: ${e.getMessage}")
        }
        val ncJson =
          if (ncOk) s""""nonclone":${jsonMap(ncSamples.toSeq)}"""
          else """"nonclone":null"""
        // both sf1 columns share one ledger key, distinguished by suffix;
        // the drift factor reuses the session control (measured once per
        // pass on the main run — same JVM, same machine state)
        val ncTagged = ncSamples.toSeq.map { case (n, v) => s"$n@nonclone" -> v }
        val sf1All = sf1Samples.toSeq ++ ncTagged
        val sf1Hist = readHistory("sf1") // before the write — see mainHist
        if (writeHist) writeHistory("sf1", sf1All ++ ctlEntry)
        val sf1Drift = driftFactor(sf1Hist, ctlMedian)
        val sf1Suspects = suspects(sf1Hist, sf1All, sf1Drift)
        val sf1Registry = names ++
          names.filter(n => nonCloneQs.contains(n._1))
            .map { case (n, f) => (s"$n@nonclone", f) }
        val sf1Recheck = recheckSuspects(sf1Registry, sf1Suspects,
          soloRun(dir, if (ncOk) Some(ncDir) else None))
        val sf1StillBad = suspects(sf1Hist, sf1Recheck, sf1Drift)
        // feed the self-tuning lane: this run's suspects become the
        // promotion evidence for the next run
        appendSuspectRun("sf1", sf1Suspects)
        System.err.println(s"[bench] sf1 inflation_suspect: $sf1Suspects")
        val sf1Total = sf1Samples.map(_._2).sum
        val sf1Slow = sf1Samples.sortBy(-_._2).take(5).toSeq
        // budgeted block for the stdout line; the uncapped twin (full
        // per-query map, full suspect/recheck lists) goes to
        // perf/bench_full.json + stderr
        sf1Json = sf1Compact(sf1Total, sf1Samples.size, sf1Failed, sf1Slow,
          sf1Suspects.size, sf1Suspects, sf1Recheck, sf1StillBad,
          if (ncOk) Some(ncSamples.toSeq) else None)
        sf1Full =
          f""""sf1":{"value":$sf1Total%.3f,"n_queries":${sf1Samples.size},""" +
          f""""n_failed":$sf1Failed,"factor":$Sf1Factor,""" +
          f""""queries":${jsonMap(sf1Samples.toSeq)},""" +
          f""""n_inflation_suspect":${sf1Suspects.size},""" +
          f""""inflation_suspect":${jsonNames(sf1Suspects)},""" +
          recheckJson(sf1Recheck, sf1StillBad) + "," + ncJson + "}"
        System.err.println(f"[bench] sf1 total $sf1Total%.1f s over ${sf1Samples.size} queries, $sf1Failed failed")
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] sf1 pass aborted: ${e.getMessage}")
      }
      // re-emit the committed full JSON with the sf1 detail spliced in
      // before the closing brace (crash above leaves the sf0.1-only file)
      writeFull(fullJson.dropRight(1) + "," + sf1Full + "}")
      println(stdoutLine(Some(sf1Json)))
    }
    // Exit 0 even with per-query failures: the "failed" JSON field carries
    // the signal, and a nonzero rc would make the driver discard the whole
    // line (r6: rc=1 -> parsed:null, no benchmark for the round).
    spark.stop()
  }
}
