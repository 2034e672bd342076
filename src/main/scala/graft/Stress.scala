package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress main: replicate an sf directory `factor`× with
  * consistently shifted keys (every replica is a disjoint id-space, so
  * joins/windows/dedup behave like a genuinely bigger corpus rather
  * than a corrupted one), then run the full query battery against the
  * replicated copy and print the same one-line JSON as [[Bench]].
  *
  * This is the reproducible form of the PERF.md stress probes: tiny-SF
  * bench numbers measure fixed job latency, so scale behavior claims
  * ("q14 inflates on clone-heavy corpora", "everything else stays flat")
  * need a corpus that is actually bigger.
  *
  * Usage: runMain graft.Stress [sfDir] [factor] [workDir] [q1,q2,...]
  * factor 0 reuses an already-replicated workDir (skip the copy); the
  * optional 4th arg restricts the battery to the named queries.
  *
  * Key shifting per replica r: documents.doc_id += r·1e9, embeddings
  * .vec_id += r·1e9, events.user_id += r·1e6, customer/orders/lineitem
  * shift c_custkey/o_orderkey (and their FKs) by r·1e9. region/nation/
  * part/supplier are dimensions — kept single-copy, FKs into them
  * unshifted, exactly how a 100 TB star schema scales (facts grow,
  * dims do not).
  */
object Stress {
  private val IdStride = 1000000000L // 1e9: far above any testdata key
  private val UserStride = 1000000L

  /** Replicate every fact table of `sfDir` `factor`× into `workDir` with
    * disjoint id spaces (dims stay single-copy) — shared by the stress
    * battery and Bench's sf1 pass.
    */
  def replicateDir(spark: SparkSession, sfDir: String, factor: Int,
                   workDir: String): Unit = {
    def replicate(name: String, shifts: Map[String, Long]): Unit = {
      val src = s"$sfDir/$name.parquet"
      if (!new java.io.File(src).exists()) return
      val df = spark.read.parquet(src)
      val out =
        if (shifts.isEmpty || factor == 1) df
        else {
          val reps = spark.range(factor).withColumnRenamed("id", "__rep")
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

  /** Events-weighted replica (VERDICT r13 item 7): events replicate
    * `factor`× with BOTH event_id and user_id shifted into disjoint
    * spaces (disjoint arrival sequences and user populations — the
    * uniform [[replicateDir]] keeps one event_id sequence, which is
    * fine at its 100× but would corrupt the arrival-order reads at
    * 1000×); every other table copies through at 1×. The uniform
    * battery scales events in lockstep with documents (gs100x rides
    * 10 M events), so the window-heavy event family never sees 100 M+
    * events without this axis. Timestamps are NOT shifted: ×factor
    * density on the same clock window is the production shape of a
    * busier event stream.
    */
  def replicateEventsWeighted(spark: SparkSession, sfDir: String,
                              factor: Int, workDir: String): Unit = {
    def copyOrReplicate(name: String, shifts: Map[String, Long], f: Int): Unit = {
      val src = s"$sfDir/$name.parquet"
      if (!new java.io.File(src).exists()) return
      val df = spark.read.parquet(src)
      val out =
        if (shifts.isEmpty || f == 1) df
        else {
          val reps = spark.range(f).withColumnRenamed("id", "__rep")
          val crossed = df.crossJoin(reps)
          shifts.foldLeft(crossed) { case (d, (c, stride)) =>
            if (!df.columns.contains(c)) d
            else d.withColumn(c, col(c) + col("__rep") * stride)
          }.drop("__rep")
        }
      out.write.mode("overwrite").parquet(s"$workDir/$name.parquet")
    }
    copyOrReplicate("events",
      Map("event_id" -> IdStride, "user_id" -> UserStride), factor)
    Seq("documents", "embeddings", "customer", "orders", "lineitem",
      "region", "nation", "part", "supplier")
      .foreach(copyOrReplicate(_, Map.empty, 1))
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
    * its 999 perturbed twins — SUB-threshold candidate cliques quadratic
    * in the factor. q97's guaranteed-recall prefix-filter join must
    * enumerate such candidates (its PPJoin positional filter correctly
    * keeps them: the first shared gram's bound is loose), so at
    * docs=1000 the candidate shuffle filled the disk. That is a DATA
    * property, not a plan defect — "organic near-dups only" requires
    * cross-replica overlap ~0 at the GRAM level too, which the full
    * renaming provides. Replica 0 keeps the original text byte-for-byte.
    * Writes ONLY documents.parquet — the queries benched against it read
    * nothing else.
    */
  def replicateDocsPerturbed(spark: SparkSession, sfDir: String, factor: Int,
                             workDir: String): Unit = {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
    val reps = spark.range(factor).withColumnRenamed("id", "__rep")
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

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // factor syntax: "N" = uniform N× replica; "events=N" = events-only
    // N× (other tables 1×, the VERDICT r13 item 7 axis); "docs=N" =
    // documents-only N× via the same-mass PERTURBED replica (organic
    // near-dups only — the text/dedup axis, VERDICT r15 item 5; the
    // id-shift replica would make every doc an N-clone clique and
    // measure the collapse extreme instead of the typical plan);
    // 0 = reuse
    val factorArg = args.lift(1).getOrElse("20")
    val eventsFactor =
      if (factorArg.startsWith("events=")) factorArg.stripPrefix("events=").toInt
      else 0
    val docsFactor =
      if (factorArg.startsWith("docs=")) factorArg.stripPrefix("docs=").toInt
      else 0
    val factor = if (eventsFactor > 0 || docsFactor > 0) -1 else factorArg.toInt
    val workDir = args.lift(2).getOrElse("/tmp/graft-stress")
    val only = args.lift(3).map(_.split(",").toSet)
    require(eventsFactor > 0 || docsFactor > 0 || factor >= 0,
      s"factor must be >= 0 (0 = reuse workDir), events=N, or docs=N, got $factorArg")
    val spark = GraftSession("graft-stress")

    if (eventsFactor > 0) {
      System.err.println(s"[stress] replicating $sfDir events x$eventsFactor (others x1) -> $workDir")
      val t0 = System.nanoTime()
      replicateEventsWeighted(spark, sfDir, eventsFactor, workDir)
      System.err.println(f"[stress] replication done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } else if (docsFactor > 0) {
      System.err.println(s"[stress] replicating $sfDir documents x$docsFactor (perturbed, others omitted) -> $workDir")
      val t0 = System.nanoTime()
      replicateDocsPerturbed(spark, sfDir, docsFactor, workDir)
      System.err.println(f"[stress] replication done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } else if (factor > 0) {
      System.err.println(s"[stress] replicating $sfDir x$factor -> $workDir")
      val t0 = System.nanoTime()
      replicateDir(spark, sfDir, factor, workDir)
      System.err.println(f"[stress] replication done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } else System.err.println(s"[stress] reusing $workDir")

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      val q0 = System.nanoTime()
      val ok =
        try { fn(spark, workDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          // single line: a multi-line Spark message here shoves the final
          // JSON line out of any tail-capture window
          System.err.println(s"[stress] $name failed: " +
            String.valueOf(e.getMessage).replace('\n', ' ').take(400))
          false
        }
      val sec = (System.nanoTime() - q0) / 1e9
      System.err.println(f"[stress] $name%-24s $sec%8.3f s${if (ok) "" else "  FAILED"}")
      // shuffle-file hygiene between queries: Spark's ContextCleaner only
      // deletes a finished query's shuffle directories when the driver
      // GCs the RDD references, and a large-heap battery session can run
      // for an hour without a full GC — by which point the ACCUMULATED
      // shuffle files of every earlier query share one /tmp with the
      // running one (r16: q97 at docs=1000 died on disk behind q110's +
      // q119's leftovers; outside the battery it fits). The explicit GC
      // after each query is battery-only hygiene, not engine code.
      System.gc()
      (name, sec, ok)
    }
    // Failed queries are excluded from the total and reported separately —
    // a battery with crashes must not read as a clean stress_total.
    val passed = results.filter(_._3)
    val failed = results.filterNot(_._3).map(_._1)
    val qs = passed.map { case (k, v, _) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(f"""{"metric":"stress_total","value":${passed.map(_._2).sum}%.3f,"unit":"sec","factor":$factor,"queries":$qs,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
