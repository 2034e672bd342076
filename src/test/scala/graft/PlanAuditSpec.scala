package graft

import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, LocalLimitExec, LocalTableScanExec, TakeOrderedAndProjectExec}

/** Mechanized 100 TB plan audit over EVERY `SparkEntry.queries` entry.
  *
  * PLANS.md documents, in prose, why each query's physical plan survives a
  * 1000-executor / 100 TB scale-up. Prose doesn't stop a future edit from
  * reintroducing the shapes that prose rules out. This spec re-derives the
  * plan of all registered queries at sf0.001 and rejects the shape classes
  * that have actually bitten (or nearly bitten) in past rounds:
  *
  *  1. `CartesianProductExec` anywhere — an all-pairs join is never the
  *     intended plan here; every pairing operator is banded/blocked/bucketed.
  *  2. `WindowExec` with an EMPTY partition spec whose input subtree is not
  *     bounded by a limit — "moving all data to a single partition" is only
  *     acceptable over frames already reduced to driver-scale cardinality.
  *     Frames bounded by aggregation (not by a limit) must be explicitly
  *     allowlisted with a justification, so adding one is a conscious act;
  *     the allowlist is self-pruning (unused entries fail the spec).
  *  3. A hint-FORCED broadcast (`broadcast(...)`) whose hinted side has no
  *     bounding construct — no aggregate, no limit, no local relation, no
  *     literal-equality selection — before the file scan. A stats-driven
  *     auto-broadcast is scale-safe by construction (Catalyst/AQE re-picks
  *     a shuffle join when the estimated size grows past the threshold);
  *     an explicit hint overrides the size check at EVERY scale, so a
  *     hinted raw-corpus frame is exactly the clone-quadratic hole class
  *     of q97/q118 (round 8). Audited on the optimized logical plan,
  *     where `EliminateResolvedHint` has folded hints into `Join.hint`.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries allowed a global (unpartitioned) window over a frame bounded by
    * aggregation rather than a limit. Each entry must say WHY the frame is
    * driver-scale; the spec asserts every entry is actually exercised.
    */
  private val globalWindowOverAggregate: Map[String, String] = Map(
    "q141_quality_ensemble" ->
      ("rank normalization windows run over value-count histograms " +
        "(Stats.rankPercentilePpm: groupBy(value).count first, window over " +
        "<= |distinct values| rows), never over the corpus"),
    "q74_mixture_weights" ->
      "weight normalization over the per-source aggregate: |sources| rows (~20)",
    "q132_unimax" ->
      "UniMax waterfill window over the per-language capacity frame: |langs| rows",
    "q136_doremi_mixture" ->
      "DoReMi iteration windows over the per-domain frame: |domains| rows per step",
    "q155_quality_calibration" ->
      ("decile boundaries run over the per-mille score histogram " +
        "(Stats.scoreCalibration: groupBy(score_pm).count first; score is " +
        "integer-quantized to [0,1000], so the window sees <= 1001 rows at " +
        "any corpus size)"),
    "q171_disorder_audit" ->
      ("the two-level prefix scan's global window runs over PER-BLOCK " +
        "maxima (groupBy(event_id div 65536).max first): N/65536 skinny " +
        "rows (~1.5M at 1e11 events), while both corpus-scale passes — " +
        "block maxima and the intra-block running max — stay partitioned"),
    "q172_curriculum_shards" ->
      ("decile boundaries run over the per-mille TTR score histogram " +
        "(TokenBudget.stripedShards: groupBy(score_pm).count first; " +
        "score is integer-quantized to [0,1000] so the window sees " +
        "<= 1001 rows at any corpus size)")
  )

  /** Queries allowed a hint-forced broadcast whose boundedness the rule
    * can't see structurally. Each entry must say why the frame stays
    * broadcast-sized at EVERY scale factor; self-pruning like the window
    * allowlist.
    */
  private val boundedBroadcast: Map[String, String] = Map(
    "q02_cosine_topk_batch" ->
      "broadcasts the query batch (vec_id < 4): the query WORKLOAD, fixed 4 rows at any SF",
    "q91_hard_negatives" ->
      "broadcasts the anchor set (vec_id < 4): fixed-size training anchors, not corpus",
    "q213_retrieval_quality" ->
      "broadcasts the calibration panel (vec_id < 8): the query WORKLOAD, fixed 8 rows at any SF",
    "q52_contamination" ->
      "broadcasts the benchmark eval set (doc_id < 10 stand-in): fixed cardinality by definition",
    "q151_embed_decontamination" ->
      "broadcasts the benchmark eval set (vec_id < 10 stand-in): fixed cardinality by definition",
    "q68_bloom_join" ->
      ("broadcasts the bloom key set (o_totalprice > 495000): ~1e-5 selectivity, " +
        "~1.5M keys (~12 MB) at 100 TB; the bloom filter itself is the shuffle guard"),
    "q39_regional_revenue" ->
      "broadcasts nation: fixed 25 rows at every TPC-H scale factor (region is filter-bounded)"
  )

  private def subtreeHasLimit(p: SparkPlan): Boolean =
    p.collectFirst {
      case _: TakeOrderedAndProjectExec => ()
      case _: GlobalLimitExec => ()
      case _: LocalLimitExec => ()
      case _: CollectLimitExec => ()
      case _: LocalTableScanExec => () // literal / driver-built frame
    }.nonEmpty

  private def subtreeHasAggregate(p: SparkPlan): Boolean =
    p.collectFirst {
      case _: HashAggregateExec => ()
      case _: ObjectHashAggregateExec => ()
      case _: SortAggregateExec => ()
    }.nonEmpty

  /** Literal-equality selection (point/value-set lookup): `k = lit`,
    * `k <=> lit`, `k IN (lits)`. Inequalities (`length > 100`) do NOT
    * bound cardinality and deliberately don't count.
    */
  private def isLiteralEquality(e: Expression): Boolean = e.exists {
    case EqualTo(_, _: Literal) | EqualTo(_: Literal, _) => true
    case EqualNullSafe(_, _: Literal) | EqualNullSafe(_: Literal, _) => true
    case In(_, list) if list.forall(_.isInstanceOf[Literal]) => true
    case _: InSet => true
    case _ => false
  }

  /** The hinted side of a forced broadcast must contain SOME construct that
    * bounds it independently of scale factor.
    */
  private def logicalSubtreeBounded(p: LogicalPlan): Boolean =
    p.collectFirst {
      case _: Aggregate => ()
      case _: GlobalLimit => ()
      case _: LocalLimit => ()
      case _: LocalRelation => ()
      case _: OneRowRelation => ()
      case _: Range => ()
      case _: Sample => ()
      case f: Filter if isLiteralEquality(f.condition) => ()
      // a localCheckpoint()ed frame: lineage is truncated so the bound
      // (an aggregate in every current use: cluster maps, LM bucket
      // counts) is invisible — checkpointing is itself a deliberate
      // materialization decision, never applied to a raw corpus here
      case r if r.nodeName == "LogicalRDD" => ()
    }.nonEmpty

  private def auditPhysical(name: String, plan: SparkPlan,
                            usedAllowlist: scala.collection.mutable.Set[String]): Seq[String] = {
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    for (root <- plan +: plan.subqueriesAll) {
      root.foreach {
        case _: CartesianProductExec =>
          violations += s"$name: CartesianProduct in plan"
        case w: WindowExecBase if w.partitionSpec.isEmpty =>
          val bounded = subtreeHasLimit(w.child)
          val allowlisted = globalWindowOverAggregate.contains(name)
          if (!bounded && !allowlisted)
            violations += s"$name: global window over unbounded input (no limit below WindowExec, query not allowlisted)"
          if (!bounded && allowlisted) {
            usedAllowlist += name
            if (!subtreeHasAggregate(w.child))
              violations += s"$name: allowlisted global window but input has neither limit nor aggregate"
          }
        case _ => ()
      }
    }
    violations.toSeq
  }

  private def auditLogical(name: String, plan: LogicalPlan,
                           usedBroadcastAllowlist: scala.collection.mutable.Set[String]): Seq[String] = {
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    for (root <- plan +: plan.subqueriesAll) {
      root.foreach {
        case j: Join =>
          val sides = Seq(
            ("left", j.hint.leftHint, j.left),
            ("right", j.hint.rightHint, j.right))
          for ((label, hintOpt, side) <- sides) {
            val forced = hintOpt.exists(_.strategy.exists(_.toString.contains("broadcast")))
            if (forced && !logicalSubtreeBounded(side)) {
              if (boundedBroadcast.contains(name)) usedBroadcastAllowlist += name
              else violations += s"$name: hint-forced broadcast of an unbounded $label side (no aggregate/limit/local-relation/literal-equality filter)"
            }
          }
        case _ => ()
      }
    }
    violations.toSeq
  }

  test("every registered query plan is cartesian-free, window-bounded, broadcast-sane") {
    val conf = spark.conf
    val aqeBefore = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      val usedWindowAllowlist = scala.collection.mutable.Set.empty[String]
      val usedBroadcastAllowlist = scala.collection.mutable.Set.empty[String]
      val registry = SparkEntry.queries
      val names = registry.keys.toSeq.sorted
      for (name <- names) {
        val df =
          try registry(name)(spark, sfDir)
          catch {
            case e: Exception =>
              failures += s"$name: query construction failed: ${e.getMessage}"; null
          }
        if (df != null) {
          try {
            failures ++= auditPhysical(name, df.queryExecution.executedPlan, usedWindowAllowlist)
            failures ++= auditLogical(name, df.queryExecution.optimizedPlan, usedBroadcastAllowlist)
          } catch {
            case e: Exception =>
              failures += s"$name: planning failed: ${e.getMessage}"
          }
        }
      }
      val unusedW = globalWindowOverAggregate.keySet -- usedWindowAllowlist
      if (unusedW.nonEmpty)
        failures += s"window allowlist entries never exercised (remove them): $unusedW"
      val unusedB = boundedBroadcast.keySet -- usedBroadcastAllowlist
      if (unusedB.nonEmpty)
        failures += s"broadcast allowlist entries never exercised (remove them): $unusedB"
      assert(failures.isEmpty, s"\n${failures.distinct.mkString("\n")}")
    } finally conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("q205's batched probe partition-prunes the persisted q28 index to " +
    "the probe UNION (VERDICT r14 item 5)") {
    // nprobe 2 here so the pruning is visible: 3 queries × 2 probes can
    // select at most 6 of the 16 list directories (fewer when queries
    // share probes). The registered q205 runs nprobe=16 so its ORACLE
    // stays exact — same plan shape, one knob. AQE off: the join-bearing
    // plan otherwise wraps in AdaptiveSparkPlanExec and the scan isn't
    // visible until execution (a single-scan plan dodges AQE).
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val df = SparkEntry.ivfBatchProbeFrame(spark, sfDir, nprobe = 2)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("lists")) => s
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec over lists/")
    // the probe-union literal is STATIC pruning, evaluable pre-execution;
    // the broadcast join on centroid_id additionally plants a
    // DynamicPruningExpression (runtime DPP — a bonus, but not what the
    // guarantee rests on), which listFiles can't evaluate before the
    // build side runs, so prune with the static predicates only
    val static = scans.head.partitionFilters.filterNot(_.exists {
      case _: org.apache.spark.sql.catalyst.expressions.DynamicPruning => true
      case _ => false
    })
    assert(static.exists(_.references.exists(_.name == "centroid_id")),
      s"static probe union not in partitionFilters: ${scans.map(_.partitionFilters)}")
    val selected = scans.head.relation.location.listFiles(static, Nil)
    assert(selected.size <= 6 && selected.size >= 2,
      s"expected 2..6 pruned partitions (3 queries × nprobe 2), got ${selected.size}")
    // and the per-query restriction holds end-to-end: every returned row's
    // list was actually probed by THAT query (nprobe=2 result is a subset
    // of each query's probed lists)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val perQueryLists = rows.groupBy(_.get(0).toString)
      .map { case (q, rs) => q -> rs.map(_.get(2).toString).distinct.length }
    assert(perQueryLists.values.forall(_ <= 2),
      s"a query scored rows from more lists than it probed: $perQueryLists")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("q210's composed text→embed→probe plan partition-prunes the lists " +
    "scan on the probe union (VERDICT r15 item 3)") {
    // same discipline as q205's audit: nprobe=2 so pruning is visible
    // (4 text queries × 2 probes select at most 8 of 16 directories; the
    // registered q210 runs nprobe=16 so its oracle stays exact). The
    // embed UDF sits UPSTREAM of the probe collect — the pruning literal
    // must still be static on the lists scan.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.textServingFrame(spark, sfDir, nprobe = 2)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("lists")) => s
      }
      assert(scans.nonEmpty, "expected a FileSourceScanExec over lists/")
      val static = scans.head.partitionFilters.filterNot(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.DynamicPruning => true
        case _ => false
      })
      assert(static.exists(_.references.exists(_.name == "centroid_id")),
        s"static probe union not in partitionFilters: ${scans.map(_.partitionFilters)}")
      val selected = scans.head.relation.location.listFiles(static, Nil)
      assert(selected.size <= 8 && selected.size >= 1,
        s"expected 1..8 pruned partitions (4 queries × nprobe 2), got ${selected.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("q212's filtered probe: partition pruning AND the label predicate " +
    "pushed into the lists scan (filter-during-search, not post-filter)") {
    // nprobe=2 so the pruning is visible; the registered q212 runs
    // nprobe=16 so its oracle stays the exact filtered scan
    val df = SparkEntry.filteredAnnFrame(spark, sfDir, nprobe = 2)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("lists")) => s
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec over lists/")
    assert(scans.head.partitionFilters.exists(
      _.references.exists(_.name == "centroid_id")),
      s"probe not in partitionFilters: ${scans.map(_.partitionFilters)}")
    val selected = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, Nil)
    assert(selected.size == 2,
      s"expected 2 pruned partitions at nprobe=2, got ${selected.size}")
    // the metadata filter reaches the parquet reader: row groups whose
    // label stats exclude 3 are skipped, not decoded-then-dropped
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(label,3)"),
      s"label predicate not pushed to the scan: $pushed")
  }

  test("q216's batched filtered probe: probe-union pruning AND the " +
    "pushed label predicate in the join-bearing batch plan") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.filteredBatchProbeFrame(spark, sfDir, nprobe = 2)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("lists")) => s
      }
      assert(scans.nonEmpty, "expected a FileSourceScanExec over lists/")
      val static = scans.head.partitionFilters.filterNot(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.DynamicPruning => true
        case _ => false
      })
      assert(static.exists(_.references.exists(_.name == "centroid_id")),
        s"static probe union not in partitionFilters: ${scans.map(_.partitionFilters)}")
      val selected = scans.head.relation.location.listFiles(static, Nil)
      assert(selected.size <= 6 && selected.size >= 1,
        s"expected 1..6 pruned partitions (3 queries × nprobe 2), got ${selected.size}")
      val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("EqualTo(label,3)"),
        s"label predicate not pushed to the batched scan: $pushed")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("q214's probe over the tombstoned index: partition pruning " +
    "survives the anti-join's presence in the plan") {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.ivfDeleteProbeFrame(spark, sfDir, nprobe = 2)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(p =>
              p.toString.contains("graft-ivfdel") &&
                p.toString.contains("lists")) => s
      }
      assert(scans.nonEmpty, "expected a FileSourceScanExec over the " +
        "delete clone's lists/")
      val static = scans.head.partitionFilters.filterNot(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.DynamicPruning => true
        case _ => false
      })
      assert(static.exists(_.references.exists(_.name == "centroid_id")),
        s"static probe union not in partitionFilters: ${scans.map(_.partitionFilters)}")
      val selected = scans.head.relation.location.listFiles(static, Nil)
      assert(selected.size <= 6 && selected.size >= 1,
        s"expected 1..6 pruned partitions (3 queries × nprobe 2), got ${selected.size}")
      // and the tombstone exclusion is IN this plan (left anti on vec_id)
      val antis = df.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
      assert(antis.nonEmpty, "tombstone anti-join missing from the probe plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }
}
