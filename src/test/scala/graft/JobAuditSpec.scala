package graft

/** Mechanized job-count audit over every registered query (the companion
  * of PlanAuditSpec, VERDICT r11 item 4).
  *
  * Plan-shape rules can't see the one scale-killer class that lives
  * OUTSIDE the plan: driver-side action loops. A query that issues one
  * job per key/round/bucket (a `.collect()` inside a loop, an iterative
  * refinement that silently grew a round) is linear-in-jobs even when
  * every individual plan is perfectly partitioned — q179 costs what it
  * costs because of JOB COUNT (two windowed median rounds), not data.
  * This spec executes every query at sf0.001 under a per-query job group
  * and asserts an upper bound on the number of Spark jobs (actions) it
  * launches.
  *
  * Budgets are UPPER bounds: measured cold-session counts (dump mode,
  * r12) plus ~30-50% headroom. Warm caches (q28's persisted IVF index
  * under tmpdir, q174's in-JVM build-once books) only LOWER a count, so
  * the assertion holds regardless of suite order or container state;
  * the index-building queries carry budgets sized for their COLD path
  * (constant Lloyd-iteration counts), which a warm run undershoots by
  * design — that asymmetry is why there is no "stale entry" rule here,
  * unlike PlanAuditSpec's deterministic allowlists. The default budget
  * is deliberately tight (most queries are 1-4 jobs: construction
  * collects + the noop write); every query that legitimately needs more
  * carries an explicit entry with a justification, so raising a budget
  * is a conscious, reviewed act.
  *
  * Dump mode (env GRAFT_JOB_AUDIT_DUMP=1) additionally prints every
  * query's measured count — the tool that built this table.
  *
  * The same loop also checks that a query leaves the shared session as
  * it found it: the session conf and `spark.experimental.extraOptimizations`
  * must be equal before and after each query, so no query's result can
  * depend on which queries ran before it in the same session.
  */
class JobAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** r13 (VERDICT r12 item 6): 8, up from 6. The measured constant
    * plan-shape floor for a correctly-bounded multi-frame query is 7–8
    * jobs — one eager localCheckpoint or 1-row scalar collect per
    * materialized view plus one auto-broadcast BUILD job per small join
    * side (q64 7, q178 6, q107 8, q160 8 after their r13 shaves) — and
    * each of those used to carry its own budget entry saying exactly
    * that. The scale-killer class this spec exists to catch (one action
    * per key/round/batch) measures 50+ at sf0.001 and grows with data,
    * so the tripwire loses nothing at 8; queries that are genuinely
    * 1–4 jobs still can't grow an action LOOP without tripping it.
    */
  private val defaultBudget = 8

  /** name -> (budget, why it needs more jobs than the default).
    * Measured cold counts in parentheses (r13 dump, AQE off, sf0.001).
    * Per the r12 verdict: every ceiling ≤ 25 except the k-means
    * builders, each entry citing why its count is inherent
    * (constant-iteration training, constant-round graph protocols,
    * constant-stage pipelines — never data-dependent loops). The r12
    * bound of 15 entries grew to 16 in r14: q193, the exact top-k over
    * the persisted lists layout, must OPEN the persisted q28 index, so
    * its cold path pays the same constant-Lloyd-iteration build as
    * q28/q186/q144 — the fifth member of that one class, not a new job
    * shape.
    */
  private val budgets: Map[String, (Int, String)] = Map(
    // ---- k-means builders (the only ceilings allowed above 25):
    // constant Lloyd iterations, one job each, paid on a cold data dir
    "q28_ivf_kmeans" -> (40,
      "(3 warm / more cold) k-means train + persist on first touch of a " +
        "data dir: constant Lloyd iterations, one job each; warm runs " +
        "reopen the on-disk index and pay ~3 jobs"),
    "q186_nprobe_curve" -> (40,
      "rides the same q28 index (cold build = constant Lloyd iterations); " +
        "the curve itself is one scored pass + a count + the noop write"),
    "q144_cluster_quality" -> (40,
      "(14) Davies-Bouldin rides the q28 index build on a cold dir " +
        "(constant-iteration k-means) before its one-pass scatter aggregate"),
    "q193_ivf_probe_topk" -> (40,
      "rides the same q28 index (cold build = constant Lloyd iterations); " +
        "warm runs pay the query-vector head, the lists read and the " +
        "noop write of the exact top-k (measured 4)"),
    "q205_ivf_batch_probe" -> (40,
      "rides the same q28 index (cold build = constant Lloyd iterations); " +
        "warm runs pay the centroids collect, the bounded probe-union " +
        "collect (≤ nCentroids rows), and the noop write (~5)"),
    "q212_filtered_ann" -> (40,
      "rides the same q28 index (cold build = constant Lloyd iterations); " +
        "warm runs pay the query-vector head, the centroids collect, and " +
        "the k-row filtered probe (~4)"),
    "q216_filtered_batch" -> (40,
      "rides the same q28 index (cold build); warm runs are the q205 " +
        "probe shape (~5) with the predicate pushed into the same scan"),
    "q221_adaptive_probe" -> (40,
      "rides the same q28 index (cold build = constant Lloyd " +
        "iterations); warm runs are the q205 probe shape (measured 9: " +
        "probe-union collect + broadcast-gate count + the serving scan)"),
    "q229_versioned_changes" -> (30,
      "cold path rides q228's table build+merge seam (shared per-dir " +
        "cache); warm runs are one manifest-diff EXCEPT-ALL aggregate " +
        "over the changed files only"),
    "q228_versioned_merge" -> (30,
      "cold path builds the two-file stats table AND runs the COW merge " +
        "(threshold agg + two appendWithStats + the merge's key " +
        "collect, survivor rewrite, stats pass — all constant-stage); " +
        "warm runs are two snapshot aggregates"),
    "q227_stats_pruned_read" -> (24,
      "cold path builds the two-file stats table (threshold agg + two " +
        "appendWithStats, each = isEmpty probe + parquet write + the " +
        "per-file stats pass, constant-stage); warm runs are one " +
        "manifest-pruned aggregate"),
    "q226_versioned_reads" -> (20,
      "cold path builds the two-version table (two appends: isEmpty " +
        "probe + parquet write each, constant-stage); warm runs are " +
        "two manifest-listed snapshot aggregates"),
    "q230_versioned_compact" -> (44,
      "cold path builds the six-slice streaming-shaped table (six " +
        "appendWithStats: isEmpty probe + write + per-file stats pass " +
        "each) and runs the OPTIMIZE rewrite (snapshot read + range " +
        "write + stats pass) — all constant-stage; warm runs are three " +
        "snapshot aggregates + the manifest-pruned point read"),
    "q231_versioned_delete" -> (26,
      "cold path builds the two-file stats table (two appendWithStats) " +
        "and runs the COW delete (hit count + survivor rewrite + stats " +
        "pass, constant-stage); warm runs are two snapshot aggregates"),
    "q235_value_pruned_read" -> (30,
      "cold path builds the four-bucket value-stats table (four " +
        "appendWithValueStats: isEmpty probe + write + per-file " +
        "value-set pass each, constant-stage); warm runs are one " +
        "manifest-pruned aggregate"),
    "q234_schema_evolution" -> (20,
      "cold path builds the two-version evolving table (two appends: " +
        "isEmpty probe + write each, constant-stage); warm runs are the " +
        "latest-snapshot aggregate + the v1 count"),
    "q232_cdc_typed" -> (30,
      "cold path rides q228's table build+merge seam (shared per-dir " +
        "cache); warm runs are the two EXCEPT-ALL sides over the " +
        "diffed files only, one bounded aggregate"),
    "q240_versioned_restore" -> (20,
      "cold path builds the restore fixture (one stats append + one " +
        "COW delete: isEmpty/key-collect/hit-count/survivor write + " +
        "stats pass — constant-stage; the restore itself is ZERO jobs, " +
        "pure manifest); warm runs are the two snapshot aggregates"),
    "q241_metadata_count" -> (14,
      "cold path builds the two counted commits (isEmpty probe + " +
        "write + one-pass count/stats aggregate each, constant-stage); " +
        "the metadata counts themselves are ZERO jobs (VersionedSpec " +
        "pins that) — warm runs are just the driver-rows collect"),
    "q242_bloom_point_lookup" -> (16,
      "cold path builds the two bloom commits (isEmpty probe + write " +
        "+ per-file count pass + distinct-bit-position pass each, " +
        "constant-stage); warm runs are one manifest-bloom-pruned " +
        "lookup collect — the pruning decision is zero jobs"),
    "q243_versioned_update" -> (22,
      "cold path builds the two-file stats table and runs the COW " +
        "update (isEmpty/key-collect/hit-count/rewrite + stats pass — " +
        "constant-stage); warm runs are the two snapshot aggregates"),
    "q244_shallow_clone" -> (22,
      "cold path builds the two-file source and runs the clone-side " +
        "COW merge (the clone itself is ZERO jobs, pure manifest); " +
        "warm runs are the two snapshot aggregates"),
    "q247_version_expiry" -> (20,
      "cold path builds the expiry fixture (two stats appends + the " +
        "compact rewrite — isEmpty probes, writes, per-file stat " +
        "passes, all constant-stage; the expiry itself is ZERO jobs, " +
        "pure manifest); warm runs are one snapshot aggregate"),
    "q248_overwrite_where" -> (22,
      "cold path builds the two-file stats table and runs the band " +
        "overwrite (leak-guard count + isEmpty + band count + rewrite " +
        "+ stats pass — constant-stage); warm runs are the two " +
        "snapshot aggregates"),
    "q250_table_history" -> (22,
      "cold path rides q243's seam (two stats appends + the COW " +
        "update); the history listing itself is ZERO jobs (pure " +
        "manifest) — warm runs are the head aggregate + the " +
        "driver-rows collect"),
    "q249_check_constraints" -> (16,
      "cold path builds the constrained table (two appends + the " +
        "declaration's snapshot validation + the second append's " +
        "choke-point validation — one bounded count each, " +
        "constant-stage); warm runs are one snapshot aggregate"),
    "q246_cdc_follow" -> (26,
      "cold path builds the source (stats append), runs two follower " +
        "syncs (each: CDC frames + the log append's isEmpty probe + " +
        "write) and the COW merge between them — constant-stage; warm " +
        "runs are one grouped aggregate over the log"),
    "q237_zorder_compact" -> (32,
      "(24 cold) cold path builds the four-slice stats table (four " +
        "appendWithStats: isEmpty probe + write + per-file stats pass " +
        "each) and runs the z-order OPTIMIZE (min/max agg + Morton " +
        "range write + the two-column named-stats pass) — all " +
        "constant-stage; warm runs are one manifest-pruned box " +
        "aggregate"),
    "q238_index_sync" -> (70,
      "(46 with the q28 index warm) cold path = q28 build (constant " +
        "Lloyd iterations) PLUS the one-time living-corpus cycle: the " +
        "range-arranged stats append of the embeddings table, the index " +
        "clone (writeIvf), the COW merge + delete (bounded key collects " +
        "+ survivor rewrites), and the ONE sync (CDC frames, upsert " +
        "commit, tombstone commit) — every piece constant-stage; warm " +
        "runs are the two snapshot/index aggregates"),
    "q233_ivf_generations" -> (60,
      "cold path = q28 build (constant Lloyd iterations) PLUS the " +
        "one-time generation-cycle clone (writeIvf, append commit, " +
        "tombstone commit, compaction rewrite — each a constant-stage " +
        "manifest commit); warm runs are four per-version row counts " +
        "over manifest-resolved immutable files"),
    "q224_margin_frontier" -> (40,
      "rides the same q28 index (cold build = constant Lloyd " +
        "iterations); warm runs are the panel collect + one pruned " +
        "ranked scan + the exact baseline scan (constant-stage)"),
    "q223_maxsim_plaid" -> (40,
      "rides the same q28 index (cold build = constant Lloyd " +
        "iterations); warm runs are two bounded stages (centroid-set " +
        "distinct + shortlist rescore) plus the query-bag collect"),
    "q222_ivf_sq8" -> (50,
      "cold path = its OWN q28-recipe k-means build PLUS the one-time " +
        "SQ8 augment rewrite (model write + lists rewrite + swap, all " +
        "constant-stage; measured 15 cold); warm runs are the " +
        "two-scan probe (~5)"),
    "q213_retrieval_quality" -> (40,
      "rides the same q28 index (cold build); warm runs pay the batched " +
        "probe's bounded collects plus the exact-panel scan (~6)"),
    "q214_ivf_delete" -> (45,
      "cold path = q28 build PLUS the one-time delete-clone write " +
        "(lists + centroids + tombstone append, ~6 jobs); warm runs are " +
        "the q205 probe shape (~5)"),
    "q215_ivf_upsert" -> (50,
      "cold path = q28 build PLUS the one-time upsert-clone write and " +
        "the upsert itself (affected-list discovery, targeted rewrite, " +
        "append — ~10 bounded jobs); warm runs are the q205 probe " +
        "shape (~5)"),
    "q174_ivfpq" -> (36,
      "(32 fully-cold r18) IVF-PQ builder: coarse k-means + per-subspace " +
        "PQ training, all constant-iteration Lloyd; warm (in-JVM cache) " +
        "runs are ~2"),
    "q211_ivfpq_residual" -> (30,
      "(24 cold) q174's builder shape with residual coding: coarse " +
        "k-means + per-subspace PQ over residuals, constant-iteration " +
        "Lloyd + the codebook collects; warm (in-JVM cache) runs are ~2"),
    "q65_pq_topk" -> (24,
      "(16) PQ codebook training: constant Lloyd iterations per subspace " +
        "+ the trained-books collect for the oracle"),
    "q203_pq_distortion" -> (24,
      "(15) same PQ codebook training as q65 (constant Lloyd iterations " +
        "per subspace + books collect); the distortion read itself is one " +
        "scan + an m-row aggregate"),
    "q100_semdedup" -> (24,
      "(11) SemDeDup k-means clustering: constant Lloyd iterations"),
    // ---- constant-round graph protocols: one shuffle join + checkpoint
    // per round, round count fixed by design, never data-dependent
    // the dup-graph consumers (q14/q40/q86/q110) share one materialized
    // pair-graph + cluster-map build (SparkEntry.dupGraphFor); whichever
    // runs FIRST in a JVM pays the cold build (LSH pass checkpoint, two
    // pair-table writes, the constant-round label propagation, the
    // cluster-table write), so each carries a cold-path budget even
    // though the warm read is 1-3 jobs
    "q110_leak_split" -> (28,
      "(25 cold) dup-graph build (constant-round label prop + 3 table " +
        "writes) + the fold summary and pair-list audit"),
    "q40_dup_clusters" -> (26,
      "(cold) dup-graph build; warm path is one parquet read"),
    "q14_minhash_pairs" -> (26,
      "(cold) dup-graph build; warm path is one parquet read"),
    "q75_containment" -> (12,
      "(9) clone-collapse protocol: the exact-dup-groups pass + the " +
        "eager mapping checkpoint (read by three expansion joins) ride " +
        "ahead of the rep-level LSH+verify — constant job shape"),
    "q162_lpa_communities" -> (16,
      "(11) label propagation: fixed round count over the clone-collapsed " +
        "pair graph, one job per round"),
    // ---- constant-stage pipelines
    "q94_dedup_funnel" -> (20,
      "(15) rides q88's incremental-dedup machinery (constant batch " +
        "protocol) plus the exact-dup arm and the fate join — fixed " +
        "stage count, each stage a bounded frame"),
    "q88_incremental_dedup" -> (16,
      "(12) incremental batch protocol: per-batch state save/load " +
        "round-trips, constant batch count in the fixture"),
    "q86_keep_best" -> (26,
      "(cold) dup-graph build; warm path is the quality scan + one " +
        "pair-graph-sized window"),
    "q39_regional_revenue" -> (16,
      "(12) stats-driven broadcast decision reads dim-side counts first " +
        "(r11 fix replacing the forced hint); constant handful of probes"),
    "q169_source_lang_mi" -> (14,
      "(10) MI needs the cell histogram plus the two marginal frames and " +
        "the 1-row entropy scalars — each a tiny separate action"),
    "q183_knn_label_noise" -> (18,
      "(13) clone-collapse protocol (r13): three eager checkpoints " +
        "(distinct (v,label) subgroups, per-vector totals, external " +
        "takes — each read by 2-4 downstream consumers), the " +
        "occupancy-bits count, and the bounded broadcast builds — a " +
        "constant job shape, never per-key actions")
  )

  test("every registered query stays inside its job budget at sf0.001") {
    val sc = spark.sparkContext
    val conf = spark.conf
    val aqeBefore = conf.get("spark.sql.adaptive.enabled", "true")
    val nanosBefore = conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    // AQE re-plans add jobs nondeterministically; count the static shape
    conf.set("spark.sql.adaptive.enabled", "false")
    // what GraftSession sets for every main: readEvents' own set of it is
    // then a no-op, not a session-state change
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dump = sys.env.get("GRAFT_JOB_AUDIT_DUMP").contains("1")
    // dev-loop filter: GRAFT_JOB_AUDIT_ONLY=q179_...,q160_... audits a
    // subset (the unknown-budget-entry check is skipped then)
    val only = sys.env.get("GRAFT_JOB_AUDIT_ONLY").map(_.split(",").toSet)
    try {
      val registry = SparkEntry.queries
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      for (name <- registry.keys.toSeq.sorted
             if only.forall(_.contains(name))) {
        val group = s"jobaudit-$name"
        val confBefore = conf.getAll
        val rulesBefore = spark.experimental.extraOptimizations
        sc.setJobGroup(group, name, interruptOnCancel = false)
        try {
          registry(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          val n = sc.statusTracker.getJobIdsForGroup(group).length
          if (dump) info(f"$n%4d jobs  $name")
          val budget = budgets.get(name).map(_._1).getOrElse(defaultBudget)
          if (n > budget)
            failures += s"$name: $n jobs > budget $budget — a driver-side " +
              "action loop grew; either remove the loop or raise the budget " +
              "with a justification"
        } catch {
          case e: Exception => failures += s"$name: execution failed: ${e.getMessage}"
        } finally sc.clearJobGroup()
        val confAfter = conf.getAll
        if (confAfter != confBefore) {
          val changed = (confBefore.keySet ++ confAfter.keySet).toSeq.sorted
            .filter(k => confBefore.get(k) != confAfter.get(k))
            .map(k => s"$k: ${confBefore.get(k)} -> ${confAfter.get(k)}")
          failures += s"$name: left the session conf changed: " +
            changed.mkString(", ")
        }
        if (spark.experimental.extraOptimizations != rulesBefore)
          failures += s"$name: left extraOptimizations changed: " +
            s"$rulesBefore -> ${spark.experimental.extraOptimizations}"
      }
      // every budget entry must name a registered query (catch renames)
      val unknown = budgets.keySet -- registry.keySet
      if (only.isEmpty && unknown.nonEmpty)
        failures += s"budget entries for unregistered queries: $unknown"
      assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqeBefore)
      nanosBefore.fold(conf.unset("spark.sql.legacy.parquet.nanosAsLong"))(
        v => conf.set("spark.sql.legacy.parquet.nanosAsLong", v))
    }
  }
}
