package graft

import org.apache.spark.sql.functions._
import graft.functions.SignBucket
import graft.plans.AnnTopKRewrite
import graft.search.{Ann, Search}

class AnnRewriteSpec extends SparkSpec {
  import spark.implicits._

  // parquet-backed: a LocalRelation corpus would be constant-folded away
  // by ConvertToLocalRelation before extraOptimizations run
  private lazy val corpusPath: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_annrw").toString
    Seq(
      (0L, Seq(1.0f, 1.0f, -1.0f, 1.0f)),
      (1L, Seq(0.9f, 1.1f, -0.5f, 2.0f)),  // same sign bucket as 0
      (2L, Seq(-1.0f, -1.0f, 1.0f, -1.0f)), // opposite bucket
      (3L, Seq(1.0f, 1.0f, 1.0f, 1.0f))     // differs in one hyperplane
    ).toDF("vec_id", "embedding").write.mode("overwrite").parquet(p)
    p
  }
  private def corpus = spark.read.parquet(corpusPath)

  private val qVec = Seq(1.0, 1.0, -1.0, 1.0)

  // register once; the rule is inert while the conf flag is off
  if (!spark.experimental.extraOptimizations.contains(AnnTopKRewrite)) {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ AnnTopKRewrite
  }

  private def withFlag[A](on: Boolean)(body: => A): A = {
    val prev = spark.conf.getOption(AnnTopKRewrite.ConfKey)
    spark.conf.set(AnnTopKRewrite.ConfKey, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(AnnTopKRewrite.ConfKey, v)
      case None => spark.conf.unset(AnnTopKRewrite.ConfKey)
    }
  }

  test("native SignBucket equals the HOF signBucket phrasing") {
    val rnd = new scala.util.Random(3)
    val vecs = (Seq.tabulate(50)(i =>
        (i.toLong, Seq.fill(12)(rnd.nextGaussian().toFloat))) :+
        (99L, Seq.fill(12)(0.0f)))
      .toDF("vec_id", "embedding")
    val mism = vecs.select(
        SignBucket(col("embedding"), 8).as("native"),
        Ann.signBucket("embedding", 8).as("hof"))
      .filter(!(col("native") <=> col("hof"))).count()
    assert(mism == 0L)
    // short vector: only existing components contribute bits
    val short = Seq(Tuple1(Seq(1.0f, -1.0f))).toDF("embedding")
      .select(SignBucket(col("embedding"), 8)).as[Long].head()
    assert(short == 1L)
  }

  test("flag off: plan untouched, results exact") {
    withFlag(false) {
      val df = Search.topK(corpus, qVec, k = 3, threshold = -2.0)
      assert(!df.queryExecution.optimizedPlan.toString.contains("sign_bucket"))
      assert(df.select($"vec_id").as[Long].collect().toSeq == Seq(0L, 1L, 3L))
    }
  }

  test("flag on: bucket probe injected, scores only the query's bucket") {
    withFlag(true) {
      val df = Search.topK(corpus, qVec, k = 3, threshold = -2.0)
      assert(df.queryExecution.optimizedPlan.toString.contains("sign_bucket"),
        s"expected probe filter in:\n${df.queryExecution.optimizedPlan}")
      // vec 3 differs in one hyperplane → pruned by nprobe=1; vec 2 is
      // in the opposite bucket; only 0 and 1 remain
      assert(df.select($"vec_id").as[Long].collect().toSeq == Seq(0L, 1L))
      // identical answer to the explicit ivfTopK API (same semantics;
      // bits=4 — the HOF signBucket indexes element_at(v, bits) and the
      // corpus is 4-dim, whereas the native SignBucket the rule injects
      // handles vectors shorter than `bits` gracefully)
      val explicit = Ann.ivfTopK(corpus,
          corpus.filter($"vec_id" === 0).select($"embedding".as("qv")),
          "qv", k = 3, bits = 4)
        .select($"vec_id").as[Long].collect().toSeq
      assert(explicit == Seq(0L, 1L))
    }
  }

  // ---- persisted-IVF probe (VERDICT r12 item 5) ----

  private lazy val ivfIndexPath: String = {
    val rnd = new scala.util.Random(41)
    val corpus = (0L until 48L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
      .repartition(4) // multi-file lists
    val idx = Ann.buildIvf(corpus, nCentroids = 4, seed = 7L)
    val p = java.nio.file.Files.createTempDirectory("graft_annrw_ivf").toString
    Ann.writeIvf(idx, p)
    p
  }

  private def ivfQuery(qv: Seq[Double], k: Int) =
    Ann.listsFrame(spark, ivfIndexPath)
      .withColumn("score", graft.functions.CosineSimilarity(
        $"embedding", array(qv.map(lit): _*)))
      .orderBy($"score".desc, $"vec_id".asc)
      .limit(k)

  private def withNprobe[A](n: Int)(body: => A): A = {
    spark.conf.set(AnnTopKRewrite.NprobeKey, n.toString)
    try body finally spark.conf.unset(AnnTopKRewrite.NprobeKey)
  }

  private val ivfQVec = Seq(0.5, -0.3, 0.8, 0.1, -0.6, 0.2, 0.9, -0.4)

  test("ivf rewrite off: index scan untouched, exact answer") {
    withFlag(false) {
      val df = ivfQuery(ivfQVec, 5)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("centroid_id IN") && !plan.contains("sign_bucket"),
        s"expected untouched plan:\n$plan")
      assert(df.count() == 5)
    }
  }

  test("ivf rewrite on: centroid IN-probe injected, result == ivfSearch, " +
    "scan partition-pruned") {
    withFlag(true) {
      withNprobe(2) {
        val df = ivfQuery(ivfQVec, 5)
        val optimized = df.queryExecution.optimizedPlan
        val probeFilters = optimized.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
              if f.condition.references.exists(_.name == "centroid_id") => f
        }
        assert(probeFilters.size == 1,
          s"expected exactly one centroid probe in:\n$optimized")
        // the probe must land in the scan's PARTITION filters (zero I/O
        // for unprobed lists), not the data filters
        val scans = df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
        assert(scans.nonEmpty &&
          scans.head.partitionFilters.exists(
            _.references.exists(_.name == "centroid_id")),
          s"probe not in partitionFilters: ${scans.map(_.partitionFilters)}")
        // answer == the explicit ivfSearch API at the same k/nprobe
        val idx = Ann.readIvf(spark, ivfIndexPath)
        val want = Ann.ivfSearch(idx, ivfQVec, k = 5, nprobe = 2)
          .select($"vec_id").as[Long].collect().toSeq
        val got = df.select($"vec_id").as[Long].collect().toSeq
        assert(got == want, s"got $got want $want")
      }
    }
  }

  test("ivf rewrite: a query of another dimension gets no centroid probe " +
    "and planning does not fail") {
    withFlag(true) {
      val plan = ivfQuery(ivfQVec.take(6), 5).queryExecution.optimizedPlan
      assert(!plan.toString.contains("centroid_id IN"),
        s"8-dim index probed for a 6-dim query:\n$plan")
    }
  }

  test("ivf rewrite honors the nprobe recall knob; all-lists probe == exact") {
    withFlag(true) {
      def ids(n: Int): Seq[Long] = withNprobe(n) {
        ivfQuery(ivfQVec, 5).select($"vec_id").as[Long].collect().toSeq
      }
      val exact = withFlag(false) {
        ivfQuery(ivfQVec, 5).select($"vec_id").as[Long].collect().toSeq
      }
      // nprobe == nCentroids scans every list -> exact answer recovered
      assert(ids(4) == exact, s"${ids(4)} vs $exact")
      // each nprobe's answer == ivfSearch at that nprobe (recall curve
      // honored knob-for-knob)
      val idx = Ann.readIvf(spark, ivfIndexPath)
      for (n <- 1 to 4) {
        val want = Ann.ivfSearch(idx, ivfQVec, k = 5, nprobe = n)
          .select($"vec_id").as[Long].collect().toSeq
        assert(ids(n) == want, s"nprobe=$n: ${ids(n)} vs $want")
      }
    }
  }

  test("ivf rewrite is idempotent; non-index partitioned scans fall back " +
    "to sign-bucket") {
    withFlag(true) {
      withNprobe(2) {
        // re-running the optimizer on an already-rewritten plan inserts
        // nothing new (exactly one centroid predicate survives)
        val df = ivfQuery(ivfQVec, 5)
        val again = org.apache.spark.sql.SparkSession.active.sessionState
          .optimizer.execute(df.queryExecution.optimizedPlan)
        val probes = again.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
              if f.condition.references.exists(_.name == "centroid_id") => f
        }
        assert(probes.size == 1, s"expected one probe after re-optimize:\n$again")
        // a centroid_id-partitioned table that is NOT a live ivf-v3
        // generation (no IVF_FORMAT marker / manifest above it) must
        // not get the IVF probe
        val p = java.nio.file.Files.createTempDirectory("graft_annrw_plain").toString
        Ann.listsFrame(spark, ivfIndexPath)
          .write.partitionBy("centroid_id").mode("overwrite").parquet(p)
        val plainDf = spark.read.parquet(p)
          .withColumn("score", graft.functions.CosineSimilarity(
            $"embedding", array(ivfQVec.map(lit): _*)))
          .orderBy($"score".desc, $"vec_id".asc).limit(5)
        val plan = plainDf.queryExecution.optimizedPlan.toString
        assert(!plan.contains("centroid_id IN"), s"IVF probe on non-index:\n$plan")
        assert(plan.contains("sign_bucket"), s"expected sign-bucket fallback:\n$plan")
      }
    }
  }

  test("FILTERED single-query top-k over the lists layout rewrites to " +
    "the centroid probe WITH the user predicate retained — partition " +
    "pruning + pushed data filter in one scan (VERDICT r17 item 8)") {
    withFlag(true) {
      withNprobe(2) {
        def filtered() = Ann.listsFrame(spark, ivfIndexPath)
          .filter($"vec_id" % 3 === 1)
          .withColumn("score", graft.functions.CosineSimilarity(
            $"embedding", array(ivfQVec.map(lit): _*)))
          .orderBy($"score".desc, $"vec_id".asc)
          .limit(5)
        val df = filtered()
        val probes = df.queryExecution.optimizedPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
              if f.condition.references.exists(_.name == "centroid_id") => f
        }
        assert(probes.size == 1,
          s"expected one centroid probe in:\n${df.queryExecution.optimizedPlan}")
        val scans = df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
        assert(scans.nonEmpty &&
          scans.head.partitionFilters.exists(
            _.references.exists(_.name == "centroid_id")),
          s"probe not in partitionFilters: ${scans.map(_.partitionFilters)}")
        assert(scans.head.dataFilters.nonEmpty,
          "user predicate must push into the same scan (filter-during-" +
            "search, not post-filter)")
        // answer == the explicit filtered probe API at the same k/nprobe
        val want = Ann.ivfSearchFiltered(spark, ivfIndexPath, ivfQVec,
          pred = $"vec_id" % 3 === 1, k = 5, nprobe = 2,
          extraCols = Seq.empty)
          .select($"vec_id").as[Long].collect().toSeq
        val got = df.select($"vec_id").as[Long].collect().toSeq
        assert(got == want, s"got $got want $want")
      }
    }
  }

  test("batched window top-k is deliberately NOT rewritten, flag on or off " +
    "(negative result, VERDICT r15 item 6)") {
    // The batched exact top-k (rank window over a broadcast-queries
    // cosine join — topKBatch's shape) over the persisted lists layout:
    // its query vectors are join ATTRIBUTES, so plan-time probe ranking
    // is impossible, and the probe-UNION pruning literal (the thing that
    // makes ivfSearchBatch an index probe rather than a cheaper scoring
    // rule) needs runtime query values by definition. The supported
    // batched path is the explicit Ann.ivfSearchBatch; this pins that
    // the rule leaves the batched plan byte-identical rather than
    // half-rewriting it (see the rule Scaladoc's negative-result note).
    val queries = Ann.listsFrame(spark, ivfIndexPath)
      .filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"),
        $"embedding".cast("array<double>").as("query_vec"))
    def batchedPlan(on: Boolean): String = withFlag(on) {
      val df = Search.topKBatch(
        Ann.listsFrame(spark, ivfIndexPath), queries,
        k = 3, threshold = -2.0)
      // expression IDs (#NNN) differ per invocation; shape is the claim
      df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#")
    }
    val off = batchedPlan(false); val on = batchedPlan(true)
    assert(on == off, s"batched plan must be untouched by the rewrite:\n$on")
    assert(!on.contains("centroid_id IN") && !on.contains("sign_bucket"))
    // and the explicit batched probe at nprobe=all equals the exact scan
    val exact = withFlag(false) {
      Search.topKBatch(Ann.listsFrame(spark, ivfIndexPath), queries,
        k = 3, threshold = -2.0)
        .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    }
    val probed = Ann.ivfSearchBatch(spark, ivfIndexPath, queries,
      k = 3, nprobe = 4)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(probed == exact)
  }

  test("rule is idempotent and ignores non-matching shapes") {
    withFlag(true) {
      val df = Search.topK(corpus, qVec, k = 3, threshold = -2.0)
      val probes = df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.exists { case _: SignBucket => true; case _ => false } => f
      }
      assert(probes.size == 1, "exactly one probe filter")
      // ascending sort (a bottom-k) must NOT be rewritten
      val asc = corpus
        .withColumn("score",
          graft.functions.CosineSimilarity($"embedding",
            array(qVec.map(lit): _*)))
        .orderBy($"score".asc).limit(2)
      assert(!asc.queryExecution.optimizedPlan.toString.contains("sign_bucket"))
      // non-literal query side (column vs column) must NOT be rewritten
      val nonlit = corpus
        .withColumn("score",
          graft.functions.CosineSimilarity($"embedding", $"embedding"))
        .orderBy($"score".desc).limit(2)
      assert(!nonlit.queryExecution.optimizedPlan.toString.contains("sign_bucket"))
    }
  }
}
