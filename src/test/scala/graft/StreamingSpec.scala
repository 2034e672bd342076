package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{EventStreams, HostCap, StreamingIngest}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("tumbling window agg over a MemoryStream matches batch semantics") {
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = EventStreams.tumblingAggStream(events,
      watermarkDelay = "5 minutes", windowDur = "10 minutes")
      .select($"window.start".as("w"), $"event_type", $"n_events", $"sum_value")

    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("tumbling_out").start()
    try {
      input.addData((ts(1), "click", 1.0), (ts(4), "click", 2.0), (ts(12), "view", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to close the 10:00 and 10:10 windows
      input.addData((ts(45), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((ts(0), "click", 2L, 3.0)))
      assert(rows.contains((ts(10), "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("late event past the watermark is dropped from the stream") {
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val agg = EventStreams.tumblingAggStream(
      input.toDF().toDF("ts", "event_type", "value"),
      watermarkDelay = "5 minutes", windowDur = "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      input.addData((ts(1), "click", 1.0))
      q.processAllAvailable()
      input.addData((ts(59), "click", 1.0)) // watermark → 10:54
      q.processAllAvailable()
      input.addData((ts(2), "click", 100.0)) // too late, must be ignored
      q.processAllAvailable()
      val w0 = spark.table("late_out").filter($"window.start" === ts(0))
        .select($"sum_value").as[Double].collect()
      assert(w0.toSeq == Seq(1.0)) // the late 100.0 never lands
    } finally q.stop()
  }

  test("batch and streaming tumbling agg agree on the same data") {
    val batch = Seq((ts(1), "a", 1.0), (ts(4), "a", 2.0), (ts(12), "b", 3.0))
      .toDF("ts", "event_type", "value")
    val got = EventStreams.tumblingAgg(batch)
      .select($"window.start", $"event_type", $"n_events", $"sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(got == Set((ts(0), "a", 2L, 3.0), (ts(10), "b", 1L, 3.0)))
  }

  test("session_window merges events within the gap (batch mode)") {
    val batch = Seq(
      (ts(0), 1L, 1.0), (ts(5), 1L, 1.0),  // session 1: 10:00-10:05(+gap)
      (ts(40), 1L, 2.0),                    // session 2 (>30 min later)
      (ts(0), 2L, 9.0))
      .toDF("ts", "user_id", "value")
    val got = EventStreams.sessionAgg(batch, gap = "10 minutes")
      .select($"user_id", $"n_events", $"sum_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 2.0), (1L, 1L, 2.0), (2L, 1L, 9.0)))
  }

  test("flatMapGroupsWithState sessionizer emits closed sessions only") {
    import EventStreams.Ev
    val input = MemoryStream[Ev](spark)
    val sessions = EventStreams.sessionize(
      input.toDS().withWatermark("ts", "0 seconds").as[Ev],
      gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      input.addData(Ev(1L, ts(0), 1.0), Ev(1L, ts(5), 2.0))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() == 0) // still open
      input.addData(Ev(1L, ts(30), 1.0)) // gap > 10 min → closes session 1
      q.processAllAvailable()
      input.addData(Ev(2L, ts(59), 1.0)) // advance watermark
      q.processAllAvailable()
      val closed = spark.table("sessions_out")
        .select($"user_id", $"n_events", $"total_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(closed.contains((1L, 2L, 3.0)))
    } finally q.stop()
  }

  test("sessionizer: exact-gap event starts a NEW session (session_window parity)") {
    import EventStreams.Ev
    val input = MemoryStream[Ev](spark)
    val sessions = EventStreams.sessionize(
      input.toDS().withWatermark("ts", "0 seconds").as[Ev],
      gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_gap_out").start()
    try {
      // ts(0) and ts(10) are exactly gap apart → two sessions, matching
      // session_window / the q30 oracle (merge only when delta < gap)
      input.addData(Ev(7L, ts(0), 1.0), Ev(7L, ts(10), 2.0))
      q.processAllAvailable()
      input.addData(Ev(8L, ts(59), 1.0)) // advance watermark, close both
      q.processAllAvailable()
      val closed = spark.table("sessions_gap_out")
        .filter($"user_id" === 7L)
        .select($"n_events", $"total_value")
        .as[(Long, Double)].collect().toSet
      assert(closed == Set((1L, 1.0), (1L, 2.0)))
    } finally q.stop()
  }

  test("sessionizer: late-but-in-watermark event does not evict the open session") {
    import EventStreams.Ev
    val input = MemoryStream[Ev](spark)
    val sessions = EventStreams.sessionize(
      input.toDS().withWatermark("ts", "30 minutes").as[Ev],
      gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_late_out").start()
    try {
      input.addData(Ev(5L, ts(60), 1.0))
      q.processAllAvailable()
      // a late event 25 min BEFORE the open session (disjoint by > gap)
      // plus an extension of the open session, in one batch
      input.addData(Ev(5L, ts(35), 7.0), Ev(5L, ts(65), 2.0))
      q.processAllAvailable()
      input.addData(Ev(6L, ts(300), 0.0)) // advance watermark, close all
      q.processAllAvailable()
      val closed = spark.table("sessions_late_out")
        .filter($"user_id" === 5L)
        .select(unix_timestamp($"session_start").as("s"),
          $"n_events", $"total_value")
        .as[(Long, Long, Double)].collect().toSet
      // the late event is its own session; [60, 65] stays ONE session —
      // the pre-fix fold would have split it into [60,60] and [65,...]
      assert(closed == Set(
        (ts(35).getTime / 1000, 1L, 7.0),
        (ts(60).getTime / 1000, 2L, 3.0)))
    } finally q.stop()
  }

  test("sessionizer closed sessions equal batch session_window output") {
    import EventStreams.Ev
    val input = MemoryStream[Ev](spark)
    val gapMs = 10 * 60 * 1000L
    val sessions = EventStreams.sessionize(
      input.toDS().withWatermark("ts", "0 seconds").as[Ev], gapMs)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_parity_out").start()
    val evs = Seq( // user 1: two sessions (gap between 12 and 40)
      Ev(1L, ts(0), 1.0), Ev(1L, ts(5), 2.0), Ev(1L, ts(12), 3.0),
      Ev(1L, ts(40), 4.0), Ev(1L, ts(45), 5.0))
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      input.addData(Ev(99L, ts(200), 0.0)) // advance watermark, close user 1
      q.processAllAvailable()
      val streamed = spark.table("sessions_parity_out")
        .filter($"user_id" === 1L)
        .select(unix_timestamp($"session_start").as("s"),
          $"n_events", $"total_value")
        .as[(Long, Long, Double)].collect().toSet
      val batch = EventStreams.sessionAgg(
          evs.toDF("user_id", "ts", "value"), gap = "10 minutes")
        .filter($"user_id" === 1L)
        .select(unix_timestamp($"session_window.start").as("s"),
          $"n_events", $"sum_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == batch && streamed.size == 2)
    } finally q.stop()
  }

  test("streaming ingest appends chunk+embed output incrementally") {
    val base = Files.createTempDirectory("graft_stream").toString
    val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    val docs1 = Seq((1L, "alpha beta gamma " * 30, "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs1.write.parquet(src)
    StreamingIngest.start(spark, src, sink, ckpt).awaitTermination()
    val out1 = spark.read.parquet(sink)
    assert(out1.count() > 1) // chunked into multiple rows
    assert(out1.columns.toSet.contains("embedding"))

    // second batch: only the NEW file is processed (checkpoint dedup)
    Seq((2L, "delta epsilon", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(src)
    StreamingIngest.start(spark, src, sink, ckpt).awaitTermination()
    val out2 = spark.read.parquet(sink)
    assert(out2.filter($"doc_id" === 2L).count() == 1)
    assert(out2.count() == out1.count() + 1)
  }

  test("streaming exact dedup drops in-horizon duplicate content") {
    import graft.streaming.StreamingDedup
    val input = MemoryStream[(Timestamp, Long, String)](spark)
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val deduped = StreamingDedup.dedupExactWithinWatermark(
      docs, "ts", watermark = "10 minutes")

    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(
        (ts(1), 1L, "same text"),
        (ts(2), 2L, "same text"),   // dup within batch
        (ts(3), 3L, "other text"))
      q.processAllAvailable()
      input.addData((ts(5), 4L, "same text")) // dup across batches
      q.processAllAvailable()
      val got = spark.table("dedup_out")
      assert(got.count() == 2) // one per distinct content
      assert(got.select($"doc_id").as[Long].collect().toSet == Set(1L, 3L))
      assert(got.columns.contains("text_hash"))
    } finally q.stop()
  }

  test("streaming incremental dedup filters each micro-batch against the corpus") {
    import graft.streaming.StreamingDedup
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely unrelated stored document with its own words here")
    ).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](spark)
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingDedup.incrementalAgainstCorpus(
      input.toDF().toDF("doc_id", "text"), corpus,
      kept => survivors.synchronized {
        survivors ++= kept.select("doc_id").as[Long].collect()
      })
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog again and again"), // exact
        (11L, "the quick brown fox jumps over the lazy cat again and again"), // near
        (12L, "genuinely new content that matches nothing in the store"))
      q.processAllAvailable()
      input.addData((13L, "another novel batch arriving later with fresh words"))
      q.processAllAvailable()
      // per-batch result equals the batch operator's (parity by shared code
      // path; the streaming layer adds only the foreachBatch plumbing)
      assert(survivors.sorted.toSeq == Seq(12L, 13L))
    } finally q.stop()
  }

  test("streaming query serving equals the batch top-k operator per micro-batch") {
    import graft.streaming.StreamingSearch
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = StreamingSearch.serveTopK(
      input.toDF().toDF("query_id", "query_vec"), corpus,
      res => got.synchronized {
        got ++= res.select($"query_id", $"vec_id", $"rank")
          .as[(Long, Long, Long)].collect()
      }, k = 2)()
    try {
      input.addData((100L, Seq(1.0f, 0.05f, 0.0f)), (101L, Seq(0.0f, 1.0f, 0.1f)))
      q.processAllAvailable()
      input.addData((102L, Seq(0.0f, 0.1f, 1.0f)))
      q.processAllAvailable()
      // parity: same rows the batch operator returns on the union of batches
      val queries = Seq(
        (100L, Seq(1.0f, 0.05f, 0.0f)), (101L, Seq(0.0f, 1.0f, 0.1f)),
        (102L, Seq(0.0f, 0.1f, 1.0f))).toDF("query_id", "query_vec")
      val want = graft.search.Search.topKBatch(corpus, queries, k = 2)
        .select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Long)].collect()
      assert(got.sorted.toSeq == want.sorted.toSeq, s"got=$got want=${want.toSeq}")
      assert(got.count(_._1 == 100L) == 2) // k respected per query
    } finally q.stop()
  }

  test("serveTopK over a persisted IVF index (indexedScan at nprobe=all) " +
    "== exact batch top-k (VERDICT r14 item 5 serving seam)") {
    import graft.streaming.StreamingSearch
    import graft.search.Ann
    // 8 well-separated vectors, 2 inverted lists; nprobe=2 probes BOTH
    // lists per query -> recall 1.0 by construction, so the streamed
    // indexed results must equal the exact batch operator's
    val corpus = (0 until 8).map { i =>
      (i.toLong, Seq(
        if (i % 2 == 0) 1.0f + i * 0.01f else 0.02f * i,
        if (i % 2 == 1) 1.0f + i * 0.01f else 0.01f * i,
        0.1f * i))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("graft_sidx").toString + "/ivf"
    Ann.writeIvf(Ann.buildIvf(corpus, nCentroids = 2, seed = 42L,
      maxIter = 4, initMode = "random"), idx)
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = StreamingSearch.serveTopK(
      input.toDF().toDF("query_id", "query_vec"), corpus,
      res => got.synchronized {
        got ++= res.select($"query_id", $"vec_id", $"rank")
          .as[(Long, Long, Long)].collect()
      }, k = 3, threshold = 0.0)(
      StreamingSearch.indexedScan(spark, idx, nprobe = 2))
    try {
      input.addData((100L, Seq(1.0f, 0.0f, 0.1f)), (101L, Seq(0.0f, 1.0f, 0.2f)))
      q.processAllAvailable()
      input.addData((102L, Seq(0.5f, 0.5f, 0.0f)))
      q.processAllAvailable()
      val queries = Seq(
        (100L, Seq(1.0f, 0.0f, 0.1f)), (101L, Seq(0.0f, 1.0f, 0.2f)),
        (102L, Seq(0.5f, 0.5f, 0.0f))).toDF("query_id", "query_vec")
      val want = graft.search.Search.topKBatch(corpus, queries, k = 3,
          threshold = 0.0)
        .select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Long)].collect()
      assert(got.sorted.toSeq == want.sorted.toSeq, s"got=$got want=${want.toSeq}")
      assert(got.count(_._1 == 102L) == 3) // k respected per query
    } finally q.stop()
  }

  test("FILTERED continuous serving (filteredIndexedScan at nprobe=all) " +
    "== exact batch top-k over the filtered corpus (q212 streaming twin)") {
    import graft.streaming.StreamingSearch
    import graft.search.Ann
    // labels alternate across both inverted lists, so the predicate
    // prunes rows INSIDE every probed list (not a whole-list cut)
    val corpus = (0 until 8).map { i =>
      (i.toLong, Seq(
        if (i % 2 == 0) 1.0f + i * 0.01f else 0.02f * i,
        if (i % 2 == 1) 1.0f + i * 0.01f else 0.01f * i,
        0.1f * i), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val idx = Files.createTempDirectory("graft_sfidx").toString + "/ivf"
    Ann.writeIvf(Ann.buildIvf(corpus, nCentroids = 2, seed = 42L,
      maxIter = 4, initMode = "random"), idx)
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = StreamingSearch.serveTopK(
      input.toDF().toDF("query_id", "query_vec"), corpus,
      res => got.synchronized {
        got ++= res.select($"query_id", $"vec_id", $"rank")
          .as[(Long, Long, Long)].collect()
      }, k = 3, threshold = 0.0)(
      StreamingSearch.filteredIndexedScan(spark, idx, nprobe = 2,
        pred = $"label" =!= 1))
    try {
      input.addData((100L, Seq(1.0f, 0.0f, 0.1f)), (101L, Seq(0.0f, 1.0f, 0.2f)))
      q.processAllAvailable()
      val queries = Seq(
        (100L, Seq(1.0f, 0.0f, 0.1f)),
        (101L, Seq(0.0f, 1.0f, 0.2f))).toDF("query_id", "query_vec")
      val want = graft.search.Search.topKBatch(
          corpus.filter($"label" =!= 1), queries, k = 3, threshold = 0.0)
        .select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Long)].collect()
      assert(got.sorted.toSeq == want.sorted.toSeq, s"got=$got want=${want.toSeq}")
      assert(!got.exists(r => r._2 % 3 == 1), "a filtered-out row was served")
    } finally q.stop()
  }

  test("streaming TEXT serving (embed -> indexed probe) == batch " +
    "embed+topKBatch (q210's loop in streaming form)") {
    import graft.streaming.StreamingSearch
    import graft.search.Ann
    // 3-dim embedder so the text queries land in the same space as the
    // synthetic corpus; nprobe=2 probes both lists -> recall 1.0, so the
    // streamed text path must equal the exact batch scan over the SAME
    // embedded panel (embed parity is structural: one embedder instance
    // class, same column code path as q210)
    val embedder = new graft.embed.Md5TokenEmbedder(3)
    val corpus = (0 until 8).map { i =>
      (i.toLong, Seq(
        if (i % 2 == 0) 1.0f + i * 0.01f else 0.02f * i,
        if (i % 2 == 1) 1.0f + i * 0.01f else 0.01f * i,
        0.1f * i))
    }.toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("graft_stext").toString + "/ivf"
    Ann.writeIvf(Ann.buildIvf(corpus, nCentroids = 2, seed = 42L,
      maxIter = 4, initMode = "random"), idx)
    val input = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = StreamingSearch.serveTopK(
      input.toDF().toDF("query_id", "query_text"), corpus,
      res => got.synchronized {
        got ++= res.select($"query_id", $"vec_id", $"rank")
          .as[(Long, Long, Long)].collect()
      }, k = 3, threshold = -2.0)(
      StreamingSearch.embedThenScan(
        StreamingSearch.indexedScan(spark, idx, nprobe = 2),
        embedder = embedder))
    try {
      input.addData((100L, "alpha beta gamma"), (101L, "delta epsilon"))
      q.processAllAvailable()
      input.addData((102L, "zeta eta theta iota"))
      q.processAllAvailable()
      val panel = Seq((100L, "alpha beta gamma"), (101L, "delta epsilon"),
        (102L, "zeta eta theta iota")).toDF("query_id", "query_text")
        .withColumn("query_vec", graft.embed.Embedder
          .embedDoubleColumn($"query_text", embedder))
      val want = graft.search.Search.topKBatch(corpus, panel, k = 3,
          threshold = -2.0)
        .select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Long)].collect()
      assert(got.sorted.toSeq == want.sorted.toSeq, s"got=$got want=${want.toSeq}")
      assert(got.count(_._1 == 100L) == 3)
    } finally q.stop()
  }

  test("serveTopK default scan honors custom query column names") {
    import graft.streaming.StreamingSearch
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // custom names: the default scan must bind to THESE, not query_id/query_vec
    val q = StreamingSearch.serveTopK(
      input.toDF().toDF("req_id", "req_vec"), corpus,
      res => got.synchronized {
        got ++= res.select($"req_id", $"vec_id").as[(Long, Long)].collect()
      }, k = 1, queryId = "req_id", queryVec = "req_vec")()
    try {
      input.addData((7L, Seq(0.9f, 0.1f)))
      q.processAllAvailable()
      assert(got.toSeq == Seq((7L, 0L)), got.toString)
    } finally q.stop()
  }

  test("streaming count-min merges to EXACTLY the batch sketch (mergeability)") {
    import graft.streaming.StreamingCountMin
    import graft.stats.CountMin
    val base = Files.createTempDirectory("graft_cms").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    val b1 = Seq((1L, "alpha beta alpha", "en", "web", 0L),
      (2L, "gamma beta", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b1.write.parquet(src)
    StreamingCountMin.start(spark, src, store, ckpt).awaitTermination()
    val b2 = Seq((3L, "alpha delta delta", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b2.write.mode("append").parquet(src)
    StreamingCountMin.start(spark, src, store, ckpt).awaitTermination()

    val merged = StreamingCountMin.sketchFromStore(spark, store)
    val allToks = b1.union(b2)
      .select(explode(graft.text.TextAnalysis.tokens($"text")).as("token"))
      .filter($"token" =!= "")
    val direct = CountMin.build(allToks, "token")
    // partial-cell addition == one-shot build, cell for cell
    assert(merged.as[(Int, Long, Long)].collect().toSet ==
      direct.as[(Int, Long, Long)].collect().toSet)
    // and the estimates see across batch boundaries
    val est = CountMin.estimate(merged,
        Seq("alpha", "delta").toDF("token"), "token")
      .as[(String, Long)].collect().toMap
    assert(est("alpha") >= 3L && est("delta") >= 2L)
  }

  test("streaming HLL registers merge to EXACTLY the batch sketch (mergeability)") {
    import graft.streaming.StreamingDistinct
    import graft.stats.DistinctSketch
    val base = Files.createTempDirectory("graft_hll").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    val b1 = Seq((1L, "one two three four five", "en", "web", 0L),
      (2L, "two three four five six", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b1.write.parquet(src)
    StreamingDistinct.start(spark, src, store, ckpt).awaitTermination()
    val b2 = Seq((3L, "six seven eight nine ten", "en", "wiki", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b2.write.mode("append").parquet(src)
    StreamingDistinct.start(spark, src, store, ckpt).awaitTermination()

    val allSh = b1.union(b2).select($"source",
      explode(graft.dedup.Dedup.shingles($"text", 3)).as("sh"))
    // register-for-register: max-merged partials == one-shot build
    assert(StreamingDistinct.registersFromStore(spark, store)
      .as[(String, Long, Int)].collect().toSet ==
      DistinctSketch.hllRegisters(allSh, "source", "sh")
        .as[(String, Long, Int)].collect().toSet)
    // and therefore the estimates agree exactly too
    assert(StreamingDistinct.estimateFromStore(spark, store)
      .as[(String, Long, Double)].collect().toSet ==
      DistinctSketch.hllDistinct(allSh, "source", "sh")
        .as[(String, Long, Double)].collect().toSet)

    // register compaction: the per-batch partials collapse to one
    // batch_id=-1 partial; registers and estimate unchanged
    // register-for-register, and a further stream run appends cleanly
    val regsBefore = StreamingDistinct.registersFromStore(spark, store)
      .as[(String, Long, Int)].collect().toSet
    val estBefore = StreamingDistinct.estimateFromStore(spark, store)
      .as[(String, Long, Double)].collect().toSet
    val (nRegs, dirsBefore) = StreamingDistinct.compactStore(spark, store)
    assert(dirsBefore == 2L && nRegs == regsBefore.size.toLong)
    assert(StreamingDistinct.registersFromStore(spark, store)
      .as[(String, Long, Int)].collect().toSet == regsBefore)
    assert(StreamingDistinct.estimateFromStore(spark, store)
      .as[(String, Long, Double)].collect().toSet == estBefore)
    val b3 = Seq((4L, "ten eleven twelve thirteen fourteen", "en", "wiki", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b3.write.mode("append").parquet(src)
    StreamingDistinct.start(spark, src, store, ckpt).awaitTermination()
    val allSh3 = b1.union(b2).union(b3).select($"source",
      explode(graft.dedup.Dedup.shingles($"text", 3)).as("sh"))
    assert(StreamingDistinct.registersFromStore(spark, store)
      .as[(String, Long, Int)].collect().toSet ==
      DistinctSketch.hllRegisters(allSh3, "source", "sh")
        .as[(String, Long, Int)].collect().toSet)
  }

  test("streaming quantile sketch: sum-merged partials == batch sketch; compaction invariant") {
    import graft.streaming.StreamingQuantile
    import graft.stats.QuantileSketch
    val base = Files.createTempDirectory("graft_qsk").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    val b1 = Seq((1L, "t", "en", "web", 120L), (2L, "t", "en", "web", 4000L),
      (3L, "t", "en", "wiki", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b1.write.parquet(src)
    StreamingQuantile.start(spark, src, store, ckpt).awaitTermination()
    val b2 = Seq((4L, "t", "en", "web", 121L), (5L, "t", "en", "wiki", 950L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b2.write.mode("append").parquet(src)
    StreamingQuantile.start(spark, src, store, ckpt).awaitTermination()

    val all = b1.union(b2)
    // bucket-for-bucket: sum-merged partials == one-shot build
    assert(StreamingQuantile.sketchFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet ==
      QuantileSketch.sketch(all, "source", "n_chars")
        .as[(String, Long, Long)].collect().toSet)
    // and the quantile read-off agrees exactly with the batch path
    val want = QuantileSketch.quantilesFromSketch(
        QuantileSketch.sketch(all, "source", "n_chars"), "source", Seq(50, 90, 99))
      .as[(String, Int, Long)].collect().toSet
    assert(StreamingQuantile.quantilesFromStore(spark, store)
      .as[(String, Int, Long)].collect().toSet == want)

    // compaction: partials collapse to batch_id=-1; sketch and read-off
    // unchanged, and a further stream run appends cleanly on top
    val (nRows, dirsBefore) = StreamingQuantile.compactStore(spark, store)
    assert(dirsBefore == 2L && nRows > 0L)
    assert(StreamingQuantile.quantilesFromStore(spark, store)
      .as[(String, Int, Long)].collect().toSet == want)
    val b3 = Seq((6L, "t", "en", "web", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b3.write.mode("append").parquet(src)
    StreamingQuantile.start(spark, src, store, ckpt).awaitTermination()
    assert(StreamingQuantile.sketchFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet ==
      QuantileSketch.sketch(all.union(b3), "source", "n_chars")
        .as[(String, Long, Long)].collect().toSet)
  }

  test("streaming drift PSI == batch PSI over the streamed rows; compaction idempotent") {
    import graft.streaming.StreamingDrift
    val base = Files.createTempDirectory("graft_drift").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    val ref = Seq((100L, "the a of and data table scan", "en", "web", 0L),
      (101L, "x y z", "en", "web", 0L),
      (102L, "the the the big corpus", "en", "wiki", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1 = Seq((1L, "query plan join", "en", "web", 0L),
      (2L, "the of a window sort merge hash", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b1.write.parquet(src)
    StreamingDrift.start(spark, src, store, ckpt).awaitTermination()
    val b2 = Seq((3L, "stream batch value", "en", "wiki", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b2.write.mode("append").parquet(src)
    StreamingDrift.start(spark, src, store, ckpt).awaitTermination()

    val want = StreamingDrift.psi(
        StreamingDrift.histogram(ref), StreamingDrift.histogram(b1.union(b2)))
      .as[(String, Long, Double)].collect().toSet
    assert(StreamingDrift.psiFromStore(spark, store, ref)
      .as[(String, Long, Double)].collect().toSet == want)
    // PSI is a sum of (p_cur - p_ref)·log(p_cur/p_ref) terms, each >= 0
    assert(want.nonEmpty && want.forall(_._3 >= 0.0))

    // compaction leaves the PSI unchanged, and compacting an
    // already-compacted store (single batch_id=-1 dir) is a no-op merge
    val (n1, d1) = StreamingDrift.compactStore(spark, store)
    assert(d1 == 2L && n1 > 0L)
    assert(StreamingDrift.psiFromStore(spark, store, ref)
      .as[(String, Long, Double)].collect().toSet == want)
    val (n2, d2) = StreamingDrift.compactStore(spark, store)
    assert(d2 == 1L && n2 == n1)
    assert(StreamingDrift.psiFromStore(spark, store, ref)
      .as[(String, Long, Double)].collect().toSet == want)
  }

  test("streaming char-class entropy == batch over the streamed rows; " +
    "compaction idempotent") {
    import graft.streaming.StreamingCharClasses
    val base = Files.createTempDirectory("graft_chcls").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    val b1 = Seq((1L, "aaaa", "en", "web", 0L),
      (2L, "ab cd!", "en", "wiki", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b1.write.parquet(src)
    StreamingCharClasses.start(spark, src, store, ckpt).awaitTermination()
    val b2 = Seq((3L, "more web text here", "en", "web", 0L),
      (4L, null.asInstanceOf[String], "en", "wiki", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b2.write.mode("append").parquet(src)
    StreamingCharClasses.start(spark, src, store, ckpt).awaitTermination()

    val want = StreamingCharClasses.finishEntropy(
        StreamingCharClasses.classCounts(b1.union(b2)))
      .as[(String, Long, Long)].collect().toSet
    assert(StreamingCharClasses.entropyFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet == want)
    // hand value: "aaaa" alone would be entropy 0; source "web" mixes in
    // b2's text so its aggregate entropy is strictly positive
    val byS = want.map(t => t._1 -> t).toMap
    assert(byS("web")._3 > 0L && byS("web")._2 == 22L, byS("web"))
    // compaction leaves the read unchanged; re-compacting is a no-op merge
    val (n1, d1) = StreamingCharClasses.compactStore(spark, store)
    assert(d1 == 2L && n1 > 0L)
    assert(StreamingCharClasses.entropyFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet == want)
    val (n2, d2) = StreamingCharClasses.compactStore(spark, store)
    assert(d2 == 1L && n2 == n1)
    assert(StreamingCharClasses.entropyFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet == want)
  }

  test("streaming media signature groups == batch over the streamed rows; " +
    "near-dups from store == batch mediaNearDupGroups; compaction idempotent") {
    import graft.streaming.StreamingMediaSignatures
    val base = Files.createTempDirectory("graft_msig").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    // docs 1/3 are exact payload copies (one signature group, n_media 2);
    // docs 2/4 differ; doc 5 is a small byte-distribution perturbation of
    // doc 2 (near-dup candidate at small Hamming distance)
    val b1 = Seq((1L, "the quick brown fox jumps over it", "en", "web", 0L),
      (2L, "aaaa bbbb cccc dddd", "en", "wiki", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b1.write.parquet(src)
    StreamingMediaSignatures.start(spark, src, store, ckpt).awaitTermination()
    val b2 = Seq((3L, "the quick brown fox jumps over it", "en", "web", 0L),
      (4L, "zzzz!! ???? ++++", "en", "web", 0L),
      (5L, "aaaa bbbb cccc dddd!", "en", "wiki", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    b2.write.mode("append").parquet(src)
    StreamingMediaSignatures.start(spark, src, store, ckpt).awaitTermination()

    val all = b1.union(b2)
    val wantGroups = StreamingMediaSignatures.signatureGroups(
        StreamingMediaSignatures.mediaFromDocs(all))
      .as[(Long, Long, Long)].collect().toSet
    def storeGroups: Set[(Long, Long, Long)] =
      StreamingMediaSignatures.groupsFromStore(spark, store)
        .as[(Long, Long, Long)].collect().toSet
    assert(storeGroups == wantGroups)
    // the 1/3 exact-copy clique collapsed into one group with rep = 1
    assert(wantGroups.exists(g => g._2 == 1L && g._3 == 2L), wantGroups)
    // near-dups from the store == the batch operator over the same media
    val wantPairs = graft.multimodal.Multimodal.mediaNearDupGroups(
        StreamingMediaSignatures.mediaFromDocs(all))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    def storePairs: Set[(Long, Long, Long, Long, Long)] =
      StreamingMediaSignatures.nearDupsFromStore(spark, store)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(storePairs == wantPairs)
    // compaction leaves both reads unchanged; re-compacting is a no-op
    val (n1, d1) = StreamingMediaSignatures.compactStore(spark, store)
    assert(d1 == 2L && n1 > 0L)
    assert(storeGroups == wantGroups && storePairs == wantPairs)
    val (n2, d2) = StreamingMediaSignatures.compactStore(spark, store)
    assert(d2 == 1L && n2 == n1)
    assert(storeGroups == wantGroups && storePairs == wantPairs)
  }

  test("streaming norm audit == q209's batch audit over the streamed " +
    "vectors; compaction idempotent; zero-norm batch flags") {
    import graft.streaming.StreamingNormAudit
    val base = Files.createTempDirectory("graft_norm").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    val b1 = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f), 0),
      (2L, Seq(0.5f, 0.5f, 0.0f), 0),
      (3L, Seq(0.0f, 2.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    b1.write.parquet(src)
    StreamingNormAudit.start(spark, src, store, ckpt).awaitTermination()
    // second batch: an all-zero vector (the failed-encoder case) + null
    val b2 = Seq(
      (4L, Seq(0.0f, 0.0f, 0.0f), 1),
      (5L, null.asInstanceOf[Seq[Float]], 0)
    ).toDF("vec_id", "embedding", "label")
    b2.write.mode("append").parquet(src)
    StreamingNormAudit.start(spark, src, store, ckpt).awaitTermination()

    // batch oracle: the same partial+merge over the union
    def fin(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long, Long, Long, Long)] =
      df.as[(Int, Long, Long, Long, Long, Long)].collect().toSet
    val want = fin(StreamingNormAudit.normPartial(b1.union(b2))
      .select($"label", $"n_vectors", $"n_zero_norm", $"min_norm2_micro",
        expr("sum_norm2_micro div n_vectors").as("mean_norm2_micro"),
        $"max_norm2_micro"))
    assert(fin(StreamingNormAudit.auditFromStore(spark, store)) == want)
    // the zero-norm vector is visible on label 1 (and the null dropped)
    val byLabel = want.map(t => t._1 -> t).toMap
    assert(byLabel(1)._3 == 1L && byLabel(1)._4 == 0L, byLabel(1).toString)
    assert(byLabel(0)._2 == 2L) // null embedding contributed nothing
    // compaction leaves the read unchanged; re-compacting is a no-op
    val (n1, d1) = StreamingNormAudit.compactStore(spark, store)
    assert(d1 == 2L && n1 > 0L)
    assert(fin(StreamingNormAudit.auditFromStore(spark, store)) == want)
    val (n2, d2) = StreamingNormAudit.compactStore(spark, store)
    assert(d2 == 1L && n2 == n1)
    assert(fin(StreamingNormAudit.auditFromStore(spark, store)) == want)
  }

  test("PartialStore compaction refuses to run over leftover trash from a crash") {
    import graft.streaming.StreamingQuantile
    val base = Files.createTempDirectory("graft_trash").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    Seq((1L, "t", "en", "web", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(src)
    StreamingQuantile.start(spark, src, store, ckpt).awaitTermination()
    // simulate a crash mid-swap: the .compact-old sibling still exists
    Files.createDirectory(java.nio.file.Paths.get(store + ".compact-old"))
    val e = intercept[IllegalArgumentException](
      StreamingQuantile.compactStore(spark, store))
    assert(e.getMessage.contains("interrupted compaction"), e.getMessage)
    // after the operator clears it, compaction proceeds and reads agree
    Files.delete(java.nio.file.Paths.get(store + ".compact-old"))
    val before = StreamingQuantile.sketchFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet
    StreamingQuantile.compactStore(spark, store)
    assert(StreamingQuantile.sketchFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet == before)
  }

  test("PartialStore .compact-lock: concurrent readers and compactors " +
    "are refused while held; restore releases it") {
    import graft.streaming.StreamingQuantile
    val base = Files.createTempDirectory("graft_lock").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    Seq((1L, "t", "en", "web", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(src)
    StreamingQuantile.start(spark, src, store, ckpt).awaitTermination()
    // simulate an in-flight compaction: the lock sentinel is held
    val lock = java.nio.file.Paths.get(store + ".compact-lock")
    Files.createDirectory(lock)
    // a reader racing the swap window gets a loud refusal, not an
    // empty sketch
    val re = intercept[IllegalArgumentException](
      StreamingQuantile.sketchFromStore(spark, store))
    assert(re.getMessage.contains("compact-lock"), re.getMessage)
    // a second compactor dies acquiring the lock. NOTE: compactStore
    // evaluates its reader argument first, so the refusal surfaces
    // there — calling PartialStore.compact with a pre-built frame hits
    // the IllegalStateException branch; both paths are loud
    val ce = intercept[Exception](StreamingQuantile.compactStore(spark, store))
    assert(ce.getMessage.contains("compact-lock") ||
      ce.getMessage.contains("already held"), ce.getMessage)
    // restore() releases the lock (nothing to repair -> "clean"), after
    // which reads and compaction proceed and agree
    assert(graft.streaming.StreamingQuantile.restoreStore(store) == "clean")
    val before = StreamingQuantile.sketchFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet
    StreamingQuantile.compactStore(spark, store)
    assert(StreamingQuantile.sketchFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet == before)
  }

  test("partial-store compaction cadence: compact every N batches, reads stay exact") {
    // The long-session discipline (PERF.md carries the latencies of
    // 200+-batch soaks): a stream that
    // appends one partial per micro-batch (maxFilesPerTrigger = 1),
    // compacted every 4 batches, must read bucket-for-bucket equal to
    // the one-shot batch sketch after EVERY compaction, and batch ids
    // must keep appending cleanly on top of the merged batch_id=-1.
    import graft.streaming.StreamingQuantile
    import graft.stats.QuantileSketch
    val base = Files.createTempDirectory("graft_cadence").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    def docs(ids: Range) = ids.map(i =>
        (i.toLong, "t", "en", s"src${i % 3}", (i * 37 % 5000).toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    var all: org.apache.spark.sql.DataFrame = null
    for (round <- 0 until 3) {
      val batch = docs(round * 4 until (round + 1) * 4)
      // 4 one-row files -> 4 micro-batches under the 1-file trigger
      // (written one by one: repartition(4) may leave empty partitions)
      (round * 4 until (round + 1) * 4).foreach(i =>
        docs(i to i).coalesce(1).write.mode("append").parquet(src))
      all = if (all == null) batch else all.union(batch)
      StreamingQuantile.start(spark, src, store, ckpt, maxFilesPerTrigger = 1)
        .awaitTermination()
      val (_, dirsBefore) = StreamingQuantile.compactStore(spark, store)
      // every cadence window adds 4 new dirs on top of the merged one
      assert(dirsBefore == (if (round == 0) 4L else 5L), s"round $round: $dirsBefore")
      assert(StreamingQuantile.sketchFromStore(spark, store)
        .as[(String, Long, Long)].collect().toSet ==
        QuantileSketch.sketch(all, "source", "n_chars")
          .as[(String, Long, Long)].collect().toSet, s"round $round diverged")
    }
  }

  test("PartialStore.restore recovers a crash mid-swap: refuse -> restore -> re-compact") {
    import graft.streaming.StreamingQuantile
    import java.nio.file.{Files => F, Paths}
    val base = Files.createTempDirectory("graft_restore").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    Seq((1L, "t", "en", "web", 10L), (2L, "t", "en", "web", 500L),
      (3L, "t", "en", "wiki", 42L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(src)
    StreamingQuantile.start(spark, src, store, ckpt).awaitTermination()
    Seq((4L, "t", "en", "wiki", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(src)
    StreamingQuantile.start(spark, src, store, ckpt).awaitTermination()
    val want = StreamingQuantile.sketchFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet

    // Simulate the exact mid-move-out crash state compact() can leave:
    // one batch dir already renamed into .compact-old, the merged tmp
    // written but not yet moved in.
    val trash = Paths.get(store + ".compact-old")
    val tmp = Paths.get(store + ".compact-tmp")
    F.createDirectory(trash)
    val batch0 = F.list(Paths.get(store)).toArray.map(_.toString)
      .filter(_.contains("batch_id=")).min
    F.move(Paths.get(batch0), trash.resolve(Paths.get(batch0).getFileName))
    StreamingQuantile.sketchFromStore(spark, store) // reader still runs...
    F.createDirectory(tmp) // (content irrelevant — restore discards it)

    // 1. compaction refuses loudly over the crash state
    val e = intercept[IllegalArgumentException](
      StreamingQuantile.compactStore(spark, store))
    assert(e.getMessage.contains("interrupted compaction"), e.getMessage)
    // 2. restore puts the originals back and discards the tmp
    assert(StreamingQuantile.restoreStore(store) == "restored")
    assert(!F.exists(trash) && !F.exists(tmp))
    assert(StreamingQuantile.sketchFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet == want)
    // 3. re-compaction proceeds and the sketch is bucket-for-bucket equal
    val (_, dirs) = StreamingQuantile.compactStore(spark, store)
    assert(dirs == 2L)
    assert(StreamingQuantile.sketchFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet == want)
    // 4. idempotent on a clean store
    assert(StreamingQuantile.restoreStore(store) == "clean")

    // "finished" path: trash left behind AFTER the merged dir landed
    // (post-swap crash) — restore completes the compaction by dropping
    // the redundant pre-merge partials, never re-adding them
    F.createDirectory(trash)
    F.createDirectory(trash.resolve("batch_id=0"))
    assert(StreamingQuantile.restoreStore(store) == "finished")
    assert(!F.exists(trash))
    assert(StreamingQuantile.sketchFromStore(spark, store)
      .as[(String, Long, Long)].collect().toSet == want)
  }

  test("interval join pairs clicks with in-window preceding views only (batch)") {
    val clicks = Seq((1L, 100L, ts(10)), (2L, 101L, ts(20)))
      .toDF("user_id", "click_id", "click_ts")
    val views = Seq(
      (1L, 200L, ts(8)),  // 2 min before click 100 → match
      (1L, 201L, ts(11)), // AFTER the click → no
      (1L, 202L, ts(1)),  // 9 min before, lookback 5 min → no
      (2L, 203L, ts(20)), // exactly at click time → match (inclusive)
      (3L, 204L, ts(10))) // other user → no
      .toDF("user_id", "view_id", "view_ts")
    val got = EventStreams.intervalJoin(clicks, views, lookbackSec = 300)
      .select($"click_id", $"view_id").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 200L), (101L, 203L)))
  }

  test("stream-stream interval join equals the batch join on the same data") {
    val clickIn = MemoryStream[(Long, Long, Timestamp)](spark)
    val viewIn = MemoryStream[(Long, Long, Timestamp)](spark)
    val clicks = clickIn.toDF().toDF("user_id", "click_id", "click_ts")
    val views = viewIn.toDF().toDF("user_id", "view_id", "view_ts")
    val joined = EventStreams.intervalJoinStream(clicks, views,
      lookbackSec = 300, watermarkDelay = "5 minutes")
      .select($"click_id", $"view_id")

    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      // views arrive before AND after their click — both orders must join
      viewIn.addData((1L, 200L, ts(8)), (1L, 202L, ts(1)), (3L, 204L, ts(10)))
      clickIn.addData((1L, 100L, ts(10)))
      q.processAllAvailable()
      clickIn.addData((2L, 101L, ts(20)))
      viewIn.addData((1L, 201L, ts(11)), (2L, 203L, ts(20)))
      q.processAllAvailable()
      // push watermarks forward so all joinable state is flushed
      clickIn.addData((9L, 999L, ts(59)))
      viewIn.addData((9L, 998L, ts(59)))
      q.processAllAvailable()

      val streamed = spark.table("ssj_out")
        .as[(Long, Long)].collect().toSet
      val batch = EventStreams.intervalJoin(
          Seq((1L, 100L, ts(10)), (2L, 101L, ts(20)), (9L, 999L, ts(59)))
            .toDF("user_id", "click_id", "click_ts"),
          Seq((1L, 200L, ts(8)), (1L, 202L, ts(1)), (3L, 204L, ts(10)),
            (1L, 201L, ts(11)), (2L, 203L, ts(20)), (9L, 998L, ts(59)))
            .toDF("user_id", "view_id", "view_ts"),
          lookbackSec = 300)
        .select($"click_id", $"view_id").as[(Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed.contains((100L, 200L)) && streamed.contains((101L, 203L)))
    } finally q.stop()
  }

  test("streaming funnel emits each stage transition once, in order") {
    import EventStreams.FunnelEv
    val input = MemoryStream[FunnelEv](spark)
    val q = EventStreams.funnel(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try {
      // user 1: full conversion; user 2: click BEFORE any view (must not
      // count), then view — stuck at stage 1; user 3: view+purchase but
      // no click — purchase must not fire without the click prerequisite
      input.addData(
        FunnelEv(1L, ts(1), "view"), FunnelEv(1L, ts(2), "click"),
        FunnelEv(2L, ts(1), "click"), FunnelEv(2L, ts(3), "view"),
        FunnelEv(3L, ts(1), "view"), FunnelEv(3L, ts(5), "purchase"))
      q.processAllAvailable()
      // second batch: user 1 converts; duplicate view/click are no-ops
      input.addData(
        FunnelEv(1L, ts(4), "view"), FunnelEv(1L, ts(5), "click"),
        FunnelEv(1L, ts(6), "purchase"))
      q.processAllAvailable()

      val got = spark.table("funnel_out")
        .select($"user_id", $"stage").as[(Long, String)].collect().toSet
      assert(got == Set(
        (1L, "1_view"), (1L, "2_click_after_view"), (1L, "3_purchase_after_click"),
        (2L, "1_view"),
        (3L, "1_view")))

      // per-stage user counts match the batch funnel semantics (q79):
      // earliest view, earliest click strictly after, earliest purchase
      // strictly after that
      val stages = spark.table("funnel_out").groupBy($"stage").count()
        .as[(String, Long)].collect().toMap
      assert(stages == Map("1_view" -> 3L, "2_click_after_view" -> 1L,
        "3_purchase_after_click" -> 1L))
    } finally q.stop()
  }

  test("streaming host cap admits first-N per host across micro-batches") {
    import HostCap.HostDoc
    val input = MemoryStream[HostDoc](spark)
    val capped = HostCap.capPerHost(input.toDS(), cap = 2)
    val q = capped.writeStream.outputMode("append")
      .format("memory").queryName("hostcap_out").start()
    try {
      // batch 1: a.com gets 2 of 3 (ts order, not arrival order in-batch)
      input.addData(
        HostDoc("a.com", 3L, 30L), HostDoc("a.com", 1L, 10L),
        HostDoc("a.com", 2L, 20L), HostDoc("b.org", 10L, 5L))
      q.processAllAvailable()
      // batch 2: a.com is full; b.org admits one more then rejects
      input.addData(
        HostDoc("a.com", 4L, 40L), HostDoc("b.org", 11L, 6L),
        HostDoc("b.org", 12L, 7L))
      q.processAllAvailable()
      val got = spark.table("hostcap_out")
        .select($"host", $"doc_id").as[(String, Long)].collect().toSet
      assert(got == Set(("a.com", 1L), ("a.com", 2L),
        ("b.org", 10L), ("b.org", 11L)))

      // parity with the batch first-N policy on the same rows
      val all = Seq(
        HostDoc("a.com", 3L, 30L), HostDoc("a.com", 1L, 10L),
        HostDoc("a.com", 2L, 20L), HostDoc("b.org", 10L, 5L),
        HostDoc("a.com", 4L, 40L), HostDoc("b.org", 11L, 6L),
        HostDoc("b.org", 12L, 7L))
      val batchRef = all.groupBy(_.host).flatMap { case (_, ds) =>
        ds.sortBy(d => (d.ts, d.doc_id)).take(2)
      }.map(d => (d.host, d.doc_id)).toSet
      assert(got == batchRef)
    } finally q.stop()
  }

  test("streaming retention == batch retention over the streamed events; compaction invariant") {
    import graft.streaming.StreamingRetention
    import graft.stats.Stats
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val base = Files.createTempDirectory("graft_retention").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    def ev(rows: (Long, Long, String)*) =
      rows.map { case (id, u, t) => (id, ts(t), u, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // u1 active W0+W1, u2 active W0 only; u1's W0 activity repeats in
    // batch 2 (cross-batch duplicate the union-distinct merge must fold)
    val b1 = ev((1L, 1L, "2024-01-02 10:00:00"), (2L, 2L, "2024-01-03 11:00:00"))
    val b2 = ev((3L, 1L, "2024-01-04 09:00:00"), (4L, 1L, "2024-01-09 08:00:00"))
    b1.write.parquet(src)
    StreamingRetention.start(spark, src, store, ckpt).awaitTermination()
    b2.write.mode("append").parquet(src)
    StreamingRetention.start(spark, src, store, ckpt).awaitTermination()

    val want = Stats.retentionCohorts(b1.union(b2))
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(want == Set(
      ("2024-01-01", 0L, 2L, 2L, 1.0),
      ("2024-01-01", 1L, 1L, 2L, 0.5)), want.toString)
    assert(StreamingRetention.retentionFromStore(spark, store)
      .as[(String, Long, Long, Long, Double)].collect().toSet == want)

    // compaction folds the cross-batch duplicate row and changes nothing
    val (n1, d1) = StreamingRetention.compactStore(spark, store)
    assert(d1 == 2L && n1 == 3L, s"merged $n1 rows from $d1 dirs") // 3 distinct (u, week) rows
    assert(StreamingRetention.retentionFromStore(spark, store)
      .as[(String, Long, Long, Long, Double)].collect().toSet == want)
    val (n2, d2) = StreamingRetention.compactStore(spark, store)
    assert(d2 == 1L && n2 == n1)
    assert(StreamingRetention.retentionFromStore(spark, store)
      .as[(String, Long, Long, Long, Double)].collect().toSet == want)
  }

  test("streaming lateness == batch disorderAudit; hwm chains across batches") {
    import graft.streaming.StreamingLateness
    import graft.stats.Stats
    val base = Files.createTempDirectory("graft_late").toString
    val src = s"$base/src"; val store = s"$base/store"; val ckpt = s"$base/ckpt"
    def ev(id: Long, minute: Int, typ: String) =
      (id, ts(minute), 1L, typ, 0.0, "")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // batch 1: one 2-minute-late click (id 3 after id 2's later ts)
    val b1 = Seq(ev(1, 10, "click"), ev(2, 15, "click"), ev(3, 13, "click"),
      ev(4, 20, "view")).toDF(cols: _*)
    // batch 2 opens EARLIER than batch 1's max (minute 20): the hwm must
    // carry across the batch boundary for id 101's lateness to be seen
    val b2 = Seq(ev(101, 18, "view"), ev(102, 25, "click"),
      ev(103, 24, "view")).toDF(cols: _*)
    b1.write.parquet(src)
    StreamingLateness.start(spark, src, store, ckpt).awaitTermination()
    assert(StreamingLateness.hwmFromStore(spark, store) ==
      Some(ts(20).getTime / 1000))
    b2.write.mode("append").parquet(src)
    StreamingLateness.start(spark, src, store, ckpt).awaitTermination()

    val want = Stats.disorderAudit(b1.union(b2))
      .as[(String, Long, Long, Double, Long, Long, Long, Long)]
      .collect().toSet
    // cross-batch lateness present: the view at minute 18 is 120 s late
    assert(StreamingLateness.auditFromStore(spark, store)
      .filter($"event_type" === "view").select("n_late").as[Long]
      .collect().head >= 1L)
    val streamed = StreamingLateness.auditFromStore(spark, store)
      .as[(String, Long, Long, Double, Long, Long, Long, Long)]
      .collect().toSet
    assert(streamed == want, s"stream $streamed != batch $want")

    // compaction: audit unchanged, idempotent, hwm survives
    val (n1c, d1c) = StreamingLateness.compactStore(spark, store)
    assert(d1c == 2L && n1c > 0L)
    assert(StreamingLateness.auditFromStore(spark, store)
      .as[(String, Long, Long, Double, Long, Long, Long, Long)]
      .collect().toSet == want)
    assert(StreamingLateness.hwmFromStore(spark, store) ==
      Some(ts(25).getTime / 1000))
    val (n2c, d2c) = StreamingLateness.compactStore(spark, store)
    assert(d2c == 1L && n2c == n1c)
  }
}
