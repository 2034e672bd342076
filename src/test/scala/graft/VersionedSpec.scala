package graft

import org.apache.spark.sql.functions._
import graft.sources.Versioned

/** Versioned table with manifest-committed snapshots (q226). */
class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_versioned").toString + "/t"

  test("append commits monotonic versions; snapshot reads are stable " +
    "under later appends (time travel)") {
    val root = freshRoot()
    assert(Versioned.latestVersion(spark, root) == 0L)
    assert(Versioned.append(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s")) == 1L)
    assert(Versioned.append(spark, root,
      Seq((3L, "c")).toDF("id", "s")) == 2L)
    assert(Versioned.latestVersion(spark, root) == 2L)
    val v1Before = Versioned.readAsOf(spark, root, 1L)
      .as[(Long, String)].collect().toSet
    assert(v1Before == Set((1L, "a"), (2L, "b")))
    assert(Versioned.readAsOf(spark, root).count() == 3L) // latest
    // a third append must not change what v1 or v2 readers see
    Versioned.append(spark, root, Seq((4L, "d")).toDF("id", "s"))
    assert(Versioned.readAsOf(spark, root, 1L)
      .as[(Long, String)].collect().toSet == v1Before)
    assert(Versioned.readAsOf(spark, root, 2L).count() == 3L)
    assert(Versioned.readAsOf(spark, root, 3L).count() == 4L)
  }

  test("a crashed append (orphan batch, no manifest) is invisible to " +
    "readers; vacuum reclaims it and never touches committed files") {
    val root = freshRoot()
    Versioned.append(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Versioned.append(spark, root, Seq((2L, "b")).toDF("id", "s"))
    // simulate a writer that died after the data write, before the
    // manifest rename: batch-3 exists, no v000003.manifest
    Seq((99L, "orphan")).toDF("id", "s")
      .write.mode("overwrite").parquet(s"$root/data/batch-3")
    assert(Versioned.latestVersion(spark, root) == 2L)
    assert(Versioned.readAsOf(spark, root).count() == 2L,
      "orphan batch leaked into a snapshot read")
    // default retention: a YOUNG unreferenced dir could be an append
    // in flight (data written, rename pending) — left alone
    assert(Versioned.vacuum(spark, root).isEmpty,
      "vacuum deleted a dir younger than the retention window")
    // under single-writer exclusion, retention 0 reclaims it
    val deleted = Versioned.vacuum(spark, root, retentionMs = 0L)
    assert(deleted == Seq("batch-3"), s"vacuum deleted $deleted")
    // every committed version still reads after vacuum
    assert(Versioned.readAsOf(spark, root, 1L).count() == 1L)
    assert(Versioned.readAsOf(spark, root, 2L).count() == 2L)
    // and a subsequent append reuses the slot cleanly
    assert(Versioned.append(spark, root,
      Seq((3L, "c")).toDF("id", "s")) == 3L)
    assert(Versioned.readAsOf(spark, root).count() == 3L)
    assert(Versioned.vacuum(spark, root).isEmpty)
  }

  test("appendWithStats + readWhere: file skipping from the manifest " +
    "zone stats; stat-less files are conservatively read; superset " +
    "cut loses no rows") {
    val root = freshRoot()
    // three stat-carrying files with disjoint value bands
    Versioned.appendWithStats(spark,
      root, (0L until 10L).map(i => (i, i)).toDF("id", "v")
        .repartition(1), "v")
    Versioned.appendWithStats(spark,
      root, (100L until 110L).map(i => (i, i)).toDF("id", "v")
        .repartition(1), "v")
    Versioned.appendWithStats(spark,
      root, (200L until 210L).map(i => (i, i)).toDF("id", "v")
        .repartition(1), "v")
    val (f1, read1, total1) = Versioned.readWhere(spark, root, "v", 100L, 109L)
    assert((read1, total1) == (1, 3), s"expected 1/3 files, got $read1/$total1")
    assert(f1.count() == 10L)
    // range straddling two bands reads exactly those two
    val (f2, read2, _) = Versioned.readWhere(spark, root, "v", 5L, 105L)
    assert(read2 == 2 && f2.count() == 11L) // 5..9 and 100..105
    // a plain (stat-less) append can never be skipped, but the exact
    // predicate still applies
    Versioned.append(spark, root,
      Seq((300L, 300L)).toDF("id", "v").repartition(1))
    val (f3, read3, total3) = Versioned.readWhere(spark, root, "v", 100L, 109L)
    assert((read3, total3) == (2, 4), "stat-less file must be read")
    assert(f3.count() == 10L, "exact predicate must drop stat-less rows")
    // every file skipped -> 0 files read, an empty frame that still
    // carries the table's columns
    val (f5, read5, total5) =
      Versioned.readWhere(spark, root, "v", 5000L, 6000L, version = 3L)
    assert((read5, total5) == (0, 3) && f5.count() == 0L)
    assert(f5.columns.toSeq == Seq("id", "v"))
    // time travel composes with pruning: at v1 only the first file exists
    val (_, read4, total4) = Versioned.readWhere(spark, root, "v", 0L, 9L,
      version = 1L)
    assert((read4, total4) == (1, 1))
  }

  /** Two files with range stats recorded on `a` only: file 1 has
    * a in [0, 9], b in [100, 109]; file 2 has a in [10, 19], b in [0, 9].
    */
  private def statsOnAOnly(): String = {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root, (0L until 10L)
      .map(i => (i, 100L + i, "old")).toDF("a", "b", "s").repartition(1), "a")
    Versioned.appendWithStats(spark, root, (10L until 20L)
      .map(i => (i, i - 10L, "old")).toDF("a", "b", "s").repartition(1), "a")
    root
  }

  test("range stats recorded on one column never prune a read on " +
    "another") {
    val root = statsOnAOnly()
    val (f, read, total) = Versioned.readWhere(spark, root, "b", 100L, 109L)
    assert((read, total) == (2, 2), s"read $read/$total files")
    assert(f.count() == 10L)
  }

  test("a COW merge keyed on a column with no recorded range is " +
    "refused and leaves the table as it was") {
    val root = statsOnAOnly()
    val ex = intercept[IllegalArgumentException](
      Versioned.mergeByKey(spark, root,
        Seq((5L, 105L, "new")).toDF("a", "b", "s").repartition(1), "b"))
    assert(ex.getMessage.contains("carries no numeric b stats"),
      ex.getMessage)
    assert(Versioned.latestVersion(spark, root) == 2L)
    assert(Versioned.readAsOf(spark, root).count() == 20L)
  }

  test("a COW merge re-records every stats column of the files it " +
    "rewrites, so a read on a non-key column still prunes") {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root, (0L until 10L)
      .map(i => (i, 100L + i)).toDF("a", "b").repartition(1), "a", "b")
    Versioned.appendWithStats(spark, root, (10L until 20L)
      .map(i => (i, i - 10L)).toDF("a", "b").repartition(1), "a", "b")
    val (v, rewritten, _) = Versioned.mergeByKey(spark, root,
      Seq((5L, 105L)).toDF("a", "b").repartition(1), "a")
    assert(rewritten == 1)
    val (f, read, total) = Versioned.readWhere(spark, root, "b", 0L, 9L)
    assert(read < total, s"read $read/$total files")
    assert(f.count() == 10L)
    val added = java.nio.file.Files.readString(
        new java.io.File(root, f"_manifests/v$v%06d.delta").toPath)
      .split('\n').filter(_.startsWith("+\t")).toSeq
    assert(added.nonEmpty && added.forall(_.contains("\t@b:")),
      added.mkString("\n"))
  }

  test("every stats-bearing writer records only named stats fields " +
    "(@col:, #col:, &col:) and a ^N row count") {
    val rows = (0L until 40L).map(i => (i, i * 2, s"l${i % 3}"))
    def half(lo: Long, hi: Long) = rows.filter(r => r._1 >= lo && r._1 < hi)
      .toDF("id", "x", "lang").repartition(1)
    val cow = freshRoot()
    Versioned.appendWithStats(spark, cow, half(0L, 20L), "id")
    Versioned.appendWithStats(spark, cow, half(20L, 40L), "id")
    Versioned.mergeByKey(spark, cow,
      Seq((5L, 0L, "m")).toDF("id", "x", "lang").repartition(1), "id")
    Versioned.deleteWhere(spark, cow, Seq(25L).toDF("id"), "id")
    Versioned.updateWhere(spark, cow, Seq(30L).toDF("id"), "id",
      Map("x" -> "x + 1"))
    Versioned.overwriteWhere(spark, cow,
      Seq((1L, 7L, "o")).toDF("id", "x", "lang").repartition(1), "id", 0L, 3L)
    Versioned.compact(spark, cow, numFiles = 2, statCol = Some("id"))
    Versioned.compact(spark, cow, numFiles = 2, zorderBy = Seq("id", "x"))
    val values = freshRoot()
    Versioned.appendWithValueStats(spark, values, half(0L, 40L), "lang")
    val bloom = freshRoot()
    Versioned.appendWithBloom(spark, bloom, half(0L, 40L), "id")
    val named = "(@[^:]+:-?\\d+:-?\\d+|#[^:]+:.*|&[^:]+:.*|\\^\\d+)".r
    for (root <- Seq(cow, values, bloom);
         d <- new java.io.File(root, "_manifests").listFiles()
           if d.getName.endsWith(".delta");
         l <- java.nio.file.Files.readString(d.toPath).split('\n')
           if l.startsWith("+\t")) {
      val fields = l.split('\t').drop(2).toSeq
      assert(fields.exists(_.startsWith("^")), s"${d.getName}: no row count: $l")
      fields.foreach(f => assert(named.matches(f),
        s"${d.getName}: unnamed stats field '$f' in $l"))
    }
  }

  test("mergeByKey: file-granular copy-on-write — untouched files keep " +
    "their paths, updates replace, inserts land, time travel intact") {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root,
      (0L until 10L).map(i => (i, i * 10)).toDF("id", "v")
        .repartition(1), "id")
    Versioned.appendWithStats(spark, root,
      (100L until 110L).map(i => (i, i * 10)).toDF("id", "v")
        .repartition(1), "id")
    // regression (found by q228): readAsOf must parse stats manifests
    assert(Versioned.readAsOf(spark, root).count() == 20L)
    // update id 3, insert id 7000 -> only the low file's range is hit
    val updates = Seq((3L, 999L), (7000L, 7L)).toDF("id", "v")
    val (v, rewritten, kept) = Versioned.mergeByKey(spark, root,
      updates.repartition(1), "id")
    assert((v, rewritten, kept) == (3L, 1, 1), s"got ($v, $rewritten, $kept)")
    val after = Versioned.readAsOf(spark, root)
      .as[(Long, Long)].collect().toMap
    assert(after.size == 21 && after(3L) == 999L && after(7000L) == 7L &&
      after(5L) == 50L && after(105L) == 1050L)
    // the pre-merge snapshot is untouched
    val before = Versioned.readAsOf(spark, root, 2L)
      .as[(Long, Long)].collect().toMap
    assert(before.size == 20 && before(3L) == 30L && !before.contains(7000L))
    // old files still referenced by old manifests survive vacuum
    assert(Versioned.vacuum(spark, root).isEmpty)
    assert(Versioned.readAsOf(spark, root, 1L).count() == 10L)
    // a merge into a stat-less table is refused, not a silent rewrite
    val root2 = freshRoot()
    Versioned.append(spark, root2, Seq((1L, 1L)).toDF("id", "v"))
    val ex = intercept[IllegalArgumentException](
      Versioned.mergeByKey(spark, root2, Seq((1L, 2L)).toDF("id", "v"), "id"))
    assert(ex.getMessage.contains("no numeric id stats"))
  }

  test("StreamingVersionedSink: streamed micro-batches land as " +
    "versions, replays are no-ops, empties skipped, table == stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingVersionedSink
    val root = freshRoot()
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("id", "s")
      .writeStream
      .foreachBatch(StreamingVersionedSink.handler(spark, root) _)
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      assert(Versioned.readAsOf(spark, root)
        .as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      // each micro-batch is its own time-travelable version
      assert(Versioned.readAsOf(spark, root, 1L).count() == 2L)
    } finally q.stop()
    val vAfterStream = Versioned.latestVersion(spark, root)
    // replay of an already-committed epoch is a no-op (the
    // at-least-once crash case): same batchId, even different data
    val replay = Seq((99L, "dup")).toDF("id", "s")
    assert(StreamingVersionedSink.commitBatch(spark, root, replay, 0L).isEmpty)
    assert(Versioned.latestVersion(spark, root) == vAfterStream)
    assert(Versioned.readAsOf(spark, root).count() == 3L,
      "replayed epoch added duplicate rows")
    // empty epochs are skipped, not committed
    assert(StreamingVersionedSink.commitBatch(spark, root,
      Seq.empty[(Long, String)].toDF("id", "s"), 50L).isEmpty)
    // a NEW epoch still commits
    assert(StreamingVersionedSink.commitBatch(spark, root, replay, 60L)
      .contains(vAfterStream + 1))
    assert(Versioned.readAsOf(spark, root).count() == 4L)
  }

  test("readChanges: manifest-diff CDC — appends yield the new rows, " +
    "a COW merge yields exactly the updates+inserts, I/O bounded to " +
    "the diffed files") {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root,
      (0L until 10L).map(i => (i, i * 10)).toDF("id", "v")
        .repartition(1), "id")
    Versioned.appendWithStats(spark, root,
      (100L until 105L).map(i => (i, i * 10)).toDF("id", "v")
        .repartition(1), "id")
    // pure append: changes v1 -> v2 are the second batch, verbatim
    assert(Versioned.readChanges(spark, root, 1L, 2L)
      .as[(Long, Long)].collect().toSet ==
      (100L until 105L).map(i => (i, i * 10)).toSet)
    // changes since table birth (fromV = 0) are everything
    assert(Versioned.readChanges(spark, root, 0L, 2L).count() == 15L)
    // COW merge: update id 3, insert id 7000 -> the v2 -> v3 change
    // set is exactly those two rows (carried-over rows cancel)
    Versioned.mergeByKey(spark, root,
      Seq((3L, 999L), (7000L, 7L)).toDF("id", "v").repartition(1), "id")
    assert(Versioned.readChanges(spark, root, 2L, 3L)
      .as[(Long, Long)].collect().toSet == Set((3L, 999L), (7000L, 7L)))
    // and spanning append + merge composes
    assert(Versioned.readChanges(spark, root, 1L, 3L)
      .as[(Long, Long)].collect().toSet ==
      ((100L until 105L).map(i => (i, i * 10)).toSet +
        ((3L, 999L)) + ((7000L, 7L))))
    // identical versions refused (no change files to read)
    val ex = intercept[IllegalArgumentException](
      Versioned.readChanges(spark, root, 3L, 3L))
    assert(ex.getMessage.contains("fromV < toV"))
  }

  test("empty commits are refused; unknown versions error clearly") {
    val root = freshRoot()
    val ex = intercept[IllegalArgumentException](
      Versioned.append(spark, root, Seq.empty[(Long, String)].toDF("id", "s")))
    assert(ex.getMessage.contains("empty version"))
    Versioned.append(spark, root, Seq((1L, "a")).toDF("id", "s"))
    val ex2 = intercept[IllegalArgumentException](
      Versioned.readAsOf(spark, root, 7L))
    assert(ex2.getMessage.contains("no version 7"))
  }

  test("delta manifests + checkpoints: commit cost is O(batch) flat in " +
    "table size, every historical version resolves across checkpoint " +
    "boundaries, and a missing checkpoint only lengthens the replay") {
    val root = freshRoot()
    // 23 single-file commits: two checkpoints land (v10, v20)
    (1 to 23).foreach { i =>
      Versioned.append(spark, root,
        Seq((i.toLong, s"r$i")).toDF("id", "s").repartition(1))
    }
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def size(name: String): Long =
      f.getFileStatus(new org.apache.hadoop.fs.Path(
        s"$root/_manifests/$name")).getLen
    // the O(delta) commit claim, mechanically: the 23rd delta is no
    // bigger than the 2nd (one `+` line each) even though the table
    // grew 20 files — the pre-checkpoint design rewrote the FULL list
    // per commit (O(total files), VERDICT r17 item 2)
    assert(size("v000023.delta") <= size("v000002.delta") + 8,
      s"late commit grew with table size: ${size("v000023.delta")} vs " +
      s"${size("v000002.delta")}")
    assert(f.exists(new org.apache.hadoop.fs.Path(
      s"$root/_manifests/v000010.checkpoint")))
    assert(f.exists(new org.apache.hadoop.fs.Path(
      s"$root/_manifests/v000020.checkpoint")))
    // every version resolves, across both checkpoint boundaries
    for (v <- Seq(1L, 9L, 10L, 11L, 19L, 20L, 21L, 23L))
      assert(Versioned.readAsOf(spark, root, v).count() == v,
        s"version $v resolved wrong")
    // a checkpoint is a cache, not the commit: drop one and every
    // read still resolves by replaying more deltas
    f.delete(new org.apache.hadoop.fs.Path(
      s"$root/_manifests/v000020.checkpoint"), false)
    assert(Versioned.readAsOf(spark, root, 21L).count() == 21L)
    assert(Versioned.readAsOf(spark, root, 23L).count() == 23L)
  }

  test("compact (OPTIMIZE): content byte-identical before/after, file " +
    "count collapses, history still time-travels, stats stay tight " +
    "under range arrangement") {
    val root = freshRoot()
    // a streaming-shaped table: 12 tiny single-file stat commits
    (0 until 12).foreach { b =>
      Versioned.appendWithStats(spark, root,
        (b * 10L until b * 10L + 10L).map(i => (i, i * 2))
          .toDF("id", "v").repartition(1), "id")
    }
    val before = Versioned.readAsOf(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    val (v, nBefore, nAfter) =
      Versioned.compact(spark, root, numFiles = 2, statCol = Some("id"))
    assert(v == 13L && nBefore == 12 && nAfter == 2,
      s"got ($v, $nBefore, $nAfter)")
    // CONTENT UNCHANGED — the whole point of OPTIMIZE
    assert(Versioned.readAsOf(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq == before)
    // pre-compaction versions still read (time travel intact)
    assert(Versioned.readAsOf(spark, root, 12L).count() == 120L)
    assert(Versioned.readAsOf(spark, root, 3L).count() == 30L)
    // range arrangement keeps zone pruning selective: a narrow key
    // range opens ONE of the two compacted files
    val (_, read, total) = Versioned.readWhere(spark, root, "id", 0L, 9L)
    assert(total == 2 && read == 1, s"expected 1/2 files, got $read/$total")
    // a later mergeByKey composes with the compacted layout
    val (_, rw, kp) = Versioned.mergeByKey(spark, root,
      Seq((5L, 999L)).toDF("id", "v").repartition(1), "id")
    assert(rw == 1 && kp == 1)
    assert(Versioned.readAsOf(spark, root)
      .as[(Long, Long)].collect().toMap.apply(5L) == 999L)
  }

  test("deleteWhere: stats-pruned COW delete; typed CDC emits " +
    "insert/delete rows; whole-file deletes become removal-only " +
    "versions; no-op deletes refused") {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root,
      (0L until 10L).map(i => (i, i * 10)).toDF("id", "v")
        .repartition(1), "id")
    Versioned.appendWithStats(spark, root,
      (100L until 110L).map(i => (i, i * 10)).toDF("id", "v")
        .repartition(1), "id")
    // delete two low ids: only file 1 overlaps -> rewritten; file 2 kept
    val (v, hit, rw, kp) = Versioned.deleteWhere(spark, root,
      Seq(3L, 7L).toDF("id"), "id")
    assert((v, hit, rw, kp) == (3L, 2L, 1, 1), s"got ($v, $hit, $rw, $kp)")
    val after = Versioned.readAsOf(spark, root)
      .as[(Long, Long)].collect().toMap
    assert(after.size == 18 && !after.contains(3L) && !after.contains(7L))
    // time travel across the delete
    assert(Versioned.readAsOf(spark, root, 2L).count() == 20L)
    // typed CDC of the delete: 8 carried-over rows cancel; the two
    // deleted rows surface as _change_type = delete
    val cdc = Versioned.readChangesTyped(spark, root, 2L, 3L)
      .as[(Long, Long, String)].collect().toSet
    assert(cdc == Set((3L, 30L, "delete"), (7L, 70L, "delete")), cdc.toString)
    // typed CDC of a MERGE: update = delete(old) + insert(new)
    Versioned.mergeByKey(spark, root,
      Seq((5L, 999L)).toDF("id", "v").repartition(1), "id")
    val cdc2 = Versioned.readChangesTyped(spark, root, 3L, 4L)
      .as[(Long, Long, String)].collect().toSet
    assert(cdc2 == Set((5L, 50L, "delete"), (5L, 999L, "insert")), cdc2.toString)
    // whole-file delete: every remaining low id -> removal-only version
    val (v2, hit2, rw2, kp2) = Versioned.deleteWhere(spark, root,
      ((0L until 10L).filter(i => i != 3L && i != 7L)).toDF("id"), "id")
    assert(v2 == 5L && hit2 == 8L && rw2 >= 1 && kp2 == 1,
      s"got ($v2, $hit2, $rw2, $kp2)")
    assert(Versioned.readAsOf(spark, root).count() == 10L)
    val cdc3 = Versioned.readChangesTyped(spark, root, 4L, 5L)
    assert(cdc3.filter(col("_change_type") === "insert").count() == 0L)
    assert(cdc3.filter(col("_change_type") === "delete").count() == 8L)
    // deleting absent keys is refused, not an empty commit
    val ex = intercept[IllegalArgumentException](
      Versioned.deleteWhere(spark, root, Seq(55555L).toDF("id"), "id"))
    assert(ex.getMessage.contains("no file's key range overlaps") ||
      ex.getMessage.contains("matches no rows"))
    assert(Versioned.latestVersion(spark, root) == 5L)
  }

  test("streaming sink inline maintenance: compactEvery bounds the " +
    "file count on a long stream, content == stream, replays still " +
    "no-ops, every epoch still time-travels") {
    import graft.streaming.StreamingVersionedSink
    val root = freshRoot()
    // 9 epochs, compact at every version divisible by 4 (the data
    // commits land on versions 1,2,3,4(+compact v5),6,7,8(+c v9),10,11)
    (0 until 9).foreach { e =>
      StreamingVersionedSink.commitBatch(spark, root,
        Seq((e.toLong, s"r$e")).toDF("id", "s").repartition(1), e.toLong,
        compactEvery = 4, numFiles = 1)
    }
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Versioned.readAsOf(spark, root)
      .as[(Long, String)].collect().toSet ==
      (0 until 9).map(e => (e.toLong, s"r$e")).toSet,
      "compaction changed the streamed content")
    // bounded fan-out: latest snapshot reads far fewer files than epochs
    val nFiles = Versioned.fileList(spark, root,
      Versioned.latestVersion(spark, root)).size
    assert(nFiles <= 5, s"file count unbounded: $nFiles files after 9 epochs")
    // a replayed epoch is still refused AFTER its files were compacted away
    assert(StreamingVersionedSink.commitBatch(spark, root,
      Seq((99L, "dup")).toDF("id", "s"), 0L, compactEvery = 4).isEmpty)
    // early epochs still time-travel
    assert(Versioned.readAsOf(spark, root, 1L).count() == 1L)
  }

  test("categorical value-set stats: readWhereEq opens only the files " +
    "whose manifest set contains the value; overflowed and stat-less " +
    "files are conservatively read; numeric readers ignore the lines") {
    val root = freshRoot()
    Versioned.appendWithValueStats(spark, root,
      Seq((1L, "en"), (2L, "en"), (3L, "de")).toDF("id", "lang")
        .repartition(1), "lang")
    Versioned.appendWithValueStats(spark, root,
      Seq((4L, "fr"), (5L, "fr")).toDF("id", "lang")
        .repartition(1), "lang")
    // a high-cardinality file overflows to #* (read-always)
    Versioned.appendWithValueStats(spark, root,
      (0 until 40).map(i => (100L + i, s"z$i")).toDF("id", "lang")
        .repartition(1), "lang")
    val (f1, read1, total1) = Versioned.readWhereEq(spark, root, "lang", "de")
    assert((read1, total1) == (2, 3), s"expected 2/3 files, got $read1/$total1")
    assert(f1.as[(Long, String)].collect().toSeq == Seq((3L, "de")))
    val (f2, read2, _) = Versioned.readWhereEq(spark, root, "lang", "fr")
    assert(read2 == 2 && f2.count() == 2L) // fr file + the #* file
    // a value in the overflowed file is still found (conservative read)
    val (f3, read3, _) = Versioned.readWhereEq(spark, root, "lang", "z7")
    assert(read3 == 1 && f3.count() == 1L)
    // a stat-less append can never be skipped
    Versioned.append(spark, root, Seq((999L, "xx")).toDF("id", "lang"))
    val (_, read4, total4) = Versioned.readWhereEq(spark, root, "lang", "de")
    assert((read4, total4) == (3, 4), "stat-less file must be read")
    // the numeric COW rewrites refuse a value-stats table loudly
    val ex = intercept[IllegalArgumentException](
      Versioned.mergeByKey(spark, root,
        Seq((1L, "en")).toDF("id", "lang"), "id"))
    assert(ex.getMessage.contains("no numeric id stats"), ex.getMessage)
    // reserved characters in values are refused at commit time
    val ex2 = intercept[IllegalArgumentException](
      Versioned.appendWithValueStats(spark, root,
        Seq((7L, "a|b")).toDF("id", "lang"), "lang"))
    assert(ex2.getMessage.contains("reserved character"))
  }

  test("multi-column value stats: named per-column sets prune " +
    "readWhereEq on ANY recorded column, overflow is per-column, " +
    "reserved colon refused") {
    val root = freshRoot()
    // two files: (en, web) and (de, book) + a 40-distinct lang column
    // in the third file that overflows ONLY on lang
    Versioned.appendWithValueStats(spark, root,
      Seq((1L, "en", "web"), (2L, "en", "web")).toDF("id", "lang", "kind")
        .repartition(1), "lang", "kind")
    Versioned.appendWithValueStats(spark, root,
      Seq((3L, "de", "book")).toDF("id", "lang", "kind")
        .repartition(1), "lang", "kind")
    Versioned.appendWithValueStats(spark, root,
      (0 until 40).map(i => (100L + i, s"z$i", "web"))
        .toDF("id", "lang", "kind").repartition(1), "lang", "kind")
    // prune on the FIRST column
    val (f1, r1, t1) = Versioned.readWhereEq(spark, root, "lang", "de")
    assert((r1, t1) == (2, 3), s"got $r1/$t1") // de file + lang-overflow file
    assert(f1.count() == 1L)
    // prune on the SECOND column — kind never overflowed
    val (f2, r2, _) = Versioned.readWhereEq(spark, root, "kind", "book")
    assert(r2 == 1 && f2.count() == 1L)
    val (f3, r3, _) = Versioned.readWhereEq(spark, root, "kind", "web")
    assert(r3 == 2 && f3.count() == 42L)
    // a value in the overflowed column is still found (conservative)
    val (f4, r4, _) = Versioned.readWhereEq(spark, root, "lang", "z7")
    assert(r4 == 1 && f4.count() == 1L)
    // an UNRECORDED column can never prune
    val (_, r5, t5) = Versioned.readWhereEq(spark, root, "id", "1")
    assert(r5 == t5)
    // colon (the name/set separator) is reserved in values
    intercept[IllegalArgumentException](
      Versioned.appendWithValueStats(spark, root,
        Seq((9L, "a:b", "x")).toDF("id", "lang", "kind"), "lang"))
  }

  test("additive schema evolution: a later append adds columns, old " +
    "rows null-fill under the manifest-recorded schema (no footer " +
    "merge), time travel reads each version's own schema, type " +
    "changes refused, merge composes") {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root,
      (0L until 5L).map(i => (i, i * 10)).toDF("id", "v")
        .repartition(1), "id")
    // v2 adds a string column
    Versioned.appendWithStats(spark, root,
      (100L until 105L).map(i => (i, i * 10, s"tag$i"))
        .toDF("id", "v", "tag").repartition(1), "id")
    val latest = Versioned.readAsOf(spark, root)
    assert(latest.columns.toSeq == Seq("id", "v", "tag"),
      s"evolved schema wrong: ${latest.columns.toSeq}")
    latest.as[(Long, Long, Option[String])].collect() // decode round-trips
    assert(latest.count() == 10L)
    assert(latest.filter($"tag".isNull).count() == 5L,
      "old rows must null-fill the evolved column")
    assert(latest.filter($"tag" === "tag100").count() == 1L)
    // time travel: v1 reads its OWN schema — no tag column yet
    assert(Versioned.readAsOf(spark, root, 1L).columns.toSeq ==
      Seq("id", "v"))
    // a type change on an existing column is refused loudly
    val ex = intercept[IllegalArgumentException](
      Versioned.append(spark, root,
        Seq(("oops", 1L, "t")).toDF("id", "v", "tag")))
    assert(ex.getMessage.contains("would change type"), ex.getMessage)
    // merge across the evolution boundary: survivors of a PRE-evolution
    // file null-fill before the union, updates carry the full schema
    val (_, rw, kp) = Versioned.mergeByKey(spark, root,
      Seq((3L, 999L, "upd")).toDF("id", "v", "tag").repartition(1), "id")
    assert(rw == 1 && kp == 1)
    val after = Versioned.readAsOf(spark, root)
    assert(after.filter($"id" === 3L).select("tag").head().getString(0) == "upd")
    assert(after.filter($"id" === 4L).select("tag").head() != null &&
      after.filter($"id" === 4L).select("tag").head().isNullAt(0),
      "carried-over pre-evolution row must keep a null tag")
    assert(after.count() == 10L)
    // typed CDC across the evolving range aligns both sides on toV's schema
    val cdc = Versioned.readChangesTyped(spark, root, 2L, 3L)
      .as[(Long, Long, Option[String], String)].collect().toSet
    assert(cdc == Set((3L, 30L, None, "delete"), (3L, 999L, Some("upd"), "insert")),
      cdc.toString)
  }

  test("replay guard survives compaction (ADVICE r17): a streamed " +
    "epoch rewritten out of the latest snapshot still refuses its " +
    "replay, and its committed dir is never deleted") {
    import graft.streaming.StreamingVersionedSink
    val root = freshRoot()
    assert(StreamingVersionedSink.commitBatch(spark, root,
      Seq((1L, 10L)).toDF("id", "v").repartition(1), 0L).contains(1L))
    assert(StreamingVersionedSink.commitBatch(spark, root,
      Seq((2L, 20L)).toDF("id", "v").repartition(1), 1L).contains(2L))
    // compaction rewrites every stream file out of the LATEST snapshot
    Versioned.compact(spark, root, numFiles = 1)
    // the replayed epoch must still be a no-op — a latest-only guard
    // would re-commit it AND delete data/stream-0, breaking v1/v2 reads
    assert(StreamingVersionedSink.commitBatch(spark, root,
      Seq((99L, 990L)).toDF("id", "v"), 0L).isEmpty,
      "replayed epoch re-committed after compaction")
    assert(Versioned.readAsOf(spark, root).count() == 2L)
    assert(Versioned.readAsOf(spark, root, 1L).count() == 1L,
      "time travel to the streamed epoch broke")
    // mergeByKey is refused on this stat-less table; the key-bound
    // guard on a stats table refuses oversized batches loudly
    val root2 = freshRoot()
    Versioned.appendWithStats(spark, root2,
      (0L until 10L).map(i => (i, i)).toDF("id", "v").repartition(1), "id")
    val ex = intercept[IllegalArgumentException](
      Versioned.mergeByKey(spark, root2,
        (0L until 20L).map(i => (i, i)).toDF("id", "v"), "id", maxKeys = 10))
    assert(ex.getMessage.contains("more than 10 distinct keys"))
  }

  test("streaming replay guard is O(CheckpointEvery), not O(versions): " +
    "on a 101-version stream the guard opens <= 11 manifest files " +
    "(VERDICT r18 item 1), stays correct through a legacy pre-ledger " +
    "checkpoint, and replays stay no-ops") {
    import graft.streaming.StreamingVersionedSink
    val root = freshRoot()
    (1 to 101).foreach { e =>
      assert(StreamingVersionedSink.commitBatch(spark, root,
        Seq((e.toLong, e.toLong)).toDF("id", "v").repartition(1),
        e.toLong).contains(e.toLong))
    }
    Versioned.manifestReads.set(0L)
    assert(Versioned.hasBatchDir(spark, root, "stream-5"))
    val reads = Versioned.manifestReads.get()
    assert(reads <= 11,
      s"replay guard opened $reads manifests on a 101-version table — " +
      "the O(versions) scan is back")
    Versioned.manifestReads.set(0L)
    assert(!Versioned.hasBatchDir(spark, root, "stream-999"))
    assert(Versioned.manifestReads.get() <= 11)
    // an actually replayed epoch is still a no-op at this depth
    assert(StreamingVersionedSink.commitBatch(spark, root,
      Seq((9L, 9L)).toDF("id", "v"), 5L).isEmpty)
    // legacy pre-ledger checkpoint (no dir lines): the guard falls back
    // to the full replay — CORRECT first, fast after the next checkpoint
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cp = new org.apache.hadoop.fs.Path(s"$root/_manifests/v000100.checkpoint")
    val lines = {
      val in = f.open(cp)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val stripped = lines.filterNot(_.startsWith("dir\t"))
    f.delete(cp, false)
    val out = f.create(cp, true)
    try out.write((stripped.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    assert(Versioned.hasBatchDir(spark, root, "stream-5"),
      "pre-ledger fallback lost a committed epoch")
    assert(StreamingVersionedSink.commitBatch(spark, root,
      Seq((9L, 9L)).toDF("id", "v"), 5L).isEmpty)
  }

  test("pre-delta (v*.manifest) tables fail loudly instead of reading " +
    "as version 0 — vacuum on one must never run (ADVICE r18)") {
    val root = freshRoot()
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_manifests"))
    val out = f.create(new org.apache.hadoop.fs.Path(
      s"$root/_manifests/v000001.manifest"), true)
    try out.write("data/batch-1/part-0.parquet\n".getBytes("UTF-8"))
    finally out.close()
    // the data an old-format vacuum would have deleted
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$root/data/batch-1")
    val ex = intercept[IllegalArgumentException](
      Versioned.latestVersion(spark, root))
    assert(ex.getMessage.contains("pre-delta"), ex.getMessage)
    intercept[IllegalArgumentException](
      Versioned.vacuum(spark, root, retentionMs = 0L))
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$root/data/batch-1")),
      "vacuum deleted a pre-delta table's data")
  }

  test("COW rewrites keep NULL-key rows (ADVICE r18): merge and delete " +
    "on a file holding null keys rewrite the survivors INCLUDING the " +
    "nulls, never silently dropping untargeted rows") {
    val root = freshRoot()
    val rows = (0L until 10L).map(i => (Option(i), i * 10L)) ++
      Seq((Option.empty[Long], 777L), (Option.empty[Long], 888L))
    Versioned.appendWithStats(spark, root,
      rows.toDF("id", "v").repartition(1), "id")
    // merge touching id 3: the two null-id rows share its file and
    // must survive the rewrite
    Versioned.mergeByKey(spark, root,
      Seq((3L, 999L)).toDF("id", "v").repartition(1), "id")
    val after = Versioned.readAsOf(spark, root)
    assert(after.count() == 12L, "merge dropped rows")
    assert(after.filter($"id".isNull).count() == 2L,
      "merge silently deleted null-key rows")
    assert(after.filter($"id" === 3L).select("v").head().getLong(0) == 999L)
    // delete of id 5: nulls survive again, only the target goes
    Versioned.deleteWhere(spark, root, Seq(5L).toDF("id"), "id")
    val after2 = Versioned.readAsOf(spark, root)
    assert(after2.count() == 11L)
    assert(after2.filter($"id".isNull).count() == 2L,
      "delete silently removed null-key rows")
    assert(after2.filter($"id" === 5L).count() == 0L)
  }

  test("optimistic concurrency: a same-version race fails exactly one " +
    "writer with ConcurrentCommitException (winner's commit intact, " +
    "loser's batch an orphan vacuum reclaims); appendConcurrent " +
    "retries so parallel writers all land") {
    import graft.sources.ConcurrentCommitException
    val root = freshRoot()
    Versioned.append(spark, root, Seq((1L, "a")).toDF("id", "s")) // v1
    Versioned.append(spark, root, Seq((2L, "b")).toDF("id", "s")) // v2
    // a loser writer that computed v2 concurrently: its staged batch is
    // on disk, its publish must fail CLEANLY without touching v2
    Seq((99L, "loser")).toDF("id", "s")
      .write.parquet(s"$root/data/txn-loser")
    val ex = intercept[ConcurrentCommitException](
      Versioned.commitForTest(spark, root, 2L,
        Seq("data/txn-loser/part-loser.parquet")))
    assert(ex.getMessage.contains("concurrent writer"), ex.getMessage)
    assert(Versioned.readAsOf(spark, root, 2L)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")),
      "the losing publish damaged the winner's committed version")
    assert(Versioned.vacuum(spark, root, retentionMs = 0L) == Seq("txn-loser"))
    // genuinely parallel appendConcurrent writers: every row lands,
    // versions stay a contiguous chain
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = (0 until 3).map { i =>
            Versioned.appendConcurrent(spark, root,
              Seq((1000L * t + i, s"w$t-$i")).toDF("id", "s"))
          }
        })
      }
      val versions = futs.flatMap(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.distinct.size == 12, s"duplicate versions: $versions")
      assert(versions.toSet == (3L to 14L).toSet, s"non-contiguous: $versions")
    } finally pool.shutdown()
    assert(Versioned.latestVersion(spark, root) == 14L)
    val all = Versioned.readAsOf(spark, root).as[(Long, String)].collect()
    assert(all.length == 14 && all.count(_._2.startsWith("w")) == 12,
      s"lost commits: ${all.length} rows")
    // no orphans: every txn batch committed
    assert(Versioned.vacuum(spark, root, retentionMs = 0L).isEmpty)
    for (v <- 1L to 14L)
      assert(Versioned.readAsOf(spark, root, v).count() == v,
        s"version $v unreadable after concurrent appends")
  }

  test("two concurrent streams into one table: per-sink idempotence " +
    "keys, optimistic commit retry — every epoch of both streams " +
    "lands exactly once, replays stay per-sink no-ops") {
    import graft.streaming.StreamingVersionedSink
    val root = freshRoot()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = Seq("a", "b").map { sink =>
        pool.submit(new java.util.concurrent.Callable[Seq[Option[Long]]] {
          def call(): Seq[Option[Long]] = (0 until 6).map { e =>
            StreamingVersionedSink.commitBatch(spark, root,
              Seq((s"$sink-$e", e.toLong)).toDF("k", "v").repartition(1),
              e.toLong, sinkId = sink)
          }
        })
      }
      val results = futs.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(results.forall(_.forall(_.isDefined)),
        s"an epoch failed to commit: $results")
      val versions = results.flatten.flatten
      assert(versions.distinct.size == 12 &&
        versions.toSet == (1L to 12L).toSet, s"versions: $versions")
    } finally pool.shutdown()
    val all = Versioned.readAsOf(spark, root).as[(String, Long)].collect()
    assert(all.length == 12, s"lost or duplicated epochs: ${all.length}")
    assert(all.map(_._1).toSet ==
      (for (s <- Seq("a", "b"); e <- 0 until 6) yield s"$s-$e").toSet)
    // replays are judged PER SINK: sink a's epoch 0 is done, but the
    // same batchId under a third sink is genuinely new data
    assert(StreamingVersionedSink.commitBatch(spark, root,
      Seq(("dup", 0L)).toDF("k", "v"), 0L, sinkId = "a").isEmpty)
    assert(StreamingVersionedSink.commitBatch(spark, root,
      Seq(("c-0", 0L)).toDF("k", "v"), 0L, sinkId = "c").contains(13L))
    assert(Versioned.readAsOf(spark, root).count() == 13L)
    assert(Versioned.vacuum(spark, root, retentionMs = 0L).isEmpty,
      "concurrent sinks left orphans")
  }

  test("type widening (VERDICT r18 item 4): int->long and " +
    "float->double widen the recorded schema, old files read promoted, " +
    "a narrower later batch reads promoted too, narrowing/incompatible " +
    "changes refused, time travel reads each version's own type") {
    import org.apache.spark.sql.types._
    val root = freshRoot()
    Versioned.append(spark, root,
      Seq((1, 1.5f), (2, 2.5f)).toDF("id", "score"))      // int, float
    Versioned.append(spark, root,
      Seq((5000000000L, 3.25)).toDF("id", "score"))        // long, double
    val latest = Versioned.readAsOf(spark, root)
    assert(latest.schema("id").dataType == LongType &&
      latest.schema("score").dataType == DoubleType,
      s"schema did not widen: ${latest.schema.simpleString}")
    assert(latest.agg(sum($"id")).head().getLong(0) == 5000000003L)
    assert(latest.agg(sum($"score")).head().getDouble(0) == 7.25)
    // time travel: v1 reads its own narrow types
    val v1 = Versioned.readAsOf(spark, root, 1L)
    assert(v1.schema("id").dataType == IntegerType &&
      v1.schema("score").dataType == FloatType)
    // a narrower batch into the widened table is fine (promoted read)
    Versioned.append(spark, root, Seq((7, 0.5f)).toDF("id", "score"))
    val l2 = Versioned.readAsOf(spark, root)
    assert(l2.schema("id").dataType == LongType && l2.count() == 4L)
    assert(l2.agg(sum($"score")).head().getDouble(0) == 7.75)
    // incompatible change still refused
    val ex = intercept[IllegalArgumentException](
      Versioned.append(spark, root,
        Seq(("oops", 1.0)).toDF("id", "score")))
    assert(ex.getMessage.contains("would change type"), ex.getMessage)
    // NARROWING a long table to int is NOT a widening: refused
    val root2 = freshRoot()
    Versioned.append(spark, root2, Seq(("x", 5L)).toDF("k", "n"))
    Versioned.append(spark, root2, Seq(("y", 6)).toDF("k", "n")) // int under long: fine
    assert(Versioned.readAsOf(spark, root2).schema("n").dataType == LongType)
    val ex2 = intercept[IllegalArgumentException](
      Versioned.append(spark, root2, Seq(("z", true)).toDF("k", "n")))
    assert(ex2.getMessage.contains("would change type"))
    // ARRAY ELEMENT widening: array<float> -> array<double> (the
    // embedding-table migration), old files read promoted elementwise
    val root3 = freshRoot()
    Versioned.append(spark, root3,
      Seq((1L, Seq(1.5f, 2.5f))).toDF("id", "emb"))
    Versioned.append(spark, root3,
      Seq((2L, Seq(0.25, 0.75))).toDF("id", "emb"))
    val l3 = Versioned.readAsOf(spark, root3)
    assert(l3.schema("emb").dataType == ArrayType(DoubleType),
      l3.schema.simpleString)
    assert(l3.orderBy($"id").as[(Long, Seq[Double])].collect().toSeq ==
      Seq((1L, Seq(1.5, 2.5)), (2L, Seq(0.25, 0.75))))
    // v1's own schema keeps the narrow element type (the recorded DDL
    // normalizes containsNull to true — nullability is not a layout
    // property)
    assert(Versioned.readAsOf(spark, root3, 1L)
      .schema("emb").dataType == ArrayType(FloatType))
  }

  test("dropColumn: metadata-only commit — no rewrite, reads omit the " +
    "column, time travel keeps it, the dropped NAME can never be " +
    "re-added (by-name projection would resurrect old values)") {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root,
      (0L until 5L).map(i => (i, i * 10, s"s$i")).toDF("id", "v", "tag")
        .repartition(1), "id")
    val filesBefore = Versioned.fileList(spark, root, 1L)
    val v = Versioned.dropColumn(spark, root, "tag")
    assert(v == 2L)
    // metadata-only: the file list is IDENTICAL (zero data movement)
    assert(Versioned.fileList(spark, root, 2L) == filesBefore)
    val latest = Versioned.readAsOf(spark, root)
    assert(latest.columns.toSeq == Seq("id", "v"), latest.columns.toSeq)
    assert(latest.count() == 5L)
    // time travel: v1 still reads the column
    assert(Versioned.readAsOf(spark, root, 1L).columns.contains("tag"))
    // later appends and COW merges work under the narrowed schema
    Versioned.appendWithStats(spark, root,
      Seq((100L, 1000L)).toDF("id", "v").repartition(1), "id")
    Versioned.mergeByKey(spark, root,
      Seq((3L, 999L)).toDF("id", "v").repartition(1), "id")
    val after = Versioned.readAsOf(spark, root)
    assert(after.columns.toSeq == Seq("id", "v") && after.count() == 6L)
    assert(after.filter($"id" === 3L).head().getLong(1) == 999L)
    // resurrection refused: the dropped name is tombstoned forever
    val ex = intercept[IllegalArgumentException](
      Versioned.append(spark, root,
        Seq((200L, 1L, "sneaky")).toDF("id", "v", "tag")))
    assert(ex.getMessage.contains("resurrect"), ex.getMessage)
    // a DIFFERENT new column is still plain additive evolution
    Versioned.append(spark, root,
      Seq((300L, 2L, "ok")).toDF("id", "v", "tag2"))
    assert(Versioned.readAsOf(spark, root).columns.toSeq ==
      Seq("id", "v", "tag2"))
    // guards: unknown column, last column, schema-less table
    intercept[IllegalArgumentException](
      Versioned.dropColumn(spark, root, "nope"))
    val root2 = freshRoot()
    Versioned.append(spark, root2, Seq(Tuple1(1L)).toDF("only"))
    intercept[IllegalArgumentException](
      Versioned.dropColumn(spark, root2, "only"))
  }

  test("z-order compact (VERDICT r18 item 5): the 2-D Morton rewrite " +
    "records named per-file stats for BOTH columns; box reads on " +
    "either axis — or both — skip most files; COW merge composes with " +
    "the named stats") {
    val root = freshRoot()
    // a 32x32 grid appended as 4 a-sliced commits (the linear layout:
    // selective on a, useless on b)
    val grid = for (a <- 0L until 32L; b <- 0L until 32L)
      yield (a, b, a * 100 + b)
    grid.grouped(256).foreach { slice =>
      Versioned.appendWithStats(spark, root,
        slice.toDF("a", "b", "p").repartition(1), "a")
    }
    // control: on the LINEAR layout a b-box cannot skip anything
    // (legacy stats are on a, so b-pruning has nothing to use) — the
    // box read degrades to reading all files, correctly
    val (c0, cRead, cTotal) =
      Versioned.readWhereBox(spark, root, Seq(("b", 0L, 3L)), version = 4L)
    assert(cRead == cTotal && c0.count() == 32L * 4L)
    val (v, nBefore, nAfter) = Versioned.compact(spark, root,
      numFiles = 16, zorderBy = Seq("a", "b"))
    assert(v == 5L && nBefore == 4 && nAfter >= 12,
      s"got ($v, $nBefore, $nAfter)")
    // content preserved
    assert(Versioned.readAsOf(spark, root)
      .as[(Long, Long, Long)].collect().toSet == grid.toSet)
    // b-only box: the z-order layout skips most files
    val (fb, readB, totalB) = Versioned.readWhereBox(spark, root,
      Seq(("b", 0L, 3L)))
    assert(readB * 2 <= totalB,
      s"z-order read $readB/$totalB files on a b-box — no skipping")
    assert(fb.count() == 32L * 4L)
    // a-only box still prunes
    val (fa, readA, totalA) = Versioned.readWhereBox(spark, root,
      Seq(("a", 0L, 3L)))
    assert(readA * 2 <= totalA && fa.count() == 4L * 32L)
    // the 2-D box prunes hardest
    val (fab, readAB, totalAB) = Versioned.readWhereBox(spark, root,
      Seq(("a", 0L, 7L), ("b", 0L, 7L)))
    assert(readAB * 4 <= totalAB,
      s"2-D box read $readAB/$totalAB files")
    assert(fab.count() == 64L)
    // named stats satisfy the COW precondition on either column
    val (_, rw, kp) = Versioned.mergeByKey(spark, root,
      Seq((0L, 0L, 424242L)).toDF("a", "b", "p").repartition(1), "a")
    assert(rw >= 1 && rw + kp == nAfter)
    val after = Versioned.readAsOf(spark, root)
    assert(after.count() == grid.size - 32L + 1L) // 32 a=0 rows -> 1 update
    assert(after.filter($"a" === 0L).count() == 1L)
    // readWhere (single col) understands the named form too
    val (f1, read1, _) = Versioned.readWhere(spark, root, "b", 0L, 3L,
      version = 5L)
    assert(read1 * 2 <= totalB && f1.count() == 128L)
  }

  test("restore: one metadata-only commit returns the head to the " +
    "target snapshot; history intact; stats carried verbatim; a bad " +
    "dropColumn is un-tombstoned") {
    val root = freshRoot()
    val rows = (0L until 100L).map(i => (i, i * 10))
    Versioned.appendWithStats(spark, root,
      rows.filter(_._1 < 50).toDF("id", "x").repartition(1), "id")
    Versioned.appendWithStats(spark, root,
      rows.filter(_._1 >= 50).toDF("id", "x").repartition(1), "id")
    Versioned.mergeByKey(spark, root,
      Seq((7L, 999L)).toDF("id", "x").repartition(1), "id") // v3
    Versioned.deleteWhere(spark, root, Seq(60L).toDF("id"), "id") // v4
    val f = new java.io.File(root, "data")
    val dirsBefore = f.list().length
    val (v, reAdded, removed) = Versioned.restore(spark, root, 2L)
    assert(v == 5L && reAdded == 2 && removed >= 2,
      s"got ($v, $reAdded, $removed)")
    // metadata-only: not one new data directory
    assert(f.list().length == dirsBefore)
    // head == v2 content exactly
    assert(Versioned.readAsOf(spark, root).as[(Long, Long)]
      .collect().toSet == rows.toSet)
    // the undone versions still time-travel
    assert(Versioned.readAsOf(spark, root, 3L)
      .filter($"id" === 7L).head().getLong(1) == 999L)
    assert(Versioned.readAsOf(spark, root, 4L)
      .filter($"id" === 60L).count() == 0L)
    // re-added entries carried their zone stats: a point read prunes
    val (_, nRead, nTotal) = Versioned.readWhere(spark, root, "id", 3L, 3L)
    assert(nTotal == 2 && nRead == 1)
    // restoring to before a dropColumn resurrects the column AND its
    // tombstone, so the name appends again
    Versioned.dropColumn(spark, root, "x") // v6
    intercept[IllegalArgumentException] {
      Versioned.append(spark, root, Seq((200L, 1L)).toDF("id", "x"))
    }
    Versioned.restore(spark, root, 5L) // v7: x is back
    assert(Versioned.readAsOf(spark, root).columns.toSeq ==
      Seq("id", "x"))
    // the head now EQUALS v5 — restoring to it again is a no-op,
    // refused
    intercept[IllegalArgumentException] {
      Versioned.restore(spark, root, 5L)
    }
    Versioned.append(spark, root, Seq((200L, 1L)).toDF("id", "x")) // fine
    assert(Versioned.readAsOf(spark, root).count() == 101L)
  }

  test("appendWithStats + countAsOf: count(*) answered from the manifest " +
    "alone — zero Spark jobs — and a COW rewrite keeps the counts") {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root,
      (0L until 37L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartition(3), "id")
    Versioned.appendWithStats(spark, root,
      (37L until 50L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartition(1), "id")
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(Versioned.countAsOf(spark, root, 1L) == 37L)
    assert(Versioned.countAsOf(spark, root) == 50L)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, s"metadata count ran ${after - before} jobs")
    // the counted entries still carry named zone stats: COW works
    val (_, _, rw, kp) = Versioned.updateWhere(spark, root,
      Seq(40L).toDF("id"), "id", Map("s" -> "'upd'"))
    assert(rw == 1)
    // ... and the rewrite records its files' counts too
    assert(Versioned.countAsOf(spark, root) ==
      Versioned.readAsOf(spark, root).count())
    assert(Versioned.countAsOf(spark, root) == 50L)
    // older versions still metadata-count
    assert(Versioned.countAsOf(spark, root, 2L) == 50L)
  }

  test("appendWithBloom + readWhereBloom: point lookups prune on the " +
    "per-file blooms where zone stats cannot (interleaved id ranges); " +
    "negative probes open zero files; nulls set no bits and survive") {
    val root = freshRoot()
    // two files with fully interleaved ids: min/max ranges are
    // near-identical, so range stats would prune NOTHING
    val even = (0L until 1000L).filter(_ % 2 == 0).map(i => (i, s"e$i"))
    val odd = (0L until 1000L).filter(_ % 2 == 1).map(i => (i, s"o$i"))
    Versioned.appendWithBloom(spark, root,
      even.toDF("id", "s").repartition(1), "id")
    Versioned.appendWithBloom(spark, root,
      (odd :+ ((-1L, null: String)))
        .toDF("id", "s").withColumn("id",
          when($"s".isNull, lit(null: java.lang.Long)).otherwise($"id"))
        .repartition(1), "id")
    // positive probe: exactly the even file
    val (hit, read, total) = Versioned.readWhereBloom(spark, root, "id", 42L)
    assert(total == 2 && read == 1, s"read $read/$total")
    assert(hit.as[(Long, String)].collect().toSeq == Seq((42L, "e42")))
    val (hitO, readO, _) = Versioned.readWhereBloom(spark, root, "id", 43L)
    assert(readO == 1 && hitO.head().getString(1) == "o43")
    // negative probe: both blooms prove absence — zero files opened,
    // schema-stable empty frame
    val (miss, readM, _) = Versioned.readWhereBloom(spark, root, "id", 5000L)
    assert(readM == 0 && miss.count() == 0L)
    assert(miss.columns.toSeq == Seq("id", "s"))
    // the row counts ride along: metadata count works (null id row too)
    assert(Versioned.countAsOf(spark, root) == 1001L)
  }

  test("bloom sidecars: above maxInlineBits the bits live next to the " +
    "data file, the manifest entry stays O(1), pruning is identical, " +
    "and a LOST sidecar degrades to a conservative read — never a " +
    "failure") {
    val root = freshRoot()
    val even = (0L until 400L).filter(_ % 2 == 0).map(i => (i, s"e$i"))
    val odd = (0L until 400L).filter(_ % 2 == 1).map(i => (i, s"o$i"))
    // force the sidecar path: every bloom is bigger than 64 bits
    Versioned.appendWithBloom(spark, root,
      even.toDF("id", "s").repartition(1), "id", maxInlineBits = 64)
    Versioned.appendWithBloom(spark, root,
      odd.toDF("id", "s").repartition(1), "id", maxInlineBits = 64)
    // the manifest entries carry the `*` marker, not megabytes of bits
    val entries = Versioned.fileList(spark, root, 2L)
    assert(entries.size == 2)
    val deltas = new java.io.File(root, "_manifests").listFiles()
      .filter(_.getName.endsWith(".delta"))
    deltas.foreach(d => assert(d.length() < 1024,
      s"${d.getName} is ${d.length()} bytes — sidecar bloom leaked inline"))
    val sidecars = new java.io.File(root, "data").listFiles()
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".bloom"))
    assert(sidecars.length == 2)
    // pruning identical to the inline form
    val (hit, read, total) = Versioned.readWhereBloom(spark, root, "id", 42L)
    assert(total == 2 && read == 1)
    assert(hit.as[(Long, String)].collect().toSeq == Seq((42L, "e42")))
    val (_, readM, _) = Versioned.readWhereBloom(spark, root, "id", 9999L)
    assert(readM == 0)
    // losing a sidecar only costs conservatism
    sidecars.foreach(_.delete())
    val (hit2, read2, _) = Versioned.readWhereBloom(spark, root, "id", 42L)
    assert(read2 == 2 && hit2.count() == 1L)
    // ... but the FREE range stats recorded alongside still prune an
    // out-of-range probe with no bloom (and no sidecar) at all
    val (_, read3, _) = Versioned.readWhereBloom(spark, root, "id", 5000L)
    assert(read3 == 0, s"range stats did not prune: read $read3 files")
    // the named range stats also satisfy the COW precondition — a
    // bloom table is mergeable
    val (_, rwB, _) = Versioned.mergeByKey(spark, root,
      Seq((42L, "upd")).toDF("id", "s").repartition(1), "id")
    assert(rwB >= 1)
    assert(Versioned.readAsOf(spark, root)
      .filter($"id" === 42L).head().getString(1) == "upd")
  }

  test("vacuum x compact interplay (VERDICT r18 polish 8a): compacted-" +
    "away batch dirs WERE committed, so vacuum at zero retention keeps " +
    "them readable for time travel; only the never-committed orphan " +
    "goes") {
    val root = freshRoot()
    (0 until 3).foreach { i =>
      Versioned.appendWithStats(spark, root,
        (i * 10 until (i + 1) * 10).map(j => (j.toLong, j.toLong))
          .toDF("id", "x").repartition(1), "id")
    }
    Versioned.compact(spark, root, numFiles = 1, statCol = Some("id"))
    // plant a crashed-writer orphan AFTER the compact
    val orphan = new java.io.File(root, "data/orphan-1")
    orphan.mkdirs()
    Seq((99L, 99L)).toDF("id", "x").write.mode("overwrite")
      .parquet(orphan.getPath)
    // backdate so retention can't protect it
    orphan.listFiles().foreach(_.setLastModified(1000L))
    orphan.setLastModified(1000L)
    val gone = Versioned.vacuum(spark, root, retentionMs = 0L)
    assert(gone == Seq("orphan-1"), s"vacuum deleted $gone")
    // every pre-compaction version still reads its own files
    (1 to 3).foreach { v =>
      assert(Versioned.readAsOf(spark, root, v.toLong).count() == v * 10L)
    }
    assert(Versioned.readAsOf(spark, root).count() == 30L)
  }

  test("TIMESTAMP AS OF: in-commit timestamps are clock-skew-clamped " +
    "strictly monotonic; resolution is a binary search (O(log V) " +
    "manifest reads); boundaries land on the latest commit at-or-" +
    "before the instant") {
    val root = freshRoot()
    val fakeNow = new java.util.concurrent.atomic.AtomicLong(1000000L)
    Versioned.clockForTest = Some(() => fakeNow.get())
    try {
      Versioned.append(spark, root, Seq((1L, "a")).toDF("id", "s"))
      fakeNow.set(2000000L)
      Versioned.append(spark, root, Seq((2L, "b")).toDF("id", "s"))
      // a SKEWED writer whose clock runs behind must not reorder
      // history: v3's recorded ts clamps to v2's + 1
      fakeNow.set(1500000L)
      Versioned.append(spark, root, Seq((3L, "c")).toDF("id", "s"))
      assert(Versioned.timestampOf(spark, root, 1L) == 1000000L)
      assert(Versioned.timestampOf(spark, root, 2L) == 2000000L)
      assert(Versioned.timestampOf(spark, root, 3L) == 2000001L)
      // boundary resolution
      assert(Versioned.versionAt(spark, root, 1000000L) == 1L)
      assert(Versioned.versionAt(spark, root, 1999999L) == 1L)
      assert(Versioned.versionAt(spark, root, 2000000L) == 2L)
      assert(Versioned.versionAt(spark, root, 3000000L) == 3L)
      assert(Versioned.readAsOfTimestamp(spark, root, 1999999L)
        .count() == 1L)
      assert(Versioned.readAsOfTimestamp(spark, root, 9999999L)
        .count() == 3L)
      intercept[IllegalArgumentException] {
        Versioned.versionAt(spark, root, 999999L) // before first commit
      }
      // resolution cost: binary search, not a linear history scan
      val before = Versioned.manifestReads.get()
      Versioned.versionAt(spark, root, 2000000L)
      assert(Versioned.manifestReads.get() - before <= 4,
        s"versionAt read ${Versioned.manifestReads.get() - before} manifests")
    } finally Versioned.clockForTest = None
    // a PRE-FEATURE delta (no ts line) falls back to file mtime —
    // strip v1's ts line and pin the fallback
    val d1 = new java.io.File(root, "_manifests/v000001.delta")
    val stripped = scala.io.Source.fromFile(d1).getLines()
      .filterNot(_.startsWith("ts\t")).mkString("\n") + "\n"
    val w = new java.io.FileWriter(d1); w.write(stripped); w.close()
    d1.setLastModified(500000L)
    assert(Versioned.timestampOf(spark, root, 1L) == 500000L)
  }

  test("followChanges: durable-cursor CDC tailing — at-least-once " +
    "delivery (a crashed handler redelivers the same range), cursor " +
    "advances only after the handler returns, up-to-date returns " +
    "None, metadata-only ranges advance without a delivery") {
    val root = freshRoot()
    val cursor = freshRoot() + ".cursor"
    Versioned.appendWithStats(spark, root,
      (0L until 20L).map(i => (i, i)).toDF("id", "x").repartition(1), "id")
    val seen = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    def record(df: org.apache.spark.sql.DataFrame, a: Long, b: Long): Unit = {
      val ins = df.filter($"_change_type" === "insert").count()
      val del = df.filter($"_change_type" === "delete").count()
      seen += ((a, b, ins, del))
    }
    // first sync: everything since version 0
    assert(Versioned.followChanges(spark, root, cursor)(record _)
      .contains((0L, 1L)))
    assert(seen.last == ((0L, 1L, 20L, 0L)))
    // caught up
    assert(Versioned.followChanges(spark, root, cursor)(record _).isEmpty)
    // a COW update: delete pre-image + insert post-image
    Versioned.updateWhere(spark, root, Seq(3L).toDF("id"), "id",
      Map("x" -> "x + 100"))
    // crashed consumer: the cursor must NOT advance
    intercept[RuntimeException] {
      Versioned.followChanges(spark, root, cursor) { (_, _, _) =>
        throw new RuntimeException("consumer died")
      }
    }
    // ... so the SAME range redelivers
    assert(Versioned.followChanges(spark, root, cursor)(record _)
      .contains((1L, 2L)))
    assert(seen.last == ((1L, 2L, 1L, 1L)))
    // metadata-only commit: cursor advances, no rows delivered
    Versioned.dropColumn(spark, root, "x")
    assert(Versioned.followChanges(spark, root, cursor)(record _)
      .contains((2L, 3L)))
    assert(seen.size == 2) // handler not called for the drop
    assert(Versioned.followChanges(spark, root, cursor)(record _).isEmpty)
  }

  test("expireVersions: history below the horizon is reclaimed — " +
    "retained versions still time-travel, expired reads fail loudly, " +
    "only expired-exclusive files are deleted, and the replay guard / " +
    "vacuum / timestamp resolution survive the expiry") {
    val root = freshRoot()
    (0 until 4).foreach { i =>
      Versioned.appendWithStats(spark, root,
        (i * 10 until (i + 1) * 10).map(j => (j.toLong, j.toLong))
          .toDF("id", "x").repartition(1), "id")
    }
    // v5 = compact: v1..v4's files become expired-exclusive BELOW it
    Versioned.compact(spark, root, numFiles = 1, statCol = Some("id"))
    // v6 keeps building on the compacted head
    Versioned.appendWithStats(spark, root,
      Seq((100L, 100L)).toDF("id", "x").repartition(1), "id")
    val (deltas, files) = Versioned.expireVersions(spark, root, 5L)
    assert(deltas == 4 && files == 4, s"got ($deltas, $files)")
    assert(Versioned.earliestVersion(spark, root) == 5L)
    // retained versions read; expired ones refuse with the expiry hint
    assert(Versioned.readAsOf(spark, root, 5L).count() == 40L)
    assert(Versioned.readAsOf(spark, root, 6L).count() == 41L)
    val ex = intercept[IllegalArgumentException] {
      Versioned.readAsOf(spark, root, 3L)
    }
    assert(ex.getMessage.contains("expireVersions"))
    // the compacted file (still referenced) survived; the four
    // original batch files are gone
    val live = new java.io.File(root, "data").listFiles()
      .flatMap(f => Option(f.listFiles()).getOrElse(Array.empty))
      .count(_.getName.endsWith(".parquet"))
    assert(live == 2, s"$live data files on disk after expiry")
    // appends continue (parent-ts read rides the retained head)
    Versioned.appendWithStats(spark, root,
      Seq((101L, 101L)).toDF("id", "x").repartition(1), "id")
    assert(Versioned.readAsOf(spark, root).count() == 42L)
    // timestamp resolution anchors at the earliest RETAINED commit
    val t5 = Versioned.timestampOf(spark, root, 5L)
    assert(Versioned.versionAt(spark, root, t5) == 5L)
    intercept[IllegalArgumentException] {
      Versioned.versionAt(spark, root, t5 - 1000000L)
    }
    // vacuum after expiry: the dir ledger rode the horizon checkpoint,
    // so surviving committed dirs are never reclaimed
    assert(Versioned.vacuum(spark, root, retentionMs = 0L).isEmpty)
    assert(Versioned.readAsOf(spark, root, 5L).count() == 40L)
    // bounds: can't expire the head away or expire below the earliest
    intercept[IllegalArgumentException] {
      Versioned.expireVersions(spark, root, 8L)
    }
    intercept[IllegalArgumentException] {
      Versioned.expireVersions(spark, root, 5L)
    }
  }

  test("overwriteWhere: band replacement at file granularity — " +
    "disjoint files keep their paths, straddling files keep only " +
    "out-of-band + null-key rows, replacements leaking outside the " +
    "declared band are refused") {
    val root = freshRoot()
    val low = (0L until 50L).map(i => (java.lang.Long.valueOf(i), i)) :+
      ((null: java.lang.Long, 777L))
    Versioned.appendWithStats(spark, root,
      low.toDF("id", "x").repartition(1), "id")
    Versioned.appendWithStats(spark, root,
      (100L until 150L).map(i => (i, i)).toDF("id", "x")
        .repartition(1), "id")
    val pre = Versioned.fileList(spark, root, 2L)
    // backfill the [10, 19] band with recomputed values (and fewer
    // rows than it had — an overwrite is not an update)
    val repl = (10L until 15L).map(i => (i, i * 1000L)).toDF("id", "x")
    val (v, replaced, rw, kp) =
      Versioned.overwriteWhere(spark, root, repl, "id", 10L, 19L)
    assert(v == 3L && replaced == 10L && rw == 1 && kp == 1)
    val post = Versioned.fileList(spark, root, 3L)
    assert(pre.toSet.intersect(post.toSet).size == 1) // high file kept
    val now = Versioned.readAsOf(spark, root)
    assert(now.count() == (51L - 10L + 5L) + 50L)
    assert(now.filter($"id" === 12L).head().getLong(1) == 12000L)
    assert(now.filter($"id" === 17L).count() == 0L) // replaced away
    assert(now.filter($"id" === 9L).head().getLong(1) == 9L) // out-of-band
    assert(now.filter($"id".isNull).head().getLong(1) == 777L) // null kept
    // time travel reads the pre-overwrite band
    assert(Versioned.readAsOf(spark, root, 2L)
      .filter($"id" === 17L).count() == 1L)
    // a replacement row outside the band is refused
    intercept[IllegalArgumentException] {
      Versioned.overwriteWhere(spark, root,
        Seq((25L, 0L)).toDF("id", "x"), "id", 10L, 19L)
    }
    // a band nothing overlaps is a pure insert
    val (_, rep2, rw2, kp2) = Versioned.overwriteWhere(spark, root,
      Seq((500L, 1L)).toDF("id", "x"), "id", 500L, 509L)
    assert(rep2 == 0L && rw2 == 0 &&
      kp2 == Versioned.fileList(spark, root, 3L).size)
    assert(Versioned.readAsOf(spark, root).count() == 97L)
  }

  test("CHECK constraints: declared after validation, enforced at the " +
    "commit choke point for appends AND COW rewrites, NULL fails, " +
    "refused batches are invisible orphans, drop re-opens, and " +
    "constraint-free tables skip the enforcement entirely") {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root,
      (0L until 20L).map(i => (i, i + 1)).toDF("id", "x")
        .repartition(1), "id")
    // declaring a constraint the data already violates is refused
    intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, root, "x_big", "x > 10")
    }
    assert(Versioned.addConstraint(spark, root, "x_pos", "x > 0") == 2L)
    assert(Versioned.constraintsOf(spark, root) == Map("x_pos" -> "x > 0"))
    // a violating append is refused; the table is untouched
    intercept[IllegalArgumentException] {
      Versioned.appendWithStats(spark, root,
        Seq((100L, 0L)).toDF("id", "x").repartition(1), "id")
    }
    assert(Versioned.latestVersion(spark, root) == 2L)
    assert(Versioned.readAsOf(spark, root).count() == 20L)
    // NULL predicate result = violation (Delta semantics)
    intercept[IllegalArgumentException] {
      Versioned.appendWithStats(spark, root,
        Seq((java.lang.Long.valueOf(101L), null: java.lang.Long))
          .toDF("id", "x").repartition(1), "id")
    }
    // a valid append lands
    Versioned.appendWithStats(spark, root,
      Seq((102L, 5L)).toDF("id", "x").repartition(1), "id")
    assert(Versioned.readAsOf(spark, root).count() == 21L)
    // a COW UPDATE writing a violating value is refused at commit
    intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, root, Seq(3L).toDF("id"), "id",
        Map("x" -> "x - 100"))
    }
    assert(Versioned.readAsOf(spark, root)
      .filter($"id" === 3L).head().getLong(1) == 4L)
    // ... a valid update passes
    Versioned.updateWhere(spark, root, Seq(3L).toDF("id"), "id",
      Map("x" -> "x + 100"))
    // dropping re-opens the door
    Versioned.dropConstraint(spark, root, "x_pos")
    Versioned.appendWithStats(spark, root,
      Seq((103L, 0L)).toDF("id", "x").repartition(1), "id")
    assert(Versioned.readAsOf(spark, root).count() == 22L)
    // the constraint survives a checkpoint boundary: rebuild one past
    // v10 and the re-added constraint still enforces
    Versioned.addConstraint(spark, root, "x_nonneg", "x >= 0")
    (0 until 6).foreach { i =>
      Versioned.appendWithStats(spark, root,
        Seq((200L + i, 1L)).toDF("id", "x").repartition(1), "id")
    }
    assert(Versioned.latestVersion(spark, root) >= Versioned.CheckpointEvery)
    intercept[IllegalArgumentException] {
      Versioned.appendWithStats(spark, root,
        Seq((300L, -1L)).toDF("id", "x").repartition(1), "id")
    }
    // a fresh constraint-free table never pays the enforcement scan
    val root2 = freshRoot()
    Versioned.append(spark, root2, Seq((1L, 1L)).toDF("id", "x"))
    assert(!new java.io.File(root2, "_manifests/.has_constraints").exists())
  }

  test("history (DESCRIBE HISTORY): the manifest is self-describing — " +
    "one row per retained version, newest first, real op names and " +
    "delta file counts; expiry truncates it; a pre-feature delta " +
    "reads as unknown") {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root,
      (0L until 20L).map(i => (i, i)).toDF("id", "x")
        .repartition(1), "id")
    Versioned.appendWithStats(spark, root,
      (100L until 120L).map(i => (i, i)).toDF("id", "x")
        .repartition(1), "id")
    Versioned.mergeByKey(spark, root,
      Seq((5L, 999L)).toDF("id", "x").repartition(1), "id")
    Versioned.deleteWhere(spark, root, Seq(100L).toDF("id"), "id")
    Versioned.compact(spark, root, numFiles = 1, statCol = Some("id"))
    Versioned.restore(spark, root, 4L)
    val h = Versioned.history(spark, root)
      .select($"version", $"operation").as[(Long, String)].collect()
    assert(h.toSeq == Seq((6L, "restore"), (5L, "compact"),
      (4L, "delete"), (3L, "merge"), (2L, "append"), (1L, "append")))
    // timestamps come back monotonic non-increasing (newest first)
    val ts = Versioned.history(spark, root)
      .select($"ts_ms").as[Long].collect()
    assert(ts.toSeq == ts.toSeq.sorted.reverse)
    // strip v1's op line: pre-feature deltas read as unknown
    val d1 = new java.io.File(root, "_manifests/v000001.delta")
    val stripped = scala.io.Source.fromFile(d1).getLines()
      .filterNot(_.startsWith("op\t")).mkString("\n") + "\n"
    val w = new java.io.FileWriter(d1); w.write(stripped); w.close()
    assert(Versioned.history(spark, root)
      .filter($"version" === 1L).head().getString(2) == "unknown")
    // expiry truncates the listing to the retained horizon
    Versioned.expireVersions(spark, root, 5L)
    assert(Versioned.history(spark, root)
      .select($"version").as[Long].collect().toSeq == Seq(6L, 5L))
  }

  test("constraints x concurrency x counting compose: parallel " +
    "appendConcurrent writers all land under a CHECK constraint, a " +
    "violating writer fails validation (not the race), and the " +
    "metadata count stays exact") {
    val root = freshRoot()
    Versioned.appendWithStats(spark, root,
      Seq((0L, 1L)).toDF("id", "x").repartition(1), "id")
    Versioned.addConstraint(spark, root, "x_pos", "x > 0")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (1 to 4).map { i =>
      scala.concurrent.Future {
        Versioned.appendConcurrent(spark, root,
          Seq((i.toLong * 10, i.toLong)).toDF("id", "x").repartition(1))
      }
    }
    val violator = scala.concurrent.Future {
      Versioned.appendConcurrent(spark, root,
        Seq((99L, -5L)).toDF("id", "x").repartition(1))
      "landed"
    }.recover { case e: IllegalArgumentException
        if e.getMessage.contains("x_pos") => "refused" }
    import scala.concurrent.duration._
    val vs = futs.map(f =>
      scala.concurrent.Await.result(f, 120.seconds))
    val vOutcome = scala.concurrent.Await.result(violator, 120.seconds)
    pool.shutdown()
    assert(vOutcome == "refused")
    assert(vs.toSet.size == 4) // four distinct committed versions
    val table = Versioned.readAsOf(spark, root)
    assert(table.count() == 5L)
    assert(table.filter($"x" <= 0).count() == 0L)
    // appendConcurrent commits are not counted writers — the proof
    // breaks LOUDLY rather than guessing (v1 alone still counts)
    assert(Versioned.countAsOf(spark, root, 1L) == 1L)
    intercept[IllegalArgumentException] {
      Versioned.countAsOf(spark, root)
    }
    // history shows the seed append + one per surviving writer
    assert(Versioned.history(spark, root)
      .filter($"operation" === "append").count() == 5L)
  }

  test("exactly-once survives EXPIRY: the horizon checkpoint carries " +
    "the cumulative dir ledger, so a replay of an epoch whose deltas " +
    "were expired away is STILL a no-op — the production loop (sink + " +
    "inline compaction + periodic expiry) never double-commits") {
    val root = freshRoot()
    (0 until 25).foreach { e =>
      graft.streaming.StreamingVersionedSink.commitBatch(spark, root,
        spark.range(e * 10L, (e + 1) * 10L).toDF("id").repartition(1),
        e.toLong, compactEvery = 10, numFiles = 1)
    }
    val head = Versioned.latestVersion(spark, root)
    val preRows = Versioned.readAsOf(spark, root).count()
    assert(preRows == 250L)
    Versioned.expireVersions(spark, root, head)
    assert(Versioned.earliestVersion(spark, root) == head)
    // epoch 3's commit history is gone from the delta chain — its
    // replay must STILL refuse via the checkpointed ledger
    graft.streaming.StreamingVersionedSink.commitBatch(spark, root,
      spark.range(9999L, 10099L).toDF("id").repartition(1),
      3L, compactEvery = 0, numFiles = 1)
    assert(Versioned.readAsOf(spark, root).count() == preRows,
      "an expired epoch's replay re-committed")
    // a genuinely new epoch still lands
    graft.streaming.StreamingVersionedSink.commitBatch(spark, root,
      spark.range(250L, 260L).toDF("id").repartition(1),
      25L, compactEvery = 0, numFiles = 1)
    assert(Versioned.readAsOf(spark, root).count() == 260L)
    // and vacuum at zero retention still reclaims nothing committed
    assert(Versioned.vacuum(spark, root, retentionMs = 0L).isEmpty)
    assert(Versioned.readAsOf(spark, root).count() == 260L)
  }

  test("maintain: the one-call ops loop — compact when fragmented, " +
    "expire beyond the version budget, vacuum orphans; content " +
    "identical across the pass; a tidy table is a no-op") {
    val root = freshRoot()
    (0 until 12).foreach { i =>
      Versioned.appendWithStats(spark, root,
        Seq((i.toLong, i.toLong)).toDF("id", "x").repartition(1), "id")
    }
    // plant an old orphan
    val orphan = new java.io.File(root, "data/orphan-z")
    orphan.mkdirs()
    Seq((99L, 99L)).toDF("id", "x").write.mode("overwrite")
      .parquet(orphan.getPath)
    orphan.listFiles().foreach(_.setLastModified(1000L))
    orphan.setLastModified(1000L)
    val before = Versioned.readAsOf(spark, root)
      .as[(Long, Long)].collect().toSet
    val rep = Versioned.maintain(spark, root, maxFiles = 2,
      statCol = Some("id"), keepVersions = 3, vacuumRetentionMs = 0L)
    assert(rep.compactedTo.contains(13L))
    assert(rep.expired.isDefined && rep.expired.get._1 >= 10)
    assert(rep.vacuumed == Seq("orphan-z"))
    assert(Versioned.readAsOf(spark, root)
      .as[(Long, Long)].collect().toSet == before)
    assert(Versioned.fileList(spark, root,
      Versioned.latestVersion(spark, root)).size <= 2)
    assert(Versioned.earliestVersion(spark, root) == 11L)
    // second pass: nothing to do
    val rep2 = Versioned.maintain(spark, root, maxFiles = 2,
      statCol = Some("id"), keepVersions = 3, vacuumRetentionMs = 0L)
    assert(rep2.compactedTo.isEmpty && rep2.expired.isEmpty &&
      rep2.vacuumed.isEmpty)
    // history carries per-version row counts for counted commits,
    // the stats-arranged compact rewrite included
    val h = Versioned.history(spark, root)
      .select($"version", $"operation", $"n_rows_added").collect()
    val byOp = h.map(r => r.getString(1) ->
      (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(byOp("append") == Some(1L))
    assert(byOp("compact") == Some(12L))
  }

  test("updateWhere: stats-pruned COW update — SET expressions hit " +
    "only matched rows, untouched files keep their paths, null-key " +
    "neighbors survive, key-column updates are refused") {
    val root = freshRoot()
    val low = (0L until 50L).map(i => (java.lang.Long.valueOf(i), i)) :+
      ((null: java.lang.Long, 777L))
    Versioned.appendWithStats(spark, root,
      low.toDF("id", "x").repartition(1), "id")
    Versioned.appendWithStats(spark, root,
      (100L until 150L).map(i => (i, i)).toDF("id", "x")
        .repartition(1), "id")
    val pre = Versioned.fileList(spark, root, 2L)
    val (v, nUpd, rw, kp) = Versioned.updateWhere(spark, root,
      Seq(3L, 7L).toDF("id"), "id", Map("x" -> "x * 100 + 5"))
    assert(v == 3L && nUpd == 2L && rw == 1 && kp == 1)
    // the high file kept its exact path
    val post = Versioned.fileList(spark, root, 3L)
    assert(pre.toSet.intersect(post.toSet).size == 1)
    val m = Versioned.readAsOf(spark, root)
      .filter($"id".isin(3L, 7L)).as[(Long, Long)].collect().toMap
    assert(m == Map(3L -> 305L, 7L -> 705L))
    // unmatched + null-key rows of the rewritten file survive unchanged
    assert(Versioned.readAsOf(spark, root).count() == 101L)
    assert(Versioned.readAsOf(spark, root)
      .filter($"id".isNull).head().getLong(1) == 777L)
    // time travel: pre-update values intact
    assert(Versioned.readAsOf(spark, root, 2L)
      .filter($"id" === 3L).head().getLong(1) == 3L)
    intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, root, Seq(3L).toDF("id"), "id",
        Map("id" -> "id + 1"))
    }
    intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, root, Seq(9999L).toDF("id"), "id",
        Map("x" -> "0"))
    }
  }

  test("cloneShallow: zero-copy clone reads the source's files in " +
    "place, stats carried (COW merge works on the clone), mutations " +
    "diverge without touching the source, compact makes it " +
    "self-contained") {
    val src = freshRoot()
    val dst = freshRoot()
    val rows = (0L until 100L).map(i => (i, i * 2))
    Versioned.appendWithStats(spark, src,
      rows.filter(_._1 < 50).toDF("id", "x").repartition(1), "id")
    Versioned.appendWithStats(spark, src,
      rows.filter(_._1 >= 50).toDF("id", "x").repartition(1), "id")
    assert(Versioned.cloneShallow(spark, src, dst) == 1L)
    // zero data copied
    assert(!new java.io.File(dst, "data").exists() ||
      new java.io.File(dst, "data").list().isEmpty)
    assert(Versioned.readAsOf(spark, dst).as[(Long, Long)]
      .collect().toSet == rows.toSet)
    // stats carried: pruned read + COW merge work on the clone
    val (_, nRead, nTotal) = Versioned.readWhere(spark, dst, "id", 3L, 3L)
    assert(nTotal == 2 && nRead == 1)
    val (_, rw, kp) = Versioned.mergeByKey(spark, dst,
      Seq((7L, 424242L)).toDF("id", "x").repartition(1), "id")
    assert(rw == 1 && kp == 1)
    // the clone diverged; the source is untouched
    assert(Versioned.readAsOf(spark, dst)
      .filter($"id" === 7L).head().getLong(1) == 424242L)
    assert(Versioned.readAsOf(spark, src)
      .filter($"id" === 7L).head().getLong(1) == 14L)
    assert(Versioned.latestVersion(spark, src) == 2L)
    // source appends after the clone never leak into it
    Versioned.appendWithStats(spark, src,
      Seq((500L, 0L)).toDF("id", "x").repartition(1), "id")
    assert(Versioned.readAsOf(spark, dst).count() == 100L)
    // compact localizes every file under the clone's own root
    Versioned.compact(spark, dst, numFiles = 1, statCol = Some("id"))
    assert(Versioned.fileList(spark, dst,
      Versioned.latestVersion(spark, dst)).forall(_.startsWith("data/")))
    assert(Versioned.readAsOf(spark, dst).count() == 100L)
    // cloning onto a table that has commits is refused
    intercept[IllegalArgumentException] {
      Versioned.cloneShallow(spark, src, dst)
    }
    // a clone INHERITS the source's CHECK constraints (Delta
    // semantics): data the source would refuse, the clone refuses
    val src2 = freshRoot()
    val dst2 = freshRoot()
    Versioned.appendWithStats(spark, src2,
      Seq((1L, 5L)).toDF("id", "x").repartition(1), "id")
    Versioned.addConstraint(spark, src2, "x_pos", "x > 0")
    Versioned.cloneShallow(spark, src2, dst2)
    assert(Versioned.constraintsOf(spark, dst2) == Map("x_pos" -> "x > 0"))
    intercept[IllegalArgumentException] {
      Versioned.appendWithStats(spark, dst2,
        Seq((2L, -1L)).toDF("id", "x").repartition(1), "id")
    }
    Versioned.appendWithStats(spark, dst2,
      Seq((2L, 3L)).toDF("id", "x").repartition(1), "id")
    assert(Versioned.readAsOf(spark, dst2).count() == 2L)
  }
}
