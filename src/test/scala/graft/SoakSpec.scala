package graft

import org.apache.spark.sql.functions._
import org.scalatest.Tag

import graft.streaming.{PartialStore, StreamingQuantile}

/** Mark for the long-running end-to-end suites; exclude in a dev loop
  * with `sbt "testOnly * -- -l graft.Slow"`. Plain `sbt test` (what the
  * driver runs per round) includes them.
  */
object Slow extends Tag("graft.Slow")

/** Bounded per-round soak of the crash-safe partial store (VERDICT r12
  * item 7): many REAL micro-batches through one streaming session, a
  * mid-run compaction, an injected crash + restore, and an
  * append-after-compact resume, at 50 + 10 batches so it rides
  * `sbt test` every round. Every read along the way is asserted
  * EQUAL to the batch-computed sketch over the same rows (not just
  * non-empty), so a regression in the store layout, the lock protocol,
  * or checkpoint resume fails the suite, not a PERF.md footnote.
  */
class SoakSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(dir: String, nFiles: Int, idOffset: Long): Unit =
    spark.range(nFiles * 8L)
      .select(
        (col("id") + idOffset).as("doc_id"),
        concat(lit("soak doc "), (col("id") + idOffset).cast("string"))
          .as("text"),
        lit("en").as("lang"),
        concat(lit("src"), (col("id") % 5).cast("string")).as("source"),
        // spread lengths so the sketch has real bucket structure
        ((col("id") + idOffset) * 37L % 5000L + 1L).as("n_chars"))
      .repartition(nFiles)
      .write.mode("append").parquet(dir)

  /** The oracle: batch sketch over everything written so far. */
  private def batchSketch(srcDir: String): Map[(String, Long), Long] =
    graft.stats.QuantileSketch.sketch(
        spark.read.parquet(srcDir), "source", "n_chars")
      .as[(String, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap

  private def storeSketch(storeDir: String): Map[(String, Long), Long] =
    StreamingQuantile.sketchFromStore(spark, storeDir)
      .as[(String, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap

  test("50-batch soak: stream, mid-run compact, injected crash+restore, " +
    "resume — store == batch sketch at every checkpoint", Slow) {
    val work = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val src = s"$work/src"
    val store = s"$work/store"
    val ckpt = s"$work/ckpt"
    def dirs: Long = Option(new java.io.File(store).listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("batch_id=")).toLong

    // ---- phase 1: 50 real micro-batches through one session
    writeDocs(src, 50, 0L)
    val t0 = System.nanoTime()
    StreamingQuantile.start(spark, src, store, ckpt, maxFilesPerTrigger = 1)
      .awaitTermination()
    val streamSec = (System.nanoTime() - t0) / 1e9
    assert(dirs == 50L, s"expected 50 batch dirs, got $dirs")
    assert(storeSketch(store) == batchSketch(src), "uncompacted != batch")

    // ---- phase 2: mid-run compaction (read-equality preserved)
    val (mergedRows, before) = StreamingQuantile.compactStore(spark, store)
    assert(before == 50L && mergedRows > 0)
    assert(dirs == 1L, s"compaction left $dirs dirs")
    assert(storeSketch(store) == batchSketch(src), "compacted != batch")

    // ---- phase 3: injected crash mid-swap (the exact state a killed
    // compactor leaves: lock held, batch dirs moved out, tmp present),
    // then mechanical recovery
    import java.nio.file.{Files => F, Paths}
    val old = Paths.get(store + ".compact-old")
    F.createDirectory(old)
    Option(new java.io.File(store).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("batch_id="))
      .foreach(d => F.move(d.toPath, old.resolve(d.getName)))
    F.createDirectory(Paths.get(store + ".compact-tmp"))
    F.createDirectory(Paths.get(store + ".compact-lock"))
    // readers refuse loudly while crashed, instead of returning empty
    val refused = intercept[IllegalArgumentException](
      StreamingQuantile.sketchFromStore(spark, store).collect())
    assert(refused.getMessage.contains("compact-lock"), refused.getMessage)
    assert(StreamingQuantile.restoreStore(store) != "clean")
    assert(storeSketch(store) == batchSketch(src), "restored != batch")

    // ---- phase 3b: torn-swap injections (r14 atomic publish, VERDICT
    // r13 item 4). At BOTH crash points of a versioned compaction a raw
    // UNGUARDED read of the store path must return the complete sketch —
    // an empty or partially-swapped store is structurally impossible,
    // not just lock-refused.
    val want = batchSketch(src)
    def rawSketch(): Map[(String, Long), Long] =
      spark.read.parquet(store).groupBy(col("source"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
        .as[(String, Long, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
    val storeP = Paths.get(store)
    val lock = Paths.get(store + ".compact-lock")
    assert(F.isSymbolicLink(storeP), "phase-2 compaction should have " +
      "migrated the store to the versioned symlink layout")
    def buildVersion(p: java.nio.file.Path): Unit = {
      spark.read.parquet(store).select("source", "bucket", "cnt")
        .coalesce(1).write.parquet(p.resolve("batch_id=-1").toString)
      F.createFile(p.resolve("_COMPACT_OK"))
    }
    // crash point A: replacement fully built + verified but NOT
    // published (lock still held) — the live store is the complete OLD
    // version; restore discards the orphan build
    val v99 = Paths.get(store + ".v99")
    buildVersion(v99)
    F.createDirectory(lock)
    assert(rawSketch() == want, "unpublished build-aside leaked into a read")
    assert(StreamingQuantile.restoreStore(store) == "clean")
    assert(!F.exists(v99), "orphan build-aside survived restore")
    assert(storeSketch(store) == want, "post-restore(A) != batch")
    // crash point B: the atomic symlink publish LANDED but the
    // superseded version was not yet cleaned (lock still held) — the
    // live store is the complete NEW version; restore deletes the
    // superseded dir and reports the compaction finished
    val prevTarget = storeP.getParent.resolve(F.readSymbolicLink(storeP))
    val v100 = Paths.get(store + ".v100")
    buildVersion(v100)
    val swapLink = Paths.get(store + ".swap-link")
    F.createSymbolicLink(swapLink, v100.getFileName)
    F.move(swapLink, storeP,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    F.createDirectory(lock)
    assert(rawSketch() == want, "post-publish read lost rows")
    assert(F.exists(prevTarget), "injection precondition: superseded dir present")
    assert(StreamingQuantile.restoreStore(store) == "finished")
    assert(!F.exists(prevTarget), "superseded version survived restore")
    assert(storeSketch(store) == want, "post-restore(B) != batch")

    // ---- phase 3c: the ADVICE r14 double-count hazard. A stale legacy
    // .compact-tmp lingers while an r14 migration crash left trash +
    // symlinked root: the root resolves to the COMPLETE merged version,
    // and the trash holds pre-merge batch_id=N partials whose mass is
    // ALREADY inside batch_id=-1. Restore must report the compaction
    // finished and DISCARD the trash — moving it back through the
    // symlink would double-count every row under sum-merge.
    val trashC = Paths.get(store + ".compact-old")
    F.createDirectory(trashC)
    // a pre-merge partial: re-materialize the merged content as a
    // batch_id=7 partial inside the trash (its re-addition would double
    // every bucket count, so a silent move-back flips the equality)
    spark.read.parquet(store).select("source", "bucket", "cnt")
      .coalesce(1).write.parquet(trashC.resolve("batch_id=7").toString)
    F.createDirectory(Paths.get(store + ".compact-tmp"))
    F.createDirectory(lock)
    assert(StreamingQuantile.restoreStore(store) == "finished")
    assert(!F.exists(trashC), "pre-merge trash survived restore")
    assert(!F.exists(Paths.get(store + ".compact-tmp")), "stale tmp survived")
    assert(storeSketch(store) == want,
      "post-restore(C) != batch — pre-merge partials were double-counted")

    // ---- phase 4: append-after-compact resume (10 more batches on the
    // same checkpoint — source offsets survive the compaction)
    writeDocs(src, 10, 400L)
    StreamingQuantile.start(spark, src, store, ckpt, maxFilesPerTrigger = 1)
      .awaitTermination()
    assert(dirs >= 2L, s"resume appended nothing: $dirs dirs")
    assert(storeSketch(store) == batchSketch(src), "post-resume != batch")
    // and the quantile read-off still works end-to-end
    val q = StreamingQuantile.quantilesFromStore(spark, store)
      .collect()
    assert(q.length == 5 * 3, q.mkString(","))
    info(f"soak: 50+10 batches, stream $streamSec%.1f s, " +
      f"merged_rows=$mergedRows, final_dirs=$dirs")
  }
}
