package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingDistinct, StreamingDrift, StreamingLateness, StreamingQuantile}

/** Long-session soak for the streaming partial stores (HLL registers,
  * quantile buckets, drift histograms): drive ≥200 REAL micro-batches
  * through one streaming session per store (`maxFilesPerTrigger = 1`
  * over pre-split source files, AvailableNow drains them one batch
  * each), then measure the read-side question the batchId-keyed layout
  * raises at scale — does `sketchFromStore` (a scan over every batch
  * dir) stay cheap as batch dirs accumulate, and what does periodic
  * compaction buy?
  *
  * Prints one JSON line per store:
  * {"store":"quantile","batches":N,"read_uncompacted_sec":…,
  *  "read_compacted_sec":…,"read_after_resume_sec":…,"dirs_before":…}
  * — read_after_resume re-opens the stream on top of the compacted
  * store for another `resume` files, proving append-after-compact and
  * giving the steady-state (cadence) read cost.
  *
  * Usage: runMain graft.StreamSoak [nBatches] [resumeBatches] [workDir]
  */
object StreamSoak {
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(220)
    val resume = args.lift(1).map(_.toInt).getOrElse(40)
    val work = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-soak").toString)
    val spark = GraftSession("graft-stream-soak")
    spark.sparkContext.setLogLevel("ERROR")

    // Synthetic document stream: `docsPerBatch` rows per file, one file
    // per intended micro-batch, written in ONE job via repartition(n).
    def writeDocs(dir: String, nFiles: Int, idOffset: Long): Unit =
      spark.range(nFiles * 8L)
        .select(
          (col("id") + idOffset).as("doc_id"),
          concat(lit("the quick brown fox jumps over doc "),
            (col("id") + idOffset).cast("string"),
            lit(" with some shared tokens and some unique tail "),
            ((col("id") + idOffset) * 2654435761L % 1000000007L).cast("string"))
            .as("text"),
          lit("en").as("lang"),
          concat(lit("src"), (col("id") % 5).cast("string")).as("source"),
          lit(100L).as("n_chars"))
        .repartition(nFiles)
        .write.mode("append").parquet(dir)

    // Synthetic event stream for the lateness store: event_id is the
    // arrival order, ts deliberately scrambled against it (id*7919 mod
    // 3600 seconds) so every batch carries genuine disorder.
    def writeEvents(dir: String, nFiles: Int, idOffset: Long): Unit =
      spark.range(nFiles * 8L)
        .select(
          (col("id") + idOffset).as("event_id"),
          timestamp_seconds(lit(1700000000L) +
            ((col("id") + idOffset) * 7919L % 3600L)).as("ts"),
          (col("id") % 50).as("user_id"),
          concat(lit("t"), (col("id") % 3).cast("string")).as("event_type"),
          lit(0.0d).as("value"),
          lit("").as("props"))
        .repartition(nFiles)
        .write.mode("append").parquet(dir)

    case class Store(name: String,
                     start: (String, String, String) => Unit,
                     read: String => DataFrame,
                     compact: String => (Long, Long),
                     writeSrc: (String, Int, Long) => Unit = writeDocs)
    val stores = Seq(
      Store("quantile",
        (s, st, c) => { StreamingQuantile.start(spark, s, st, c, maxFilesPerTrigger = 1).awaitTermination() },
        st => StreamingQuantile.sketchFromStore(spark, st),
        st => StreamingQuantile.compactStore(spark, st)),
      Store("hll",
        (s, st, c) => { StreamingDistinct.start(spark, s, st, c, maxFilesPerTrigger = 1).awaitTermination() },
        st => StreamingDistinct.registersFromStore(spark, st),
        st => StreamingDistinct.compactStore(spark, st)),
      Store("drift",
        (s, st, c) => { StreamingDrift.start(spark, s, st, c, maxFilesPerTrigger = 1).awaitTermination() },
        st => StreamingDrift.histogramFromStore(spark, st),
        st => StreamingDrift.compactStore(spark, st)),
      Store("lateness",
        (s, st, c) => { StreamingLateness.start(spark, s, st, c, maxFilesPerTrigger = 1).awaitTermination() },
        st => StreamingLateness.histogramFromStore(spark, st),
        st => StreamingLateness.compactStore(spark, st),
        writeSrc = writeEvents))

    for (s <- stores) {
      val src = s"$work/${s.name}/src"
      val store = s"$work/${s.name}/store"
      val ckpt = s"$work/${s.name}/ckpt"
      s.writeSrc(src, n, 0L)
      val (_, streamSec) = timed(s.start(src, store, ckpt))
      val dirs = new java.io.File(store).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
      // warm + measured read over the uncompacted store
      s.read(store).count()
      val (rowsU, readU) = timed(s.read(store).count())
      val (_, compactSec) = timed(s.compact(store))
      s.read(store).count()
      val (rowsC, readC) = timed(s.read(store).count())
      require(rowsU == rowsC, s"${s.name}: compaction changed the merged row count")
      // resume: more micro-batches on top of the compacted store
      s.writeSrc(src, resume, n * 8L)
      s.start(src, store, ckpt)
      val (_, readR) = timed(s.read(store).count())
      println(f"""{"store":"${s.name}","batches":$dirs,"stream_sec":$streamSec%.1f,""" +
        f""""read_uncompacted_sec":$readU%.3f,"read_compacted_sec":$readC%.3f,""" +
        f""""compact_sec":$compactSec%.1f,"read_after_resume_sec":$readR%.3f,""" +
        f""""merged_rows":$rowsU}""")
    }
    spark.stop()
  }
}
