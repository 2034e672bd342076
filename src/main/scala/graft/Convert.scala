package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Ingest

/** The reference's `convert` subcommand minus the network
  * (`/root/reference/run_vector_db.py:66-81` → `repo_to_vector.py`
  * clone→walk→filter→chunk→embed→store): take an already-cloned local
  * worktree, run scan → filter battery → chunk (1→N) → embed → parquet.
  * Cloning itself stays driver-side prep (SURVEY.md §2.1 — this sandbox
  * has no egress; `git clone <url> dir && runMain graft.Convert dir out`
  * is the reference's exact flow).
  *
  * Usage: runMain graft.Convert <srcDir> <outDir> [chunkSize] [overlap]
  *
  * The output is the §1.1 document-chunk table
  * (path, extension, size, total_chunks, chunk_index, content,
  * embedding, ingested_at), APPEND mode — re-running adds new rows like
  * the reference's batched `/add` (SURVEY.md §2.9 append-dup quirk);
  * dedup/compaction are explicit maintenance ops, not ingest surprises.
  * The A8 ingest counters (chunks, content chars, files) are computed by
  * `df.observe` DURING the write pass and printed at the end — no
  * second job over the data.
  */
object Convert {

  /** The convert pipeline against a caller-owned session (what the spec
    * drives). Returns the observed A8 counters.
    */
  def run(spark: SparkSession, srcDir: String, outDir: String,
          chunkSize: Int = graft.text.Chunker.DefaultChunkSize,
          overlap: Int = graft.text.Chunker.DefaultOverlap): Map[String, Any] = {
    val files = Ingest.scanFiles(spark, srcDir)
    val obs = Observation()
    val corpus = Ingest.observedIngest(obs,
      files.select(col("path"), col("extension"), col("size"),
        col("content").as("text")),
      textCol = "text", idCol = "path",
      chunkSize = chunkSize, overlap = overlap)
    corpus.write.mode("append").parquet(outDir)
    obs.get
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Convert <srcDir> <outDir> [chunkSize] [overlap]")
    val srcDir = args(0)
    val outDir = args(1)
    val chunkSize = args.lift(2).map(_.toInt)
      .getOrElse(graft.text.Chunker.DefaultChunkSize)
    val overlap = args.lift(3).map(_.toInt)
      .getOrElse(graft.text.Chunker.DefaultOverlap)
    val spark = GraftSession("graft-convert")
    val t0 = System.nanoTime()
    val m = run(spark, srcDir, outDir, chunkSize, overlap)
    println(s"[convert] $srcDir -> $outDir: " +
      s"files~${m("docs_processed_approx")} " +
      s"chunks=${m("chunks_created")} " +
      s"chars=${m("content_chars")} " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
