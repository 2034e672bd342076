package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming deduplication — the continuous form of the batch exact-dedup
  * operator (`graft.dedup.Dedup.exactDupGroups`), for ingest pipelines
  * where the corpus arrives as a stream and duplicates must be dropped
  * before they are ever stored (the reference instead appends them
  * forever, `/root/reference/mock_vector_db_api.py:200`).
  *
  * State discipline (the 100 TB concern): keying the state store on the
  * 128-bit content hash — never the text — keeps per-row state at a few
  * dozen bytes, and `dropDuplicatesWithinWatermark` lets Spark evict
  * state older than the watermark, so state size is bounded by the
  * duplicate-arrival horizon rather than corpus lifetime. Exact global
  * dedup over all time is the batch operator's job (periodic compaction);
  * the stream handles the common near-in-time duplicate storm.
  */
object StreamingDedup {

  /** Content hash used as the dedup key (md5 over UTF-8 bytes; same
    * portable hash as the batch operator and its DuckDB oracle).
    */
  def contentHash(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(text.cast("binary"))

  /** Drop rows whose text content was already seen within the watermark
    * horizon. `tsCol` is the event-time column the watermark rides on.
    */
  def dedupExactWithinWatermark(docs: DataFrame, tsCol: String,
                                textCol: String = "text",
                                watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("text_hash", contentHash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Continuous form of [[graft.dedup.Dedup.incrementalDedup]]: each
    * streaming micro-batch is filtered against the STATIC stored corpus
    * (exact text hash + MinHash-band near-dup, identical semantics and
    * code path to the batch operator) before it is handed to `sink` —
    * so near-duplicates of already-stored documents never reach the
    * store. foreachBatch is the right tool, not a stream-stream join:
    * the corpus side is a static table (possibly huge, read fresh each
    * batch so compactions are picked up), the batch side is small, and
    * incrementalDedup already arranges every corpus pass as a map-side
    * broadcast join. Within-stream duplicate storms are the watermark
    * operator's job ([[dedupExactWithinWatermark]]) — compose them as
    * stream → watermark dedup → this.
    *
    * Returns the started query; stop it (or await) per normal
    * Structured Streaming lifecycle.
    */
  def incrementalAgainstCorpus(stream: DataFrame, corpus: DataFrame,
                               sink: DataFrame => Unit,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               minJaccard: Double = 0.5,
                               maxBucketSize: Int = Int.MaxValue)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.dedup.Dedup.incrementalDedup(
          batch, corpus, idCol, textCol, minJaccard, maxBucketSize))
      }
      .start()
}
