package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.Chunker
import graft.embed.Embedder

/** The reference's ingest pipeline (clone → walk → filter → chunk → embed →
  * store, `/root/reference/repo_to_vector.py:469-525`) re-expressed as one
  * lazy DataFrame chain: scan → filters → chunk (1→N generator) → embed →
  * parquet append. No shuffle anywhere — ingest is embarrassingly parallel;
  * Catalyst fuses the filters into the scan stage (SURVEY.md §3.1).
  */
object Ingest {

  /** Default extension allowlist, mirroring repo_to_vector.py:67-71. */
  val DefaultExtensions: Seq[String] = Seq(
    ".py", ".js", ".ts", ".java", ".c", ".cpp", ".h", ".hpp", ".cs", ".go",
    ".rs", ".rb", ".php", ".scala", ".kt", ".swift", ".md", ".txt", ".json",
    ".yaml", ".yml", ".toml", ".sql", ".sh")

  val MaxFileBytes: Long = 10L * 1024 * 1024 // repo_to_vector.py:207-211

  /** F4, the non-empty rule of [[scanFiles]]: a file is kept when its
    * content holds a character outside `Blank` (space, `\t`, `\n`, `\r`,
    * `\x0b`, `\x0c`), the whitespace the reference's `content.strip()`
    * test drops (repo_to_vector.py:222-225). Spark's one-argument `trim`
    * strips only spaces, so it cannot state this rule.
    */
  private[graft] val Blank: String = " \t\n\r\u000b\f"

  /** Scan a directory tree of source files into a (path, extension, size,
    * content) table, applying the reference's filters F1-F4 + P1
    * (SURVEY.md §2.2): hidden-path prune, extension allowlist, 10 MB size
    * cap, non-empty content. Uses the binaryFile source so the size filter
    * is evaluated on metadata before content is materialized.
    */
  def scanFiles(spark: SparkSession, rootDir: String,
                extensions: Seq[String] = DefaultExtensions): DataFrame = {
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(rootDir)
      // Pattern.quote: a rootDir containing regex metacharacters
      // ("/data/repo(1)", "/tmp/c++") must strip literally, not throw
      // PatternSyntaxException or over-match
      .withColumn("path", regexp_replace(col("path"),
        "^file:" + java.util.regex.Pattern.quote(rootDir) + "/?", ""))
      .withColumn("extension", regexp_extract(col("path"), "(\\.[^./]+)$", 1))
      .filter(!col("path").rlike("(^|/)\\."))                    // F1 hidden
      .filter(col("extension").isin(extensions: _*))             // F2 ext
      .filter(col("length") <= MaxFileBytes)                     // F3 size
      .withColumn("content", col("content").cast("string"))      // S3 decode
      .filter(trim(col("content"), Blank) =!= "")                // F4 empty
      .select(col("path"), col("extension"), col("length").as("size"),
        col("content"))
  }

  /** 1→N chunk generator (SURVEY.md §2.3): text column → one row per chunk
    * with dense 0-based `chunk_index` and per-document `total_chunks` —
    * the Spark-native phrasing of the reference's chunk loop + ordinal
    * attachment (repo_to_vector.py:332,341,354-355). Single pass: the
    * chunk array is materialized once, sized, then posexploded.
    */
  def chunkDocuments(docs: DataFrame, textCol: String = "text",
                     chunkSize: Int = Chunker.DefaultChunkSize,
                     overlap: Int = Chunker.DefaultOverlap): DataFrame = {
    val chunkUdf = udf((s: String) => Chunker.chunk(s, chunkSize, overlap))
    val keep = docs.columns.filter(_ != textCol).map(col).toSeq
    docs.withColumn("chunks", chunkUdf(col(textCol)))
      .withColumn("total_chunks", size(col("chunks")))
      .select(keep ++ Seq(col("total_chunks"),
        posexplode(col("chunks")).as(Seq("chunk_index", "content"))): _*)
  }

  /** Full ingest: chunk + embed + timestamp — the document-chunk table of
    * SURVEY.md §1.1 (path→doc_id, extension→source in the testdata analog).
    */
  def ingestDocuments(docs: DataFrame, textCol: String = "text",
                      chunkSize: Int = Chunker.DefaultChunkSize,
                      overlap: Int = Chunker.DefaultOverlap,
                      embedder: Embedder = Embedder.Default): DataFrame =
    chunkDocuments(docs, textCol, chunkSize, overlap)
      .withColumn("embedding", Embedder.embedColumn(col("content"), embedder))
      .withColumn("ingested_at", current_timestamp())

  /** Greedy sequential sequence packing: assign each row to a bin so
    * consecutive rows (in `orderCol` order within `groupCol`) fill a
    * `budget`-sized token budget — the batch-construction step of a
    * training pipeline (documents → fixed-token training sequences).
    * bin = floor(exclusive-prefix-sum(weight) / budget): deterministic,
    * one window pass, no driver state. A document straddling a boundary
    * starts in the bin its prefix sum lands in (truncation/continuation
    * is the consumer's policy). One shuffle on `groupCol`; at 100 TB
    * pack per ingest partition instead (drop `groupCol` partitioning)
    * to keep the window narrow.
    */
  def packSequences(df: DataFrame, groupCol: String, orderCol: String,
                    weightCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    // ROWS, not the default RANGE frame: RANGE includes ALL peer rows of
    // a tied orderCol value in the running sum, which breaks the
    // exclusive-prefix-sum contract whenever the ordering column is not
    // unique (ties would all see the same post-tie cumulative weight)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("__cum",
        sum(col(weightCol)).over(w) - col(weightCol))
      .withColumn("bin", floor(col("__cum") / budget).cast("long"))
      .drop("__cum")
  }

  /** Name under which [[observedIngest]] registers its metrics. */
  val MetricsName = "graft_ingest"

  /** Ingest with observed metrics — the A8 ingest counters of the
    * reference (`repo_to_vector.py:58-64,452-467`: chunks created,
    * content bytes, files processed) as `df.observe` aggregates: computed
    * inline by the executors during the SAME pass (no second job), and
    * delivered to the driver via QueryExecutionListener / `Observation`.
    */
  def observedIngest(observation: org.apache.spark.sql.Observation,
                     docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id",
                     chunkSize: Int = Chunker.DefaultChunkSize,
                     overlap: Int = Chunker.DefaultOverlap,
                     embedder: Embedder = Embedder.Default): DataFrame =
    ingestDocuments(docs, textCol, chunkSize, overlap, embedder)
      .observe(observation,
        count(lit(1)).as("chunks_created"),
        sum(length(col("content"))).as("content_chars"),
        approx_count_distinct(col(idCol)).as("docs_processed_approx"))
}
