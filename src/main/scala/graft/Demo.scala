package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.embed.Embedder
import graft.ingest.Ingest
import graft.search.Search
import graft.stats.Stats

/** End-to-end demo main — the reference's `demo.sh` / `run_vector_db.py
  * demo` flow (`/root/reference/demo.sh:141-201`,
  * `run_vector_db.py:237-282`) as one Spark program:
  *
  *   convert:  scan a code directory → filter → chunk → embed → parquet
  *   query:    embed the query text → exact cosine top-k → display
  *   stats:    corpus aggregations (the `/stats` report shape)
  *
  * Usage: runMain graft.Demo [srcDir] [query]
  * With no srcDir a tiny sample repository is materialized in a temp
  * dir, so the demo is self-contained (the reference clones a GitHub
  * repo; this container has no egress).
  */
object Demo {

  /** What the demo produced — returned so DemoSpec can assert the e2e
    * flow (the reference's demo.sh is its only end-to-end artifact;
    * parity deserves a gate, VERDICT r11 item 8).
    */
  final case class Report(files: Long, chunks: Long,
                          hits: Array[org.apache.spark.sql.Row],
                          totalChunks: Long, uniqueFiles: Long,
                          byExtension: Map[String, Long])

  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-demo")
    val srcDir = args.headOption.getOrElse(sampleRepo())
    val query = args.lift(1).getOrElse("how does the vector database api work")
    run(spark, srcDir, query)
    spark.stop()
  }

  /** The demo flow against a caller-owned session (what DemoSpec
    * drives): convert -> query -> stats, printing as it goes.
    */
  def run(spark: SparkSession, srcDir: String, query: String): Report = {
    val store = Files.createTempDirectory("graft-demo-store").toString

    // ---- convert (repo → chunk+embed corpus; reference §3.1) ----
    val t0 = System.nanoTime()
    val files = Ingest.scanFiles(spark, srcDir)
    val corpus = Ingest.ingestDocuments(
      files.select(col("path"), col("extension"), col("content").as("text")),
      "text")
    corpus.write.mode("overwrite").parquet(s"$store/documents.parquet")
    val stored = spark.read.parquet(s"$store/documents.parquet")
    println(f"[demo] convert: ${files.count()}%d files -> ${stored.count()}%d chunks " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2f s (store: $store)")

    // ---- query (text → embed → top-5 ≥ 0.1; reference §3.2) ----
    val t1 = System.nanoTime()
    val qVec = Embedder.Default.embed(query).map(_.toDouble).toSeq
    val hits = Search.topK(
        stored.withColumn("chunk_id",
          abs(hash(col("path"), col("chunk_index"))).cast("long")),
        qVec, k = 5, threshold = 0.1, idCol = "chunk_id")
      .select(col("path"), col("chunk_index"),
        round(col("score"), 4).as("score"),
        // reference display truncation (query_vector_db.py:204-206)
        when(length(col("content")) > 120,
          concat(substring(col("content"), 1, 120), lit("...")))
          .otherwise(col("content")).as("preview"))
      .collect()
    println(f"[demo] query '$query' -> ${hits.length}%d hits " +
      f"in ${(System.nanoTime() - t1) / 1e9}%.2f s")
    hits.foreach { r =>
      println(f"[demo]   ${r.getAs[Double]("score")}%.4f  " +
        s"${r.getAs[String]("path")}#${r.getAs[Int]("chunk_index")}  " +
        s"${r.getAs[String]("preview").replaceAll("\\s+", " ").take(80)}")
    }

    // ---- stats (the /stats report; reference §3.3) ----
    val byExt = Stats.countByCategory(stored, "extension").collect()
    val summary = Stats.corpusStats(stored, "path", "content").head()
    println(s"[demo] stats: total_chunks=${summary.getLong(0)} " +
      s"unique_files=${summary.getLong(1)} total_kb=${summary.getDouble(2)}")
    byExt.foreach(r => println(s"[demo]   ${r.get(0)}: ${r.getLong(1)}"))
    Report(files.count(), stored.count(), hits,
      summary.getLong(0), summary.getLong(1),
      byExt.map(r => r.get(0).toString -> r.getLong(1)).toMap)
  }

  /** Self-contained stand-in for the reference's git clone step. */
  private[graft] def sampleRepo(): String = {
    val dir = Files.createTempDirectory("graft-demo-src")
    def w(name: String, text: String): Unit = {
      val p = dir.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    w("src/api.py",
      """def query_vector_database(text, top_k=5):
        |    \"\"\"Embed the text and return the top_k most similar chunks
        |    from the vector database api, with cosine scores.\"\"\"
        |    return search(embed(text), top_k)
        |""".stripMargin * 20)
    w("src/store.py",
      """class VectorStore:
        |    def add_documents(self, docs):
        |        self.documents.extend(docs)  # append-only corpus
        |""".stripMargin * 25)
    w("README.md",
      """# sample repo
        |The vector database api answers semantic queries over code chunks.
        |""".stripMargin * 15)
    w(".hidden/skip.py", "should be filtered out")
    w("data.bin", "x" * 10)
    dir.toString
  }
}
