package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.VectorDb
import graft.ingest.Ingest

/** The reference-endpoint facade (SURVEY.md §2.1/§2.9): add → query →
  * stats → clear/health flows and every preserved quirk.
  */
class VectorDbSpec extends SparkSpec {
  import spark.implicits._

  private def freshDb(): (VectorDb, String) = {
    val dir = Files.createTempDirectory("graft_vdb").toString + "/store"
    (new VectorDb(spark, dir), dir)
  }

  private def sampleCorpus() = Ingest.ingestDocuments(
    Seq(
      ("a.md", ".md", "the quick brown fox jumps over the lazy dog"),
      ("b.py", ".py", "vector database query runner main loop"),
      ("c.md", ".md", "similarity search over embedded documents")
    ).toDF("path", "extension", "text"),
    "text")

  test("add -> health -> query -> stats round trip") {
    val (db, _) = freshDb()
    assert(db.health().status == "empty")

    val res = db.addDocuments(sampleCorpus())
    assert(res.added == 3L && res.dropped == 0L)
    assert(db.health() == db.Health("healthy", 3L, true))

    val hits = db.query("vector database query", topK = 2).collect()
    assert(hits.nonEmpty && hits.length <= 2)
    // the .py doc matches its own words best
    assert(hits.head.getAs[String]("path") == "b.py")

    val st = db.stats()
    assert(st.totalDocuments == 3L)
    assert(st.uniqueFiles == 3L)
    assert(st.byExtension == Map(".md" -> 2L, ".py" -> 1L))
    assert(st.avgChunksPerFile == 1.0) // every sample doc fits one chunk
  }

  test("schema-invalid rows are dropped, not fatal (F5)") {
    val (db, _) = freshDb()
    val withBad = sampleCorpus()
      .withColumn("embedding",
        when(col("path") === "a.md", lit(null)).otherwise(col("embedding")))
    val res = db.addDocuments(withBad)
    assert(res.added == 2L && res.dropped == 1L)
    assert(db.health().documents == 2L)
  }

  test("add counts come from the write pass: an empty or all-invalid " +
    "batch reports its counts and appends nothing") {
    val (db, _) = freshDb()
    assert(db.addDocuments(sampleCorpus().limit(0)) == db.AddResult(0L, 0L))
    val allBad = sampleCorpus().withColumn("content", lit(null).cast("string"))
    assert(db.addDocuments(allBad) == db.AddResult(0L, 3L))
    db.addDocuments(sampleCorpus())
    assert(db.health().documents == 3L)
  }

  test("stats of a store whose only batch was all-invalid reads zeros") {
    val (db, _) = freshDb()
    db.addDocuments(sampleCorpus().withColumn("content", lit(null).cast("string")))
    assert(db.stats() == db.DbStats(0L, 0L, 0.0, 0.0, Map.empty))
  }

  test("re-ingest APPENDS duplicates (quirk 5)") {
    val (db, _) = freshDb()
    db.addDocuments(sampleCorpus())
    db.addDocuments(sampleCorpus())
    assert(db.health().documents == 6L)
    // last-wins avg still 1.0 across the duplicate ingests
    assert(db.stats().avgChunksPerFile == 1.0)
  }

  test("invalid topK coerces to 5 (quirk 7); dim mismatch is fatal (quirk 8)") {
    val (db, _) = freshDb()
    db.addDocuments(sampleCorpus())
    // coerced k=5 over a 3-doc corpus: bounded by matches, never errors
    assert(db.query("vector", topK = -3).count() <= 5)
    intercept[IllegalArgumentException](db.queryVec(Seq(1.0, 2.0)))
  }

  test("query against an empty corpus is a hard error") {
    val (db, _) = freshDb()
    db.addDocuments(sampleCorpus())
    db.clear(backup = false)
    intercept[Exception](db.query("anything"))
  }

  test("clear backs up then truncates a PARTITIONED store (S8)") {
    val (db, dir) = freshDb()
    // a partitioned write puts data files in subdirectories — backup and
    // truncate must walk the tree, not just the top-level listing
    sampleCorpus().write.partitionBy("extension").mode("append").parquet(dir)
    val bak = db.clear()
    assert(bak.isDefined)
    assert(db.health().status == "empty")
    assert(spark.read.parquet(bak.get).count() == 3L)
    db.addDocuments(sampleCorpus())
    assert(db.health().documents == 3L)
  }

  test("queryVec skips null embeddings when sampling the corpus dimension") {
    val (db, dir) = freshDb()
    // a null embedding written by a path other than addDocuments must not
    // NPE the dimension check
    sampleCorpus()
      .withColumn("embedding",
        when(col("path") === "a.md", lit(null)).otherwise(col("embedding")))
      .write.mode("append").parquet(dir)
    assert(db.query("vector database", topK = 2).count() >= 1)
  }

  test("clear backs up then truncates (S8)") {
    val (db, dir) = freshDb()
    db.addDocuments(sampleCorpus())
    val bak = db.clear()
    assert(bak.isDefined)
    assert(db.health().status == "empty")
    // the backup is a readable parquet copy of the pre-clear corpus
    assert(spark.read.parquet(bak.get).count() == 3L)
    // and a fresh add works after truncation
    db.addDocuments(sampleCorpus())
    assert(db.health().documents == 3L)
  }
}
