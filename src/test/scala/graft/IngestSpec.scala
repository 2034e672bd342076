package graft

import org.apache.spark.sql.functions._
import graft.ingest.Ingest
import graft.text.Chunker

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("chunkDocuments: dense chunk_index, correct total_chunks, parity with Chunker") {
    val docs = Seq(
      (1L, "short doc"),
      (2L, ("y" * 450)),
      (3L, "")
    ).toDF("doc_id", "text")
    val got = Ingest.chunkDocuments(docs, "text", chunkSize = 200, overlap = 50)
      .select($"doc_id", $"chunk_index", $"total_chunks", $"content")
      .as[(Long, Int, Int, String)].collect().sortBy(r => (r._1, r._2))

    val exp2 = Chunker.chunk("y" * 450, 200, 50)
    assert(got.filter(_._1 == 1L).map(_._4).toSeq == Seq("short doc"))
    assert(got.filter(_._1 == 2L).map(_._4).toSeq == exp2)
    assert(got.filter(_._1 == 2L).map(_._2).toSeq == exp2.indices)
    assert(got.filter(_._1 == 2L).forall(_._3 == exp2.length))
    assert(!got.exists(_._1 == 3L)) // empty text → zero chunks
  }

  test("ingestDocuments attaches embeddings of the chunk content") {
    val docs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val row = Ingest.ingestDocuments(docs, "text").select($"content", $"embedding")
      .as[(String, Seq[Float])].head()
    assert(row._2 == graft.embed.Embedder.Default.embed(row._1).toSeq)
  }

  test("scanFiles applies hidden/extension/empty filters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scan").toFile
    def put(rel: String, content: String): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    put("keep.py", "print('hi')")
    put("sub/keep.md", "# doc")
    put(".hidden/skip.py", "nope")
    put("skip.bin", "binary-ish")
    put("empty.py", "   ")
    put("blank.py", "\n\t\n")
    val got = Ingest.scanFiles(spark, dir.getAbsolutePath)
      .select($"path").as[String].collect().toSet
    assert(got == Set("keep.py", "sub/keep.md"))
  }

  test("Convert main: synthesized worktree -> document-chunk parquet, append semantics") {
    val repo = java.nio.file.Files.createTempDirectory("graft-convert-src").toFile
    def put(rel: String, content: String): Unit = {
      val f = new java.io.File(repo, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    put("src/main.py", "def main():\n    return 42\n" * 30) // long enough to chunk
    put("README.md", "# sample project\nwith docs")
    put(".git/config", "[core]")        // hidden tree pruned
    put("image.png", "not really a png") // extension filtered
    val out = java.nio.file.Files.createTempDirectory("graft-convert-out")
      .toString + "/store"
    val m = Convert.run(spark, repo.getAbsolutePath, out)
    val stored = spark.read.parquet(out)
    assert(m("chunks_created").asInstanceOf[Long] == stored.count())
    assert(stored.columns.toSet == Set("path", "extension", "size",
      "total_chunks", "chunk_index", "content", "embedding", "ingested_at"))
    val paths = stored.select($"path").distinct().as[String].collect().toSet
    assert(paths == Set("src/main.py", "README.md"))
    // chunk ordinals are dense per document and match total_chunks
    val perDoc = stored.groupBy($"path")
      .agg(count(lit(1)).as("n"), max($"chunk_index").as("mx"),
        max($"total_chunks").as("tc"))
      .as[(String, Long, Int, Int)].collect()
    assert(perDoc.forall { case (_, n, mx, tc) => n == tc && mx == tc - 1 })
    // re-running APPENDS (the reference's batched /add semantics)
    val n1 = stored.count()
    Convert.run(spark, repo.getAbsolutePath, out)
    assert(spark.read.parquet(out).count() == 2 * n1)
  }

  test("observedIngest reports A8 counters inline with the ingest pass") {
    val obs = new org.apache.spark.sql.Observation("ingest_test")
    val docs = Seq(
      (1L, "alpha beta " * 40), // long enough to chunk
      (2L, "tiny doc")
    ).toDF("doc_id", "text")
    val out = Ingest.observedIngest(obs, docs, chunkSize = 100, overlap = 20)
    val nRows = out.count() // one action; metrics piggyback on it
    val m = obs.get
    assert(m("chunks_created") == nRows)
    assert(m("content_chars").asInstanceOf[Long] > 0L)
    assert(m("docs_processed_approx").asInstanceOf[Long] == 2L)
  }

  test("packSequences fills budget-sized bins in order, per group") {
    val rows = Seq(
      // group a: weights 300, 300, 300, 300 → exclusive cumsum 0/300/600/900
      ("a", 1L, 300L), ("a", 2L, 300L), ("a", 3L, 300L), ("a", 4L, 300L),
      // group b: one oversized doc then a small one
      ("b", 1L, 1200L), ("b", 2L, 10L)
    ).toDF("g", "id", "w")
    val got = Ingest.packSequences(rows, "g", "id", "w", budget = 512L)
      .select($"g", $"id", $"bin").as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("a", 1L, 0L), ("a", 2L, 0L),  // 0 and 300 both < 512
      ("a", 3L, 1L), ("a", 4L, 1L),  // 600 and 900 in [512, 1024)
      ("b", 1L, 0L), ("b", 2L, 2L))) // oversized doc pushes successor to bin 2
    // deterministic under repartitioning
    val again = Ingest.packSequences(rows.repartition(5), "g", "id", "w", 512L)
      .select($"g", $"id", $"bin").as[(String, Long, Long)].collect().toSet
    assert(again == got)
    intercept[IllegalArgumentException] {
      Ingest.packSequences(rows, "g", "id", "w", budget = 0L)
    }
  }

  test("packSequences: tied order values still bin by running row sum (ROWS frame)") {
    // with the default RANGE frame, all three tied rows would see the
    // post-tie cumulative sum and land together in a later bin
    val rows = Seq(("g", 1L, 300L), ("g", 1L, 300L), ("g", 1L, 300L))
      .toDF("g", "id", "w")
    val bins = Ingest.packSequences(rows, "g", "id", "w", budget = 512L)
      .select($"bin").as[Long].collect().sorted.toSeq
    // exclusive prefix sums 0/300/600 → bins 0, 0, 1
    assert(bins == Seq(0L, 0L, 1L))
  }
}
