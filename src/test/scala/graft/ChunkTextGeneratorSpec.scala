package graft

import org.apache.spark.sql.functions._
import graft.functions.ChunkText
import graft.ingest.Ingest

class ChunkTextGeneratorSpec extends SparkSpec {
  import spark.implicits._

  test("generator output equals the UDF + posexplode ingest form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaGen = docs.select($"doc_id",
        ChunkText($"text", 200, 50).as(Seq("chunk_index", "total_chunks", "content")))
      .orderBy("doc_id", "chunk_index")
    val viaUdf = Ingest.chunkDocuments(docs.select($"doc_id", $"text"),
        "text", chunkSize = 200, overlap = 50)
      .select($"doc_id", $"chunk_index", $"total_chunks", $"content")
      .orderBy("doc_id", "chunk_index")
    val a = viaGen.collect()
    val b = viaUdf.collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("SQL LATERAL VIEW surface") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "chunk_text", GraftExtensions.builder("chunk_text"), "built-in")
    Seq((1L, "aaaa bbbb cccc dddd")).toDF("id", "text")
      .createOrReplaceTempView("chunk_docs")
    val got = spark.sql(
      """SELECT id, chunk_index, total_chunks, content
        |FROM chunk_docs
        |LATERAL VIEW chunk_text(text, 10, 2) AS chunk_index, total_chunks, content
        |""".stripMargin).collect()
    assert(got.length > 1)
    assert(got.forall(_.getInt(2) == got.length)) // total_chunks consistent
    assert(got.map(_.getInt(1)).toSeq == got.indices.toSeq) // dense ordinals
    // chunks reconstruct the text modulo overlap: every chunk ≤ 10 chars
    assert(got.forall(_.getString(3).length <= 10))
  }

  test("null and empty text emit no rows") {
    val df = Seq((1L, null: String), (2L, "")).toDF("id", "text")
    val got = df.select($"id",
      ChunkText($"text", 10, 2).as(Seq("i", "n", "c")))
    assert(got.count() == 0)
  }
}
