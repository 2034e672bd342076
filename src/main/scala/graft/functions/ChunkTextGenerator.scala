package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.Chunker

/** Catalyst table-generating function for the overlap chunker — the
  * 1→N operator of the reference's ingest (SURVEY.md §2.3, reference
  * `repo_to_vector.py:256-306`) as a first-class `Generator`, so SQL can
  * phrase ingest as
  * `SELECT ... FROM docs LATERAL VIEW chunk_text(text, 1000, 200) AS
  * chunk_index, total_chunks, content`.
  *
  * Emits (chunk_index, total_chunks, content) per chunk — the per-file
  * ordinal and count the reference attaches at repo_to_vector.py:341,
  * 354-355 — without a second pass or a window function: the generator
  * sees all of one document's chunks at once, which is precisely why
  * this is a Generator and not a scalar UDF + explode.
  *
  * Generators are evaluated via `GenerateExec` (never inside
  * whole-stage codegen), so CodegenFallback costs nothing here; the
  * chunking itself runs the same JVM kernel as
  * `graft.ingest.Ingest.chunkDocuments`.
  */
case class ChunkText(child: Expression, chunkSize: Int, overlap: Int)
    extends UnaryExpression with CollectionGenerator with CodegenFallback {

  override def position: Boolean = false
  override def inline: Boolean = false

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_index", IntegerType, nullable = false),
    StructField("total_chunks", IntegerType, nullable = false),
    StructField("content", StringType, nullable = false)))

  override def collectionType: DataType = ArrayType(elementSchema, false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType =>
      // analysis-time guard: chunk_text(text, 0) would loop forever in
      // the chunker's cursor (the Chunker.require would raise only at
      // execution time, per row)
      if (chunkSize < 1) TypeCheckResult.TypeCheckFailure(
        s"chunk_text chunk_size must be >= 1, got $chunkSize")
      else if (overlap < 0) TypeCheckResult.TypeCheckFailure(
        s"chunk_text overlap must be >= 0, got $overlap")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"chunk_text expects a string column, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Nil
    val chunks = Chunker.chunk(v.asInstanceOf[UTF8String].toString,
      chunkSize, overlap)
    val n = chunks.length
    chunks.iterator.zipWithIndex.map { case (c, i) =>
      InternalRow(i, n, UTF8String.fromString(c))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ChunkText {
  /** Column-API entry: use with `df.select(..., chunkText($"text"))` via
    * `Dataset.select` + `explode`-style generator resolution.
    */
  def apply(text: Column,
            chunkSize: Int = Chunker.DefaultChunkSize,
            overlap: Int = Chunker.DefaultOverlap): Column =
    ColumnShim.column(ChunkText(ColumnShim.expression(text), chunkSize, overlap))
}
