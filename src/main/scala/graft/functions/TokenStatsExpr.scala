package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document token statistics: ONE tokenize pass yielding
  * every integer the quality/TTR family derives per doc —
  * struct(n_tok, n_uniq, stop_hits, ne_n, ne_v, ne_mx).
  *
  *   - `n_tok`     = size(tokens)            (empty tokens included)
  *   - `n_uniq`    = size(array_distinct(tokens))
  *   - `stop_hits` = size(filter(tokens, t.isin(stopWords)))
  *   - `ne_n`      = total NONEMPTY tokens   (the q155/q172 histogram's Σc)
  *   - `ne_v`      = distinct nonempty tokens (type count)
  *   - `ne_mx`     = max per-token count among nonempty tokens (0 if none)
  *
  * Tokenization is exactly [[graft.text.TextAnalysis.tokens]] —
  * `split(lower(trim(text)), '\s+')` with Spark's keep-trailing-empties
  * limit -1 — the same phrasing every sibling kernel
  * ([[TokenBigramHashes]], [[TokenHashes32]]) pins against the composed
  * form in its spec.
  *
  * Why native (the r19 per-stage profile): the composed quality score paid an
  * interpreted higher-order `filter(isin)` plus `array_distinct` over
  * string arrays per row (the q131 overhead class), and the per-doc
  * token histogram behind the per-mille-TTR score (q155/q172) was
  * phrased as explode → groupBy(doc, tok) → groupBy(doc) — TWO
  * corpus-wide shuffles of the token stream for a computation with NO
  * cross-document interaction. This kernel makes both map-only; the
  * downstream frames are doc-count-sized. TokenStatsSpec pins every
  * field against the composed phrasing, including the empty/whitespace/
  * unicode boundary shapes.
  */
case class TokenStats(child: Expression, stopWords: IndexedSeq[String])
    extends UnaryExpression {

  override def dataType: DataType = TokenStats.OutType

  override def prettyName: String = "token_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string column, got ${other.catalogString}")
  }

  // case-class field is an IndexedSeq (content equals/hashCode) so two
  // semantically identical instances canonicalize equal for Catalyst
  // CSE (the BigramWeightSum discipline); the hot path sees a HashSet
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](stopWords.length * 2)
    stopWords.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    TokenStats.compute(input.asInstanceOf[UTF8String], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TokenStats.compute($a, $set);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenStats {

  val OutType: StructType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("n_uniq", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("ne_n", LongType, nullable = false),
    StructField("ne_v", LongType, nullable = false),
    StructField("ne_mx", LongType, nullable = false)))

  def apply(text: Column, stopWords: Seq[String]): Column =
    ColumnShim.column(TokenStats(ColumnShim.expression(text),
      stopWords.toIndexedSeq))

  def compute(s: UTF8String,
              stopSet: java.util.HashSet[String]): InternalRow = {
    val toks = s.trim().toLowerCase.toString.split("\\s+", -1)
    val counts = new java.util.HashMap[String, Int](toks.length * 2)
    var stopHits = 0L
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      counts.merge(t, 1, Integer.sum)
      if (stopSet.contains(t)) stopHits += 1
      i += 1
    }
    val nTok = toks.length.toLong
    val nUniq = counts.size.toLong
    val emptyCount = counts.getOrDefault("", 0)
    val neN = nTok - emptyCount
    val neV = if (emptyCount > 0) nUniq - 1 else nUniq
    var neMx = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.nonEmpty && e.getValue > neMx) neMx = e.getValue.toLong
    }
    new GenericInternalRow(Array[Any](nTok, nUniq, stopHits, neN, neV, neMx))
  }
}
