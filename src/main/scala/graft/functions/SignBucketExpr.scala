package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** Native sign-LSH bucket id: bit i of the result is set iff component i
  * of the vector is > 0 (null/missing components contribute no bit) —
  * identical to the HOF phrasing in [[graft.search.Ann.signBucket]] and
  * its DuckDB oracle, as a single codegen-able pass: the fast path for
  * `Ann.withBucket`-style bulk bucketing, and `sign_bucket` in SQL.
  */
case class SignBucket(child: Expression, bits: Int = 8)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "sign_bucket"

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (bits >= 1 && bits <= 63) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName bits must be in [1, 63], got $bits")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    SignBucket.compute(input.asInstanceOf[ArrayData], isFloat, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SignBucket.compute($a, $isFloat, $bits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignBucket {

  def apply(vec: Column): Column =
    ColumnShim.column(SignBucket(ColumnShim.expression(vec)))

  def apply(vec: Column, bits: Int): Column =
    ColumnShim.column(SignBucket(ColumnShim.expression(vec), bits))

  def compute(arr: ArrayData, isFloat: Boolean, bits: Int): Long = {
    val n = math.min(bits, arr.numElements())
    var out = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        if (v > 0) out |= (1L << i)
      }
      i += 1
    }
    out
  }

  /** Driver-side bucket of a materialized query vector (the rule's
    * constant-folded side).
    */
  def bucketOf(vec: Array[Double], bits: Int): Long = {
    val n = math.min(bits, vec.length)
    var out = 0L
    var i = 0
    while (i < n) {
      if (vec(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }
}
