package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native md5-prefix integer hash: the first `hexLen` hex chars of
  * md5(bytes) as a non-negative long — the engine-wide
  * [[HashFunctions.md5Int32]] (hexLen = 8) / [[HashFunctions.md5Int60]]
  * (hexLen = 15) contract, computed straight from the digest bytes.
  *
  * Why native (the r19 per-stage profile of q140/q57): the composed
  * `conv(substring(md5(cast(x as binary)), 1, k), 16, 10)` chain
  * allocates the 32-char hex string, substrings it, and re-parses it
  * base-16 on EVERY evaluation — q140 evaluated it 8× per token
  * occurrence (4 sketch rows × build + probe) for 164 CPU-seconds at
  * sf1. This kernel digests the UTF-8 bytes and assembles the long
  * from the first 4 (or 7.5) digest bytes directly; values are
  * bit-identical (Md5PrefixSpec pins kernel == conv phrasing), so
  * every DuckDB oracle replays unchanged.
  */
case class Md5PrefixLong(child: Expression, hexLen: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "md5_prefix_long"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType if hexLen == 8 || hexLen == 15 =>
      TypeCheckResult.TypeCheckSuccess
    case StringType | BinaryType => TypeCheckResult.TypeCheckFailure(
      s"$prettyName supports hexLen 8 or 15, got $hexLen")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string or binary, got ${other.catalogString}")
  }

  // lazy: the child of a Column-API call is unresolved until analysis
  private lazy val isString = child.dataType == StringType

  override def nullSafeEval(input: Any): Any =
    if (isString) Md5PrefixLong.computeString(input.asInstanceOf[UTF8String], hexLen)
    else Md5PrefixLong.computeBytes(input.asInstanceOf[Array[Byte]], hexLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      if (isString)
        s"${ev.value} = graft.functions.Md5PrefixLong.computeString($a, $hexLen);"
      else
        s"${ev.value} = graft.functions.Md5PrefixLong.computeBytes($a, $hexLen);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5PrefixLong {

  def apply(c: Column, hexLen: Int): Column =
    ColumnShim.column(Md5PrefixLong(ColumnShim.expression(c), hexLen))

  private val digestLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def computeString(s: UTF8String, hexLen: Int): Long =
    computeBytes(s.getBytes, hexLen)

  def computeBytes(b: Array[Byte], hexLen: Int): Long = {
    val md = digestLocal.get()
    md.reset()
    val d = md.digest(b)
    if (hexLen == 8)
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    else // 15 hex chars = first 7 bytes + the high nibble of byte 7
      ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
        ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
        ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
        ((d(6) & 0xffL) << 4)  | ((d(7) & 0xffL) >>> 4)
  }
}
