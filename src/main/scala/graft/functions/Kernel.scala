package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The one Catalyst shell around graft's fused per-row kernels: a named
  * `RuntimeReplaceable` whose replacement is Spark's `StaticInvoke` of
  * `<kernel object>.compute(args ++ literal params)`.
  *
  * The speed of a kernel lives in its `compute` loop (one pass per row,
  * no per-element expression tree); the shell only names it and checks
  * its input types. `StaticInvoke` already is that shell: whole-stage
  * codegen emits a direct `X.compute(...)` call, the interpreted path
  * calls the same method, and subexpression elimination merges repeated
  * calls. What `StaticInvoke` lacks is a name and an exact type check,
  * which this wrapper adds:
  *  - the output column is named `prettyName(args)`, as a hand-written
  *    expression would be; the literal params are not part of the name;
  *  - `argTypes` is checked here, once, for the exact types (array
  *    nullability aside). `StaticInvoke`'s own `inputTypes` stays empty,
  *    so no implicit cast widens what a kernel accepts.
  */
private[functions] case class Kernel(
    override val prettyName: String, argTypes: Seq[DataType],
    replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {

  // the replacement's (resolved) leading children, not the Column-API
  // expressions the kernel was built from: those are never analyzed
  override def parameters: Seq[Expression] =
    replacement.children.take(argTypes.length)

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = parameters.map(_.dataType)
    if (argTypes.zip(got).forall((Kernel.accepts _).tupled))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ${argTypes.map(_.catalogString).mkString(", ")}, " +
        s"got ${got.map(_.catalogString).mkString(", ")}")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(replacement = newChild)
}

private[functions] object Kernel {

  private def accepts(want: DataType, got: DataType): Boolean =
    (want, got) match {
      case (ArrayType(w, _), ArrayType(g, _)) => w == g
      case _ => want == got
    }

  /** `kernel.compute(args ++ params)` as the column `name(args)`: each
    * arg comes with the type it must have, each param is passed as a
    * literal. The output is null iff an arg is null; a kernel that maps
    * a null input to a value passes `propagateNull = false` and takes
    * the null in `compute`.
    */
  def column(kernel: AnyRef, name: String, dataType: DataType,
             args: Seq[(Column, DataType)], params: Seq[Any] = Nil,
             propagateNull: Boolean = true): Column =
    ColumnShim.column(Kernel(name, args.map(_._2),
      StaticInvoke(kernel.getClass, dataType, "compute",
        args.map(a => ColumnShim.expression(a._1)) ++ params.map(Literal(_)),
        propagateNull = propagateNull, returnNullable = false)))
}
