package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** Column <-> Expression bridge for graft's native Catalyst expressions.
  * Spark 4 routes Column through ColumnNode and keeps the conversion
  * helpers `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`),
  * so third-party expressions need this one-hop shim — the standard pattern
  * for Spark extension libraries (same access trick Spark connectors use).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** One static kernel method, declared once: `kernel`'s `method` (a Scala
    * `object`'s method, reached through its static forwarder), its result
    * type, its argument types, whether a non-NULL input can still give a
    * NULL result and whether NULL in any argument gives NULL out
    * (`propagateNull`; when false the kernel is called with the NULLs).
    * Built as Spark's own `StaticInvoke`: whole-stage codegen emits a direct
    * call `graft.spark.XKernel.method(...)`, the interpreted path finds the
    * same method by reflection, and `inputTypes` type-checks (with implicit
    * casts) at analysis. Parameters a caller fixes (widths, word sets, weights) are
    * literal arguments; they must compare by value so that two equal builds
    * are `semanticEquals` and share one subexpression-eliminated call.
    */
  final case class StaticKernel(
      name: String,
      kernel: AnyRef,
      method: String,
      dataType: DataType,
      inputTypes: Seq[DataType],
      returnNullable: Boolean = false,
      propagateNull: Boolean = true) {

    def expr(args: Seq[Expression]): Expression = {
      require(args.length == inputTypes.length,
        s"$name takes ${inputTypes.length} argument(s), got ${args.length}")
      StaticInvoke(kernel.getClass, dataType, method, args, inputTypes,
        propagateNull = propagateNull, returnNullable = returnNullable)
    }

    def apply(args: Column*): Column = column(expr(args.map(expression)))

    /** SQL registration entry `name(args...)`; `build` overrides the plain
      * argument-for-argument call where a parameter needs a guard.
      */
    def sqlFunction(build: Seq[Expression] => Expression = expr)
        : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
      (FunctionIdentifier(name),
        new ExpressionInfo(kernel.getClass.getName.stripSuffix("$"), name), build)
  }
}
