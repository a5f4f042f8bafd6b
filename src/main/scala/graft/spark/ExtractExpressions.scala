package graft.spark

import graft.core.Extractor
import org.apache.spark.sql.{GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal,
  QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static forwarders the generated (whole-stage codegen) Java calls into —
  * a Scala top-level object compiles to a class with true static methods, so
  * `graft.spark.ExtractTextKernel.evalText(...)` is valid generated code.
  */
object ExtractTextKernel {
  private def run(convId: UTF8String, turnIdx: Int, text: UTF8String, tool: UTF8String) =
    Extractor.extractTurn(
      if (convId == null) "" else convId.toString,
      turnIdx,
      if (text == null) null else text.toString,
      if (tool == null) null else tool.toString)

  def evalText(convId: UTF8String, turnIdx: Int, text: UTF8String, tool: UTF8String): UTF8String =
    UTF8String.fromString(run(convId, turnIdx, text, tool).text)

  def evalStatus(convId: UTF8String, turnIdx: Int, text: UTF8String, tool: UTF8String): UTF8String =
    UTF8String.fromString(run(convId, turnIdx, text, tool).status)
}

/** Native Catalyst expression (NOT a UDF): the per-turn extraction kernel as
  * a codegen'd scalar function. `doGenCode` emits a direct static call, so
  * the whole-stage-codegen span stays unbroken around it — the "(b) custom
  * Catalyst Expression" tier of the build rules (SURVEY.md §7.3; the column
  * variant of O9-O12).
  *
  * `which` selects the output field ("text" | "status") so the expression
  * stays a simple StringType scalar (struct-returning variants cost an
  * InternalRow per output and are not needed by the equality contract).
  */
case class ExtractTurnField(
    convId: Expression,
    turnIdx: Expression,
    text: Expression,
    tool: Expression,
    which: String
) extends QuaternaryExpression {

  override def first: Expression = convId
  override def second: Expression = turnIdx
  override def third: Expression = text
  override def fourth: Expression = tool

  // input typing enforced at build time (GraftExtensions.fn) — Spark 4 hides
  // AbstractDataType (private[spark]), so ExpectsInputTypes is unavailable
  // to third-party expressions; the builder checks arity and child types.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val expected = Seq(StringType, IntegerType, StringType, StringType)
    val actual = children.map(_.dataType)
    if (actual == expected) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"extract_* expects (string, int, string, string), got (${actual.mkString(", ")})")
  }
  override def dataType: DataType = StringType
  // null-intolerant semantics: any null child -> null result
  override def nullable: Boolean = children.exists(_.nullable)

  private val method = if (which == "status") "evalStatus" else "evalText"

  override def nullSafeEval(c: Any, i: Any, t: Any, o: Any): Any =
    if (which == "status")
      ExtractTextKernel.evalStatus(c.asInstanceOf[UTF8String], i.asInstanceOf[Int],
        t.asInstanceOf[UTF8String], o.asInstanceOf[UTF8String])
    else
      ExtractTextKernel.evalText(c.asInstanceOf[UTF8String], i.asInstanceOf[Int],
        t.asInstanceOf[UTF8String], o.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, i, t, o) =>
      s"graft.spark.ExtractTextKernel.$method($c, $i, $t, $o)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(convId = newFirst, turnIdx = newSecond, text = newThird, tool = newFourth)
}

/** SQL registration. Two deployment paths:
  *   - cluster: `--conf spark.sql.extensions=graft.spark.GraftExtensions`
  *   - in-session: [[GraftExtensions.register]] on an existing SparkSession.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {
  private def fn(name: String, which: String) = (
    FunctionIdentifier(name),
    new ExpressionInfo(classOf[ExtractTurnField].getName, name),
    (children: Seq[Expression]) => {
      require(children.length == 4, s"$name(conv_id, turn_idx, text, tool) takes 4 arguments")
      ExtractTurnField(children(0), children(1), children(2), children(3), which)
    }
  )

  private val vecDotFn = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "vec_dot(a, b) takes 2 arguments")
      VecDot(children(0), children(1))
    }
  )

  import HashFunctions._

  /** The native kernels, SQL-registered from their [[HashFunctions]]
    * declarations so the kernel set is reachable from pure SQL (not just
    * the DataFrame DSL). `span_blocks` goes through its column builder, so
    * its width is an int literal with the same positive-width guard.
    */
  val functions = Seq(
    fn("extract_text", "text"), fn("extract_status", "status"), vecDotFn) ++
    Seq(shingles3Kernel, minHash16Kernel, rollingHashKernel, simHash16Kernel,
      urlCanonicalKernel).map(_.sqlFunction()) :+
    spanBlocksKernel.sqlFunction {
      case Seq(text, Literal(w: Int, IntegerType)) =>
        GraftColumnBridge.expression(spanBlocks(GraftColumnBridge.column(text), w))
      case args => throw new IllegalArgumentException(
        "span_blocks(text, width) takes a text and an int literal width, got " +
          args.mkString(", "))
    }

  /** Imperative registration on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
