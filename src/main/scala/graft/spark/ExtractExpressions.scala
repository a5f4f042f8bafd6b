package graft.spark

import graft.core.Extractor
import org.apache.spark.sql.{GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-turn extraction kernel as two SQL scalar functions,
  * `extract_text` and `extract_status(conv_id, turn_idx, text, tool)`,
  * declared as [[GraftColumnBridge.StaticKernel]]s like every other native
  * kernel: whole-stage codegen emits a direct static call into this object,
  * NULL in any argument gives NULL out, and the input types are checked (with
  * implicit casts) at analysis.
  */
object ExtractTextKernel {
  private def run(convId: UTF8String, turnIdx: Int, text: UTF8String, tool: UTF8String) =
    Extractor.extractTurn(convId.toString, turnIdx, text.toString, tool.toString)

  def evalText(convId: UTF8String, turnIdx: Int, text: UTF8String, tool: UTF8String): UTF8String =
    UTF8String.fromString(run(convId, turnIdx, text, tool).text)

  def evalStatus(convId: UTF8String, turnIdx: Int, text: UTF8String, tool: UTF8String): UTF8String =
    UTF8String.fromString(run(convId, turnIdx, text, tool).status)

  private val inputTypes = Seq(StringType, IntegerType, StringType, StringType)
  private[graft] val textKernel =
    GraftColumnBridge.StaticKernel("extract_text", this, "evalText", StringType, inputTypes)
  private[graft] val statusKernel =
    GraftColumnBridge.StaticKernel("extract_status", this, "evalStatus", StringType, inputTypes)
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
  private val vecDotFn = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "vec_dot(a, b) takes 2 arguments")
      VecDot(children(0), children(1))
    }
  )

  import HashFunctions._

  /** The native kernels, SQL-registered from their [[ExtractTextKernel]]
    * and [[HashFunctions]] declarations so the kernel set is reachable from
    * pure SQL (not just the DataFrame DSL). `span_blocks` goes through its
    * column builder, so its width is an int literal with the same
    * positive-width guard.
    */
  val functions = Seq(vecDotFn) ++
    Seq(ExtractTextKernel.textKernel, ExtractTextKernel.statusKernel, shingles3Kernel,
      minHash16Kernel, rollingHashKernel, simHash16Kernel,
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
