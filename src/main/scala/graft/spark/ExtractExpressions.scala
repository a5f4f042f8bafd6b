package graft.spark

import graft.core.{Engines, Extractor}
import org.apache.spark.sql.{Column, Encoders, GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow,
  GetStructField, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.types.{IntegerType, ObjectType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-turn extraction kernel, declared once: `turn(conv_id, turn_idx,
  * text, tool, config)` runs [[Extractor.extractTurn]] and returns one
  * [[ExtractPipeline.Extracted]] row as a struct (`conv_id`/`turn_idx`
  * echoed, so the output's nullability is the encoder's whatever the
  * input's; char counts are UTF-16 lengths). NULL `conv_id`, `text` or
  * `tool` reach the kernel as they are (`propagateNull = false`); a NULL
  * `turn_idx` is rejected, as the encoder rejects it. `ExtractPipeline.extract`
  * expands the struct; SQL `extract_text`/`extract_status(conv_id, turn_idx,
  * text, tool)` read one field each of the same expression, so a query using
  * both makes one subexpression-eliminated call per row.
  */
object ExtractTextKernel {
  private val resultType: StructType = Encoders.product[ExtractPipeline.Extracted].schema

  private def str(s: UTF8String) = if (s == null) null else s.toString
  private def len(s: String) = if (s == null) 0 else s.length

  def turn(convId: UTF8String, turnIdx: Int, text: UTF8String, tool: UTF8String,
      config: Engines.CoreConfig): InternalRow = {
    val (in, t) = (str(text), str(tool))
    val r = Extractor.extractTurn(str(convId), turnIdx, in, t, config)
    new GenericInternalRow(Array[Any](convId, turnIdx, UTF8String.fromString(r.text),
      UTF8String.fromString(r.status), UTF8String.fromString(r.engine),
      len(in) + len(t), len(r.text)))
  }

  private val configType = ObjectType(classOf[Engines.CoreConfig])
  private val kernel = GraftColumnBridge.StaticKernel("extract_turn", this, "turn", resultType,
    Seq(StringType, IntegerType, StringType, StringType, configType), propagateNull = false)

  /** `config` is a literal argument: a case class, so equal builds are `semanticEquals`. */
  private def expr(args: Seq[Expression], config: Engines.CoreConfig): Expression = {
    require(args.length == 4, s"the extraction kernel takes 4 arguments, got ${args.length}")
    kernel.expr(Seq(args(0), AssertNotNull(args(1)), args(2), args(3),
      Literal(config, configType)))
  }

  def apply(convId: Column, turnIdx: Column, text: Column, tool: Column,
      config: Engines.CoreConfig): Column = GraftColumnBridge.column(
    expr(Seq(convId, turnIdx, text, tool).map(GraftColumnBridge.expression), config))

  /** One field each, under the default config. */
  private[graft] val sqlFunctions =
    Seq("extract_text" -> "text", "extract_status" -> "status").map { case (name, field) =>
      kernel.copy(name = name).sqlFunction(args =>
        GetStructField(expr(args, Engines.CoreConfig()), resultType.fieldIndex(field)))
    }
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
  val functions = Seq(vecDotFn) ++ ExtractTextKernel.sqlFunctions ++
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
