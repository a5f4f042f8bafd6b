package graft.spark

import graft.core.{Engines, Extractor}
import graft.model.Engine
import org.apache.spark.sql.{Column, Encoders, GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow,
  GetStructField, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, IntegerType, LongType,
  ObjectType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-turn extraction kernel as two static kernels, one on each side
  * of the salted repartition that stands in for the reference's work queue:
  *
  *  - `normalize(conv_id, turn_idx, text, tool)` runs [[Extractor.normalize]]
  *    and returns its request as one [[normalizedType]] struct (with
  *    `n_chars_in`, the UTF-16 length of `text` + `tool`, which no longer
  *    cross the shuffle);
  *  - `run(conv_id, turn_idx, normalized, config)` runs [[Extractor.run]]
  *    and returns one [[ExtractPipeline.Extracted]] row as a struct
  *    (`conv_id`/`turn_idx` echoed, so the output's nullability is the
  *    encoder's whatever the input's; `n_chars_out` is a UTF-16 length).
  *
  * NULL `conv_id`, `text` or `tool` reach the kernel as they are
  * (`propagateNull = false`); a NULL `turn_idx` is rejected, as the encoder
  * rejects it. `ExtractPipeline.extract` projects `normalize` before the
  * repartition and expands `run` after it; SQL `extract_text`/
  * `extract_status(conv_id, turn_idx, text, tool)` read one field each of
  * the same `run(normalize(...))`, so a query using both makes one
  * subexpression-eliminated call of each per row. [[turn]] is the two
  * composed on one row.
  */
object ExtractTextKernel {
  private val resultType: StructType = Encoders.product[ExtractPipeline.Extracted].schema

  /** [[Extractor.Normalized]] as a struct, `n_chars_in` first. The payload
    * is at most one binary; every field a request does not use is NULL.
    */
  val normalizedType: StructType = StructType(Seq(
    StructField("n_chars_in", IntegerType, nullable = false),
    StructField("engine", LongType),
    StructField("error", StringType),
    StructField("payload", BinaryType, nullable = false),
    StructField("chain", ArrayType(StringType, containsNull = false)),
    StructField("dark_on_light", StringType),
    StructField("time_out", LongType, nullable = false),
    StructField("args_error", StringType),
    StructField("psm", StringType),
    StructField("whitelist", StringType),
    StructField("ocr_type", StringType),
    StructField("result_optimize", BooleanType, nullable = false)))

  private def str(s: UTF8String) = if (s == null) null else s.toString
  private def utf8(s: String) = if (s == null) null else UTF8String.fromString(s)
  private def len(s: String) = if (s == null) 0 else s.length
  private def id(convId: UTF8String, turnIdx: Int) = s"${str(convId)}#$turnIdx"

  def normalize(convId: UTF8String, turnIdx: Int, text: UTF8String, tool: UTF8String): InternalRow = {
    val (in, t) = (str(text), str(tool))
    val n = Extractor.normalize(id(convId, turnIdx), in, t)
    new GenericInternalRow(Array[Any](len(in) + len(t),
      if (n.engine == null) null else n.engine.code, utf8(n.error), n.payload,
      if (n.chain.isEmpty) null else new GenericArrayData(n.chain.map(utf8).toArray[Any]),
      utf8(n.darkOnLight), n.timeOut, utf8(n.argsError), utf8(n.psm), utf8(n.whitelist),
      utf8(n.ocrType), n.resultOptimize))
  }

  def run(convId: UTF8String, turnIdx: Int, n: InternalRow,
      config: Engines.CoreConfig): InternalRow = {
    val chain = n.getArray(4)
    val r = Extractor.run(id(convId, turnIdx), Extractor.Normalized(
      if (n.isNullAt(1)) null else Engine.fromInt(n.getLong(1)), str(n.getUTF8String(2)),
      n.getBinary(3),
      if (chain == null) Nil else List.tabulate(chain.numElements())(chain.getUTF8String(_).toString),
      str(n.getUTF8String(5)), n.getLong(6), str(n.getUTF8String(7)), str(n.getUTF8String(8)),
      str(n.getUTF8String(9)), str(n.getUTF8String(10)), n.getBoolean(11)), config)
    new GenericInternalRow(Array[Any](convId, turnIdx, UTF8String.fromString(r.text),
      UTF8String.fromString(r.status), UTF8String.fromString(r.engine), n.getInt(0),
      len(r.text)))
  }

  /** [[run]] of [[normalize]]: [[Extractor.extractTurn]] as an
    * [[ExtractPipeline.Extracted]] row.
    */
  def turn(convId: UTF8String, turnIdx: Int, text: UTF8String, tool: UTF8String,
      config: Engines.CoreConfig): InternalRow =
    run(convId, turnIdx, normalize(convId, turnIdx, text, tool), config)

  private val configType = ObjectType(classOf[Engines.CoreConfig])
  private[graft] val normalizeKernel = GraftColumnBridge.StaticKernel("extract_normalize", this,
    "normalize", normalizedType, Seq(StringType, IntegerType, StringType, StringType),
    propagateNull = false)
  private[graft] val runKernel = GraftColumnBridge.StaticKernel("extract_run", this, "run",
    resultType, Seq(StringType, IntegerType, normalizedType, configType), propagateNull = false)

  private def normalizeExpr(convId: Expression, turnIdx: Expression, text: Expression,
      tool: Expression): Expression =
    normalizeKernel.expr(Seq(convId, AssertNotNull(turnIdx), text, tool))

  /** `config` is a literal argument: a case class, so equal builds are `semanticEquals`. */
  private def runExpr(convId: Expression, turnIdx: Expression, normalized: Expression,
      config: Engines.CoreConfig): Expression =
    runKernel.expr(Seq(convId, AssertNotNull(turnIdx), normalized, Literal(config, configType)))

  private def turnExpr(args: Seq[Expression], config: Engines.CoreConfig): Expression = {
    require(args.length == 4, s"the extraction kernel takes 4 arguments, got ${args.length}")
    val Seq(convId, turnIdx, text, tool) = args
    runExpr(convId, turnIdx, normalizeExpr(convId, turnIdx, text, tool), config)
  }

  private def e(c: Column) = GraftColumnBridge.expression(c)

  /** The request of one turn, as a [[normalizedType]] struct. */
  def normalize(convId: Column, turnIdx: Column, text: Column, tool: Column): Column =
    GraftColumnBridge.column(normalizeExpr(e(convId), e(turnIdx), e(text), e(tool)))

  /** The [[ExtractPipeline.Extracted]] struct of one normalized turn. */
  def run(convId: Column, turnIdx: Column, normalized: Column,
      config: Engines.CoreConfig): Column =
    GraftColumnBridge.column(runExpr(e(convId), e(turnIdx), e(normalized), config))

  /** `run(normalize(...))` in one expression. */
  def apply(convId: Column, turnIdx: Column, text: Column, tool: Column,
      config: Engines.CoreConfig): Column =
    GraftColumnBridge.column(turnExpr(Seq(convId, turnIdx, text, tool).map(e), config))

  /** One field each, under the default config. */
  private[graft] val sqlFunctions =
    Seq("extract_text" -> "text", "extract_status" -> "status").map { case (name, field) =>
      runKernel.copy(name = name).sqlFunction(args =>
        GetStructField(turnExpr(args, Engines.CoreConfig()), resultType.fieldIndex(field)))
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
