package graft.spark

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Static kernel the generated (whole-stage codegen) Java calls into. */
object VecKernel {
  /** Sequential dot product over the leading min(|a|, |b|) elements —
    * the SAME left-to-right float-op order as
    * `aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)`
    * and DuckDB's `list_sum(list_transform(...))`, so results are
    * bit-identical to the oracle twins. Float elements widen exactly
    * ((double) f == CAST(f AS DOUBLE)). Arrays are assumed null-element
    * free (embedding columns are).
    */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }
}

/** Native codegen'd Catalyst expression (NOT a UDF): 64-dim dot products in
  * the ANN / near-dup / IVF paths were the per-candidate hot loop, and the
  * `aggregate(zip_with(...))` higher-order form evaluates one interpreted
  * lambda per element (~µs per 64-dim dot). This emits a tight primitive
  * loop instead — the "(b) custom Catalyst Expression" tier — while
  * preserving the exact float summation order of the HOF form (and
  * therefore of every DuckDB oracle twin). Accepts array<float> or
  * array<double> on either side; result is double.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (DoubleType | FloatType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects (array<float|double>, array<float|double>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def leftFloat = elemType(left).contains(FloatType)
  private def rightFloat = elemType(right).contains(FloatType)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernel.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftFloat, rightFloat)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.spark.VecKernel.dot($a, $b, $leftFloat, $rightFloat)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static kernel for [[PqSubDists]]. */
object PqKernel {
  /** The 16-entry squared-L2 distance array of one PQ subspace: for code c,
    * `(x2 - 2 * dot(sub, cb[c])) + c2[c]` where `sub` =
    * embedding[offset, offset + subDim), `x2` = the sequential sum of
    * squares of `sub`, `dot` the [[VecKernel.dot]] sequential product sum,
    * and `c2[c]` the sequential sum of squares of the sub-centroid — the
    * EXACT float-op order of the expression form
    * `(vec_dot(xs, xs) - 2.0 * vec_dot(xs, lit(cb))) + lit(c2)` over
    * `xs = slice(embedding, offset + 1, subDim)`, so argmins and ADC sums
    * are bit-identical to the DuckDB twin (pinned by a parity spec). One
    * kernel node replaces a 16-branch expression subtree per subspace —
    * the PQ queries' plans carried 8 x 16 such branches twice (encode +
    * query LUT), which dominated their Catalyst planning/codegen cost.
    */
  def subDists(emb: ArrayData, isFloat: Boolean, offset: Int,
      cb: Array[Array[Double]], c2: Array[Double]): ArrayData = {
    val subDim = cb(0).length
    val sub = new Array[Double](subDim)
    val n = emb.numElements()
    var i = 0
    while (i < subDim) {
      val idx = offset + i
      // slice semantics: truncated if the array is shorter (embeddings are
      // fixed 64-dim, so this is defensive only; missing dims contribute 0
      // exactly like vec_dot's min-length loop)
      sub(i) = if (idx < n) { if (isFloat) emb.getFloat(idx).toDouble else emb.getDouble(idx) }
        else 0.0
      i += 1
    }
    var x2 = 0.0
    i = 0
    while (i < subDim) { x2 += sub(i) * sub(i); i += 1 }
    val out = new Array[Any](cb.length)
    var c = 0
    while (c < cb.length) {
      val cv = cb(c)
      var d = 0.0
      var j = 0
      while (j < subDim) { d += sub(j) * cv(j); j += 1 }
      out(c) = (x2 - 2.0 * d) + c2(c)
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** Native codegen'd per-subspace PQ distance table (see
  * [[PqKernel.subDists]]) — the codebook rides the plan as a reference
  * object exactly as the expression form carried it as 16 array literals.
  */
case class PqSubDists(child: Expression, offset: Int,
    codeVecs: Seq[Seq[Double]]) extends UnaryExpression {
  require(codeVecs.nonEmpty && codeVecs.forall(_.length == codeVecs.head.length),
    "pq_sub_dists needs a non-empty rectangular codebook slice")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_sub_dists expects array<float|double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val cb: Array[Array[Double]] =
    codeVecs.map(_.toArray).toArray

  /** Sub-centroid squared norms, sequential sum — same value the expression
    * form computed on the driver with foldLeft.
    */
  @transient private lazy val c2: Array[Double] = cb.map { cv =>
    var s = 0.0; var i = 0
    while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
    s
  }

  override protected def nullSafeEval(e: Any): Any =
    PqKernel.subDists(e.asInstanceOf[ArrayData], isFloat, offset, cb, c2)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("cb", cb, "double[][]")
    val c2Ref = ctx.addReferenceObj("c2", c2, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.spark.PqKernel.subDists($c, $isFloat, $offset, $cbRef, $c2Ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Element-wise fixed-point vector-sum AGGREGATE: per input row, each
  * embedding element contributes `floor(CAST(x AS DOUBLE) * scale)` (one
  * correctly-rounded multiply + floor — exactly Spark's
  * `CAST(floor(CAST(x AS DOUBLE) * <scale>D) AS BIGINT)`) to a long[dims]
  * buffer; the group result is the element-wise BIGINT sum array.
  * Bit-identical to the 64-column form
  * `agg(sum(element_at(transform(embedding, quantize), i)) for i <- 1..64)`
  * (integer sums are order-independent under any partitioning — the
  * fixed-point reproducibility argument of the k-means/pooling family),
  * pinned by a parity spec and the oracle hash-compare.
  *
  * WHY an aggregate: the 64-separate-sums plan paid ~0.7 s of Catalyst
  * planning/codegen per FRESH plan (measured: same-DF re-collect 0.10 s),
  * and k-means training builds one such plan per Lloyd iteration. This is
  * a TypedImperativeAggregate (ObjectHashAggregate, like Spark's own
  * collect_list/percentile): partial aggregation is preserved — the
  * shuffle still carries one (key, long[dims]) row per group per map task,
  * the same bytes as the 64 separate sum slots.
  */
case class VecSumQuant(
    child: Expression,
    dims: Int,
    scale: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]] {

  require(dims > 0, s"vec_sum_quant needs positive dims, got $dims")

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_sum_quant expects array<float|double>, got ${other.simpleString}")
  }

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](dims)

  override def update(buffer: Array[Long],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(dims, arr.numElements())
      val fl = isFloat
      var i = 0
      while (i < n) {
        val x = if (fl) arr.getFloat(i).toDouble else arr.getDouble(i)
        buffer(i) += math.floor(x * scale).toLong
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < dims) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(dims * 8)
    var i = 0
    while (i < dims) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](dims)
    var i = 0
    while (i < dims) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumQuant =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): VecSumQuant =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "vec_sum_quant"
}

/** DataFrame-DSL access to the native vector expressions. */
object VectorFunctions {
  def vecDot(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      VecDot(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def pqSubDists(emb: Column, offset: Int, codeVecs: Seq[Seq[Double]]): Column =
    GraftColumnBridge.column(
      PqSubDists(GraftColumnBridge.expression(emb), offset, codeVecs))

  def vecSumQuant(emb: Column, dims: Int, scale: Double): Column =
    GraftColumnBridge.column(
      VecSumQuant(GraftColumnBridge.expression(emb), dims, scale)
        .toAggregateExpression())
}
