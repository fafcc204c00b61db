package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** Dense/sparse vector primitives for the driver-resident classifier
  * rounds (r21): the perceptron/langid/DSIR feature frames carry ONE
  * `(bucket, tf)` struct-array row per document (the counting
  * expressions' output, un-exploded), so
  *
  *   - a margin is an intra-row [[SparseDotExpression]] against the
  *     driver-held dense weight vector (map-only — no doc-grain
  *     exchange, no weight join), and
  *   - a round's weight/delta vector is ONE [[VecSumAggregate]] per
  *     class: buffer[bucket] += factor·tf with a ±1/0 per-row factor
  *     column — map-side combining, dims longs per partition through the
  *     shuffle, no bucket-grain exchange of corpus-scale feature rows.
  *
  * Exact integer sums in both directions, so the round law is unchanged
  * (order-independent addition; the SQL oracle replays the exploded
  * row-form CTEs and the weights hash-match). */
object VecOps {
  /** Σ tf·w[bucket] over the (bucket, tf) struct array; buckets outside
    * the vector contribute 0 (the left-join-coalesce law). */
  def sparseDot(fv: ArrayData, w: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    val n = fv.numElements()
    while (i < n) {
      val row = fv.getStruct(i, 2)
      val b = row.getLong(0)
      if (b >= 0 && b < w.length) acc += row.getLong(1) * w(b.toInt)
      i += 1
    }
    acc
  }
}

private[plans] object VecTypes {
  def isFv(t: DataType): Boolean = t match {
    case ArrayType(s: StructType, _) if s.length == 2 =>
      s(0).dataType == LongType && s(1).dataType == LongType
    case _ => false
  }
}

/** Intra-row sparse·dense dot product against a constructor-held dense
  * long vector (the driver-trained weights — same bounded license as the
  * literal weight arrays this replaces). */
case class SparseDotExpression(child: Expression, weights: Array[Long])
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (VecTypes.isFv(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<struct<bucket:bigint,tf:bigint>>, got " +
        child.dataType)
  override protected def nullSafeEval(input: Any): Any =
    VecOps.sparseDot(input.asInstanceOf[ArrayData], weights)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sparseDotW", weights, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.VecOps$$.MODULE$$.sparseDot($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): SparseDotExpression =
    copy(child = newChild)
  override def prettyName: String = "sparse_dot"
}

/** Element-wise `buffer[bucket] += factor · tf` aggregate over (bucket,
  * tf) struct-array rows — the vector form of
  * `explode → groupBy(bucket).agg(sum(factor·tf))`. The factor column
  * carries the per-row ±1 label (or a 0 gate), so one aggregate job
  * resolves a whole perceptron round's delta with no explode and no
  * bucket-grain exchange. Buffer = dims longs; rows with null fv/factor
  * are skipped (the row-form law had no such rows). */
case class VecSumAggregate(fv: Expression, factor: Expression, dims: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(dims >= 1 && dims <= (1 << 20), s"dims $dims out of range")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](dims)

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val fvv = fv.eval(input)
    val f = factor.eval(input)
    if (fvv != null && f != null) {
      val fl = f.asInstanceOf[Long]
      if (fl != 0L) {
        val arr = fvv.asInstanceOf[ArrayData]
        var i = 0
        val n = arr.numElements()
        while (i < n) {
          val row = arr.getStruct(i, 2)
          val bk = row.getLong(0)
          if (bk >= 0 && bk < dims) b(bk.toInt) += fl * row.getLong(1)
          i += 1
        }
      }
    }
    b
  }

  override def merge(b: Array[Long], o: Array[Long]): Array[Long] = {
    var i = 0
    while (i < dims) { b(i) += o(i); i += 1 }
    b
  }

  override def eval(b: Array[Long]): Any = new GenericArrayData(b)

  override def serialize(b: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * dims)
    var i = 0
    while (i < dims) { bb.putLong(b(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new Array[Long](dims)
    var i = 0
    while (i < dims) { b(i) = bb.getLong; i += 1 }
    b
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (!VecTypes.isFv(fv.dataType)) TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<struct<bucket:bigint,tf:bigint>>, got " +
        fv.dataType)
    else if (factor.dataType != LongType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a bigint factor, got " + factor.dataType)
    else TypeCheckResult.TypeCheckSuccess
  override def children: Seq[Expression] = Seq(fv, factor)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSumAggregate =
    copy(fv = newChildren(0), factor = newChildren(1))
  override def withNewMutableAggBufferOffset(offset: Int): VecSumAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VecSumAggregate =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "vec_sum"
}
