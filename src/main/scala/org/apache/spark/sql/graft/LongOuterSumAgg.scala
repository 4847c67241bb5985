package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** Σ v vᵀ over an `array<bigint>` vector column, flattened row-major — the
  * covariance/Gram building block (graft.operators.Similarity.pcaProjection).
  *
  * The declarative alternative (explode d² outer-product cells per row,
  * then groupBy-sum) materializes |rows|·d² intermediate rows — 20M at a
  * 5k×64 fixture, corpus·4096 at scale — through an interpreted nested-HOF
  * projection. This aggregate folds each row's outer product straight into
  * a primitive long[d²] buffer: one pass, zero fan-out rows, map-side
  * partial aggregation for free (buffers merge by element-wise add, which
  * is exact integer arithmetic in any merge order — same value the DuckDB
  * oracle's pairwise-join sum computes).
  *
  * Per the custom-operator preference order this is case (b): an aggregate
  * function the built-ins can only express via a row-explosion. Buffer is
  * d²·8 bytes (32 KB at d=64) per partial — executor-memory noise.
  *
  * Measured against a double `posexplode` + `groupBy(i, j)` sum (4 cores,
  * 15 GB RAM, `local[4]`, sf0.1 fixture, noop sink; one warm rep, then 9
  * reps alternating with the built-in, medians, equal outputs; two passes):
  * 4.34× / 4.19× over 2,000 quantized 64-dim vectors.
  */
case class LongOuterSumAgg(child: Expression,
                           override val mutableAggBufferOffset: Int = 0,
                           override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with ExpectsInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "long_outer_sum"

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val buf =
      if (buffer.length == n * n) buffer
      else if (buffer.isEmpty) new Array[Long](n * n)
      else throw new IllegalStateException(
        s"long_outer_sum: vector length changed mid-aggregation " +
          s"(buffer ${buffer.length} cells, row has $n elements)")
    var i = 0
    while (i < n) {
      val xi = a.getLong(i)
      val base = i * n
      var j = 0
      while (j < n) { buf(base + j) += xi * a.getLong(j); j += 1 }
      i += 1
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    if (b1.isEmpty) return b2
    if (b2.isEmpty) return b1
    require(b1.length == b2.length,
      s"long_outer_sum: merging buffers of ${b1.length} and ${b2.length} cells")
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.length * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(storageFormat: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(storageFormat)
    Array.fill(storageFormat.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LongOuterSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LongOuterSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): LongOuterSumAgg =
    copy(child = newChild)
}

object LongOuterSumAgg {
  /** Column API: aggregate Σ v·vᵀ (flattened row-major array<bigint>). */
  def apply(v: Column): Column =
    ExpressionUtils.column(
      LongOuterSumAgg(ExpressionUtils.expression(v)).toAggregateExpression())
}
