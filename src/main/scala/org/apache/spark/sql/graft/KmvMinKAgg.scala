package org.apache.spark.sql.graft

import java.nio.ByteBuffer
import java.util.{TreeSet => JTreeSet}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** KMV (k-minimum-values) theta-sketch buffer: the k smallest DISTINCT
  * values of a long hash column, returned as an ascending `array<bigint>`.
  *
  * This is the mergeable core of a theta sketch (Dasgupta et al., "Theta
  * Sketch Framework"): per-partition partials hold at most k longs, merge
  * is a capped set-union, and the result is independent of row order and
  * partitioning — the k smallest distinct hashes of a set are a pure
  * function of the set. Distinct-count and set-operation ESTIMATORS stay
  * in the query layer (graft.operators.ThetaSketch) as plain column
  * arithmetic over the returned array, where the DuckDB oracle replays
  * them exactly.
  *
  * Why an aggregate, not distinct+window: groupBy(g, h) + row_number ≤ k
  * shuffles EVERY distinct hash once to rank it; at 100 TB that is the
  * full key cardinality through the wire for a k-bounded answer. This
  * buffer caps map-side state at k·8 bytes per (group × partition), so
  * the shuffle carries ≤ k longs per group per partition — the standard
  * distributed-sketch shape (same argument as Sketches.hllRegisters).
  *
  * Custom-operator preference order case (b): an aggregate the built-ins
  * can't express without ranking the whole key set.
  *
  * Measured against `distinct` + `row_number() <= k` per group (4
  * cores, 15 GB RAM, `local[4]`, sf0.1 fixture, noop sink; one warm rep,
  * then 9 reps alternating with the built-in, medians, equal outputs; two
  * passes):
  * 1.15× / 1.24× on 100k events (5 groups, k = 256; this aggregate was
  * faster in 9 of 9 pairs in each pass).
  */
case class KmvMinKAgg(child: Expression, k: Int,
                      override val mutableAggBufferOffset: Int = 0,
                      override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[JTreeSet[java.lang.Long]]
    with ExpectsInputTypes with UnaryLike[Expression] {
  require(k > 0, s"kmv_min_k: k must be positive, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_min_k"

  override def createAggregationBuffer(): JTreeSet[java.lang.Long] =
    new JTreeSet[java.lang.Long]()

  private def insert(buf: JTreeSet[java.lang.Long], v: Long): Unit =
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last()) { if (buf.add(v)) { buf.remove(buf.last()); () } }

  override def update(buf: JTreeSet[java.lang.Long], input: InternalRow): JTreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: JTreeSet[java.lang.Long], b2: JTreeSet[java.lang.Long]): JTreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) insert(b1, it.next())
    b1
  }

  override def eval(buf: JTreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: JTreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.size * 8)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): JTreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new JTreeSet[java.lang.Long]()
    var i = 0
    while (i < bytes.length / 8) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMinKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMinKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvMinKAgg =
    copy(child = newChild)
}

object KmvMinKAgg {
  /** Column API: k smallest distinct longs, ascending array<bigint>. */
  def apply(h: Column, k: Int): Column =
    ExpressionUtils.column(
      KmvMinKAgg(ExpressionUtils.expression(h), k).toAggregateExpression())
}
