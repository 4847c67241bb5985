package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** Packs the sign bits of an `array<bigint>` slice into one long: bit j is
  * set iff `arr[from + j] > 0`. The binarization kernel for sign-bit
  * (Hamming) embedding search — 64 dims compress to two 32-bit words, and
  * candidate distance becomes two XOR+popcount instructions instead of a
  * 64-element dot product.
  *
  * Why 32 bits per word, not 64: the DuckDB oracle rebuilds each word as
  * `sum(power(2, j))`, which is exact in a double only below 2^53 — and a
  * 64th bit would need 2^63, overflowing a signed BIGINT on both engines.
  * Two half-words keep every intermediate engine-portable; the Hamming sum
  * bit_count(w0a^w0b) + bit_count(w1a^w1b) is identical either way.
  *
  * The HOF spelling — aggregate(transform(slice(...)), ...) — interprets
  * two lambdas per element per row (HOFs don't codegen; PLANS.md); this is
  * a tight codegen'd loop like its siblings ArrayLongDot/MinHashSigs.
  *
  * Measured against 32 unrolled `when(get(qe, i) > 0, 1L << j)` terms OR-ed
  * together (4 cores, 15 GB RAM, `local[4]`, sf0.1 fixture, noop sink; one
  * warm rep, then 9 reps alternating with the built-in, medians, equal
  * outputs; two passes): 2.82× / 2.88× on the two-word projection of 2,000
  * vectors, 3.01× / 2.56× on q124's whole Hamming top-k (10 queries over
  * those 2,000 vectors).
  */
case class SignBitsWord(child: Expression, from: Int, count: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(count > 0 && count <= 63, s"count must be in [1,63], got $count")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_bits_word"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0L
    var j = 0
    while (j < count) {
      val i = from + j
      if (i < n && !x.isNullAt(i) && x.getLong(i) > 0L) s |= 1L << j
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |long $s = 0L;
         |for (int $j = 0; $j < $count; $j++) {
         |  final int $i = $from + $j;
         |  if ($i < $a.numElements() && !$a.isNullAt($i) && $a.getLong($i) > 0L) {
         |    $s |= 1L << $j;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignBitsWord =
    copy(child = newChild)
}

object SignBitsWord {
  /** Column API: sign bits of arr[from until from+count] packed into a long. */
  def apply(a: Column, from: Int, count: Int): Column =
    ExpressionUtils.column(SignBitsWord(ExpressionUtils.expression(a), from, count))
}
