package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** Codegen'd MinHash signature: all k affine minima over a hashed-shingle
  * array in ONE pass. The composable form — k × array_min(transform(...)) —
  * traverses the array k times through interpreted lambdas; this loops once
  * with k running minima in a primitive local array. Arithmetic matches
  * graft.operators.Dedup exactly: mh_i = min((h mod P20)·A_i + B_i mod P31),
  * A/B from the same affine family — so the DuckDB oracle still reproduces
  * every signature.
  */
case class MinHashSigs(child: Expression, k: Int, p20: Long, p31: Long,
                       aBase: Long, aStep: Long, bBase: Long, bStep: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = hs.numElements()
    while (i < n) {
      val h = hs.getLong(i) % p20
      var j = 0
      while (j < k) {
        val v = (h * (aBase + aStep * j) + (bBase + bStep * j)) % p31
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val out = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val n = ctx.freshName("n")
      s"""
         |final long[] $out = new long[$k];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |final int $n = $hs.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $h = $hs.getLong($i) % ${p20}L;
         |  for (int $j = 0; $j < $k; $j++) {
         |    final long $v = ($h * (${aBase}L + ${aStep}L * $j) + (${bBase}L + ${bStep}L * $j)) % ${p31}L;
         |    if ($v < $out[$j]) $out[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** |A∩B| for two SORTED-ascending, distinct, null-free long arrays — a
  * zero-allocation two-pointer merge. `size(array_intersect(a, b))`
  * allocates and hashes a new array per row pair; on the near-dup verify
  * that is tens of millions of allocations per run, which is both the CPU
  * cost and the GC-pressure profile that collapses first under co-tenant
  * memory pressure. Inputs are produced by `array_sort(array_distinct(...))`
  * in Dedup.signatureFrame — this expression is private to that contract
  * (it has no null or duplicate-element handling). */
case class ArrayLongSortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "array_long_sorted_intersect_count"

  private def count(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[ArrayLongSortedIntersectCount].getName
    val ref = ctx.addReferenceObj("sortedIntersectCounter", this, cls)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (Long) $ref.nullSafeEval($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayLongSortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd 60-bit SimHash over a token-hash array: one pass with 60
  * running counters (bit j of the signature is set iff the sum over tokens
  * of ±1-by-bit-j is positive). Replaces an explode + two grouped shuffles
  * with a row-local projection. */
case class SimHash60(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val acc = new Array[Int](60)
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 60) { acc(j) += (((h >>> j) & 1L).toInt * 2) - 1; j += 1 }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 60) { if (acc(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |final int[] $acc = new int[60];
         |for (int $i = 0; $i < $hs.numElements(); $i++) {
         |  final long $h = $hs.getLong($i);
         |  for (int $j = 0; $j < 60; $j++) {
         |    $acc[$j] += ((int) (($h >>> $j) & 1L)) * 2 - 1;
         |  }
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < 60; $j++) { if ($acc[$j] > 0) $sig |= 1L << $j; }
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Codegen'd winnowing selector: sliding-window minima (window w) over a
  * hash array, deduplicated, in one pass. The composable form —
  * `transform(sequence(...), i -> array_min(slice(hs, i, w)))` — captures
  * the entire upstream hash chain inside the lambda, and the interpreter
  * re-evaluates it per window (O(n·w) md5 calls per document). This takes
  * the hashed array ONCE and selects mins in primitive loops. */
case class WinnowMins(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_mins"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val out = new java.util.LinkedHashSet[Long]()
    if (n > 0) {
      val windows = math.max(1, n - w + 1)
      var i = 0
      while (i < windows) {
        var m = Long.MaxValue
        var j = i
        val end = math.min(i + w, n)
        while (j < end) { val v = hs.getLong(j); if (v < m) m = v; j += 1 }
        out.add(m)
        i += 1
      }
    }
    val arr = new Array[Long](out.size())
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[WinnowMins].getName
    val ref = ctx.addReferenceObj("winnower", this, cls)
    nullSafeCodeGen(ctx, ev, hs =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($hs);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowMins =
    copy(child = newChild)
}

/** Codegen'd fused shingle-and-hash: character n-gram shingles of a string
  * (optionally first-occurrence-distinct, texts shorter than n shingle to
  * themselves) hashed to 60-bit md5 longs in ONE row-local JVM pass. The
  * composable form — `transform(charShingles(c, n), s => stableHash60(s))`
  * — walks two interpreted HOF lambdas per document and per shingle builds
  * an md5 HEX STRING, substrings it, and string-parses it through conv();
  * this slices characters once, digests bytes once, and takes the top 60
  * bits of the digest numerically. Bit-identical to the composable form
  * (first 15 hex digits of md5 == the first 8 digest bytes, big-endian,
  * >>> 4), so every oracle that recomputes `CAST('0x'||substr(md5(s),1,15)
  * AS BIGINT)` still matches. `distinct` keeps array_distinct's
  * first-occurrence order; sz/minima/set semantics downstream are
  * unchanged (hashes of distinct strings ≡ distinct-string hashes). */
case class HashedShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingles"

  private def hash60(md: java.security.MessageDigest, s: UTF8String): Long = {
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4 // first 15 hex digits of the md5 == top 60 bits of the digest
  }

  override def nullSafeEval(input: Any): Any = {
    val md = HashedShingles.digests.get()
    val text = input.asInstanceOf[UTF8String]
    val chars = text.numChars()
    if (chars < n) return new GenericArrayData(Array(hash60(md, text)))
    val windows = chars - n + 1
    if (distinct) {
      val seen = new java.util.LinkedHashSet[UTF8String](windows * 2)
      var i = 0
      while (i < windows) { seen.add(text.substringSQL(i + 1, n)); i += 1 }
      val out = new Array[Long](seen.size())
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = hash60(md, it.next()); k += 1 }
      new GenericArrayData(out)
    } else {
      val out = new Array[Long](windows)
      var i = 0
      while (i < windows) { out(i) = hash60(md, text.substringSQL(i + 1, n)); i += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[HashedShingles].getName
    val ref = ctx.addReferenceObj("shingleHasher", this, cls)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

object HashedShingles {
  /** One digest per thread — expression instances are shared across the
    * rows of a task and may be shared across tasks of an executor. */
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private[graft] def digest(): java.security.MessageDigest = digests.get()
}

/** Codegen'd fused word-n-gram + hash: whitespace tokens (trim + \s+
  * split, exactly TextFunctions.wsTokens' semantics), space-joined n-gram
  * strings, first-occurrence-distinct, hashed to 60-bit md5 longs — one
  * JVM pass replacing wordNgrams' interpreted slice/concat lambdas plus a
  * per-gram md5-hex/conv round trip. Texts with fewer than n tokens yield
  * an empty array (wordNgrams' contract). Bit-identical to
  * `transform(wordNgrams(c, n), stableHash60)`.
  *
  * Measured against that formulation (4 cores, 15 GB RAM, `local[4]`,
  * sf0.1 fixture, noop sink; one warm rep, then 9 reps alternating with
  * the built-in, medians, equal outputs; two passes): 24.88× / 24.46× on
  * 5,000 documents at n = 8. */
case class HashedWordNgrams(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_word_ngrams"

  private def hash60(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  override def nullSafeEval(input: Any): Any = {
    val md = HashedShingles.digest()
    // UTF8String.trim trims ASCII 0x20 only — same as SQL trim()
    val t = input.asInstanceOf[UTF8String].trim().toString
    if (t.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    // limit -1 keeps trailing empty fields, mirroring Spark's split():
    // trim removes only 0x20, so text ending in "\n"/"\t" still splits to
    // a trailing "" token that the composable path (and the oracle's
    // regexp_split_to_array) would emit — limit 0 would silently drop it
    val toks = HashedWordNgrams.ws.split(t, -1)
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[String]((toks.length - n + 1) * 2)
    var i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = hash60(md, it.next()); k += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[HashedWordNgrams].getName
    val ref = ctx.addReferenceObj("wordGramHasher", this, cls)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedWordNgrams =
    copy(child = newChild)
}

object HashedWordNgrams {
  private[graft] val ws: java.util.regex.Pattern = java.util.regex.Pattern.compile("\\s+")
}

object MinHashExprs {
  def minhashSigs(hs: Column, k: Int, p20: Long, p31: Long,
                  aBase: Long, aStep: Long, bBase: Long, bStep: Long): Column =
    ExpressionUtils.column(MinHashSigs(ExpressionUtils.expression(hs),
      k, p20, p31, aBase, aStep, bBase, bStep))

  /** Sorted-merge |A∩B| — both inputs MUST be sorted ascending, distinct,
    * null-free (see ArrayLongSortedIntersectCount). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(ArrayLongSortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def simhash60(hs: Column): Column =
    ExpressionUtils.column(SimHash60(ExpressionUtils.expression(hs)))

  def winnowMins(hs: Column, w: Int): Column =
    ExpressionUtils.column(WinnowMins(ExpressionUtils.expression(hs), w))

  /** Fused char-n-gram shingle + 60-bit md5 hash (see HashedShingles). */
  def hashedShingles(text: Column, n: Int, distinct: Boolean): Column =
    ExpressionUtils.column(HashedShingles(ExpressionUtils.expression(text), n, distinct))

  /** Fused distinct word-n-gram + 60-bit md5 hash (see HashedWordNgrams). */
  def hashedWordNgrams(text: Column, n: Int): Column =
    ExpressionUtils.column(HashedWordNgrams(ExpressionUtils.expression(text), n))
}
