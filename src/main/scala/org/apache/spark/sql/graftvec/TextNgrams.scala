package org.apache.spark.sql.graftvec

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass word-n-gram kernels for the repetition/boilerplate
  * hot path (q54/q55 — the sf10 audit's residual constant).
  *
  * The built-in formulation pays for itself three times per row:
  * `lower(text)` copies the string, `split(...)` materializes an array
  * of word UTF8Strings, and `transform(sequence(...), ...)` walks that
  * array allocating one lambda frame (and for shingles one concatenated
  * string) per n-gram. These expressions do ONE byte scan of the raw
  * text: ASCII letters are lowercased in a single working copy, word
  * runs are tracked as (offset, length) byte ranges, and
  *
  *  - [[BigramHashStats]] chain-hashes each adjacent word pair with the
  *    same XXH64 Spark's `xxhash64` uses, then sorts the per-document
  *    hash buffer to count distincts — `(n_bigrams, n_distinct)` come
  *    out of one pass with ZERO string allocation (q54's contract is
  *    already hashed-bigram distincts; the oracle keeps exact strings);
  *  - [[WordNgrams]] emits the space-joined shingle strings q55 groups
  *    by, allocating exactly the output shingles and nothing else.
  *
  * Word semantics match `filter(split(lower(text), "[^a-z]+"), ...)`
  * for all ASCII and for every non-ASCII character whose lowercase form
  * is itself non-ASCII (both formulations treat it as a separator). The
  * one divergence: exotic code points that LOWERCASE INTO a-z (U+212A
  * KELVIN SIGN → k, U+0130 → i̇) — a separator here, a letter there.
  * The corpus fixtures are ASCII; TextPipelineSpec pins parity against
  * the built-in formulation on the whole fixture corpus.
  */
object NgramKernel {
  private final val Seed = 42L

  /** Lowercased working copy: A-Z → a-z, everything else verbatim.
    * Always a fresh array — the scan below needs stable bytes and
    * `UTF8String.getBytes` may return a shared buffer. */
  private def asciiLower(s: UTF8String): Array[Byte] = {
    val n = s.numBytes()
    val out = new Array[Byte](n)
    s.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET)
    var i = 0
    while (i < n) {
      val b = out(i)
      if (b >= 'A' && b <= 'Z') out(i) = (b + 32).toByte
      i += 1
    }
    out
  }

  @inline private def isLetter(b: Byte): Boolean = b >= 'a' && b <= 'z'

  /** Word-run (start, end) pairs, flattened. Two passes over the bytes:
    * count, then fill — no growable buffer churn. */
  private def wordRuns(b: Array[Byte]): Array[Int] = {
    val n = b.length
    var words = 0
    var i = 0
    while (i < n) {
      if (isLetter(b(i))) {
        words += 1
        while (i < n && isLetter(b(i))) i += 1
      } else i += 1
    }
    val runs = new Array[Int](2 * words)
    var w = 0
    i = 0
    while (i < n) {
      if (isLetter(b(i))) {
        runs(2 * w) = i
        while (i < n && isLetter(b(i))) i += 1
        runs(2 * w + 1) = i
        w += 1
      } else i += 1
    }
    runs
  }

  @inline private def hashRun(b: Array[Byte], runs: Array[Int], w: Int,
                              seed: Long): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + runs(2 * w),
      runs(2 * w + 1) - runs(2 * w), seed)

  /** (n_bigrams, n_distinct) over xxhash64-chained word bigrams.
    * Called from generated code. */
  def bigramStats(text: UTF8String): InternalRow = {
    val b = asciiLower(text)
    val runs = wordRuns(b)
    val words = runs.length / 2
    if (words < 2) return new GenericInternalRow(Array[Any](0L, 0L))
    val hashes = new Array[Long](words - 1)
    var prev = hashRun(b, runs, 0, Seed)
    var w = 1
    while (w < words) {
      // xxhash64(w1, w2) chains: hash w2's bytes seeded by w1's hash
      hashes(w - 1) = hashRun(b, runs, w, prev)
      prev = hashRun(b, runs, w, Seed)
      w += 1
    }
    java.util.Arrays.sort(hashes)
    var distinct = 1L
    var i = 1
    while (i < hashes.length) {
      if (hashes(i) != hashes(i - 1)) distinct += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](hashes.length.toLong, distinct))
  }

  /** True iff the text contains at least `k` words — EARLY EXIT at the
    * k-th word, so as a pre-filter it reads a handful of bytes per row
    * where the stats kernel would scan the whole document. (Catalyst
    * pushes a filter on `bigram_hash_stats(text).n_bigrams` below the
    * projection by re-inlining the kernel — two full evaluations per
    * row, since codegen subexpression elimination does not span a
    * Filter/Project pair. Filtering on this predicate instead keeps the
    * stats kernel to ONE evaluation.) Called from generated code. */
  def hasMinWords(text: UTF8String, k: Int): Boolean = {
    if (k <= 0) return true
    val n = text.numBytes()
    // (b | 0x20) folds A-Z onto a-z and maps no other byte into the range
    @inline def letter(i: Int): Boolean = {
      val b = text.getByte(i) | 0x20
      b >= 'a' && b <= 'z'
    }
    var words = 0
    var i = 0
    while (i < n) {
      if (letter(i)) {
        words += 1
        if (words >= k) return true
        while (i < n && letter(i)) i += 1
      } else i += 1
    }
    false
  }

  /** MinHash signature in ONE byte scan: for each of the `n` hash
    * functions i, min over the text's words of
    * `(polyhash(word, 7) * (2i+3) + (7i+1)) % (1e9+7)` — exactly the
    * batch `TextPipeline.minHashBanded` family, so signatures stay
    * identical to the batch pipeline's (duplicated words cannot change a
    * min, so distinct-ing first is unnecessary).
    *
    * Replaces the HOF formulation in the streaming ingest path
    * (`array_min(transform(words, ...))` × 16), whose Column-level
    * construction duplicated the tokenize+distinct subtree into every
    * hash — 16 full tokenizations per row, measured as 70% of streaming
    * ingest wall time (round-8 streaming profile, BASELINE_HISTORY.md). Empty word set → empty
    * array (callers filter, mirroring the batch no-token rule). Called
    * from generated code. */
  def minhashSig(text: UTF8String, n: Int): ArrayData = {
    val b = asciiLower(text)
    val runs = wordRuns(b)
    val words = runs.length / 2
    if (words == 0)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.emptyLongArray)
    val mins = Array.fill(n)(Long.MaxValue)
    var w = 0
    while (w < words) {
      // polyHash(word, 7): words here are pure a-z bytes, so code points
      // == byte values and the fold matches PolyHash.hash exactly
      var acc = 7L
      var i = runs(2 * w)
      val e = runs(2 * w + 1)
      while (i < e) { acc = (acc * 31L + b(i)) % PolyHash.Mod; i += 1 }
      var h = 0
      while (h < n) {
        val v = (acc * (2L * h + 3L) + (7L * h + 1L)) % PolyHash.Mod
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      w += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(mins)
  }

  /** Space-joined word n-grams as an array<string>. Called from
    * generated code. */
  def wordNgrams(text: UTF8String, n: Int): ArrayData = {
    val b = asciiLower(text)
    val runs = wordRuns(b)
    val words = runs.length / 2
    val count = words - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count)
    var g = 0
    while (g < count) {
      var len = n - 1 // the joining spaces
      var k = 0
      while (k < n) { len += runs(2 * (g + k) + 1) - runs(2 * (g + k)); k += 1 }
      val sb = new Array[Byte](len)
      var pos = 0
      k = 0
      while (k < n) {
        if (k > 0) { sb(pos) = ' '; pos += 1 }
        val s = runs(2 * (g + k)); val e = runs(2 * (g + k) + 1)
        System.arraycopy(b, s, sb, pos, e - s)
        pos += e - s
        k += 1
      }
      out(g) = UTF8String.fromBytes(sb)
      g += 1
    }
    new GenericArrayData(out)
  }
}

abstract class NgramUnaryExpression extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  protected final def kernelCls: String =
    NgramKernel.getClass.getName.stripSuffix("$") + "$.MODULE$"
}

/** struct(n_bigrams, n_distinct) of hashed word bigrams, one byte scan. */
case class BigramHashStats(child: Expression) extends NgramUnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false)))
  override def prettyName: String = "bigram_hash_stats"

  override def nullSafeEval(t: Any): Any =
    NgramKernel.bigramStats(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = $kernelCls.bigramStats($t);")

  override protected def withNewChildInternal(newChild: Expression): BigramHashStats =
    copy(child = newChild)
}

/** Early-exit "has at least k words" predicate — the pushdown-friendly
  * pre-filter for [[BigramHashStats]]. */
case class HasMinWords(child: Expression, k: Int) extends NgramUnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "has_min_words"

  override def nullSafeEval(t: Any): Any =
    NgramKernel.hasMinWords(t.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = $kernelCls.hasMinWords($t, $k);")

  override protected def withNewChildInternal(newChild: Expression): HasMinWords =
    copy(child = newChild)
}

/** array<long> MinHash signature (n hashes), one byte scan — the
  * streaming twin of the batch min-aggregate signature. */
case class MinHashSig(child: Expression, n: Int) extends NgramUnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(t: Any): Any =
    NgramKernel.minhashSig(t.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = $kernelCls.minhashSig($t, $n);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** array<string> of space-joined word n-grams, one byte scan. */
case class WordNgrams(child: Expression, n: Int) extends NgramUnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(t: Any): Any =
    NgramKernel.wordNgrams(t.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = $kernelCls.wordNgrams($t, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}
