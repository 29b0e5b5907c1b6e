package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.GraftBridge

/** Native Catalyst expression computing a document's whole k-permutation
  * MinHash signature over its word n-gram shingles in one pass over the
  * text bytes: element `i` (i in [0, numHashes)) equals
  * `min(hash(shingle, lit(i)))` over the distinct shingles of
  * `ngrams(split(text, ' '), n, " ")` — the composed
  * [[graft.dedup.Dedup.minhashSignatures]] row for the document.
  *
  * Tokens come from splitting on single spaces (empty tokens kept) and
  * n-grams rejoin them with single spaces, so every shingle is exactly
  * the byte range of the UTF-8 text from its first token's start to its
  * last token's end (0x20 never occurs inside a multibyte sequence).
  * The kernel hashes those ranges in place — Spark's
  * `hash(shingle, seed)` is `hashInt(seed, hashUnsafeBytes(bytes, 42))`,
  * so the seed-42 byte hash is taken once per shingle and only the
  * final mix runs per seed. No shingle is materialized, and the
  * per-document min needs no shuffle: the composed form's split →
  * `zip_with`/`concat` → `array_distinct` → explode → groupBy(doc_id)
  * collapses to one projection. Repeated shingles are harmless, min is
  * idempotent. Bit-identical to the composed form (equality spec); the
  * one input where they could part is text holding invalid UTF-8, which
  * the composed form decodes with replacement characters before
  * re-encoding.
  *
  * Returns `array<int>` of length `numHashes`, or an EMPTY array when
  * the text has fewer than `n` tokens (the composed form emits no row
  * for such a document); null text yields null.
  */
case class MinHashSig(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression {

  require(n > 0, s"n must be positive, got $n")
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(v: Any): Any =
    MinHashSig.compute(v.asInstanceOf[UTF8String], n, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashSig.compute($c, $n, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {

  private val Space: Byte = ' '.toByte

  /** Token j spans [start(j), end(j)) with start(0) = 0, end(j) = the
    * j-th space, start(j + 1) = that space + 1 and the last token ending
    * at the text's end; shingle j spans [start(j), end(j + n - 1)). */
  def compute(text: UTF8String, n: Int, numHashes: Int): UnsafeArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes()
    var spaces = 0
    var i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == Space) spaces += 1
      i += 1
    }
    val tokens = spaces + 1
    if (tokens < n) return UnsafeArrayData.fromPrimitiveArray(new Array[Int](0))
    // ends(j) = end of token j; start(j) = ends(j - 1) + 1
    val ends = new Array[Int](tokens)
    var t = 0
    i = 0
    while (i < len) {
      if (Platform.getByte(base, off + i) == Space) { ends(t) = i; t += 1 }
      i += 1
    }
    ends(tokens - 1) = len
    val sig = Array.fill(numHashes)(Int.MaxValue)
    var j = 0
    while (j + n <= tokens) {
      val start = if (j == 0) 0 else ends(j - 1) + 1
      val h = Murmur3_x86_32.hashUnsafeBytes(base, off + start, ends(j + n - 1) - start, 42)
      var s = 0
      while (s < numHashes) {
        val m = Murmur3_x86_32.hashInt(s, h)
        if (m < sig(s)) sig(s) = m
        s += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Column DSL form: `minhash_sig(text, n, numHashes)`. */
  def minhashSig(text: Column, n: Int, numHashes: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(text), n, numHashes))
}
