package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.unsafe.types.UTF8String

/** Custom sketch aggregators (SURVEY.md §7.3's "optional
  * TypedImperativeAggregate" extension point, via the public
  * `Aggregator` API).
  *
  * Why custom: the composed-operator forms in [[graft.dedup.Dedup]] and
  * [[graft.text]] compute a SimHash as 64 conditional sums, HLL
  * registers over a distinct-token stream, and so on — correct, but
  * many aggregation buffers (or a distinct shuffle) per group. These
  * one-pass aggregators keep a single primitive array buffer per group:
  * less shuffle payload, one pass, same result (bit-for-bit — asserted
  * in tests against the composed forms).
  *
  * MinHash is not here: a document's signature needs only its own text,
  * so it is a per-row expression ([[MinHashSig]]) and no aggregate —
  * no shuffle on `doc_id` at all.
  */
object Sketches {

  /** One-pass 64-bit SimHash over a group of token strings: per-bit
    * +1/-1 vote by the token's xxhash64 bits, sign-packed at finish. */
  class SimHashAgg extends Aggregator[String, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](64)
    def reduce(buf: Array[Int], token: String): Array[Int] = {
      val u = UTF8String.fromString(token)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) != 0L) buf(i) += 1 else buf(i) -= 1
        i += 1
      }
      buf
    }
    def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    def finish(buf: Array[Int]): Long = {
      var sig = 0L
      var i = 0
      while (i < 64) { if (buf(i) > 0) sig |= (1L << i); i += 1 }
      sig
    }
    def bufferEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  def simhashAgg(token: Column): Column = udaf(new SimHashAgg).apply(token)

  /** One-pass HyperLogLog register builder (p = 8): the buffer is the
    * 256-byte register array itself, so map-side partials hand the
    * shuffle AT MOST 256 bytes per (partition, group) — the shape that
    * replaces [[graft.text.HyperLogLog.registers]]'s distinct-stream
    * shuffle at corpus scale. Hashing is Spark's own column xxhash64
    * (UTF8String bytes, seed 42), so the produced registers are
    * bit-identical to the declarative form (equality-tested) and the
    * same DuckDB chain still replays them. Duplicate tokens need no
    * pre-distinct: register max is idempotent. */
  class HllRegistersAgg extends Aggregator[String, Array[Byte], Seq[Long]] {
    def zero: Array[Byte] = new Array[Byte](256)
    def reduce(buf: Array[Byte], token: String): Array[Byte] = {
      val u = UTF8String.fromString(token)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      val idx = (h >>> 56).toInt
      val v = h & ((1L << 56) - 1)
      // rank = 57 - bitlength(v); bitlength = 64 - nlz for v > 0
      val r = (if (v == 0L) 57 else java.lang.Long.numberOfLeadingZeros(v) - 7).toByte
      if (r > buf(idx)) buf(idx) = r
      buf
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < 256) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(buf: Array[Byte]): Seq[Long] = buf.map(_.toLong).toSeq
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Column form: `hll_registers_agg(tokenCol)` → array<bigint>(256) of
    * register ranks (0 = absent). */
  def hllRegistersAgg(token: Column): Column = udaf(new HllRegistersAgg).apply(token)

  /** k = 3 double-hashed bit positions in an m = 4096 Bloom filter,
    * all derived from ONE Spark xxhash64 (so the DuckDB chain replays
    * them): h1 = top 32 bits, h2 = low 32 bits forced odd (odd step ⇒
    * the probe sequence cycles the whole table), pᵢ = (h1 + i·h2)
    * mod 4096 — Kirsch–Mitzenmacher double hashing. All arithmetic
    * stays in nonneg longs < 2³⁴ — portable to SQL verbatim. */
  private[graft] def bloomPositions(h: Long): Array[Int] = {
    val h1 = h >>> 32
    val lo = h & 0xFFFFFFFFL
    val h2 = lo + 1L - (lo % 2L)
    Array.tabulate(3)(i => ((h1 + i.toLong * h2) % 4096L).toInt)
  }

  /** One-pass Bloom membership filter (m = 4096 bits, k = 3): the
    * buffer is the 64-word bit array itself (512 bytes per
    * (partition, group) on the exchange), merge is word-wise OR — the
    * mergeability that lets per-shard / per-day filters compose into a
    * corpus filter without a re-scan. The fourth mergeable sketch next
    * to MinHash (min), SimHash (±count), HLL (register max), CMS
    * (counter add) — membership. Duplicates are free: bit-set is
    * idempotent. */
  class BloomAgg extends Aggregator[String, Array[Long], Seq[Long]] {
    def zero: Array[Long] = new Array[Long](64)
    def reduce(buf: Array[Long], token: String): Array[Long] = {
      val u = UTF8String.fromString(token)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      Sketches.bloomPositions(h).foreach { p =>
        buf(p >>> 6) |= (1L << (p & 63))
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < 64) { a(i) |= b(i); i += 1 }
      a
    }
    def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Column form: `bloom_agg(tokenCol)` → array<bigint>(64), 4096 bits. */
  def bloomAgg(token: Column): Column = udaf(new BloomAgg).apply(token)
}
