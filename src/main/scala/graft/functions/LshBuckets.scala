package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.GraftBridge

/** Native Catalyst expression computing ALL random-hyperplane LSH table
  * buckets for an `array<float>` embedding in one fused pass.
  *
  * The higher-order-function form (a `zip_with`+`aggregate` fold per
  * plane, kept in the equality specs) evaluates
  * `tables × planes` separate folds — each
  * allocating an index `sequence` and a product array per row. This
  * expression keeps one running projection per plane and visits each
  * vector element once; hyperplane components are the same
  * `xxhash64(plane, idx) / Long.MaxValue` pseudo-random values (seed 42,
  * int hashing — replicated via [[XXH64]] so the buckets are
  * bit-identical to the HOF form, asserted in tests).
  *
  * Returns `array<long>` of length `tables`; element `t` packs `planes`
  * sign bits for global plane ids `t*planes + p`.
  */
case class LshBuckets(child: Expression, planes: Int, tables: Int)
    extends UnaryExpression {

  require(planes > 0 && planes <= 63, s"planes must be in [1, 63], got $planes")
  require(tables > 0, s"tables must be positive, got $tables")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  override def nullSafeEval(v: Any): Any =
    LshBuckets.compute(v.asInstanceOf[ArrayData], planes, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LshBuckets.compute($c, $planes, $tables)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBuckets {

  /** Hyperplane-component matrix for a given (planes·tables, dim):
    * entry [i·total + p] = xxhash64(p, i, seed 42) / Long.MaxValue —
    * a pure function of the indices, so it is computed ONCE per JVM
    * per shape instead of per row (the per-row double hash dominated
    * this kernel; the cached doubles are the exact same values, so
    * buckets stay bit-identical to the HOF form). Bounded: embedding
    * dims and LSH shapes are per-dataset constants, so the cache
    * holds a handful of small arrays (~total·dim·8 B each); if more
    * than [[MatrixCacheMax]] distinct shapes ever appear, later ones
    * are computed per call rather than grow the cache. */
  private val MatrixCacheMax = 8
  private val matrixCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  /** The cached matrix for this shape, or null once [[MatrixCacheMax]]
    * distinct shapes exist and this one is not among them — the caller
    * then falls back to the allocation-free inline hash loop (ADVICE
    * r18: building the full n·total matrix PER ROW past the cap was a
    * GC regression versus the pre-cache kernel, e.g. ragged embedding
    * lengths at dim 1024 allocate ~1 MB/row). */
  private def planeMatrix(total: Int, n: Int): Array[Double] = {
    val key = (total, n)
    val hit = matrixCache.get(key)
    if (hit != null) return hit
    if (matrixCache.size >= MatrixCacheMax) return null
    val m = new Array[Double](n * total)
    var i = 0
    while (i < n) {
      var p = 0
      while (p < total) {
        // xxhash64(lit(plane), idx): seed 42, ints hashed in child order
        val h = XXH64.hashInt(i, XXH64.hashInt(p, 42L))
        m(i * total + p) = h.toDouble / Long.MaxValue.toDouble
        p += 1
      }
      i += 1
    }
    matrixCache.putIfAbsent(key, m)
    m
  }

  /** One pass over the vector: accumulate every plane's projection, then
    * pack sign bits per table. Per-plane accumulation order is ascending
    * element index — identical to the HOF fold, so results match
    * bit-for-bit (the over-cap inline path computes the exact same
    * hash-derived doubles the matrix would hold). */
  def compute(e: ArrayData, planes: Int, tables: Int): ArrayData = {
    val total = planes * tables
    val proj = new Array[Double](total)
    val n = e.numElements()
    val m = planeMatrix(total, n)
    var i = 0
    while (i < n) {
      val x = e.getFloat(i).toDouble
      var p = 0
      if (m != null) {
        val base = i * total
        while (p < total) {
          proj(p) += x * m(base + p)
          p += 1
        }
      } else {
        while (p < total) {
          val h = XXH64.hashInt(i, XXH64.hashInt(p, 42L))
          proj(p) += x * (h.toDouble / Long.MaxValue.toDouble)
          p += 1
        }
      }
      i += 1
    }
    val buckets = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var b = 0L
      var p = 0
      while (p < planes) {
        if (proj(t * planes + p) > 0) b |= (1L << p)
        p += 1
      }
      buckets(t) = b
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(buckets)
  }

  /** Column DSL form. */
  def lshBuckets(e: Column, planes: Int, tables: Int): Column =
    GraftBridge.column(LshBuckets(GraftBridge.expression(e), planes, tables))
}
