package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.GraftBridge

/** Native Catalyst expression computing ALL Count-Min row cells for a
  * token in one pass: element `r` (r in [0, depth)) equals
  * `pmod(xxhash64(token, r), width)`.
  *
  * The composed form evaluated `xxhash64(token, lit(r))` once per depth
  * row — and Spark's seed-chained xxhash64 re-hashes the token's full
  * UTF-8 bytes on every call although only the final
  * `XXH64.hashInt(r, ·)` mix depends on `r`. This expression hoists the
  * seed-42 byte hash out of the depth loop (the discipline
  * [[MinHashSig]] applies per shingle: hash the bytes once, mix per
  * seed) and returns the whole cell vector, so the depth-way
  * `unionByName` over the token-count stream collapses to ONE
  * projection + posexplode. Bit-identical by the chain law
  * `xxhash64(token, lit(r)) = XXH64.hashInt(r, XXH64(bytes, 42))`,
  * pinned by the composed-form equality spec.
  */
case class CmsCells(child: Expression, depth: Int, width: Long)
    extends UnaryExpression {

  require(depth > 0, s"depth must be positive, got $depth")
  require(width > 0, s"width must be positive, got $width")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cms_cells"

  override def nullSafeEval(v: Any): Any =
    CmsCells.compute(v.asInstanceOf[UTF8String], depth, width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CmsCells.compute($c, $depth, ${width}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CmsCells {

  /** One byte hash (seed 42), then depth seed mixes — exactly Spark's
    * `xxhash64(token, lit(r))` per element, with `pmod` applied. */
  def compute(token: UTF8String, depth: Int, width: Long): UnsafeArrayData = {
    val hBytes = XXH64.hashUnsafeBytes(
      token.getBaseObject, token.getBaseOffset, token.numBytes(), 42L)
    val cells = new Array[Long](depth)
    var r = 0
    while (r < depth) {
      val m = XXH64.hashInt(r, hBytes) % width
      cells(r) = if (m < 0) m + width else m
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(cells)
  }

  /** Column DSL form. */
  def cmsCells(token: Column, depth: Int, width: Long): Column =
    GraftBridge.column(CmsCells(GraftBridge.expression(token), depth, width))
}
