package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Layout

/** Z-order layout: the interleave is a bijection, the written files
  * cover compact boxes in EVERY z-dimension, and the resulting min/max
  * stats prune files for a predicate on the non-leading dimension —
  * where a single-column sort layout prunes nothing.
  */
class LayoutSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  // 64x64 grid in a scrambled row order (so layout, not input order,
  // determines file contents)
  private def grid = spark.range(64 * 64)
    .select(col("id"), (col("id") % 64).as("x"), floor(col("id") / 64).as("y"))
    .orderBy(md5(col("id").cast("string")))

  test("compact rewrites a fragmented table into fewer files, content intact") {
    val dir = tempDir("graft_compact") + "/t"
    // simulate micro-batch appends: 12 tiny files
    for (b <- 0 until 12)
      spark.range(b * 100, (b + 1) * 100).toDF("id")
        .coalesce(1).write.mode("append").parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    val before = parquetFiles
    assert(before >= 12)
    Layout.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(parquetFiles == 1, s"expected 1 file, got $parquetFiles")
    val rows = spark.read.parquet(dir)
    assert(rows.count() == 1200)
    assert(rows.agg(sum(col("id"))).first().getLong(0) == 1200L * 1199 / 2)
    assert(!new java.io.File(dir + ".precompact").exists)
    assert(!new java.io.File(dir + ".compact").exists)
  }

  test("compact recovers from a crash stranded between the two swap renames") {
    val base = tempDir("graft_compact_cr")
    val dir = base + "/t"
    spark.range(0, 500).toDF("id").write.parquet(dir)
    val fsDir = new java.io.File(dir)
    // Simulate the mid-swap crash: table moved aside, rewrite never
    // installed — `path` absent, everything stranded at `.precompact`.
    assert(fsDir.renameTo(new java.io.File(dir + ".precompact")))
    // Plus a stale partial rewrite from the same crashed run.
    new java.io.File(dir + ".compact").mkdirs()
    Layout.compact(spark, dir, targetFileBytes = 1L << 30)
    val rows = spark.read.parquet(dir)
    assert(rows.count() == 500, "crash recovery lost rows")
    assert(!new java.io.File(dir + ".precompact").exists)
    assert(!new java.io.File(dir + ".compact").exists)

    // Crash AFTER install but before cleanup: live table present, stale
    // `.precompact` left behind — must be deleted, table untouched.
    new java.io.File(dir + ".precompact").mkdirs()
    Layout.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(spark.read.parquet(dir).count() == 500)
    assert(!new java.io.File(dir + ".precompact").exists)
  }

  test("native zValue is bit-identical to the HOF form (incl. 3 cols, odd bits)") {
    val probe = spark.range(5000).select(
      col("id"),
      (col("id") * 2654435761L % 65521L).as("a"),
      (col("id") * 40503L % 131071L).as("b"),
      (col("id") % 7L).as("c"))
    for ((cols, bits) <- Seq(
        (Seq(col("a"), col("b")), 10),
        (Seq(col("a"), col("b"), col("c")), 7),
        (Seq(col("a")), 16))) {
      val diff = probe.select(
          Layout.zValue(cols, bits).as("zn"), Layout.zValueHof(cols, bits).as("zh"))
        .filter(col("zn") =!= col("zh")).count()
      assert(diff == 0, s"native/HOF mismatch for ${cols.size} cols, $bits bits")
    }
  }

  test("zValue interleave is a bijection on the quantized grid") {
    val z = grid.select(Layout.zValue(Seq(col("x"), col("y")), 6).as("z"))
    assert(z.distinct().count() == 64 * 64)
    assert(z.agg(min(col("z")), max(col("z"))).first() match {
      case r => r.getLong(0) == 0L && r.getLong(1) == 64L * 64 - 1
    })
  }

  test("quantize: constant columns map to 0; range maps onto [0, 2^bits)") {
    val const = grid.select(lit(7).as("c"), col("x"))
    assert(const.select(Layout.quantize(const, "c", 8)).distinct().count() == 1)
    val q = grid.select(Layout.quantize(grid, "x", 4).as("q"))
      .agg(min(col("q")), max(col("q"))).first()
    assert(q.getLong(0) == 0L && q.getLong(1) == 15L, s"quantized range $q")
  }

  test("zValue on one column is the identity on its low bits") {
    val ids = spark.range(256)
    val bad = ids.select(col("id"), Layout.zValue(Seq(col("id")), 8).as("z"))
      .filter(col("id") =!= col("z")).count()
    assert(bad == 0, "single-column interleave must be the identity")
  }

  test("z-ordered files are compact in both dimensions; x-sorted files are not") {
    def boxes(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min(col("x")).as("x0"), max(col("x")).as("x1"),
           min(col("y")).as("y0"), max(col("y")).as("y1"))
      .collect()

    val zDir = tempDir("graft_zorder")
    Layout.zorderWrite(grid, Seq("x", "y"), zDir, numFiles = 16)
    val xDir = tempDir("graft_xsort")
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)

    val zBoxes = boxes(zDir)
    val xBoxes = boxes(xDir)
    assert(zBoxes.length == 16 && xBoxes.length == 16)

    // 4096 rows / 16 files = 256 rows per file: a compact z-tile is
    // ~16x16. Allow slack for range-boundary ties; the x-sorted layout
    // meanwhile spans the FULL y range in every file.
    val zYSpanAvg = zBoxes.map(r => r.getLong(4) - r.getLong(3)).sum.toDouble / zBoxes.length
    val xYSpanAvg = xBoxes.map(r => r.getLong(4) - r.getLong(3)).sum.toDouble / xBoxes.length
    assert(zYSpanAvg <= 24, s"z files not compact in y: avg span $zYSpanAvg")
    assert(xYSpanAvg >= 60, s"x-sorted control unexpectedly compact: $xYSpanAvg")

    // File-level skipping for `y BETWEEN 20 AND 24` — exactly the
    // min/max intersection test parquet row-group pruning (and any
    // file-stats index) applies. Z-order touches a minority of files;
    // the x-sorted layout must read every file.
    def touched(bs: Array[org.apache.spark.sql.Row]) =
      bs.count(r => r.getLong(3) <= 24 && r.getLong(4) >= 20)
    assert(touched(zBoxes) <= 8, s"z-order touched ${touched(zBoxes)}/16 files")
    assert(touched(xBoxes) == 16, "x-sorted control should intersect every file")

    // layout changes bytes on disk, never content
    val back = spark.read.parquet(zDir)
    assert(back.count() == 4096 &&
      back.agg(sum(col("x") * col("y"))).first().getLong(0) ==
      grid.agg(sum(col("x") * col("y"))).first().getLong(0))
  }
}
