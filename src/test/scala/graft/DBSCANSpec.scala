package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cluster.DBSCAN

/** Distributed DBSCAN vs the exact local reference implementation:
  * identical partitions (cluster membership as set-of-sets) and identical
  * noise, across layouts that cross grid-cell boundaries; and identical
  * LABELS against the canonical labelling built from the local
  * neighbourhoods. */
class DBSCANSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Jobs one `DBSCAN.run` / `runND` call runs, construction through
    * collect, as measured; a new driver action fails the spec. */
  private val JobsPerCall = 9

  /** Canonical DBSCAN labels from brute-force neighbourhoods, with the
    * kernel's arithmetic (Σ StrictMath.pow(a_i − b_i, 2) <= eps²): a core
    * is labelled with the minimum id of its core component, a border
    * point with the minimum cluster among its core neighbours, anything
    * else -1. A point with a null (None) coordinate has no neighbours. */
  private def canonical(pts: Seq[(Long, Seq[Option[Double]])], eps: Double,
                        minPts: Int): Map[Long, Long] = {
    val ids = pts.map(_._1).toArray
    val xs = pts.map(p => if (p._2.forall(_.isDefined)) Some(p._2.map(_.get)) else None).toArray
    def within(a: Seq[Double], b: Seq[Double]) =
      a.indices.map(i => StrictMath.pow(a(i) - b(i), 2)).reduce(_ + _) <= eps * eps
    val nb = ids.indices.map(i => ids.indices.filter(j =>
      xs(i).isDefined && xs(j).isDefined && within(xs(i).get, xs(j).get))).toArray
    val core = nb.map(_.length >= minPts)
    val root = Array.tabulate(ids.length)(identity)
    def find(i: Int): Int = if (root(i) == i) i else find(root(i))
    for (i <- ids.indices if core(i); j <- nb(i) if core(j)) {
      val (a, b) = (find(i), find(j))
      if (a != b) root(math.max(a, b)) = math.min(a, b)
    }
    val compMin = ids.indices.filter(core).groupBy(find).map { case (r, m) => r -> m.map(ids(_)).min }
    val coreLabel = ids.indices.filter(core).map(i => i -> compMin(find(i))).toMap
    ids.indices.map { i =>
      ids(i) -> coreLabel.getOrElse(i,
        nb(i).filter(core).map(coreLabel).reduceOption(_ min _).getOrElse(-1L))
    }.toMap
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap

  /** The plane layouts of the exact-label specs, each with its eps and
    * minPts. Coordinates are (x, y), None = null. */
  private val planeLayouts: Seq[(String, Double, Int, Seq[(Long, Seq[Option[Double]])])] = {
    val rnd = new scala.util.Random(17)
    def pt(id: Long, x: Double, y: Double) = (id, Seq(Some(x), Some(y)))
    // 240 points inside the single cell [0, 1)², a ring of near-border
    // points around it, and scattered noise
    val dense = (0 until 240).map(i => pt(i, rnd.nextDouble() * 0.999, rnd.nextDouble() * 0.999)) ++
      (0 until 24).map { i =>
        val a = i * math.Pi / 12
        pt(1000 + i, 0.5 + 1.45 * math.cos(a), 0.5 + 1.45 * math.sin(a))
      } ++ (0 until 20).map(i => pt(2000 + i, 5 + rnd.nextDouble() * 20, rnd.nextDouble() * 20))
    // a lattice line with spacing exactly eps (0.25 is exact in binary,
    // so each step's squared distance is exactly eps²) and a grid
    // whose diagonals are over eps
    val atEps = (0 until 12).map(i => pt(i, i * 0.25, 3.0)) ++
      (for (i <- 0 until 4; j <- 0 until 4) yield pt(100 + i * 4 + j, 10 + i * 0.25, j * 0.25))
    // blobs straddling the negative cell boundaries (floor, not truncation)
    val negative = (0 until 60).map(i =>
      pt(i, -0.05 + rnd.nextGaussian() * 0.04, -1.0 + rnd.nextGaussian() * 0.04)) ++
      (0 until 30).map(i => pt(100 + i, -3.02 + (i % 6) * 0.02, -0.02 + (i / 6) * 0.01))
    // duplicated coordinates: cores by multiplicity alone, and a border
    // pair sharing a spot
    val dups = (0 until 5).map(i => pt(i, 1.0, 1.0)) ++ (0 until 3).map(i => pt(10 + i, 1.05, 1.0)) ++
      Seq(pt(20, 1.12, 1.0), pt(21, 1.12, 1.0), pt(30, 4.0, 4.0), pt(31, 4.0, 4.0))
    // a null coordinate beside a cluster, which must stay noise and not
    // count toward anyone's degree
    val nulls = (0 until 4).map(i => pt(i, i * 0.05, 0.0)) ++
      Seq((10L, Seq(Some(0.05), None)), (11L, Seq(None, Some(0.0))), (12L, Seq(None, None)))
    // sparse ids: huge gaps, negative ids, ids near Long.MaxValue
    val sparse = (0 until 40).map { i =>
      val id = if (i % 3 == 0) -7L * (i + 1) * 1000003L
        else if (i % 3 == 1) Long.MaxValue - i * 99991L else i * 1000000007L
      pt(id, (i % 8) * 0.06 + (i / 20) * 3.0, (i / 8 % 3) * 0.06)
    }
    Seq(("200+ points in one cell", 1.0, 5, dense), ("pairs at exactly eps", 0.25, 3, atEps),
      ("negative coordinates", 0.1, 4, negative), ("duplicate coordinates", 0.1, 5, dups),
      ("a null coordinate", 0.1, 3, nulls), ("sparse ids", 0.1, 4, sparse))
  }

  test("exact labels == canonical labels: plane layouts, run and runND") {
    planeLayouts.foreach { case (what, eps, minPts, pts) =>
      val df = pts.map { case (id, c) => (id, c(0), c(1)) }.toDF("id", "x", "y")
      val want = canonical(pts, eps, minPts)
      assert(labels(DBSCAN.run(df, eps, minPts)) == want, s"run: $what")
      assert(labels(DBSCAN.runND(df, Seq("x", "y"), eps, minPts)) == want, s"runND: $what")
      assert(want.values.exists(_ != -1L), s"$what: layout has no cluster")
    }
  }

  test(s"a call runs at most $JobsPerCall jobs and shuffles at most 3·3^d·n records") {
    // 600 points in ten tight clumps, ~60 neighbours each: a
    // neighbour-pair-sized intermediate would shuffle over 10·n rows
    val rnd = new scala.util.Random(3)
    val n = 600
    val df = (0 until n).map { i =>
      (i.toLong, (i % 10) * 2.0 + rnd.nextDouble() * 0.3, rnd.nextDouble() * 0.3, (i % 2).toDouble)
    }.toDF("id", "x", "y", "s").cache()
    df.count()
    def measure(body: => Unit): (Int, Long) = {
      val group = s"dbscan-${java.util.UUID.randomUUID()}"
      val stages = scala.collection.concurrent.TrieMap.empty[Int, Unit]
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val records = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
            jobs.incrementAndGet()
            e.stageIds.foreach(stages.update(_, ()))
          }
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (stages.contains(e.stageId) && e.taskMetrics != null)
            records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "dbscan job count", interruptOnCancel = false)
      try body finally {
        spark.sparkContext.clearJobGroup()
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
      (jobs.get, records.get)
    }
    Seq(2 -> (() => DBSCAN.run(df, 0.1, 5).collect()),
        3 -> (() => DBSCAN.runND(df, Seq("x", "y", "s"), 0.1, 5).collect())).foreach {
      case (d, call) =>
        val (jobs, records) = measure(call())
        val bound = 3L * math.pow(3, d).toLong * n
        info(s"d = $d: $jobs jobs, $records shuffle records (bound $bound)")
        assert(jobs <= JobsPerCall, s"d = $d: a driver action crept into DBSCAN: $jobs jobs")
        assert(records <= bound, s"d = $d: $records shuffle records > $bound")
    }
    df.unpersist()
  }

  test("exact labels == canonical labels: 3-D severity variant") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 300).map { i =>
      val (la, lo) = if (i < 200) (49.2 + rnd.nextGaussian() * 0.15, -123.0 + rnd.nextGaussian() * 0.2)
        else (48.0 + rnd.nextDouble() * 8, -130.0 + rnd.nextDouble() * 14)
      (i.toLong * 37 - 500, la, lo, (1 + rnd.nextInt(3)).toDouble)
    }
    val eps = 25.0 / graft.ops.Geo.EarthRadiusKm
    val out = DBSCAN.severityCoordsDbscan(rows.toDF("id", "lat", "lon", "sev"),
      "lat", "lon", "sev", 25.0, 4)
    val want = canonical(rows.map { case (id, la, lo, s) =>
      (id, Seq(Some(math.toRadians(la)), Some(math.toRadians(lo)), Some(s))) }, eps, 4)
    assert(labels(out) == want)
    assert(want.values.filter(_ != -1L).toSet.size >= 3, "severities must form several clusters")
  }

  private def partitions(assign: Map[Long, Long]): (Set[Set[Long]], Set[Long]) = {
    val (noise, clustered) = assign.partition(_._2 == -1L)
    (clustered.groupBy(_._2).values.map(_.keySet.toSet).toSet, noise.keySet.toSet)
  }

  private def runBoth(pts: Seq[(Long, Double, Double)], eps: Double, minPts: Int) = {
    val df = pts.toDF("id", "x", "y")
    val dist = DBSCAN.run(df, eps, minPts).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val loc = DBSCAN.local(pts, eps, minPts)
    (partitions(dist), partitions(loc))
  }

  test("two blobs + noise, clusters spanning cell boundaries") {
    val blob1 = (0 until 20).map(i => (i.toLong, 0.95 + (i % 5) * 0.04, 1.98 + (i / 5) * 0.04))
    val blob2 = (0 until 15).map(i => (100L + i, 5.0 + (i % 4) * 0.05, -3.0 + (i / 4) * 0.05))
    val noise = Seq((900L, 50.0, 50.0), (901L, -20.0, 10.0))
    val ((dc, dn), (lc, ln)) = runBoth(blob1 ++ blob2 ++ noise, 0.15, 4)
    assert(dc == lc, s"clusters differ: $dc vs $lc")
    assert(dn == ln)
    assert(dc.size == 2)
  }

  test("all noise when eps tiny") {
    val pts = (0 until 30).map(i => (i.toLong, i * 10.0, i * 7.0))
    val ((dc, dn), (lc, ln)) = runBoth(pts, 0.001, 3)
    assert(dc.isEmpty && dn == pts.map(_._1).toSet)
    assert(lc.isEmpty && ln == dn)
  }

  test("single dense cluster: everything cores into one component") {
    val pts = (0 until 25).map(i => (i.toLong, (i % 5) * 0.01, (i / 5) * 0.01))
    val ((dc, dn), (lc, ln)) = runBoth(pts, 0.05, 5)
    assert(dc == lc && dc.size == 1 && dn.isEmpty)
  }

  test("chain cluster across many cells (transitive connectivity)") {
    // points spaced 0.9*eps in a line: all density-reachable as one cluster
    val pts = (0 until 40).map(i => (i.toLong, i * 0.09, 0.0))
    val ((dc, dn), (lc, ln)) = runBoth(pts, 0.1, 3)
    assert(dc == lc, s"chain clusters differ")
    assert(dc.size == 1, s"expected one chain cluster, got ${dc.size}")
  }

  test("latLonToLocalXY projects km-scale distances") {
    val df = Seq((1L, 49.28, -123.12), (2L, 49.89, -119.50)).toDF("id", "lat", "lon")
    val xy = DBSCAN.latLonToLocalXY(df, "lat", "lon").collect()
      .map(r => r.getLong(0) -> (r.getAs[Double]("x"), r.getAs[Double]("y"))).toMap
    val dx = xy(1L)._1 - xy(2L)._1; val dy = xy(1L)._2 - xy(2L)._2
    val dist = math.sqrt(dx * dx + dy * dy)
    assert(math.abs(dist - 272) < 8, s"projected distance $dist km")
  }

  test("runND with 2 dims matches the 2D implementation") {
    val pts = (0 until 30).map(i => (i.toLong, (i % 6) * 0.04, (i / 6) * 0.04)) ++
      Seq((200L, 9.0, 9.0))
    val df = pts.toDF("id", "x", "y")
    val d2 = DBSCAN.run(df, 0.1, 4).collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val dn = DBSCAN.runND(df, Seq("x", "y"), 0.1, 4).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    assert(partitions(d2) == partitions(dn))
  }

  test("coords+severity variant stratifies clusters by severity (reference semantics)") {
    // one tight geographic blob, half MINOR (1.0) half MAJOR (3.0):
    // severity distance 2.0 >> eps, so two clusters must emerge
    val rows = (0 until 10).map(i =>
      (i.toLong, 49.0 + (i % 5) * 1e-4, -123.0 + (i / 5) * 1e-4, if (i < 5) 1.0 else 3.0))
    val df = rows.toDF("id", "lat", "lon", "sev")
    val out = DBSCAN.severityCoordsDbscan(df, "lat", "lon", "sev", epsKm = 25.0, minPts = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    val minorClusters = (0 until 5).map(i => out(i.toLong)).toSet
    val majorClusters = (5 until 10).map(i => out(i.toLong)).toSet
    assert(minorClusters.size == 1 && majorClusters.size == 1)
    assert(minorClusters != majorClusters, "severities must not co-cluster")
    // oracle cross-check in 3D
    val local = DBSCAN.localND(rows.map { case (id, la, lo, s) =>
      (id, Seq(math.toRadians(la), math.toRadians(lo), s)) },
      25.0 / graft.ops.Geo.EarthRadiusKm, 3)
    assert(partitions(out) == partitions(local))
  }

  test("distributed DBSCAN on real embedding projection is stable") {
    val pts = graft.ops.Tables.embeddings(spark, sf).select(
      col("vec_id").as("id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    val raw = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val local = DBSCAN.local(raw, 0.02, 4)
    val dist = DBSCAN.run(pts, 0.02, 4).collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(partitions(dist) == partitions(local))
    assert(dist == canonical(raw.map(p => (p._1, Seq(Some(p._2), Some(p._3)))), 0.02, 4))
  }

  test("radiusPairs: grid candidate generation is lossless vs brute force") {
    // adversarial placements: pairs straddling cell boundaries, a pair
    // at distance EXACTLY r (inclusive), a pair just over r, and
    // negative coordinates (floor-division cells, not truncation)
    val r = 1.0
    val pts = Seq(
      (1L, 0.95, 0.0), (2L, 1.05, 0.0),   // straddle x-cell boundary, d=0.1
      (3L, 3.0, 3.0), (4L, 3.0, 4.0),     // d = exactly r → included
      (5L, 6.0, 0.0), (6L, 6.0, 1.001),   // just over r → excluded
      (7L, -0.5, -0.5), (8L, -1.4, -0.5), // negative coords, d=0.9
      (9L, 10.0, 10.0)                    // isolated
    ).toDF("id", "x", "y")
    val got = graft.ops.Geo.radiusPairs(pts, r).collect()
      .map(rw => (rw.getLong(0), rw.getLong(1))).toSet
    val raw = pts.collect().map(rw => (rw.getLong(0), rw.getDouble(1), rw.getDouble(2)))
    val brute = (for {
      a <- raw; b <- raw if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= r * r
    } yield (a._1, b._1)).toSet
    assert(got == brute, s"grid join diverged: got $got, brute $brute")
    assert(got.contains((3L, 4L)), "boundary pair at d == r must be included")
    assert(!got.contains((5L, 6L)), "pair just over r must be excluded")
  }
}
