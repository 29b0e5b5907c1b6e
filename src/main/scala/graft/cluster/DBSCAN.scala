package graft.cluster

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed DBSCAN (SURVEY.md §2.8 U2) — the reference's one custom
  * algorithm. The reference collected the whole dataset to the driver for
  * sklearn because a naive per-partition pandas-UDF version clustered
  * each partition independently and was wrong (`Report.pdf p.15`,
  * `/root/reference/cluster.py:33-58`). This is the Spark-native design
  * it needed, a grid kernel in the Raptor (VLDB 2019) style: the
  * geometry runs inside each grid cell, and no neighbour-pair-sized
  * intermediate ever exists.
  *
  *  1. grid: cell side = eps per dimension, so all eps-neighbours of a
  *     point lie in its 3^d cell neighbourhood. Each point is sent to
  *     those 3^d cells (one shuffle); only its own cell holds it as a
  *     HOME point, the others as halo;
  *  2. degree pass: per cell, each home point counts the points of the
  *     group within eps (self included) — core = count >= minPts;
  *  3. link pass: the same fan-out again, now carrying the core flag.
  *     Per cell, a union-find over the core–core neighbour pairs with a
  *     home endpoint emits spanning-forest edges (at most one per core
  *     vertex per cell), and each home non-core point emits its core
  *     neighbours (fewer than minPts of them);
  *  4. clusters = [[ConnectedComponents]] over the forest edges; border
  *     points take the minimum cluster among their core neighbours;
  *     everything else is noise (cluster = -1, sklearn convention).
  *
  * Labels: a cluster id is the minimum point id of the component's
  * cores, and a border point joins the minimum cluster among its core
  * neighbours — deterministic, unlike sklearn's discovery order.
  * Arithmetic: cell = floor(v / eps) as a long; squared distance =
  * Σ StrictMath.pow(a_i − b_i, 2) summed in dimension order and tested
  * `<= eps * eps`. A null coordinate means noise; a null id still counts
  * toward its neighbours' degrees but is never core and is labelled -1.
  * Ids are expected to be unique.
  *
  * Scale: two shuffles of 3^d rows per point and per-cell work of
  * home × group points (the degree count stops at minPts). A dense-city
  * cell is one group; its quadratic link work is inherent to DBSCAN
  * (everyone is everyone's neighbour there) and is measured by
  * StressBench `dbscan_skew`.
  *
  * Input: (id: long, x: double, y: double) in a euclidean plane; for
  * lat/lon use [[latLonToLocalXY]] (km-scaled equirectangular — within
  * ~0.3% of haversine at the reference's 25 km eps over BC latitudes).
  */
object DBSCAN {

  /** A point inside the grid kernel: id (`hasId` false for a null id),
    * coordinates, and the core flag once the degree pass has set it. */
  private final case class GridPoint(id: Long, hasId: Boolean, xs: Array[Double],
                                     core: Boolean)

  /** Project (lat, lon) degrees to local km coordinates. Computes one
    * [[graft.ops.Scalar]] (mean latitude) at construction. */
  def latLonToLocalXY(df: DataFrame, latCol: String, lonCol: String): DataFrame = {
    val kmPerDegLat = math.Pi * graft.ops.Geo.EarthRadiusKm / 180.0
    val meanLat: Double = graft.ops.Scalar.reduce(df, avg(col(latCol)))
    val kmPerDegLon = kmPerDegLat * math.cos(math.toRadians(meanLat))
    df.withColumn("x", col(lonCol) * kmPerDegLon)
      .withColumn("y", col(latCol) * kmPerDegLat)
  }

  /** N-dimensional distributed DBSCAN over `dims` columns (the grid
    * kernel above, d = dims.length). Returns the input columns +
    * `cluster`. Supports the reference's 3-D coords⊕severity variant
    * (`cluster.py:50-58`). */
  def runND(points: DataFrame, dims: Seq[String], eps: Double, minPts: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val d = dims.length
    val eps2 = eps * eps
    val grid: RDD[GridPoint] = points
      .select((col("id").cast("long") +: dims.map(c => col(c).cast("double"))): _*)
      .rdd.flatMap { r =>
        if ((1 to d).exists(r.isNullAt)) None
        else Some(GridPoint(if (r.isNullAt(0)) 0L else r.getLong(0), !r.isNullAt(0),
          Array.tabulate(d)(i => r.getDouble(i + 1)), core = false))
      }
    val parts = math.max(grid.getNumPartitions, spark.sparkContext.defaultParallelism)
    val offsets: Array[Array[Long]] = (0 until d).foldLeft(Seq(Seq.empty[Long])) { (acc, _) =>
      acc.flatMap(o => Seq(-1L, 0L, 1L).map(o :+ _))
    }.map(_.toArray).toArray
    // one shuffle: every point to its 3^d neighbour cells, home flag on its own
    def fanOut(pts: RDD[GridPoint]): RDD[Iterable[(GridPoint, Boolean)]] =
      pts.flatMap { p =>
        val cell = p.xs.map(v => math.floor(v / eps).toLong)
        offsets.iterator.map { o =>
          (cell.indices.map(i => cell(i) + o(i)).toList, (p, o.forall(_ == 0L)))
        }
      }.groupByKey(parts).values
    val classified = fanOut(grid).flatMap(degreePass(_, eps2, minPts))
    val linked = fanOut(classified).flatMap(linkPass(_, eps2))
      .toDF("edge", "a", "b")
      .localCheckpoint() // read by the forest edges and the label rows
    // component = min core id (roots are absent and label themselves);
    // a point's label is the minimum component over its label rows
    val components = ConnectedComponents.contract(
        linked.filter(col("edge")).select(col("a"), col("b")))
      .toDF("b", "component")
    val labels = linked.filter(!col("edge"))
      .join(components, Seq("b"), "left")
      .groupBy(col("a").as("id"))
      .agg(min(coalesce(col("component"), col("b"))).as("cluster"))
    points.join(labels, Seq("id"), "left")
      .select(points.columns.toIndexedSeq.map(col) :+
        coalesce(col("cluster"), lit(-1L)).as("cluster"): _*)
  }

  private def within(a: Array[Double], b: Array[Double], eps2: Double): Boolean = {
    var s = StrictMath.pow(a(0) - b(0), 2)
    var i = 1
    while (i < a.length) { s += StrictMath.pow(a(i) - b(i), 2); i += 1 }
    s <= eps2
  }

  /** Degree pass over one cell group: each home point, core-flagged. The
    * count stops at minPts — only the threshold decides the label. */
  private def degreePass(group: Iterable[(GridPoint, Boolean)], eps2: Double,
                         minPts: Int): Iterator[GridPoint] = {
    val all = group.iterator.map(_._1).toArray
    group.iterator.collect { case (h, true) =>
      var deg = 0
      var j = 0
      while (j < all.length && deg < minPts) {
        if (within(h.xs, all(j).xs, eps2)) deg += 1
        j += 1
      }
      h.copy(core = h.hasId && deg >= minPts)
    }
  }

  /** Link pass over one cell group: (true, u, v) per spanning-forest
    * edge of the core–core neighbour pairs with a home endpoint, and
    * label rows (false, p, c) — a home core is its own (c = p), a home
    * non-core lists its core neighbours. */
  private def linkPass(group: Iterable[(GridPoint, Boolean)],
                       eps2: Double): Iterator[(Boolean, Long, Long)] = {
    val cores = group.iterator.filter(_._1.core).toArray
    val parent = Array.tabulate(cores.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Long, Long)]
    for (i <- cores.indices if cores(i)._2) {
      val h = cores(i)._1
      out += ((false, h.id, h.id))
      for (j <- cores.indices) {
        val ri = find(i); val rj = find(j)
        if (ri != rj && within(h.xs, cores(j)._1.xs, eps2)) {
          parent(ri) = rj
          out += ((true, h.id, cores(j)._1.id))
        }
      }
    }
    group.foreach { case (h, isHome) =>
      if (isHome && h.hasId && !h.core)
        cores.foreach { case (c, _) =>
          if (within(h.xs, c.xs, eps2)) out += ((false, h.id, c.id))
        }
    }
    out.iterator
  }

  /** The reference's coords⊕severity euclidean variant
    * (`cluster.py:50-58`): 3-D DBSCAN over (radians(lat), radians(lon),
    * severity ordinal). With eps ≈ 25 km/R⊕ ≈ 0.004 and severity steps
    * of 1.0, differing severities can never be neighbors — the metric
    * the reference chose effectively stratifies clusters by severity,
    * and this replicates that exactly. */
  def severityCoordsDbscan(df: DataFrame, latCol: String, lonCol: String,
                           severityNumCol: String, epsKm: Double, minPts: Int): DataFrame =
    runND(
      df.withColumn("__rlat", radians(col(latCol)))
        .withColumn("__rlon", radians(col(lonCol)))
        .withColumn("__sev", col(severityNumCol).cast("double")),
      Seq("__rlat", "__rlon", "__sev"),
      epsKm / graft.ops.Geo.EarthRadiusKm, minPts)
      .drop("__rlat", "__rlon", "__sev")

  /** Distributed DBSCAN in the plane: [[runND]] over the casted
    * (id, x, y) projection. Returns (id, x, y, cluster). */
  def run(points: DataFrame, eps: Double, minPts: Int): DataFrame =
    runND(points.select(col("id").cast("long"), col("x").cast("double"),
      col("y").cast("double")), Seq("x", "y"), eps, minPts)

  /** N-dimensional exact local DBSCAN (test oracle for [[runND]]). */
  def localND(points: Seq[(Long, Seq[Double])], eps: Double, minPts: Int): Map[Long, Long] = {
    val arr = points.toArray
    val idx = arr.indices
    def d2(i: Int, j: Int): Double =
      arr(i)._2.zip(arr(j)._2).map { case (a, b) => (a - b) * (a - b) }.sum
    val neighbors = idx.map(i => idx.filter(j => d2(i, j) <= eps * eps)).toArray
    val core = idx.map(i => neighbors(i).length >= minPts).toArray
    val label = Array.fill(arr.length)(-2L)
    var cid = -1L
    for (i <- idx if core(i) && label(i) == -2L) {
      cid += 1
      label(i) = cid
      var frontier = List(i)
      while (frontier.nonEmpty) {
        val cur = frontier.head; frontier = frontier.tail
        for (n <- neighbors(cur) if label(n) < 0) {
          label(n) = cid
          if (core(n)) frontier = n :: frontier
        }
      }
    }
    idx.map(i => arr(i)._1 -> (if (label(i) == -2L) -1L else label(i))).toMap
  }

  /** Exact single-node reference implementation (classic DBSCAN) in the
    * plane — the semantics oracle for [[run]], preserving the
    * reference's driver-side behavior (`cluster.py:40-44`). */
  def local(points: Seq[(Long, Double, Double)], eps: Double, minPts: Int): Map[Long, Long] =
    localND(points.map(p => (p._1, Seq(p._2, p._3))), eps, minPts)
}
