package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge list, as pure Catalyst plans.
  *
  * Implements the alternating large-star / small-star algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014): each round rewires every vertex's neighbors toward the
  * smallest id seen in its neighborhood, and the edge set provably
  * converges to per-component stars rooted at the component minimum in
  * O(log n) rounds — independent of graph diameter, unlike plain
  * label propagation (and unlike GraphX Pregel CC, whose round count
  * is the component diameter).
  *
  * Why this exists next to `graphx.Graph.connectedComponents` (which
  * round-1/2 code used): each half-round here is one hash aggregation
  * + one equi-join + one dedup — shapes Catalyst/AQE plan natively
  * (broadcast when small, skew-split when not, whole-stage codegen
  * throughout), with `localCheckpoint` truncating lineage between
  * rounds. Nothing is pinned in executor memory between rounds, so a
  * 100 TB edge set spills gracefully instead of OOMing a resident
  * `Graph`; and on the near-dup star graphs the dedup pipeline emits
  * (tiny diameter, huge fan-in) it converges in 2–3 rounds. Measured
  * at sf0.1 it beats the GraphX path on every consumer (BENCH_r03 vs
  * r02: q57/q59/q63/q68/q85), mostly by skipping Pregel's fixed
  * per-iteration job overhead.
  *
  * Determinism: the component label is the MINIMUM vertex id of the
  * component — a set property, independent of execution order — so
  * results are stable across runs/partitionings (oracle-safe).
  */
object ConnectedComponents {

  /** Edge sets at most this big skip straight to the driver-side
    * union-find finish ([[finishLocal]]): ≤ ~32 MB of longs collected
    * once, instead of O(log n) more rounds of cluster jobs — and round
    * OVERHEAD, not data volume, dominates once the contracted graph is
    * small (measured: a 920-edge graph cost 11 s in round overhead at
    * local[32], 0.3 s hybrid). At 100 TB the distributed rounds do the
    * real contraction; the count the convergence fingerprint already
    * pays for tells us when the remainder fits the driver. Roots stay
    * the component minima, so the output is bit-identical either way
    * (equality-tested). */
  val DriverEdgeBound: Long = 2L * 1000 * 1000

  /** Star-contract the edge set until fixpoint. Input: undirected edges
    * (u, v), self-loops ignored. Output: one row (id, component) per
    * NON-ROOT vertex that appears in an edge — roots (component minima)
    * and isolated vertices are absent (see [[components]] for the
    * vertex-complete form). */
  def contract(edges: DataFrame, maxIter: Int = 64,
               driverEdgeBound: Long = DriverEdgeBound): DataFrame = {
    val spark = edges.sparkSession
    // Lazy: the first fingerprint materializes the checkpoint as it scans,
    // so a bounded input that goes straight to the driver finish is
    // computed once and costs no checkpoint job of its own.
    var e = edges.toDF("u", "v")
      .filter(col("u") =!= col("v"))
      .select(col("u").cast("long"), col("v").cast("long"))
      .localCheckpoint(eager = false)
    var fp = fingerprint(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter && fp._1 > driverEdgeBound) {
      // large-star: every neighbor larger than u is rewired to the
      // minimum of u's closed neighborhood.
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      // not checkpointed OR deduplicated: the half-round is two plan
      // nodes deep off the checkpointed `e` (re-deriving it twice for
      // small-star is cheaper than an eager materialization per round),
      // and duplicate edges are harmless to small-star's min-aggregate —
      // skipping the dedup saves an Exchange per round; small-star's own
      // dedup bounds the carried edge set.
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
        .filter(col("u") =!= col("v"))
      // small-star: every neighbor smaller than u (and u itself) is
      // rewired to the minimum of u's smaller neighborhood.
      val symL = large.union(large.select(col("v").as("u"), col("u").as("v")))
      val dir = symL.filter(col("v") < col("u"))
      val mins2 = dir.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val small = dir.join(mins2, "u")
        .select(col("v").as("u"), col("mn").as("v"))
        .union(mins2.select(col("u"), col("mn").as("v")))
        .filter(col("u") =!= col("v"))
        .dropDuplicates("u", "v")
        .localCheckpoint()
      val fp2 = fingerprint(small)
      converged = fp2 == fp
      fp = fp2
      e = small
      it += 1
    }
    if (!converged && fp._1 <= driverEdgeBound) return finishLocal(e)
    require(converged, s"ConnectedComponents.contract: no fixpoint after $maxIter rounds")
    // At fixpoint the edge set is a star per component: (member, root).
    e.select(col("u").as("id"), col("v").as("component"))
  }

  /** Driver union-find finish over a bounded edge set: same output
    * contract as [[contract]] — (id, component-minimum) rows for
    * non-root vertices. Union attaches the larger root under the
    * smaller, so every final root IS its component's minimum id. */
  private def finishLocal(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val rows = e.select(col("u"), col("v")).as[(Long, Long)].collect()
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != r) {
        val n: Long = parent.getOrDefault(c, c); parent.put(c, r); c = n
      }
      r
    }
    rows.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
    }
    val verts = new java.util.HashSet[java.lang.Long]()
    rows.foreach { case (u, v) => verts.add(u); verts.add(v) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    verts.forEach { vtx =>
      val root = find(vtx)
      if (root != vtx.longValue) out += ((vtx.longValue, root))
    }
    spark.createDataset(out.toSeq).toDF("id", "component")
  }

  /** Vertex-complete components: every id in `vertices` gets a row;
    * vertices untouched by `edges` (and component roots) label
    * themselves. `vertices`: single id column; `edges`: two id columns. */
  def components(vertices: DataFrame, edges: DataFrame, maxIter: Int = 64): DataFrame = {
    val v = vertices.toDF("id").select(col("id").cast("long"))
    val labeled = contract(edges, maxIter)
    v.join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Order-insensitive edge-set fingerprint: (count, XOR of row
    * hashes). One scalar action per round — the convergence test the
    * driver can afford at any scale. XOR over the DEDUPLICATED edge set
    * is order-insensitive, overflow-free, and stays in plain long
    * codegen (a decimal sum here was the single hottest JIT path of the
    * whole loop); a false fixpoint needs two distinct edge sets with
    * equal count AND equal 64-bit hash XOR — negligible against the
    * hardware error rate. */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      count(lit(1)).as("c"),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }
}
