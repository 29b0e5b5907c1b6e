package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.{PQ, Similarity}

/** IVF-PQ: encoding invariants + recall against exact brute force. */
class SimPQSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private lazy val emb = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("pqBuild encodes every vector with m in-range codes") {
    val idx = PQ.pqBuild(emb, nlist = 8, m = 4, ksub = 16)
    assert(idx.codebooks.length == 4)
    assert(idx.codebooks.forall(_.length == 16))
    assert(idx.codebooks.forall(_.forall(_.length == 16))) // 64/4 dims
    val bad = idx.codes.filter(size(col("codes")) =!= 4 ||
      exists(col("codes"), c => c < 0 || c >= 16)).count()
    assert(bad == 0, "all codes must be in [0, ksub)")
    assert(idx.codes.count() == emb.count())
  }

  test("pq search is deterministic across runs") {
    val q = emb.filter(col("vec_id") < 4)
    val r1 = PQ.pqTopK(q, emb, 5, nprobe = 4, refine = 32).collect().toSeq
    val r2 = PQ.pqTopK(q, emb, 5, nprobe = 4, refine = 32).collect().toSeq
    assert(r1 == r2)
  }

  test("persisted PQ index serves partition-pruned probes with identical results") {
    val idx = PQ.pqBuild(emb, nlist = 8, m = 4, ksub = 16)
    val dir = tempDir("graft_pq")
    PQ.pqWriteIndex(idx, emb, dir)
    val q = emb.filter(col("vec_id") < 6)

    val served = PQ.pqSearchIndexed(spark, dir, q, 5, nprobe = 4, refine = 32)
    val inMem  = PQ.pqSearch(idx, emb, q, 5, nprobe = 4, refine = 32)
    assert(served.collect().map(_.toString).toSeq ==
      inMem.collect().map(_.toString).toSeq, "serving path must equal in-memory path")

    // the probed cell set must reach BOTH the codes scan (ADC) and the
    // vectors scan (exact re-rank) as static partition filters — the
    // serve reads only the probed inverted lists, like the IVF twin
    val plan = served.queryExecution.executedPlan.toString
    val prunedScans = "PartitionFilters: \\[[^\\]]*cell#\\d+ IN".r.findAllIn(plan).size
    assert(prunedScans >= 2,
      s"expected cell IN (...) partition filters on codes AND vectors scans:\n$plan")
  }

  test("ADC ranking recall: full probe isolates quantization loss") {
    // sf0.01 (500 vectors). With nprobe = nlist the coarse probe misses
    // nothing, so any recall loss is the PQ approximation itself (ADC
    // ordering deciding which `refine` candidates reach the exact
    // re-rank). This is the quantity PQ controls; assert it is small.
    val emb01 = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = emb01.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(q, emb01, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = PQ.pqTopK(q, emb01, 5, nlist = 16, m = 8, ksub = 32,
        nprobe = 16, refine = 96).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.85, s"ADC recall@5 $recall below 0.85 " +
      s"(hit ${(exact & approx).size} of ${exact.size})")
  }

  test("probe-limited recall matches the IVF operator's own bar") {
    // At nprobe < nlist recall is bounded by which cells get probed —
    // identical to plain IVF (same coarse quantizer). The synthetic
    // embeddings cluster weakly, so mirror TextDedupSimSpec's IVF
    // threshold rather than pretending PQ could beat its own probe.
    val emb01 = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = emb01.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(q, emb01, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = PQ.pqTopK(q, emb01, 5, nlist = 16, m = 4, ksub = 16,
        nprobe = 6, refine = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"probe-limited recall@5 $recall below 0.5")
  }

  test("full probe + full refine reproduces exact brute-force top-k") {
    val q = emb.filter(col("vec_id") < 4)
    val n = emb.count().toInt
    val exact = Similarity.bruteForceTopK(q, emb, 5).collect().toSeq
    val full = PQ.pqTopK(q, emb, 5, nlist = 8, m = 4, ksub = 16,
      nprobe = 8, refine = n).collect().toSeq
    assert(full == exact, "exhaustive PQ must equal brute force")
  }

  test("knnGraph: bounded-heap cut equals the window form; every vector covered") {
    import org.apache.spark.sql.expressions.Window
    val got = Similarity.knnGraph(emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // same candidates, same order, cut by row_number instead
    val cands = Similarity.lshCandidates(emb, emb, 8, 8, broadcastQueries = false)
    val a = emb.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val b = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("neighbor_id"))
    val want = cands.join(a, "query_id").join(b, "neighbor_id")
      .withColumn("sim", round(Similarity.cosineFast(col("qe"), col("ne")), 6))
      .select(col("query_id").as("vec_id"), col("neighbor_id"), col("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .orderBy(col("vec_id"), col("rn")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == want)
    // each neighbor list is ranked 1..n with descending sim
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4) == (1L to rows.length).toSeq)
      assert(sorted.map(_._3).zip(sorted.map(_._3).tail).forall { case (x, y) => x >= y })
    }
  }

  // ---- two-level coarse quantization (the large-nlist build path) ----

  test("two-level codebook: exactly nlist global cells, deterministic rebuild") {
    import graft.ml.LocalKMeans
    val sample = LocalKMeans.sampleVectors(emb, "embedding", "vec_id", 4096)
    val cb1 = LocalKMeans.fitTwoLevel(spark, sample, nlist = 100, iters = 10, seed = 42L)
    val cb2 = LocalKMeans.fitTwoLevel(spark, sample, nlist = 100, iters = 10, seed = 42L)
    assert(cb1.nlist == 100)
    assert(cb1.offsets.head == 0)
    assert(cb1.subs.map(_.length).sum == 100)
    // seeded bit-equality: rebuild reproduces every center exactly
    assert(cb1.coarse.map(_.toSeq).toSeq == cb2.coarse.map(_.toSeq).toSeq)
    assert(cb1.subs.map(_.map(_.toSeq).toSeq).toSeq == cb2.subs.map(_.map(_.toSeq).toSeq).toSeq)
    assert(cb1.offsets.toSeq == cb2.offsets.toSeq)
    // flatCenters covers [0, nlist) exactly once, in order
    assert(cb1.flatCenters.map(_._1).toSeq == (0 until 100))
  }

  test("two-level codebook: empty coarse cells still own their allocated ids") {
    import graft.ml.LocalKMeans
    // Degenerate sample: every point identical → the strict-< argmin
    // sends ALL points to coarse cell 0, so cells 1..kc-1 are EMPTY.
    // The nlist contract must hold anyway: empty cells pad with clones
    // of their coarse center (ADVICE r9 — the old fallback returned a
    // single center regardless of the cell's largest-remainder quota,
    // silently shrinking the id space).
    val sample = Array.fill(64)(Array(1.0, 2.0, 3.0))
    val cb = LocalKMeans.fitTwoLevel(spark, sample, nlist = 25, iters = 3, seed = 7L)
    assert(cb.nlist == 25)
    assert(cb.flatCenters.map(_._1).toSeq == (0 until 25))
    assert(cb.subs.map(_.length).sum == 25)
  }

  test("two-level assignment: hierarchical argmin semantics, in-range, deterministic") {
    import graft.ml.LocalKMeans
    val sample = LocalKMeans.sampleVectors(emb, "embedding", "vec_id", 4096)
    val cb = LocalKMeans.fitTwoLevel(spark, sample, nlist = 100, iters = 10, seed = 42L)
    val a = LocalKMeans.assignTwoLevelPartitions(emb, "vec_id", "embedding", cb)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a.values.forall(c => c >= 0 && c < 100))
    // replay hierarchical argmin on the driver over a sample of vectors
    val rows = emb.filter(col("vec_id") < 50)
      .select("vec_id", "embedding").collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray.map(_.toDouble)
      val c = LocalKMeans.nearest(v, cb.coarse)
      val j = LocalKMeans.nearest(v, cb.subs(c))
      assert(a(r.getLong(0)) == cb.offsets(c) + j)
    }
    val b = LocalKMeans.assignTwoLevelPartitions(emb, "vec_id", "embedding", cb)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }

  test("hierarchical probe: exhaustive parameters equal brute force; selective probe has recall") {
    val q = emb.filter(col("vec_id") < 8)
    val idx = Similarity.ivfBuildTwoLevel(emb, nlist = 100)
    val kc = idx.codebook.coarse.length
    // exhaustive: every coarse cell, every sub-cell probed -> exact
    val got = Similarity.ivfSearchTwoLevel(idx, q, 5,
      nprobeCoarse = kc, nprobe = 100).collect().toSeq
    val want = Similarity.bruteForceTopK(q, emb, 5).collect().toSeq
    assert(got == want)
    // selective two-stage probe: bounded candidate volume, sane recall
    val sel = Similarity.ivfSearchTwoLevel(idx, q, 5,
        nprobeCoarse = 4, nprobe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = want.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sel & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"two-stage probe recall collapsed: $recall")
    // flat artifacts of the same build serve identically (drop-in law)
    val flatIdx = Similarity.IvfIndex(idx.centroids, idx.assigned)
    val flatGot = Similarity.ivfSearch(flatIdx, q, 5, nprobe = 100).collect().toSeq
    assert(flatGot == want)
  }

  test("ivfBuild at large nlist (two-level path): exhaustive probe equals brute force") {
    // the q69 law on the two-level build: probing EVERY cell re-ranks
    // every assigned vector, so the answer must equal brute-force kNN
    // regardless of quantizer shape
    val q = emb.filter(col("vec_id") < 8)
    val idx = Similarity.ivfBuild(emb, nlist = 100)
    assert(idx.centroids.count() == 100)
    assert(idx.assigned.count() == emb.count())
    val got = Similarity.ivfSearch(idx, q, 5, nprobe = 100).collect().toSeq
    val want = Similarity.bruteForceTopK(q, emb, 5).collect().toSeq
    assert(got == want)
  }

  test("k-center greedy: seed, monotone radii, exact distances, distinct picks") {
    import graft.sim.{Coreset, Quantize}
    val k = 5
    val sel = Coreset.kCenterSelect(emb, k).collect()
    assert(sel.length == k)
    assert(sel.map(_.getLong(0)).toSeq == (1L to k.toLong))
    // seed is the smallest vec_id at distance 0
    val minId = emb.agg(min(col("vec_id"))).first().getLong(0)
    assert(sel.head.getLong(1) == minId && sel.head.getLong(2) == 0L)
    // the covering radius shrinks: pick distances are non-increasing
    val d2s = sel.map(_.getLong(2)).toSeq
    assert(d2s.tail.zip(d2s.tail.tail).forall { case (a, b) => a >= b },
      s"pick distances must be non-increasing: $d2s")
    // every pick's d2 equals the true min distance to the EARLIER picks,
    // recomputed independently from the shared code table
    val codes = Quantize.codes(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def dist(a: Seq[Int], b: Seq[Int]): Long =
      a.zip(b).map { case (x, y) => val d = (x - y).toLong; d * d }.sum
    sel.tail.foreach { row =>
      val prior = sel.takeWhile(_.getLong(0) < row.getLong(0))
        .map(p => codes(p.getLong(1)))
      val want = prior.map(c => dist(codes(row.getLong(1)), c)).min
      assert(row.getLong(2) == want,
        s"rank ${row.getLong(0)} d2 ${row.getLong(2)} != recomputed $want")
    }
    assert(sel.map(_.getLong(1)).distinct.length == k)
  }
}
