package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Tables
import graft.text.TextOps
import graft.dedup.Dedup
import graft.sim.Similarity

/** Text / dedup / similarity: exactness invariants + recall of the
  * approximate (LSH) paths against their exact baselines. */
class TextDedupSimSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  lazy val docs = Tables.documents(spark, sf).cache()
  lazy val emb = Tables.embeddings(spark, sf).cache()

  test("shingle count = n_tokens - n + 1 (docs have >= n tokens)") {
    val counts = Dedup.shingles(docs, 3).groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val toks = TextOps.tokenCounts(docs).select(col("doc_id"), col("n_tokens"))
    // distinct shingles <= raw shingles; equality when no repeated shingle
    val bad = counts.join(toks, "doc_id")
      .filter(col("n_sh") > col("n_tokens") - 2).count()
    assert(bad == 0)
  }

  test("simhash is bag-of-words stable and changes with content") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "epsilon delta gamma beta alpha"),     // permutation of 1
      (3L, "alpha beta gamma delta zeta")          // one token changed
    ).toDF("doc_id", "text")
    val sig = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L), "permutation must not change simhash")
    assert(sig(1L) != sig(3L), "content change should change simhash")
    val hd = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    assert(hd <= 32, s"near-dup hamming distance too large: $hd")
  }

  test("minhash LSH finds all high-jaccard pairs (recall vs exact)") {
    val exact = Dedup.ngramJaccard(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, 3, 8, 4, 0.3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = exact.count(lsh.contains).toDouble / exact.size
      assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
    }
    // est_jaccard should not wildly overestimate: every LSH pair with est>=0.6
    // must share at least one shingle (sanity, not tightness)
    assert(lsh.nonEmpty || exact.isEmpty)
  }

  test("two-phase global running sum equals the single-partition window") {
    import org.apache.spark.sql.expressions.Window
    val toks = TextOps.tokenCounts(docs).select(col("doc_id"), col("n_tokens"))
    val naive = toks.withColumn("cum",
        sum(col("n_tokens")).over(Window.orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("doc_id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twoPhase = graft.ops.Windows.globalRunningSum(toks, "doc_id", col("n_tokens"), "cum")
      .select("doc_id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twoPhase == naive)
    // and the plan never runs an unpartitioned window over the data rows:
    // the only global window is over the nBuckets-row totals table
    val plan = graft.ops.Windows.globalRunningSum(toks, "doc_id", col("n_tokens"), "cum")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "expected window nodes in plan")
  }

  test("minhash dedup groups: copies cluster to min id; pairs never cross groups") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different text about spark catalyst optimizer rules"),
      (5L, "completely different text about spark catalyst optimizer rules"),
      (6L, "a singleton document with unique content nothing else shares")
    ).toDF("doc_id", "text")
    val g = Dedup.minhashDedupGroups(d, 3, 8, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(1L) == 1L && g(2L) == 1L && g(3L) == 1L)
    assert(g(4L) == 4L && g(5L) == 4L)
    assert(g(6L) == 6L)
    // consistency with pair emission: any LSH pair shares a band bucket,
    // so its endpoints must land in the same component
    val groups = Dedup.minhashDedupGroups(docs, 3, 8, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Dedup.minhashLsh(docs, 3, 8, 4, 0.3).collect().foreach { r =>
      assert(groups(r.getLong(0)) == groups(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) crosses groups")
    }
  }

  test("df-capped jaccard: equal when cap loose, exact-score subset when tight") {
    val exact = Dedup.ngramJaccard(docs, 3, 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    // cap far above any shingle's df → identical result
    val loose = Dedup.ngramJaccardCapped(docs, 3, 0.2, maxDf = 1000000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(loose == exact)
    // tight cap: surviving pairs must be a subset with EXACT jaccard
    val tight = Dedup.ngramJaccardCapped(docs, 3, 0.2, maxDf = 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    tight.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"capped emitted a pair exact did not: $pair")
      assert(math.abs(exact(pair) - j) < 1e-12, s"score drift for $pair")
    }
  }

  test("native lsh_buckets is bit-identical to the HOF hyperplane fold") {
    val planes = 4; val tables = 3
    // rebuild the HOF form lshCandidates used before the native expression
    val hofBuckets = array((0 until tables).map { t =>
      val bits = (0 until planes).map { p =>
        val plane = t * planes + p
        val proj = aggregate(
          zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => x.cast("double") *
              (xxhash64(lit(plane), i).cast("double") / lit(Long.MaxValue.toDouble))),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, lit(1L << p)).otherwise(0L)
      }
      bits.reduce((a, b) => a.bitwiseOR(b))
    }: _*)
    val mismatches = emb
      .withColumn("hof", hofBuckets)
      .withColumn("native",
        graft.functions.LshBuckets.lshBuckets(col("embedding"), planes, tables))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(mismatches == 0)
  }

  test("LSH ANN recall vs brute-force top-5") {
    val q = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, emb, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(q, emb, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ann.contains).toDouble / brute.size
    assert(recall >= 0.5, s"ANN recall $recall (bucketing too lossy)")
  }

  test("embedding near-dups are symmetric-free, above threshold, LSH-found") {
    val nd = Dedup.embeddingNearDups(emb, 0.4).collect()
    assert(nd.forall(r => r.getLong(0) < r.getLong(1)), "pairs emitted once, a<b")
    assert(nd.forall(_.getDouble(2) >= 0.4))
  }

  test("IVF index built once serves multiple query batches identically") {
    val idx = Similarity.ivfBuild(emb, nlist = 16)
    val q1 = emb.filter(col("vec_id") < 10)
    val q2 = emb.filter(col("vec_id").between(10, 19))
    val viaIndex = Similarity.ivfSearch(idx, q1, 5, nprobe = 8).collect() ++
      Similarity.ivfSearch(idx, q2, 5, nprobe = 8).collect()
    val oneShot = Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb, 5,
      nlist = 16, nprobe = 8).collect()
    assert(viaIndex.map(_.toString).sorted.toSeq == oneShot.map(_.toString).sorted.toSeq)
  }

  test("persisted IVF index serves partition-pruned probes with identical results") {
    val idx = Similarity.ivfBuild(emb, nlist = 16)
    val dir = tempDir("graft_ivf")
    Similarity.ivfWriteIndex(idx, dir)
    val q = emb.filter(col("vec_id") < 10)

    val served = Similarity.ivfSearchIndexed(spark, dir, q, 5, nprobe = 4)
    val inMem  = Similarity.ivfSearch(idx, q, 5, nprobe = 4)
    assert(served.collect().map(_.toString).toSeq ==
      inMem.collect().map(_.toString).toSeq, "serving path must equal in-memory path")

    // the probed cell set must reach the assignments scan as a STATIC
    // partition filter (cell IN (...)) — the scan lists only the probed
    // inverted-list directories, never the whole index
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"no cell IN (...) partition filter on the assignments scan:\n$plan")
  }

  test("embedding dedup groups: verified star edges cluster duplicates only") {
    import spark.implicits._
    // three exact copies + two unrelated vectors
    val base = Seq.tabulate(8)(i => (i * 37 % 5 - 2).toFloat)
    val other = Seq.tabulate(8)(i => ((i * 13 + 3) % 7 - 3).toFloat * (if (i % 2 == 0) 1 else -1))
    val d = Seq(
      (1L, base), (2L, base), (3L, base),
      (4L, other), (5L, other.map(x => -x))
    ).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val g = Dedup.embeddingDedupGroups(d, 0.95).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(1L) == 1L && g(2L) == 1L && g(3L) == 1L, s"copies split: $g")
    assert(g(4L) == 4L, s"vector 4 merged wrongly: $g")
    assert(g(5L) == 5L, s"anti-parallel vector merged (cosine -1): $g")
    // corpus run: groups partition the id space, never lose a vector
    val all = Dedup.embeddingDedupGroups(emb, 0.9).collect()
    assert(all.length == emb.count())
  }

  test("IVF ANN recall vs brute-force top-5") {
    val q = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, emb, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, emb, 5, nlist = 16, nprobe = 8)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("cosine of a vector with itself is 1") {
    val self = emb.limit(10)
      .select(round(Similarity.cosine(col("embedding"), col("embedding")), 9).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("incremental dedup: known text rejected, batch dup collapsed, new admitted") {
    import spark.implicits._
    val corpus = Seq((1L, "already in the corpus")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "Already  in the CORPUS"),   // same after normalization → rejected
      (11L, "brand new document"),
      (12L, "brand new document"),       // batch-internal dup → one survivor
      (13L, "another new one")).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.incrementalDedup(corpus, batch).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(11L -> 2L, 13L -> 1L), s"got $out")
  }

  test("containment: embedded doc scores 1.0 toward its host, host lower") {
    import spark.implicits._
    val d = Seq(
      (1L, "w1 w2 w3 w4", "en", "s"),                    // contained in 2
      (2L, "w0 w1 w2 w3 w4 w5", "en", "s"),              // superset of 1
      (3L, "z1 z2 z3 z4 z5", "en", "s")                  // unrelated
    ).toDF("doc_id", "text", "lang", "source")
    val got = Dedup.ngramContainment(d, 3, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(got((1L, 2L)) == 1.0)         // all of 1's shingles appear in 2
    assert(got((2L, 1L)) == 0.5)         // 2 of 4 of 2's shingles in 1
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // asymmetry is the point: Jaccard on the same pair is only 2/4
    val j = Dedup.ngramJaccard(d, 3, 0.0)
      .filter(col("doc_a") === 1 && col("doc_b") === 2)
      .select("jaccard").first().getDouble(0)
    assert(j == 0.5)
  }

  test("top bigrams per source: rn caps at k, counts descend within a source") {
    val t = graft.text.TextOps.topBigramsPerSource(docs, 5).collect()
    assert(t.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 5))
    t.groupBy(_.getString(0)).values.foreach { g =>
      val byRn = g.sortBy(_.getLong(3)).map(_.getLong(2))
      assert(byRn.zip(byRn.tail).forall { case (a, b) => a >= b },
        "counts must not increase with rank")
    }
  }

  test("cross-source duplicates: only multi-source fingerprints survive") {
    import spark.implicits._
    val d = Seq(
      (1L, "same text here", "en", "s1"),
      (2L, "same  text here", "en", "s2"),   // whitespace-normalized copy
      (3L, "same text here", "en", "s1"),    // same-source copy only
      (4L, "unique body", "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val r = graft.text.TextOps.crossSourceDuplicates(d).collect()
    assert(r.length == 1)
    assert(r.head.getLong(1) == 2L && r.head.getLong(2) == 3L && r.head.getLong(3) == 1L)
  }

  test("vocab growth: monotone, ends at |vocabulary|, new-type sums match") {
    val g = graft.text.TextOps.vocabGrowth(docs).collect()
    val cums = g.map(_.getLong(2))
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a })
    val vocab = TextOps.vocabulary(docs, 1).count()
    assert(cums.last == vocab)
    assert(g.map(_.getLong(1)).sum == vocab)
  }

  test("cached shingle index serves identical results and is reused") {
    val sh1 = Dedup.shinglesCached(sf, docs, 3)
    val sh2 = Dedup.shinglesCached(sf, docs, 3)
    assert(sh1 eq sh2, "second call must hit the cache")
    val direct = Dedup.ngramJaccard(docs, 3, 0.2).collect().map(_.toSeq).toSet
    val served = Dedup.ngramJaccardFrom(sh1, 0.2).collect().map(_.toSeq).toSet
    assert(direct == served)
    val cDirect = Dedup.ngramContainment(docs, 3, 0.5).collect().map(_.toSeq).toSet
    val cServed = Dedup.ngramContainmentFrom(sh1, 0.5).collect().map(_.toSeq).toSet
    assert(cDirect == cServed)
  }

  test("bm25: scores positive, k respected, shorter target outranks longer on equal overlap") {
    import spark.implicits._
    // docs 2 and 3 share the same 2 shingles with doc 1 ("a b c d" core),
    // but 3 is longer → BM25 length normalization must rank 2 above 3
    val d = Seq(
      (1L, "a b c d", "en", "s"),
      (2L, "a b c d x1 y1", "en", "s"),
      (3L, "a b c d x2 y2 z2 w2 v2 u2 t2 s2", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val r = graft.sim.SparseSim.bm25TopK(d, 3, 3, 1000)
    assert(r.filter(col("score") <= 0).count() == 0)
    assert(r.groupBy("query_id").count().filter(col("count") > 3).count() == 0)
    val q1 = r.filter(col("query_id") === 1).collect()
      .map(x => x.getLong(1) -> x.getDouble(2)).toMap
    assert(q1(2L) > q1(3L), s"shorter doc must outrank longer: $q1")
  }

  test("capped containment: equal to uncapped when cap loose, exact subset when tight") {
    val loose = Dedup.ngramContainmentCapped(docs, 3, 0.3, Long.MaxValue)
      .collect().map(_.toSeq).toSet
    val exact = Dedup.ngramContainment(docs, 3, 0.3).collect().map(_.toSeq).toSet
    assert(loose == exact)
    val tight = Dedup.ngramContainmentCapped(docs, 3, 0.3, 2).collect().map(_.toSeq).toSet
    assert(tight.subsetOf(exact), "capped scores must be exact for surviving pairs")
  }

  test("rare tokens: hapax-heavy doc flagged, common-token doc clean") {
    import spark.implicits._
    val d = Seq(
      (1L, "the the the the", "en", "s"),       // all common (freq 4+)
      (2L, "the qzx vbn mlk", "en", "s"),       // 3 of 4 are corpus-unique
      (3L, "the the qzx2 the", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val got = graft.text.TextOps.rareTokenStats(d, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((4L, 0L, 0.0)))
    assert(got(2L) == ((4L, 3L, 0.75)))
    assert(got(3L) == ((4L, 1L, 0.25)))
  }

  test("exact dedup keeps every distinct fingerprint once") {
    val d = Dedup.exactDedup(docs)
    assert(d.count() == d.select("fp").distinct().count())
    assert(d.agg(sum("n_copies")).first().getLong(0) == docs.count())
  }

  test("tfidf: ubiquitous tokens score ~0, tf sums to token count") {
    val t = TextOps.tfidf(docs).cache()
    val n = docs.count()
    // a token present in every doc has idf = ln(N/N) = 0
    val ubiquitous = t.filter(col("df") === n)
    assert(ubiquitous.filter(abs(col("tfidf")) > 1e-9).count() == 0)
    val totalTf = t.agg(sum("tf")).first().getLong(0)
    val totalTokens = TextOps.tokenCounts(docs).agg(sum("n_tokens")).first().getLong(0)
    assert(totalTf == totalTokens)
    assert(t.filter(col("tfidf") < -1e-9).count() == 0, "idf >= 0 since df <= N")
  }

  test("approx_count_distinct within declared rsd of exact") {
    val r = graft.ops.Rollups.approxDistinctParts(
      graft.ops.Tables.lineitem(spark, sf)).collect()
    r.foreach { row =>
      val exact = row.getLong(1).toDouble
      val approx = row.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.15,
        s"approx $approx vs exact $exact for ${row.getString(0)}")
    }
  }

  test("curation funnel is monotone and drops exact+near dups") {
    import graft.text.Curation
    val report = Curation.curationReport(docs)
    assert(report("input") >= report("after_quality"))
    assert(report("after_quality") >= report("after_exact_dedup"))
    assert(report("after_exact_dedup") >= report("curated"))
    assert(report("curated") > 0)
    // survivors are unique by fingerprint
    val curated = Curation.curate(docs)
    val joined = docs.join(curated.select("doc_id"), "doc_id")
    val fps = joined.select(TextOps.fingerprint(col("text"))).distinct().count()
    assert(fps == curated.count())
  }

  test("greedy max-coverage: submodular gains, exact coverage accounting") {
    import graft.text.Curation
    val k = 5
    val sel = Curation.maxCoverageSelect(docs, 3, k).collect()
    assert(sel.nonEmpty && sel.length <= k)
    // ranks are 1..m with no gaps
    assert(sel.map(_.getLong(0)).toSeq == (1L to sel.length.toLong))
    // submodularity: greedy marginal gains are non-increasing
    val gains = sel.map(_.getLong(2)).toSeq
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b },
      s"gains must be non-increasing: $gains")
    // first pick = argmax distinct-shingle count (doc_id asc tiebreak)
    val best = Dedup.shingles(docs, 3)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("doc_id").asc).first()
    assert(sel.head.getLong(1) == best.getLong(0))
    assert(sel.head.getLong(2) == best.getLong(1))
    // covered_total = running gain sum AND = true distinct coverage of
    // the selected prefix (independent recomputation)
    assert(sel.map(_.getLong(3)).toSeq == gains.scanLeft(0L)(_ + _).tail)
    val picked = sel.map(_.getLong(1)).toSeq
    val trueCov = Dedup.shingles(docs, 3)
      .filter(col("doc_id").isin(picked: _*))
      .select("shingle").distinct().count()
    assert(sel.last.getLong(3) == trueCov)
    // no document selected twice
    assert(picked.distinct.length == picked.length)
  }

  test("dsir weights: target docs score above raw mean, exact token accounting") {
    import graft.text.Importance
    val w = Importance.dsirWeights(docs, "src0", 1024).cache()
    // token accounting matches the independent tokenizer count
    val toks = TextOps.tokenCounts(docs).select(col("doc_id"), col("n_tokens"))
    assert(w.join(toks, "doc_id")
      .filter(col("n_tok") =!= col("n_tokens")).count() == 0)
    // features per doc bounded by min(tokens, buckets)
    assert(w.filter(col("n_feat") > col("n_tok") ||
      col("n_feat") > 1024).count() == 0)
    // the likelihood-ratio direction: PER-TOKEN mean weight over the
    // TARGET source exceeds the mean over the rest (the KL ≥ 0
    // direction importance resampling relies on; per-token because the
    // raw total confounds document length with the add-1 smoothing
    // wedge — all λ shift negative when T ≪ R, longer docs more so)
    val bySrc = w.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy(col("source") === "src0")
      .agg(avg(col("weight_micro").cast("double") / col("n_tok")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(bySrc(true) > bySrc(false),
      s"target per-token mean ${bySrc(true)} must exceed raw ${bySrc(false)}")
  }

  test("regex tokenizer splits words, numbers, punctuation") {
    import spark.implicits._
    val got = Seq("Hello, world! 42x").toDF("text")
      .select(TextOps.regexTokens(col("text"))).first().getSeq[String](0)
    assert(got == Seq("hello", ",", "world", "!", "42", "x"))
  }

  test("rolling hash is order-sensitive, equal on equal sequences") {
    import spark.implicits._
    val h = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "gamma beta alpha")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.rollingHash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    assert(h(1L) != h(3L), "permutation must change the rolling hash")
  }

  test("langId predicts a valid language with non-negative score") {
    val l = TextOps.langId(docs)
    assert(l.filter(!col("predicted").isin(TextOps.LangMarkers.keys.toSeq: _*)).count() == 0)
    assert(l.filter(col("best_score") < 0).count() == 0)
  }

  test("duplicatedSpans finds the shared span, skips short docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d x1 y1 z1"),   // shares "a b c d" with doc 2
      (2L, "a b c d x2 y2 z2"),
      (3L, "p q r"),              // shorter than k=4: no spans
      (4L, "u u u u u")           // self-repeating: "u u u u" occurs twice
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(spans.contains(("a b c d", 2L, 2L)), s"got ${spans.toSeq}")
    assert(spans.contains(("u u u u", 1L, 2L)), "intra-doc repeat must count")
    assert(!spans.exists(_._1.contains("p")), "short doc contributes no span")
  }

  test("dupSpanRatio is total over docs; hashed form is identical") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d x1 y1 z1"),
      (2L, "a b c d x2 y2 z2"),
      (3L, "p q r")
    ).toDF("doc_id", "text")
    val r = Dedup.dupSpanRatio(d, 4)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // docs 1/2: 4 span positions each, exactly one ("a b c d") duplicated
    assert(r(1L) == (4L, 1L) && r(2L) == (4L, 1L), s"got $r")
    assert(r(3L) == (0L, 0L), "short doc keeps a zero row")
    val s = Dedup.dupSpanRatio(docs, 8).collect().toSeq
    val h = Dedup.dupSpanRatio(docs, 8, hashSpans = true).collect().toSeq
    assert(s == h, "hashed span key must not change the output")
  }

  test("scrubDuplicatedSpans keeps the global first occurrence, covers self-overlap") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d x1"),    // "a b c d" first occurrence — kept intact
      (2L, "a b c d x2"),    // later copy — span scrubbed, "x2" survives
      (3L, "p q r"),         // shorter than k — untouched
      (4L, "u u u u u")      // self-overlapping repeat: one "u" survives
    ).toDF("doc_id", "text")
    val r = Dedup.scrubDuplicatedSpans(d, 4).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2)))).toMap
    assert(r(1L) == ("a b c d x1", 0L), s"got ${r(1L)}")
    assert(r(2L) == ("x2", 4L), s"got ${r(2L)}")
    assert(r(3L) == ("p q r", 0L))
    assert(r(4L) == ("u", 4L), s"got ${r(4L)}")
    val hashed = Dedup.scrubDuplicatedSpans(docs, 8).collect().toSeq
    val strung = Dedup.scrubDuplicatedSpans(docs, 8, hashSpans = false).collect().toSeq
    assert(hashed == strung, "hashed span key must not change the scrub output")
  }

  test("incrementalNearDup rejects corpus copies/near-copies, admits novel docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),  // exact copy → reject
      (11L, "alpha beta gamma delta epsilon zeta eta iota"),   // near copy → reject
      (12L, "wholly novel content unlike anything seen before") // novel → admit
    ).toDF("doc_id", "text")
    val admitted = Dedup.incrementalNearDup(corpus, batch, minEstJaccard = 0.4)
      .as[Long].collect().toSeq
    assert(admitted == Seq(12L), s"got $admitted")
    // batch-only run (empty corpus) admits everything
    val all = Dedup.incrementalNearDup(corpus.limit(0), batch).as[Long].collect().toSeq
    assert(all == Seq(10L, 11L, 12L))

    // persisted band index: identical decisions, and appends maintain it
    val dir = tempDir("graft_bands") + "/idx"
    Dedup.writeBandIndex(corpus, dir)
    val indexed = Dedup.incrementalNearDupIndexed(spark, dir, batch, minEstJaccard = 0.4)
      .as[Long].collect().toSeq
    assert(indexed == Seq(12L), s"indexed admission diverged: $indexed")
    Dedup.appendBandIndex(batch.filter(col("doc_id").isin(indexed: _*)), dir)
    val resent = Seq((20L, "wholly novel content unlike anything seen before"))
      .toDF("doc_id", "text")
    val second = Dedup.incrementalNearDupIndexed(spark, dir, resent, minEstJaccard = 0.4)
      .as[Long].collect().toSeq
    assert(second.isEmpty, "re-sent copy of an admitted doc must now be rejected")
  }

  test("semanticDedup groups exact duplicates, keeps exactly one per group, deterministic") {
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    val firstIds = base.orderBy(col("vec_id")).limit(2).select("vec_id").as[Long].collect()
    val dups = base.filter(col("vec_id").isin(firstIds: _*))
      .withColumn("vec_id", col("vec_id") + 100000L)
    val all = base.unionByName(dups)
    val r = Dedup.semanticDedup(all, 0.95)
    val rows = r.collect()
    val perGroup = rows.groupBy(_.getLong(1)).values
    assert(perGroup.forall(_.count(_.getBoolean(3)) == 1), "exactly one keep per group")
    val g = rows.map(x => x.getLong(0) -> x.getLong(1)).toMap
    firstIds.foreach { id =>
      assert(g(id) == g(id + 100000L), s"identical vector $id not grouped with its copy")
    }
    assert(rows.toSeq == Dedup.semanticDedup(all, 0.95).collect().toSeq, "must be deterministic")
  }

  test("semanticDedupExact: integer pair cut matches brute-force cosine; one keep per group") {
    import spark.implicits._
    val r = Dedup.semanticDedupExact(emb, 2, 5).collect()
    assert(r.length == emb.count())
    val perGroup = r.groupBy(_.getLong(1)).values
    assert(perGroup.forall(_.count(_.getBoolean(4)) == 1), "exactly one keep per group")
    // brute-force referee over the same quantized vectors
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(x => x.getLong(0) ->
        x.getSeq[Float](1).map(f => math.floor(f.toDouble * 1048576.0).toLong).toArray)
      .toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val byGroup = r.map(x => x.getLong(0) -> x.getLong(1)).toMap
    val ids = vecs.keys.toSeq.sorted
    for (i <- ids; j <- ids if i < j) {
      val (va, vb) = (vecs(i), vecs(j))
      val dxy = dot(va, vb)
      val joined = BigInt(25) * BigInt(dxy) * BigInt(dxy) >=
        BigInt(4) * BigInt(dot(va, va)) * BigInt(dot(vb, vb)) && dxy > 0
      if (joined)
        assert(byGroup(i) == byGroup(j), s"pair ($i,$j) above 0.4 must share a group")
    }
    // graded integers match the referee arithmetic
    r.foreach { x =>
      assert(x.getLong(3) == dot(vecs(x.getLong(0)), vecs(x.getLong(0))), "vnorm2")
    }
  }

  test("scored-pair serve paths == self-building forms (jaccard/containment/capped)") {
    val sh = Dedup.shingles(docs, 3).localCheckpoint()
    val pairs = Dedup.coShinglePairs(sh).localCheckpoint()
    assert(Dedup.ngramJaccardScored(pairs, 0.2).collect().toSeq ==
      Dedup.ngramJaccardFrom(sh, 0.2).collect().toSeq)
    assert(Dedup.ngramContainmentScored(pairs, 0.5).collect().toSeq ==
      Dedup.ngramContainmentFrom(sh, 0.5).collect().toSeq)
    val capped = Dedup.cappedCommonPairs(sh, 10).localCheckpoint()
    assert(Dedup.ngramJaccardCappedScore(sh, capped, 0.2).collect().toSeq ==
      Dedup.ngramJaccardCappedFrom(sh, 0.2, 10).collect().toSeq)
    assert(Dedup.ngramContainmentCappedScore(sh, capped, 0.5).collect().toSeq ==
      Dedup.ngramContainmentCappedFrom(sh, 0.5, 10).collect().toSeq)
  }

  test("capped pair counts agree with uncapped on pairs sharing a rare shingle") {
    val sh = Dedup.shingles(docs, 3).localCheckpoint()
    val un = Dedup.coShinglePairs(sh)
      .select(col("doc_a"), col("doc_b"), col("n_common"))
    val cap = Dedup.cappedCommonPairs(sh, 10)
    val disagree = cap.as("c").join(un.as("u"), Seq("doc_a", "doc_b"))
      .filter(col("c.n_common") =!= col("u.n_common")).count()
    assert(disagree == 0, "capped recount must be exact where it emits")
    // capped pairs are a subset of uncapped (candidates need a rare shingle)
    assert(cap.join(un, Seq("doc_a", "doc_b"), "left_anti").count() == 0)
  }

  test("cappedCommonCached: N invocations pay ONE stop-list measurement") {
    // the ADVICE-flagged stacking hazard: every cappedCommonPairs BUILD
    // pays one measurement action on the stop checkpoint, so a loop
    // caller must route through the memoized entry — this pins that N
    // cached invocations of the same (corpus, n, maxDf) measure once
    val sh = Dedup.shingles(docs, 3).localCheckpoint()
    val before = Dedup.stopMeasureActions.get()
    (1 to 3).foreach { _ =>
      Dedup.cappedCommonCached("memo-proof-fixture", sh, 3, 10).count()
    }
    assert(Dedup.stopMeasureActions.get() == before + 1,
      "repeat invocations must serve the memoized pair table, not re-measure")
  }

  test("stop-list broadcast guard: the BYTE cap blocks oversized " +
      "variable-width broadcasts a row count alone would admit") {
    import spark.implicits._
    // 4 rows (far under the row cap) of ~1 MB shingles: rows pass, bytes
    // must veto the explicit broadcast when the byte ceiling is 1 MiB
    val fat = (0 until 4).map(i => ("y" * 1000000) + i).toDF("shingle")
      .localCheckpoint()
    val vetoed = Dedup.broadcastableStops(fat, maxBytes = 1L << 20)
    assert(!vetoed.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "oversized-by-bytes stop list must NOT carry a broadcast hint")
    val admitted = Dedup.broadcastableStops(fat, maxBytes = 1L << 30)
    assert(admitted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "in-budget stop list must broadcast (the fast path)")
  }

  test("persisted postings index: probe == direct computation, partition-pruned") {
    val dir = tempDir("postidx")
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    Dedup.writePostingsIndex(existing, dir, 3, 64)
    val served = Dedup.probeJaccardIndexed(spark, dir, incoming, 0.2)
    // direct cross-set jaccard from freshly built shingle tables
    val shIn = Dedup.shingles(incoming, 3).select(col("doc_id").as("doc_in"), col("shingle"))
    val shEx = Dedup.shingles(existing, 3).select(col("doc_id").as("doc_ex"), col("shingle"))
    val direct = shIn.join(shEx, "shingle")
      .groupBy(col("doc_in"), col("doc_ex")).agg(count(lit(1)).as("n_common"))
      .join(shIn.groupBy(col("doc_in")).agg(count(lit(1)).as("sh_in")), "doc_in")
      .join(shEx.groupBy(col("doc_ex")).agg(count(lit(1)).as("sh_ex")), "doc_ex")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("sh_in") + col("sh_ex") - col("n_common")))
      .filter(col("jaccard") >= 0.2)
      .select(col("doc_in"), col("doc_ex"), col("n_common"),
        col("sh_in"), col("sh_ex"), col("jaccard"))
      .orderBy(col("doc_in"), col("doc_ex"))
    val got = served.collect().toSeq
    assert(got == direct.collect().toSeq)
    assert(got.nonEmpty, "fixture must produce cross-set near-dups")
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket#\\d+ IN".r.findAllIn(plan).nonEmpty,
      s"postings scan not partition-pruned:\n$plan")
  }

  test("dedupGroupRepresentatives: argmax tokens per CC group, exact totals") {
    val groups = Dedup.minhashDedupGroups(docs, 3, 8, 4)
    val toks = TextOps.tokenCounts(docs).select(col("doc_id"), col("n_tokens"))
    val reps = Dedup.dedupGroupRepresentatives(docs, 3, 8, 4).collect()
    val best = groups.join(toks, "doc_id")
      .groupBy("group_id")
      .agg(max(col("n_tokens")).as("best"), count(lit(1)).as("sz"),
        sum(col("n_tokens")).as("tot"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(reps.length == best.size, "one row per group")
    val tokOf = toks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    reps.foreach { r =>
      val (group, rep, repTok, n, tot) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(repTok == best(group)._1, s"group $group winner is not argmax")
      assert(tokOf(rep) == repTok, "rep_tokens must be the winner's own count")
      assert(n == best(group)._2 && tot == best(group)._3)
    }
  }

  test("dupMassReport: cluster-size histogram with exact doc/token masses (q221)") {
    val groups = Dedup.minhashDedupGroups(docs, 3, 8, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val tokOf = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byGroup = groups.groupBy(_._2).map { case (_, ms) =>
      val toks = ms.map(m => tokOf(m._1))
      (ms.length.toLong, toks.sum, toks.max)
    }.toSeq
    val want = byGroup.groupBy(_._1).map { case (sz, gs) =>
      sz -> (gs.size.toLong, gs.map(_._2).sum, gs.map(_._2).sum - gs.map(_._3).sum)
    }
    val got = Dedup.dupMassReport(docs, 3, 8, 4).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val sz = r.getAs[Long]("cluster_size")
      val (nGroups, tokTotal, tokDup) = want(sz)
      assert(r.getAs[Long]("n_groups") == nGroups, s"size $sz n_groups")
      assert(r.getAs[Long]("n_docs") == sz * nGroups)
      assert(r.getAs[Long]("dup_docs") == (sz - 1) * nGroups)
      assert(r.getAs[Long]("tok_total") == tokTotal, s"size $sz tok_total")
      assert(r.getAs[Long]("tok_dup") == tokDup, s"size $sz tok_dup")
    }
    // conservation: summing the histogram recovers the corpus
    assert(got.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(got.map(_.getAs[Long]("tok_total")).sum == tokOf.values.sum)
  }

  test("winnowing: density bound, determinism, and the detection guarantee") {
    import graft.dedup.Winnow
    val (k, w) = (3, 4)
    val fp = Winnow.fingerprints(docs, k, w).cache()
    val summ = Winnow.summary(docs, k, w).collect()
    assert(summ.length == docs.count(), "every doc (>= k tokens) fingerprints")
    summ.foreach { r =>
      val (ng, nfp) = (r.getLong(1), r.getLong(2))
      // upper: one pick per window; lower: a position sits in at most
      // w windows, so nWindows/w distinct picks at minimum
      val nWindows = ng - math.min(w, ng) + 1
      assert(nfp <= nWindows, s"more picks than windows: $r")
      assert(nfp >= (nWindows + w - 1) / w, s"picks below the density floor: $r")
    }
    // determinism: rebuilding selects the identical set
    val a = fp.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Winnow.fingerprints(docs, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b, "winnowing must be deterministic")
    // the winnowing GUARANTEE: two docs sharing a substring of
    // w + k - 1 = 6 tokens share at least one fingerprint VALUE
    val shared = "alpha bravo charlie delta echo foxtrot"
    val pair = spark.createDataFrame(Seq(
      (100L, s"one two three $shared four five six"),
      (200L, s"$shared seven eight nine ten eleven twelve")
    )).toDF("doc_id", "text")
    val pf = Winnow.fingerprints(pair, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val common = pf.filter(_._1 == 100L).map(_._2).toSet
      .intersect(pf.filter(_._1 == 200L).map(_._2).toSet)
    assert(common.nonEmpty,
      "docs sharing a (w+k-1)-token substring must share a fingerprint")
    // and matches() surfaces exactly that pair
    val m = Winnow.matches(pair, k, w).collect()
    assert(m.exists(r => r.getLong(0) == 100L && r.getLong(1) == 200L),
      "matches must emit the overlapping pair once (a < b)")
  }
}
