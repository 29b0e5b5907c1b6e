package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates — the 100 TB design assertions
  * (builder prompt: "iterate until it's the plan you'd want").
  * These fail if a refactor silently loses predicate pushdown, column
  * pruning, broadcast joins, or partial aggregation.
  */
class PlanSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("filter+project pushes predicate and prunes columns at the scan") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)") ||
      p.contains("GreaterThanOrEqual(l_quantity"), s"no pushdown:\n$p")
    assert(!p.contains("l_comment") && !p.contains("l_tax"),
      "scan reads columns the query never uses")
  }

  test("dimension joins broadcast (no fact-table shuffle)") {
    assert(planOf("q10_join_segment").contains("BroadcastHashJoin"))
    assert(planOf("q11_join_brand").contains("BroadcastHashJoin"))
    assert(planOf("q15_join_star").contains("BroadcastHashJoin"))
  }

  test("aggregations are partial+final hash aggregates") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("HashAggregate"), s"no hash agg:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "missing partial aggregation")
  }

  test("whole-stage codegen covers the aggregation hot path") {
    // AQE finalizes codegen stages only at execution: run, then inspect
    // the final plan (codegen'd nodes carry the "*(n)" prefix).
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen span in final plan:\n$p")
  }

  test("semi/anti joins plan as join, not subquery re-scan") {
    assert(planOf("q13_join_semi").contains("LeftSemi"))
    assert(planOf("q14_join_anti").contains("LeftAnti"))
  }

  test("band (theta) join broadcasts the tiny band table") {
    val p = planOf("q36_events_bands")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"band join must broadcast:\n$p")
  }

  test("brute-force knn broadcasts the query side, not the corpus") {
    val p = planOf("q50_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"), "corpus must never cartesian-shuffle")
  }

  test("exact semdedup: the integer-dot cut evaluates inside the join, not after it") {
    // the q174 output plan is truncated at CC's localCheckpoints, so
    // gate the pair-join STAGE shape directly: a long_dot cut in a
    // non-equi join condition must plan as a broadcast NLJ evaluating
    // long_dot in the condition — never a cartesian + post-filter
    import org.apache.spark.sql.functions._
    import graft.functions.LongDot.longDot
    val e = graft.ops.Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))")
        .as("vq"))
    val a = e.select(col("vec_id").as("ida"), col("vq").as("va"))
    val b = e.select(col("vec_id").as("idb"), col("vq").as("vb"))
    val j = a.join(b, col("ida") < col("idb") &&
      longDot(col("va"), col("vb")).cast("double") >= lit(1.0))
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("long_dot"), "join condition must carry the fused long_dot cut")
    assert(p.contains("BroadcastNestedLoopJoin"), "pair cut must broadcast one side")
    assert(!p.contains("CartesianProduct"))
    // and the graded query's own (post-CC) plan stays cartesian-free
    assert(!planOf("q174_semdedup_exact").contains("CartesianProduct"))
  }

  test("bloom probe broadcasts the filter table against the probe stream") {
    val p = planOf("q175_bloom_probe")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("quantile sketch: bucket histogram is a partial+final hash agg") {
    Seq("q176_quantile_sketch", "q196_log_quantiles",
        "q197_trailing_quantiles").foreach { q =>
      val p = planOf(q)
      assert(p.contains("HashAggregate"), s"$q lost its hash agg:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian:\n$p")
    }
  }

  test("no query plan contains a cartesian product") {
    SparkEntry.queries.keys.filterNot(_.startsWith("q6")).foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("span scrub explodes positions once: exactly 3 Generates, windows share one exchange") {
    val p = planOf("q86_span_scrub")
    val generates = "(?m)^[^\\n]*\\bGenerate\\b".r.findAllIn(p).size
    // span positions, token positions, coverage ranges — a 4th Generate
    // means some consumer re-derived the span explode (the measured ~40%
    // regression this plan shape exists to prevent)
    assert(generates == 3, s"expected 3 Generate nodes, got $generates:\n$p")
    val gramExchanges = "Exchange hashpartitioning\\(gram".r.findAllIn(p).size
    assert(gramExchanges == 1,
      s"span positions must shuffle exactly once on the span key, got $gramExchanges")
  }

  test("skew profile plans global top-k as TakeOrdered, not a one-partition window") {
    // groupBy(key).orderBy(n desc).limit(k) must become TakeOrdered
    // (per-partition k-heaps, k rows to the driver merge) — the shape
    // that survives billions of distinct keys. A global row_number
    // window over the counts would single-partition them instead.
    val p = planOf("q78_skew_profile")
    assert(p.contains("TakeOrdered"), s"top-k not TakeOrdered:\n$p")
  }

  test("selective dim filter reaches the fact side as a runtime bloom filter") {
    // At 100 TB a fact-fact shuffle join with a selective filter on one
    // side should semi-prune the other side's scan via a runtime bloom
    // filter (Spark's InjectRuntimeFilter; on by default). Locally the
    // fact scan is far below the 10 GB application-side threshold, so
    // lower the thresholds to prove the rewrite fires on our join shape.
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      import org.apache.spark.sql.functions._
      val li  = graft.ops.Tables.lineitem(spark, sf)
      val ord = graft.ops.Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$p")
    } finally restore.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("stratified sample routes through the bounded-heap TopKPerKeyExec") {
    // the skew-immunity claim: a per-stratum CAP must be the custom
    // heap operator (O(n) per stratum), not a window sort of each
    // stratum's full extent
    val p = planOf("q88_stratified_sample")
    assert(p.contains("TopKPerKey"), s"cap not the bounded-heap exec:\n$p")
    assert(!p.contains("RunningWindowFunction"),
      "cap fell back to a window sort")
  }

  test("heavy hitters: candidate set broadcasts, vocabulary never shuffles whole") {
    // stage-2 exact counts join the token stream against the SMALL
    // candidate set — that side must broadcast; the only hash-agg
    // shuffle keys are candidate tokens (bounded by capacity×partitions)
    val p = planOf("q91_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), s"candidates not broadcast:\n$p")
  }

  test("profiler plans one scan: a single Expand feeds the multi-distinct agg") {
    // exact multi-distinct must be Spark's one-scan Expand rewrite —
    // one pass over the data replicated per column — not one scan (and
    // one shuffle) per profiled column
    val p = planOf("q89_profile")
    val expands = "(?m)^[^\\n]*\\bExpand\\b".r.findAllIn(p).size
    assert(expands == 1, s"expected exactly 1 Expand, got $expands:\n$p")
    val scans = "(?m)Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"profiler should scan the table once, got $scans")
  }

  test("quantile band folds boundaries to literals that push to the scan") {
    val df = SparkEntry.queries("q95_quantile_band")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the band filter must reach the parquet scan as pushed predicates
    // on n_chars — proof the Scalar boundaries became plan literals
    assert(p.contains("PushedFilters") && p.contains("n_chars"),
      s"band predicate did not push down:\n$p")
  }

  test("interval overlap joins on the bucket key, never a nested loop") {
    val p = planOf("q99_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range predicate leaked into the join strategy:\n$p")
    // two generators (one per replicated side), candidates meet in an
    // equi-join keyed by (key, bucket)
    assert("Generate explode".r.findAllIn(p).length === 2, s"explode shape changed:\n$p")
  }

  test("sparse top-k: postings equi-join, no nested loop, partial aggs") {
    val p = planOf("q100_sparse_topk")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi join in:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "dot-product aggregation lost its map-side partial")
  }

  test("quantize encode is a narrow map: only the final sort exchanges") {
    val p = planOf("q101_embed_quantize")
    // one rangepartitioning Exchange for the deterministic orderBy; the
    // encode itself must not shuffle (extrema ship as literals)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"encode stage shuffles ($exchanges exchanges):\n$p")
    assert(!p.contains("Join"), s"encode should not join:\n$p")
  }

  test("partitioned events sink: static + dynamic partition pruning") {
    // SURVEY §4's named gap vs the reference's flat glob
    // (lambda-run-clustering.py:25): write the events table partitioned
    // by month via Catalog.writePartitioned, then assert both pruning
    // modes reach the scan.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tempDir("graft_dpp_events")
    val ev = graft.ops.Tables.events(spark, sf)
      .withColumn("m", month(col("event_ts")))
    graft.sources.Catalog.writePartitioned(ev, dir, Seq("m"))
    val re = spark.read.parquet(dir)

    // static pruning: a literal partition predicate appears as a
    // PartitionFilter on the scan, not a post-scan Filter
    val static = re.filter(col("m") === 1).queryExecution.executedPlan.toString
    assert(static.contains("PartitionFilters:") && static.contains("(m#"),
      s"partition filter not pushed to the scan:\n$static")

    // dynamic pruning: joining on the partition column against a
    // filtered dim inserts a dynamicpruning subquery into the scan's
    // partition filters, so only the dim's months are read. The dim must
    // not collapse to a LocalTableScan (constant folding would erase the
    // selective predicate DPP looks for), so build it over range().
    val dim = spark.range(1, 13).select(col("id").cast("int").as("m"),
      concat(lit("month-"), col("id")).as("label"))
    val dpp = re.join(broadcast(dim.filter(col("label") === "month-1")), "m")
      .queryExecution.executedPlan.toString
    assert(dpp.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$dpp")
  }

  test("bloom prefilter probes inside codegen BEFORE the join exchange") {
    val df = SparkEntry.queries("q114_bloom_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"), s"no bloom probe in plan:\n$p")
    // the probe must sit on the scan side (below any exchange/join), and
    // the expression is codegen'd — the filter line carries the *(n) mark
    val probeLine = p.linesIterator.find(_.contains("bloom_might_contain")).get
    assert(probeLine.contains("Filter"), s"bloom probe not a Filter:\n$probeLine")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("bloom_might_contain")) ||
      probeLine.trim.startsWith("*"), s"bloom filter outside codegen:\n$p")
  }

  test("pivot with pinned values plans one agg pass, no distinct pre-scan") {
    val p = planOf("q109_pivot")
    // exactly one scan of orders: pinned pivot values skip the
    // distinct-collect; the pivot lowers to partial+final hash agg
    assert("FileScan parquet".r.findAllIn(p).length == 1, s"pivot re-scans input:\n$p")
    assert(p.contains("HashAggregate"), s"pivot not a hash agg:\n$p")
  }

  test("islands window partitions on user_id; distinct pre-shrinks input") {
    val p = planOf("q115_activity_islands")
    assert(p.contains("Window"), s"no window:\n$p")
    assert(!p.contains("SinglePartition"), s"single-partition stage in islands plan:\n$p")
  }

  test("fuzzy join: deletion-bucket equi-join, never a cartesian verify") {
    val p = planOf("q145_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fuzzy join fell back to all-pairs:\n$p")
    assert(p.contains("variant"), s"no variant-key join in plan:\n$p")
  }

  test("cusum: corpus reduces to daily counts before any window") {
    val p = planOf("q146_cusum")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"no partial+final reduction to days:\n$p")
    // the single-partition windows are over the day-cardinality table
    // only — the events scan must feed an aggregate, not a window
    val scanIdx = p.indexOf("FileScan")
    val winIdx = p.indexOf("Window")
    assert(scanIdx >= 0 && winIdx >= 0, s"missing scan/window:\n$p")
  }

  test("dedup representatives: argmax window partitions on group_id") {
    val p = planOf("q147_dedup_rep")
    assert(!p.contains("CartesianProduct"), s"cartesian in rep selection:\n$p")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.exists(_.contains("group_id")),
      s"argmax window not keyed by group_id:\n${winLines.mkString("\n")}")
  }

  test("rare-token join moves (doc,type) rows, never raw occurrences") {
    val q = SparkEntry.queries("q117_rare_tokens")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // the probe side of the rare join is the checkpointed type-count
    // table (a scan of an RDD), not a re-derived explode of documents
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalCheckpoint"),
      s"type counts not materialized once:\n$p")
  }

  test("triangles: wedge + closure are equi-joins over the checkpointed edges") {
    val p = planOf("q158_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"triangle enumeration fell back to all-pairs:\n$p")
    // the oriented edge table is materialized once (localCheckpoint) and
    // both wedge sides scan it
    assert(p.contains("Scan ExistingRDD"), s"oriented edges not checkpointed:\n$p")
  }

  test("skyline: the full input only ever meets bucket-partitioned windows") {
    val p = planOf("q161_skyline")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.exists(_.contains("_bkt")),
      s"local pass not bucket-partitioned:\n${winLines.mkString("\n")}")
  }

  test("kmv: partial/final one-pass aggregator; theta pairs broadcast, never cartesian") {
    val p = planOf("q180_kmv_distinct")
    assert("kmvagg".r.findAllIn(p).length >= 2,
      s"KMV reduction not partial+final:\n$p")
    val p2 = planOf("q181_theta_intersection")
    assert(p2.contains("BroadcastNestedLoopJoin"),
      s"sketch pairing must broadcast the tiny sketch table:\n$p2")
    assert(!p2.contains("CartesianProduct"), s"cartesian in theta plan:\n$p2")
  }

  test("boilerplate scrub: the qualifying-span set joins back broadcast") {
    val p = planOf("q182_boilerplate_scrub")
    assert(p.contains("BroadcastHashJoin"),
      s"boilerplate gram set must broadcast back to positions:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("theta set algebra: the q181 broadcast pairing carries all three estimators") {
    val p = planOf("q186_theta_difference")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"sketch pairing must broadcast the tiny sketch table:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in set-algebra plan:\n$p")
  }

  test("image phash: banded candidates equi-join the hash table, never nested-loop") {
    val p = planOf("q187_image_phash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band join must be an equi-join on (band_no, band_val):\n$p")
  }

  test("vocab encode: the small vocab broadcasts back to the token stream") {
    val p = planOf("q191_vocab_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab id table must broadcast to the corpus tokens:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("media codecs decode in mapPartitions straight off a pruned scan, no pre-shuffle") {
    // q183 (image resize) and q184 (audio frames): the decode batch
    // must sit DIRECTLY on the projected scan — MapPartitions above a
    // doc_id-only FileScan, zero exchanges below it; the only Exchange
    // in the whole plan is the final deterministic-order range
    // partitioning. A shuffle before decode would move media bytes
    // across the cluster for no reason.
    Seq("q183_image_resize", "q184_audio_features").foreach { q =>
      val p = planOf(q)
      assert(p.contains("MapPartitions"), s"$q decode not a mapPartitions batch:\n$p")
      assert(!p.contains("Join"), s"$q codec plan should not join:\n$p")
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges == 1, s"$q should only exchange for the final sort, got $exchanges:\n$p")
      // the decode input must be a doc_id-only projection whichever
      // scan serves it — the parquet ReadSchema normally, or a pruned
      // InMemoryTableScan when another spec has cached the table
      assert(p.contains("ReadSchema: struct<doc_id:bigint>") ||
        "InMemoryTableScan \\[doc_id#\\d+L\\]".r.findFirstIn(p).isDefined,
        s"$q scan must read doc_id only (media bytes synthesize per-partition):\n$p")
    }
  }

  test("SCC/condensation per-round shape: edge-keyed equi-join + partial/final agg") {
    // the graded q188/q189 plans truncate at each round's
    // localCheckpoint, so gate the round transformations directly:
    // every fixpoint step must be an equi-join on the edge endpoint
    // plus a partial+final hash min/max aggregation — never a nested
    // loop, never a cartesian.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = spark.range(0, 2000).select(col("id").as("src"),
        ((col("id") * 7 + 3) % 2000).as("dst")).localCheckpoint()
    val lab = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("m")).localCheckpoint()
    val pMin = graft.cluster.Graphs.minLabelRound(e, lab)
      .queryExecution.executedPlan.toString
    assert(!pMin.contains("CartesianProduct") && !pMin.contains("BroadcastNestedLoop"),
      s"min-label round not an equi-join:\n$pMin")
    assert("HashAggregate".r.findAllIn(pMin).length >= 2,
      s"min reduction lost its map-side partial:\n$pMin")

    val lvl = lab.select(col("id"), lit(0L).as("lvl")).localCheckpoint()
    val pLvl = graft.cluster.Graphs.levelRound(e, lvl)
      .queryExecution.executedPlan.toString
    assert(!pLvl.contains("CartesianProduct") && !pLvl.contains("BroadcastNestedLoop"),
      s"level round not an equi-join:\n$pLvl")
    assert("HashAggregate".r.findAllIn(pLvl).length >= 2,
      s"level reduction lost its map-side partial:\n$pLvl")

    // contraction: both endpoint joins keyed, and the condensation
    // edge set is DISTINCT (a duplicate contracted edge would re-relax
    // the level DP once per copy)
    val m = lab.select(col("id"), (col("id") % 10).as("scc_id")).localCheckpoint()
    val pCe = graft.cluster.Graphs.contractEdges(e, m)
      .queryExecution.executedPlan.toString
    assert(!pCe.contains("CartesianProduct") && !pCe.contains("BroadcastNestedLoop"),
      s"contraction joins not keyed:\n$pCe")
    assert("HashAggregate".r.findAllIn(pCe).length >= 2,
      s"contracted edges not deduplicated by a partial+final distinct:\n$pCe")
  }

  test("kmv daily overlap: adjacency pairing is a broadcast EQUI-join over sketches") {
    // unlike q181/q186's (a < b) nested-loop pairing, q193's
    // day-adjacency predicate grp_b = grp_a + 1 is an equi-join key —
    // the pairing must plan as BroadcastHashJoin, and the per-day
    // reduction stays the partial+final one-pass KMV aggregator
    val p = planOf("q193_kmv_daily_overlap")
    assert("kmvagg".r.findAllIn(p).length >= 2,
      s"KMV reduction not partial+final:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"adjacent-day sketch pairing must broadcast-equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in daily-overlap plan:\n$p")
  }

  test("tfidf build: checkpointed postings self-join on the shingle key, partial aggs") {
    val p = planOf("q195_tfidf_build")
    assert(p.contains("Scan ExistingRDD"),
      s"weighted postings must materialize once (localCheckpoint):\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"dot aggregation lost its map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"dot-pair generation fell back to all-pairs:\n$p")
  }

  test("capped index build: checkpointed shingles, broadcast candidates, partial aggs") {
    val p = planOf("q194_capped_index_build")
    assert(p.contains("Scan ExistingRDD"),
      s"shingle table must materialize once (localCheckpoint):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"rare-index candidate join must broadcast the capped side:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"pair counting lost its map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"capped build fell back to all-pairs:\n$p")
  }

  test("maintained sketch summaries read bounded state, join keyed, never cartesian") {
    // q185/q192 execute a REAL checkpointed streaming query, then
    // summarize the persisted state; gate the summary plans — the
    // state scan must be a parquet read (bounded rows by the merge
    // algebra), the exact-twin comparison an equi-join, and nothing
    // pairwise anywhere.
    Seq("q185_kmv_stream_state", "q192_quantile_stream_state",
        "q225_vocab_stream_state").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q summary has a pairwise stage:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2 ||
        p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
        s"$q exact twin lost its aggregation:\n$p")
    }
  }

  test("max-coverage round: shingle-keyed anti equi-join + partial/final gain agg") {
    // q202's own final plan is the collected picks table, so gate the
    // per-round shape directly (the SCC round-gate trick): uncovered
    // filtering must be a LeftAnti equi-join on the shingle key against
    // the checkpointed covered set, the gain count a map-side partial +
    // final hash agg — never a nested loop, never a cartesian.
    import org.apache.spark.sql.functions._
    val docs = graft.ops.Tables.documents(spark, sf)
    val sh = graft.dedup.Dedup.shingles(docs, 3).localCheckpoint()
    val cov = sh.filter(col("doc_id") === 1L).select(col("shingle"))
      .localCheckpoint()
    val p = graft.text.Curation.coverageGainRound(sh, Some(cov))
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"),
      s"uncovered filtering must be an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"anti join fell back to a pairwise stage:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"gain counting lost its map-side partial:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"round must read the checkpointed shingle table, not re-derive it:\n$p")
  }

  test("dsir: broadcast λ join, partial/final doc agg, no pairwise stage") {
    val p = planOf("q203_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"the 1024-row λ table must broadcast to the doc features:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"per-doc weight sum lost its map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise stage in the dsir plan:\n$p")
  }

  test("bigram nll: key-equi joins + partial/final doc agg, no pairwise stage") {
    // q206: the count tables are hash aggs, every scoring join is on a
    // natural key (word / (a,b) / doc_id), the per-doc sum has its
    // map-side partial — never a nested loop, never a cartesian
    val p = planOf("q206_bigram_nll")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise stage in the bigram-nll plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2 ||
      p.contains("ObjectHashAggregate"),
      s"per-doc NLL sum lost its map-side partial:\n$p")
    assert(p.contains("Join"), s"scoring lost its count-table equi-joins:\n$p")
    // the slice-trained production shape keeps the same plan family
    val ps = planOf("q207_bigram_nll_slice")
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoop"),
      s"pairwise stage in the slice-trained nll plan:\n$ps")
  }

  test("winnow summary: selection reads the materialized gram table, no pairwise") {
    // q209: the gram-hash table materializes ONCE (Scan ExistingRDD —
    // nested-lambda selection over a derived column would re-inline the
    // hash fold per reference, the IVF-assignment blowup class); the
    // summary is doc-keyed aggs + one join, nothing pairwise
    val p = planOf("q209_winnow_fingerprints")
    assert(p.contains("ExistingRDD"),
      s"selection must read the checkpointed gram table:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise stage in the winnow plan:\n$p")
  }

  test("k-center round: state update is a narrow projection — no join, no exchange") {
    // q204's own final plan is the collected picks table; gate the
    // per-round state update directly — folding the new center literal
    // over the codes column must stay a projection over the
    // checkpointed state (embarrassingly parallel at any corpus size)
    import org.apache.spark.sql.functions._
    val emb = graft.ops.Tables.embeddings(spark, sf)
    val state = graft.sim.Quantize.codes(emb)
      .withColumn("min_d2", lit(Long.MaxValue)).localCheckpoint()
    val center = Seq.fill(64)(128)
    val p = state.withColumn("min_d2",
        least(col("min_d2"), graft.sim.Coreset.d2ToCenter(center)))
      .queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"),
      s"round must read the checkpointed state:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"k-center round update must not shuffle or join:\n$p")
  }

  test("hll: one distinct + partial/final register agg before the arithmetic") {
    val p = planOf("q162_hll_distinct")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"register reduction not partial+final:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in hll plan:\n$p")
  }

  test("bpe train round: pair counts are a partial/final hash agg over the checkpointed vocab") {
    // the per-round shape (the SCC round-gate trick): q200's own final
    // plan is the collected merge table, so gate the statistic each
    // round actually runs — vocab-sized input materialized once, pair
    // explode feeding a map-side partial + final agg, nothing pairwise
    import org.apache.spark.sql.functions._
    val words = graft.text.BPE.wordFreq(graft.ops.Tables.documents(spark, sf))
      .withColumn("symstr", graft.text.BPE.symInit(col("word")))
      .localCheckpoint()
    val p = graft.text.BPE.pairCounts(words).queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"),
      s"round must read the checkpointed vocab, not re-derive it:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"pair counting lost its map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise stage in the bpe round:\n$p")
  }

  test("bpe encode: one vocab equi-join + per-doc agg, nothing pairwise") {
    val p = planOf("q201_bpe_encode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bpe encode has a pairwise stage:\n$p")
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"),
      s"encode lost its vocab equi-join:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2 ||
      p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"per-doc reassembly lost its aggregation:\n$p")
  }

  test("admission stream summary: bounded corpus read, no pairwise stage") {
    // q199 executes the REAL checkpointed sink; the graded tail reads
    // the admitted-corpus parquet and MATERIALIZES it (localCheckpoint)
    // so the harness can delete its temp tree — the final plan is the
    // bounded materialized corpus, not a live file scan
    val p = planOf("q199_admission_stream")
    assert(p.contains("ExistingRDD") || p.contains("Scan parquet") || p.contains("FileScan"),
      s"admitted corpus must be the materialized maintained table:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise stage in the admission summary:\n$p")
  }

  test("cc stream groups summary: materialized maintained state, no pairwise stage") {
    // q231 executes the REAL checkpointed CC maintenance sink; the
    // graded tail reads the resolved (doc_id, group_id) state and
    // materializes it so the harness can delete its temp tree — the
    // batch-path probe shape is gated structurally in the next test
    val p = planOf("q231_cc_stream_groups")
    assert(p.contains("ExistingRDD") || p.contains("Scan parquet") || p.contains("FileScan"),
      s"group state must be the materialized maintained table:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise stage in the cc-groups summary:\n$p")
  }

  test("cc maintenance probe: broadcast bucket restriction BEFORE the rep " +
      "aggregation; the corpus-sized index scan stays map-only") {
    // the round-13 flagship scale claim, gated on the REAL batch path
    // (ccProbeRepEdges is the exact DataFrame the sink checkpoints):
    // the prior band index — corpus-sized at production scale — must
    // meet the batch's bucket set through a BroadcastHashJoin below
    // the representative aggregation, so raw index rows are filtered
    // map-side and only matched postings reach any Exchange. An
    // unrestricted groupBy(band, bucket) over the index would shuffle
    // the whole corpus every micro-batch.
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val dir = tempDir("ccprobe_gate")
    Seq((1L, 0, 11L, 1L), (2L, 1, 22L, 2L), (3L, 0, 11L, 1L))
      .toDF("doc_id", "band", "bucket", "g0")
      .write.parquet(s"$dir/batch=0")
    val newBands = Seq((10L, 0, 11L), (12L, 1, 33L)).toDF("doc_id", "band", "bucket")
    val priorIdx = graft.stream.CorpusStream.readPriorIndex(spark, dir, 1L)
    val alias = Seq((2L, 1L)).toDF("dead", "live")
    val df = graft.stream.CorpusStream.ccProbeRepEdges(priorIdx, newBands, alias)
    val plan = df.queryExecution.sparkPlan
    def parquetScans(p: SparkPlan) = p.collect {
      case l: org.apache.spark.sql.execution.LeafExecNode
        if l.nodeName.toLowerCase.contains("scan") &&
           l.toString.toLowerCase.contains("parquet") => l
    }
    assert(parquetScans(plan).nonEmpty, s"no index file scan in the probe plan:\n$plan")
    // (1) the restriction join: a BroadcastHashJoin keyed on (band,
    // bucket) with the index FILE SCAN on its streamed side
    val restrict = plan.collect { case j: BroadcastHashJoinExec
      if (j.leftKeys ++ j.rightKeys).exists(_.toString.contains("band")) &&
         (j.leftKeys ++ j.rightKeys).exists(_.toString.contains("bucket")) &&
         parquetScans(j).nonEmpty => j }
    assert(restrict.nonEmpty,
      s"index scan must meet the batch buckets through a broadcast (band, bucket) join:\n$plan")
    // (2) map-only up to the join: the STREAMED (index) side has no
    // shuffle between the file scan and the join — the build side is
    // the batch's own (band, bucket) rows, broadcast without a distinct
    assert(restrict.forall { j =>
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
        case _ => j.right
      }
      parquetScans(streamed).nonEmpty &&
        streamed.collect { case e: ShuffleExchangeExec => e }.isEmpty
    }, s"the index side must not shuffle before the bucket restriction:\n$plan")
    // (3) the join runs BEFORE the rep aggregation: some HashAggregate
    // has the restriction join in its subtree
    val aggAbove = plan.collect { case a: HashAggregateExec
      if a.collect { case j: BroadcastHashJoinExec => j }
        .exists(j => restrict.exists(_ eq j)) => a }
    assert(aggAbove.nonEmpty,
      s"the rep aggregation must consume the restricted join, not the raw index:\n$plan")
    // (4) every shuffle above the index scan has the restriction join
    // between itself and the scan — only matched postings exchange
    val corpusShuffles = plan.collect { case e: ShuffleExchangeExec
      if parquetScans(e).nonEmpty &&
         e.collect { case j: BroadcastHashJoinExec => j }
           .forall(j => !restrict.exists(_ eq j)) => e }
    assert(corpusShuffles.isEmpty,
      s"raw index rows reach an Exchange without the bucket restriction:\n$plan")
    // (5) nothing pairwise anywhere in the probe
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty &&
      plan.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      s"pairwise stage in the probe plan:\n$plan")
    // (6) the probe prunes FILES, not just rows, to strictly earlier
    // batches: the index scan's partition filters are on `batch` only
    val partitionCols = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.partitionFilters
    }.flatten.flatMap(_.references.map(_.name)).toSet
    assert(partitionCols == Set("batch"),
      s"index scan must partition-prune on batch alone, got $partitionCols:\n$plan")
    // and the probe is semantically right on the fixture: doc 10
    // shares (band 0, bucket 11) with prior docs {1, 3} whose rep is
    // doc 1 labeled g0=1; doc 12's bucket is new — no edge
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 1L)))
  }

  test("probe auc family: literal-fold scoring + distinct-score agg, no rank sort") {
    // q210/q211/q214: the probe weights are a driver literal, so the
    // scoring pass is a narrow projection over the materialized codes
    // (ExistingRDD) — no join against a weights table; the corpus then
    // collapses via a partial+final hash agg to the distinct-score
    // table, and the rank arithmetic runs there. A SortMergeJoin or a
    // pairwise stage anywhere means the scale shape regressed.
    for (q <- Seq("q210_probe_auc", "q214_pr_curve", "q211_calibration_bins",
        "q215_best_f1", "q217_ks_separation", "q228_confusion_best_f1")) {
      val p = planOf(q)
      assert(p.contains("ExistingRDD"),
        s"$q must read the materialized codes table:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"$q scoring must be a projection, not a join:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q distinct-score reduction lost its map-side partial:\n$p")
    }
  }

  test("budget select: class sweep + bucketed tie cumsum, no corpus rank sort") {
    // q212: the threshold is found on the distinct-score class table;
    // only the tie class pays an ordered cumsum, via the two-phase
    // bucketed globalRunningSum whose offsets join is a BROADCAST on
    // the bucket id — a SortMergeJoin or pairwise stage would mean the
    // corpus is being globally sorted/joined by rank
    val p = planOf("q212_budget_select")
    assert(p.contains("BroadcastHashJoin"),
      s"tie-class cumsum lost its broadcast bucket-offset join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise stage in the budget-select plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"score computation lost its map-side partial:\n$p")
  }

  test("sliced auc: id-key equi join pruned to (doc_id, lang), no pairwise stage") {
    // q216: attaching the slice column is an equi join on the 1:1 id
    // key (co-partitionable at scale); the documents side must be
    // pruned to two columns — reading `text` here would drag the
    // corpus' heaviest column through a join that needs 16 bytes/row
    val p = planOf("q216_auc_by_lang")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise stage in the sliced-auc plan:\n$p")
    // check the ACTUAL scan node serving the documents side: when
    // another suite has cached the full documents table, the pruning
    // shows at the InMemoryTableScan (the cached relation's interior
    // FileScan legitimately renders all five columns) — match the
    // serving node, not the whole plan string
    val docScan = p.linesIterator.find(l =>
      l.contains("InMemoryTableScan") ||
        (l.contains("FileScan") && l.contains("documents.parquet")))
      .getOrElse(fail(s"no documents scan node found:\n$p"))
    assert(!docScan.contains("text#"),
      s"documents scan reads the text column:\n$docScan\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"distinct-score reduction lost its map-side partial:\n$p")
  }

  test("per-source calibration: id-key equi join pruned to (doc_id, source), no pairwise stage") {
    // q229: the q216 slice discipline for the calibration table — the
    // slice join is an id-key equi join with the documents side pruned
    // to (doc_id, source); dragging `text` through it would move the
    // corpus' heaviest column for a 16-byte/row lookup
    val p = planOf("q229_calibration_by_source")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise stage in the per-source calibration plan:\n$p")
    val docScan = p.linesIterator.find(l =>
      l.contains("InMemoryTableScan") ||
        (l.contains("FileScan") && l.contains("documents.parquet")))
      .getOrElse(fail(s"no documents scan node found:\n$p"))
    assert(!docScan.contains("text#"),
      s"documents scan reads the text column:\n$docScan\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"bin reduction lost its map-side partial:\n$p")
  }

  test("per-source best F1: one corpus hash agg, bounded per-source windows, no pairwise stage") {
    // q230: the q215 argmax law per source — the corpus must enter ONE
    // (source, score)-keyed hash agg (after the pruned id-key join);
    // every window (sweep cumulatives + row_number argmax) then runs on
    // the bounded sweep table partitioned by source. No coalesce(1), no
    // pairwise stage; documents side pruned to (doc_id, source).
    val p = planOf("q230_best_f1_by_source")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pairwise stage in the per-source best-F1 plan:\n$p")
    assert(!p.contains("Coalesce 1") && !p.contains("coalesce(1)"),
      s"per-source sweep must not single-partition the table:\n$p")
    val docScan = p.linesIterator.find(l =>
      l.contains("InMemoryTableScan") ||
        (l.contains("FileScan") && l.contains("documents.parquet")))
      .getOrElse(fail(s"no documents scan node found:\n$p"))
    assert(!docScan.contains("text#"),
      s"documents scan reads the text column:\n$docScan\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"(source, score) reduction lost its map-side partial:\n$p")
    assert(p.contains("Window"), s"sweep lost its window stage:\n$p")
  }

  test("gopher rules: tokenize once, no aggregation, no shuffle but the graded sort") {
    // q208: the restructured battery is a stacked-projection pipeline —
    // the split must appear ONCE (one tokenization pass shared by every
    // rule through the projection boundary), there must be NO aggregate
    // and no exchange besides the graded orderBy's rangepartitioning
    // (the old shape re-tokenized per rule and shuffled a per-(doc,
    // token) row set for the mode rule).
    val p = planOf("q208_gopher_rules")
    assert("split\\(".r.findAllIn(p).length == 1,
      s"tokenization must run once, not once per rule:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"gopher rules must not aggregate:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"only the graded orderBy may shuffle:\n$p")
  }

  test("FoF family: two stacked hash aggs, no join and no corpus sort") {
    // q218/q220: corpus -> vocabulary agg -> frequency-of-
    // frequencies agg -> constant-size arithmetic. Any join, pairwise
    // stage, or a rangepartitioning exchange (global sort) means the
    // reduction chain regressed; the q220 pct fan-out must be a
    // literal explode, not a cross join.
    for (q <- Seq("q218_good_turing", "q220_vocab_coverage")) {
      val p = planOf(q)
      assert("HashAggregate".r.findAllIn(p).length >= 4,
        s"$q lost a stacked agg's map-side partial:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q grew a join stage:\n$p")
      assert(!p.contains("rangepartitioning"),
        s"$q pays a global range-partitioned sort:\n$p")
    }
  }

  test("q219 simpson: checkpointed FoF consumed by one constant-size agg; " +
      "the FoF builder keeps the stacked-agg shape") {
    // since the past-envelope auto-switch (r13), the route decision
    // pre-counts the CHECKPOINTED FoF table, so the graded plan reads
    // those bounded rows (one partial+final agg, nothing corpus-sized)
    // while the stacked-agg discipline is gated on the builder itself
    val p = planOf("q219_simpson_diversity")
    assert(p.contains("ExistingRDD") || p.contains("Scan RDD"),
      s"q219 must read the checkpointed FoF rows:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"q219 lost the final agg's map-side partial:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q219 grew a join stage:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"q219 pays a global range-partitioned sort:\n$p")
    val b = graft.text.Coverage.freqOfFreq(
      graft.ops.Tables.documents(spark, sf)).queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(b).length >= 4,
      s"FoF builder lost a stacked agg's map-side partial:\n$b")
    assert(!b.contains("SortMergeJoin") && !b.contains("BroadcastHashJoin") &&
      !b.contains("CartesianProduct") && !b.contains("BroadcastNestedLoop") &&
      !b.contains("rangepartitioning"),
      s"FoF builder grew a join/global-sort stage:\n$b")
  }

  test("dedup ROI + selection shift: keyed joins and stacked aggs, nothing pairwise") {
    // q221: the q57 CC machinery + group-keyed agg + cluster-size agg;
    // q222: budgetSelect's class sweep + ONE id-key left join back to
    // the per-source universe + a source-keyed agg
    for (q <- Seq("q221_dup_mass", "q222_selection_shift")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q has a pairwise stage:\n$p")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q lost a map-side partial agg:\n$p")
    }
  }

  test("spearman: broadcast rank joins on bounded class tables, no pairwise") {
    // q223: the two rank tables are distinct-value-bounded and must
    // come back as BROADCAST equi joins; a SortMergeJoin would mean
    // the corpus shuffles for a dictionary-sized lookup. The graded
    // output is a one-row literal (Scalar-class), so gate the exposed
    // internal join plan, not planOf.
    val p = graft.quality.RankCorr.rankedPairs(
        graft.quality.RankCorr.scoredBase(
          graft.ops.Tables.documents(spark, sf)))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"rank lookups lost their broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"pairwise/shuffle stage in the spearman plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"class reduction lost its map-side partial:\n$p")
  }

  test("mann-kendall: corpus reduces to the day table BEFORE the pair stage") {
    // q224: the |days|^2 nested-loop join is the honest plan for a
    // calendar-bounded table — but the EVENTS corpus must never enter
    // it: the aggregation to daily counts happens first (both join
    // children read the checkpointed day table, not a file scan)
    val p = planOf("q224_mann_kendall")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the bounded day-table theta join:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("events.parquet")),
      s"the pair stage reads the raw corpus, not the day table:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"daily reduction lost its map-side partial:\n$p")
  }

  test("source ks drift: grid densification is bounded x broadcast, corpus aggs first") {
    // q226: the corpus reduces to (source, score) / score class tables
    // by hash aggs; the only product stage is the global class grid x
    // the broadcast source-totals table (bounded x handful) — a
    // CartesianProduct over file scans would mean the corpus entered it
    val p = planOf("q226_source_ks_drift")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"class reductions lost their map-side partials:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("FileScan") && l.contains("documents.parquet")),
      s"the grid stage reads the raw corpus, not the checkpointed scores:\n$p")
  }

  test("selection TV: one tokenize, vocab-keyed left join, broadcast totals") {
    // q227: the corpus tokenizes ONCE (checkpointed ExistingRDD feeds
    // both vocabulary aggs), the count tables align by a token-keyed
    // LEFT join, and the totals cross in broadcast — nothing pairwise
    // over corpus-sized inputs
    val p = planOf("q227_selection_tv")
    assert(p.contains("ExistingRDD"),
      s"tokenized corpus not materialized once:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pairwise stage in the TV plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"vocabulary reductions lost their map-side partials:\n$p")
  }

  test("mixture plan: one corpus-pass hash agg, everything after source-sized") {
    val p = planOf("q213_mixture_plan")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"per-source token agg lost its map-side partial:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop") &&
      !p.contains("SortMergeJoin"),
      s"pairwise/join stage in the mixture plan:\n$p")
  }
}
