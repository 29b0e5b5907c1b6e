package graft

import org.apache.spark.sql.SparkSession

/** Dumps `explain("formatted")` for a representative slice of
  * `SparkEntry.queries` to `PLANS.md` — the reviewable evidence that each
  * operator family plans the way the 100 TB design intends (pushdown,
  * broadcast, partial aggregation, equi-join candidate generation).
  * PlanSpec asserts the invariants mechanically; this artifact is for
  * human review. Regenerate with:
  * `sbt "runMain graft.PlanDump /root/testdata/sf0.01 PLANS.md"`.
  */
object PlanDump {

  /** query → what the plan should show (rendered next to it). */
  val expectations: Seq[(String, String)] = Seq(
    "q02_filter_project" -> ("predicate + projection reach the parquet scan " +
      "(`PushedFilters`, narrow `ReadSchema`)"),
    "q01_pricing_summary" -> "partial+final HashAggregate inside one codegen span",
    "q15_join_star" -> "all three dimension joins are BroadcastHashJoin — the fact table never shuffles",
    "q12_join_left" -> "fact-fact join shuffles both sides on the key once (SortMergeJoin, AQE-coalesced)",
    "q16_window_topn" -> "one Exchange on the window partition key, in-partition sort, rank, filter",
    "q38_events_asof" -> "as-of join = union + in-partition sort + running max — no range cross-product",
    "q47_dedup_minhash" -> "native minhash_sig projection (no doc_id shuffle), band explode, equi-join on (band, bucket) — never all-pairs",
    "q52_embed_neardup" -> "fused lsh_buckets projection, shuffled equi-join on (table, bucket) carrying ids only",
    "q50_knn_brute" -> "query side broadcast (BroadcastNestedLoopJoin), corpus streams through fused cosine",
    "q56_events_session_window" -> "session window aggregation with merge-capable session state",
    "q58_window_range" -> "RANGE interval frame ordered by epoch-day inside a partitioned window",
    "q26_distinct_agg" -> "multiple DISTINCT aggregates through one Expand — a single shuffle, not a job per column",
    "q71_docs_chunks" -> "chunking is a narrow projection (sequence/slice/posexplode) — no shuffle until a downstream agg",
    "q73_docs_hashsplit" -> "hash split is a pure per-row projection — deterministic, shuffle-free",
    "q55_curate" -> ("multi-stage funnel: every join/agg keyed; the token-budget cumulative sum " +
      "is the two-phase bucketed form (no unpartitioned window over data rows). The rendered " +
      "plan starts at the running-sum checkpoint boundary — the funnel stages upstream of it " +
      "execute at construction (see Windows.globalRunningSum)"),
    "q03_count_by" -> "straight partial+final hash aggregation on the group keys",
    "q28_topk_native" -> ("custom TopKPerKeyExec after a key Exchange — bounded heap per key, " +
      "NO Sort node over the fact rows (compare q16's window form)"),
    "q78_skew_profile" -> ("global top-k of key counts is TakeOrderedAndProject " +
      "(per-partition heaps) after one partial+final hash agg — never a one-partition window"),
    "q80_mixture_sample" -> ("domain reweighting is a pure projection + filter " +
      "(md5 threshold against a literal weights map) — zero shuffles, zero RNG state"),
    "q79_zorder_curve" -> ("the Morton value is one codegen'd projection " +
      "(nested HOF aggregate over bit positions) — layout control costs one narrow map"),
    "q83_dup_spans" -> ("substring-level dedup is explode + ONE partial+final hash agg " +
      "on the span — no self-join, no pair emission; map-side combine absorbs " +
      "the plain-duplicate worst case"),
    "q86_span_scrub" -> ("the scrub rewrite shuffles span positions ONCE (a single window " +
      "over the xxhash64 span key carries both rank and occurrence count); coverage " +
      "anti-joins the tokens and documents reassemble via array_sort — nowhere does " +
      "the span explode run twice"),
    "q99_interval_overlap" -> ("interval overlap is an equi-join on (key, bucket) after " +
      "sequence-explode bucketing — the range predicate never reaches the join strategy, " +
      "and the emit-once bucket filter replaces a distinct pass"),
    "q100_sparse_topk" -> ("term-at-a-time sparse retrieval: postings self-join on the " +
      "shingle key (from the checkpointed posting table), partial+final hash agg per doc " +
      "pair in exact scaled-long arithmetic, window top-k"),
    "q101_embed_quantize" -> ("encode is one codegen fold over the vector against literal " +
      "extrema (no join, no shuffle before the final sort); stats read the materialized " +
      "codes column — the serving artifact"),
    "q103_incremental_agg" -> ("materialized-view refresh: the base table appears only as " +
      "its grouped STATE rows unioned with the delta's aggregation — two hash aggs over " +
      "group-cardinality + batch rows, never a base rescan"),
    "q114_bloom_join" -> ("the Bloom probe is a codegen'd Filter on the fact scan side, " +
      "BELOW the join exchange — non-matching rows die before they shuffle; the join " +
      "that follows restores exact semantics"),
    "q109_pivot" -> ("pinned pivot values lower to ONE partial+final hash agg with " +
      "per-status conditional partials — no distinct-collect pre-pass, one scan"),
    "q127_bm25" -> ("BM25 = the same checkpointed-postings self-join as q100 with a " +
      "shared-idf long sum; the per-doc saturation factor joins the tiny length table — " +
      "asymmetry without a second pair pass"),
    "q141_jaccard_capped" -> ("the 100 TB dedup form: stop-shingles (df > maxDf) are " +
      "filtered out of the posting table BEFORE the self-join, killing the df² candidate " +
      "blow-up; the exact recount joins only the (tiny) stop postings of surviving pairs " +
      "— the full shingle table never re-enters the plan"),
    "q142_containment_capped" -> ("same capped index as q141; unordered pairs join ONCE " +
      "(a < b) and both directions emit from a group-level union after the count — the " +
      "direction fan-out costs no second self-join"),
    "q143_join_right" -> ("right outer join: Catalyst plans the side-swap (a " +
      "ShuffledHashJoin/SortMergeJoin with the null-extended customer side preserved " +
      "through the aggregation) — same physical family as q12's left form"),
    "q158_triangles" -> ("degree-ordered triangle counting: the wedge self-join is an " +
      "equi-join on the oriented source vertex (both sides the SAME checkpointed " +
      "oriented-edge table), closed by a second equi-join on (v, w) — no cross " +
      "product anywhere, and the orientation step guarantees wedge fan-out is bounded " +
      "by the LOW endpoint's degree"),
    "q160_bfs_hops" -> ("each BFS round is one edge-cardinality equi-join + one " +
      "min-aggregation on the destination key; lineage truncates at the per-round " +
      "localCheckpoint so the rendered plan stays round-local instead of " +
      "exponentiating"),
    "q161_skyline" -> ("bucketed skyline: the local pass windows are partitioned by " +
      "the hash bucket (parallel frame minima), and only the surviving per-bucket " +
      "frontier reaches the single-partition global window — the full input never " +
      "meets an unpartitioned sort"),
    "q162_hll_distinct" -> ("HLL: one distinct shuffle of the (source, token) stream, " +
      "one partial+final max-agg to <=256 registers per source; everything after the " +
      "register table is arithmetic on <=257·|sources| rows"),
    "q173_audio_decode" -> ("audio decode is a mapPartitions batch (codec amortized per " +
      "partition) followed by a narrow posexplode projection — the only Exchange is the " +
      "final presentation sort"),
    "q174_semdedup_exact" -> ("exact SemDeDup: the all-pairs cut runs INSIDE the join " +
      "condition as one fused-loop long_dot per candidate (no output row unless it " +
      "nearly passes), the exact DECIMAL predicate prices on the ~0.05% survivors, and " +
      "CC hands a bounded contracted edge set to the driver union-find instead of " +
      "paying O(log n) more rounds of job overhead"),
    "q175_bloom_probe" -> ("the probe side is a BroadcastNestedLoopJoin of the tiny " +
      "(|sources|-row) filter table against the probe stream; bit tests are pure " +
      "integer codegen — the corpus appears only in the one build aggregation whose " +
      "map-side partials are 512-byte buffers"),
    "q176_quantile_sketch" -> ("ONE bucket hash-agg bounds the histogram at 1024 " +
      "rows/group; the rank selection windows run over the bounded histogram, never " +
      "the input rows — the exact twin's per-value table is domain-bounded"),
    "q180_kmv_distinct" -> ("KMV build is one partial+final ObjectHashAggregate whose " +
      "map-side partials are sorted ≤512-byte arrays (the Bloom/HLL exchange shape); " +
      "the estimate tail is pure integer-decimal projection over the " +
      "one-row-per-source sketch table"),
    "q181_theta_intersection" -> ("sketch pairing is a BroadcastNestedLoopJoin over " +
      "the tiny sketch table — the corpus never self-joins; intersection/θ-cut are " +
      "codegen'd array HOFs per pair, and the exact-twin join is shingle-keyed"),
    "q182_boilerplate_scrub" -> ("span positions explode ONCE; document frequency is " +
      "one partial+final hash agg on the xxhash64 span key; the qualifying " +
      "(df ≥ minDf) gram set joins back as a BroadcastHashJoin — unlike q86 there is " +
      "NO window rank anywhere, because boilerplate keeps no first occurrence"),
    "q184_audio_features" -> ("decode + framing is a mapPartitions batch (codec " +
      "amortized per partition, the q173 shape); every downstream feature row is " +
      "plan-free flatMap output — no shuffle until the final order"),
    "q186_theta_difference" -> ("the q181 shape with the full set algebra: ONE " +
      "BroadcastNestedLoopJoin pairing of the one-row-per-source sketch table, " +
      "difference/union/jaccard as codegen'd array HOFs and integer-decimal " +
      "projections per pair — adding three estimators adds zero joins and zero " +
      "corpus passes"),
    "q187_image_phash" -> ("decode→resize→hash is one mapPartitions batch; the " +
      "near-dup join is band-keyed (4×16-bit slices) over the HASH table — a " +
      "ShuffledHashJoin/SortMergeJoin on (band_no, band_val) whose input is one row " +
      "per image, never the corpus, with Hamming as pure integer codegen " +
      "(bit_count over xor) on the banded candidates"),
    "q190_embedding_drift" -> ("one narrow posexplode feeds ONE (label, half, dim) " +
      "partial+final hash agg (≤ |labels|·2·64 rows on the exchange); the bilinear " +
      "forms and the hi/lo splits are per-label projections over that bounded " +
      "table — nothing pairwise, nothing driver-side"),
    "q191_vocab_encode" -> ("the id rank is a window over the REDUCED vocab table " +
      "(post-minCount), never the corpus; the encode join brings the small vocab " +
      "to the token stream as a BroadcastHashJoin, and the per-doc reassembly is " +
      "the shared collect_list + array_sort tail"),
    "q183_image_resize" -> ("decode→resize→histogram is one mapPartitions batch " +
      "directly above a doc_id-only scan (media bytes synthesize per-partition, " +
      "never shuffle); the single Exchange in the plan is the final presentation " +
      "sort — the q173/q184 codec shape, gated in PlanSpec"),
    "q193_kmv_daily_overlap" -> ("the temporal theta algebra: per-day KMV build is " +
      "the partial+final one-pass aggregator, and the day-adjacency pairing " +
      "grp_b = grp_a + 1 is an EQUI key — a BroadcastHashJoin over the " +
      "one-row-per-day sketch table (tighter than q181/q186's nested-loop '<' " +
      "pairing); set algebra is codegen'd array HOFs per adjacent pair"),
    "q196_log_quantiles" -> ("log-width histogram quantiles: ONE hash agg to a " +
      "<=64-row bit-length histogram per group (covers ANY long, 2x relative-error " +
      "bound, no clamp bucket), rank selection windows over the bounded histogram — " +
      "the q176 shape freed from domain sizing"),
    "q197_trailing_quantiles" -> ("trailing-window quantiles by histogram merge: " +
      "daily <=64-row log histograms fan to their spine days via a narrow explode + " +
      "broadcast day join, one hash agg re-merges per (day, bucket) — rows are " +
      "scanned ONCE for the daily build and never again; the only row-cardinality " +
      "work in the plan is the exact-twin grading join"),
    "q195_tfidf_build" -> ("the graded from-scratch build of the tf-idf family's " +
      "shared artifacts (q100/q102's serve inputs): weighted postings materialize " +
      "once, the df-capped self-join meets on the shingle key, exact-long dots are " +
      "partial+final hash aggs; Bench pre-warms the session caches so the consumers " +
      "time serving and THIS query alone times the build"),
    "q194_capped_index_build" -> ("the graded from-scratch build of the shared " +
      "shingle/capped-common artifact: shingles materialize once (Scan " +
      "ExistingRDD), the rare (df<=maxDf) inverted index generates candidates " +
      "through a broadcast equi-join on the shingle key, pair counts are " +
      "partial+final hash aggs — Bench pre-warms the session caches so every " +
      "consumer times scoring, and THIS query alone times the build"),
    "q198_trailing_stream_state" -> ("trailing quantiles served from STREAMED " +
      "day-keyed state: the maintained log-histogram table (bounded <=64 rows/day " +
      "by the merge algebra) fans to spine days and re-merges in one hash agg — " +
      "raw event rows appear only in the exact-twin grading join, never in the " +
      "serving path"),
    "q199_admission_stream" -> ("the REAL checkpointed admission sink replays " +
      "the corpus as micro-batches; the graded tail is the materialized admitted " +
      "corpus (Scan ExistingRDD after localCheckpoint — the harness deletes its " +
      "temp tree), with no pairwise stage anywhere in the summary"),
    "q231_cc_stream_groups" -> ("the REAL checkpointed CC maintenance sink " +
      "replays the corpus as micro-batches; the graded tail is the resolved " +
      "maintained (doc_id, group_id) state (Scan ExistingRDD after " +
      "localCheckpoint — the harness deletes its temp tree), no pairwise stage. " +
      "The batch-path scale claim — the corpus-sized band index meets the " +
      "batch's buckets through a BroadcastHashJoin BELOW the representative " +
      "aggregation, so the index scan stays map-only and only matched postings " +
      "shuffle — is gated structurally in PlanSpec on ccProbeRepEdges, the " +
      "exact DataFrame the sink checkpoints"),
    "q232_cc_compact_resume" -> ("the q231 replay through a self-folding " +
      "sink (compactEvery=1) that STOPS after the fold inside batch 1 and " +
      "resumes the same stream: the graded tail is the identical resolved " +
      "(doc_id, group_id) state (Scan ExistingRDD after localCheckpoint), " +
      "because the fold only re-homes batch partitions into the flat " +
      "batch=-1 base, which the resumed probe's batch < id filter reads, " +
      "and the equality law (resolved state == batch CC) survives the fold"),
    "q233_cc_autocompact" -> ("the q231 replay with the sink folding its " +
      "OWN band index inside foreachBatch (compactEvery=1, the " +
      "pending-dir-count trigger): the graded tail is the identical " +
      "resolved (doc_id, group_id) state (Scan ExistingRDD after " +
      "localCheckpoint) — the fold is serialized with commits and probes " +
      "by Structured Streaming itself, " +
      "batch 2's probe reads a base the sink created mid-stream, and the " +
      "preservation law keeps resolution equal to batch CC"),
    "q200_bpe_train" -> ("BPE training touches the corpus ONCE (word-frequency " +
      "hash agg); every merge round is a vocab-sized pair-count hash agg + a " +
      "single-row argmax (Scalar-class collect) + a narrow replace projection — " +
      "the rendered plan is the collected merge table; no per-round corpus scan"),
    "q201_bpe_encode" -> ("encode folds the trained merges VOCAB-side (the " +
      "replace chain runs once per distinct word), then ONE corpus equi-join on " +
      "the word key and a per-doc partial+final agg reassembles token strings — " +
      "nothing pairwise, nothing corpus-sized beyond the single join"),
    "q202_max_coverage" -> ("greedy max-coverage: each round's marginal gains are " +
      "a shingle-keyed LeftAnti equi-join against the checkpointed covered set + " +
      "partial/final gain agg + a single-row argmax; the rendered plan is the " +
      "collected picks table (rounds execute at construction, gated per-round by " +
      "PlanSpec)"),
    "q203_dsir_weights" -> ("DSIR importance weights in two corpus-sided hash " +
      "aggs off one token explode: the per-feature marginal table is fixed-size " +
      "(hash buckets) and joins back BROADCAST to the per-doc feature counts — " +
      "the only doc-keyed shuffle is the final per-doc aggregation"),
    "q204_kcenter_coreset" -> ("Gonzalez k-center over int8 codes: each round is " +
      "one equi-join distance agg against the single broadcast pick + a LEAST " +
      "fold into the maintained min-distance state + an argmax excluding the " +
      "selected set; the rendered plan is the collected picks table (per-round " +
      "shape gated by PlanSpec)"),
    "q205_bpe_fertility" -> ("fertility/compression reuses the q201 encode shape " +
      "— vocab-side merge fold, one corpus equi-join, per-doc hash agg — and the " +
      "permille ratios are exact integer division in the final projection; pure " +
      "BIGINT surface, no double anywhere"),
    "q206_bigram_nll" -> ("bigram-LM perplexity scoring: count tables are two " +
      "hash aggs (unigram/bigram-keyed, vocabulary-shaped), scoring is key-equi " +
      "joins (word, (a,b), doc_id) + a partial/final per-doc sum — the corpus is " +
      "tokenized twice and never self-joined; per-term λ is the 6dp-decimal " +
      "log discipline so the graded surface is exact BIGINT micro-nats"),
    "q207_bigram_nll_slice" -> ("the production LM-filter shape: counts come " +
      "from the trusted slice only (slice-sized tables — broadcast-able at a " +
      "bounded slice), scoring LEFT-joins with count-0 coalesce so OOV terms " +
      "pay the add-1 floor; the big corpus is tokenized once and flows through " +
      "two equi-joins + one per-doc agg"),
    "q208_gopher_rules" -> ("the Gopher hard-filter battery as ONE " +
      "stacked-projection pipeline: the token array materializes once " +
      "behind a projection boundary (split appears ONCE in the plan — " +
      "CollapseProject keeps the non-cheap multi-consumer alias), counting " +
      "rules are allocation-free folds over that shared array, the " +
      "repetition rule's modal count is a longest-equal-run fold over the " +
      "locally sorted array — NO aggregate, no join, the only Exchange is " +
      "the graded orderBy; every flag is an exact-integer comparison, pure " +
      "BIGINT surface"),
    "q209_winnow_fingerprints" -> ("winnowing (MOSS) fingerprints: the " +
      "token-hash table materializes ONCE (Scan ExistingRDD — xxhash64 stays " +
      "in the expression layer, bit-identical to the oracle's replayed " +
      "chain); gram folding + window selection run as a mapPartitions batch " +
      "(the assignPartitions split — the nested-HOF form measured ~2.5 ms/doc " +
      "interpreted and re-inlined the hash chain on derived inputs); the " +
      "summary is doc-keyed aggs + one join — nothing pairwise"),
    "q210_probe_auc" -> ("classifier AUC without a global rank sort: the " +
      "probe weights are a driver literal so scoring is a narrow projection " +
      "over the materialized codes (Scan ExistingRDD, no weights join); one " +
      "partial+final hash agg collapses the corpus to the distinct-score " +
      "table and the Mann-Whitney cumulative runs there (single-partition " +
      "window over a bounded table)"),
    "q211_calibration_bins" -> ("calibration bins: the same literal-fold " +
      "scoring pass, extrema as Scalar-class literals, then ONE corpus hash " +
      "agg keyed by the exact-integer bin id — bins ≪ corpus"),
    "q212_budget_select" -> ("token-budget selection: the threshold comes " +
      "from the distinct-score class sweep; only the single tie class pays " +
      "an ordered cumsum via the bucketed two-phase running sum, whose " +
      "offsets join must stay a BroadcastHashJoin on the bucket id — the " +
      "corpus is never globally sorted by rank"),
    "q213_mixture_plan" -> ("mixture plan: one corpus-pass hash agg to a " +
      "source-cardinality table; the largest-remainder allocation is " +
      "arithmetic on that bounded table"),
    "q214_pr_curve" -> ("PR curve: distinct-score reduction + descending " +
      "cumulative confusion counts on the bounded table — same shape as " +
      "q210, one row per threshold"),
    "q215_best_f1" -> ("best-F1 operating point: the q214 sweep plus an " +
      "exact floor'd-ppm argmax — the final TakeOrderedAndProject runs on " +
      "the bounded distinct-score table, never the corpus"),
    "q216_auc_by_lang" -> ("per-language AUC: the slice column arrives by a " +
      "1:1 id-key equi join pruned to (doc_id, lang) — no text column in " +
      "the documents scan — then the distinct-score reduction keyed " +
      "(lang, score) with the rank window PARTITIONED by lang (parallel " +
      "across slices, no coalesce(1))"),
    "q217_ks_separation" -> ("two-sample KS: ascending CDF sweep on the " +
      "bounded distinct-score table; the argmax is pure BIGINT (shared " +
      "denominator P·N) — no fraction comparison, no corpus sort"),
    "q218_good_turing" -> ("Good-Turing/Chao1: two stacked map-side-" +
      "combined hash aggs (corpus → vocabulary → frequency-of-frequencies) " +
      "then a constant-size reduction — no join, no sort anywhere"),
    "q219_simpson_diversity" -> ("inverse Simpson: the same stacked FoF " +
      "reduction with the pair-collision sum — identical plan class to " +
      "q218"),
    "q220_vocab_coverage" -> ("vocabulary budget coverage: FoF reduction + " +
      "a single-partition window sweep over frequency classes; the pct " +
      "fan-out is a literal explode (no cross join) and the boundary-class " +
      "split is arithmetic — no token-level sort, no rangepartitioning " +
      "exchange"),
    "q221_dup_mass" -> ("dedup ROI report: the q57 CC machinery (checkpointed " +
      "banded signatures, hub-star contraction), then a group-keyed hash agg " +
      "and a cluster-size agg — the FoF idea applied to dedup clusters; " +
      "nothing pairwise, the histogram bounded by the largest cluster"),
    "q222_selection_shift" -> ("selection composition audit: budgetSelect's " +
      "distinct-score class sweep, then ONE id-key left join back to the " +
      "per-source universe (kept ids carry their token counts — no second " +
      "tokenize pass) and a source-keyed hash agg"),
    "q223_spearman_quality_len" -> ("exact Spearman components: the graded " +
      "output is a one-row Scalar-class literal; the work plan (gated in " +
      "PlanSpec via RankCorr.rankedPairs) attaches doubled average ranks by " +
      "BROADCAST joins against two distinct-value class tables — the corpus " +
      "never sorts or shuffles for ranks"),
    "q224_mann_kendall" -> ("Mann-Kendall trend: the corpus reduces to the " +
      "checkpointed calendar-bounded day table FIRST (one map-side-combined " +
      "hash agg), then the |days|^2 sign sweep runs as a broadcast " +
      "nested-loop theta join over that bounded table — the honest pairwise, " +
      "with the raw events scan provably outside it"),
    "q225_vocab_stream_state" -> ("maintained-vocabulary sink summary: the " +
      "Good-Turing tail reads the FINAL streamed state (checkpointed " +
      "ExistingRDD — the replay harness already ran), one stacked " +
      "partial+final agg chain, nothing pairwise; the sink itself is the " +
      "complete-mode state-store aggregation shared with q179/q185/q192"),
    "q226_source_ks_drift" -> ("per-source KS drift: the corpus reduces to " +
      "checkpointed scores then (source, score) / score-class hash aggs; the " +
      "grid densification is the bounded global class table crossed with a " +
      "BROADCAST source-totals table (a handful of rows), cumOut derived as " +
      "cumAll - cumIn so the out-group needs no second pass; per-source " +
      "argmax is one max(struct) agg"),
    "q227_selection_tv" -> ("selection TV distortion: the corpus tokenizes " +
      "ONCE (checkpointed, feeding both vocabulary aggs), the two count " +
      "tables align by a token-keyed LEFT join (kept is a subset, so no " +
      "full-outer), totals cross in as a broadcast one-row table, and the " +
      "shared-denominator TV sum is one map-side-combined agg"),
    "q228_confusion_best_f1" -> ("confusion at the best-F1 threshold: the " +
      "checkpointed probe-score table (ExistingRDD) collapses to the " +
      "distinct-score table via a partial+final hash agg; the descending " +
      "sweep, the window totals, and the F1 argmax all run on that bounded " +
      "coalesce(1) table — no join, no corpus sort"),
    "q229_calibration_by_source" -> ("per-source calibration: the probe " +
      "scores join the documents slice pruned to (doc_id, source) on the " +
      "1:1 id key, the global [lo,hi] bin law is a literal-folded integer " +
      "projection, and one (source, bin)-keyed map-side-combined hash agg " +
      "produces the sources x bins table"),
    "q230_best_f1_by_source" -> ("per-source best-F1 operating point: " +
      "q215's exact floor'd-ppm argmax law with every window PARTITIONED " +
      "by source — the corpus enters one (source, score)-keyed hash agg " +
      "(after the id-key join pruned to (doc_id, source)); the sweep " +
      "cumulatives, totals, and row_number argmax all run on the bounded " +
      "per-source threshold table, no coalesce(1), nothing pairwise"),
    "q63_dbscan" -> ("the grid kernel (two shuffles of 9 probe rows per point, " +
      "degree and union-find per cell) and CC over its spanning forest run at " +
      "construction; the rendered plan is the label tail: the checkpointed " +
      "link rows (Scan ExistingRDD) meet the contracted components, one hash " +
      "agg per point takes the min, and the points join it on id — no " +
      "neighbour-pair rows anywhere"),
    "q68_dbscan_severity" -> ("the q63 kernel over 3 dims (27 probe rows per " +
      "point): the same label tail, joined back to the projected points")
  )

  /** `explain("formatted")` with the run-dependent tokens normalized —
    * shared by the PLANS.md dump and [[PlanFiles]]' per-query
    * before/after artifacts, so both are byte-reproducible. */
  private[graft] def normalizedPlan(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
      // custom Aggregator instances and closure objects render with
      // JVM identity tokens (Sketches$SimHashAgg@4225b4e2,
      // $$Lambda$5681/0x00007f…@4410d01e) — the only run-dependent
      // strings in an otherwise deterministic dump; normalize them so
      // regenerate-and-diff (tools/round_gate.py) is a real check
      .replaceAll("(\\$[A-Za-z0-9]+Agg)@[0-9a-f]+", "$1@anon")
      .replaceAll("\\$\\$Lambda\\$[0-9]+/0x[0-9a-f]+(@[0-9a-f]+)?",
        "\\$\\$Lambda@anon")
      // graded streaming harnesses run in a fresh temp dir per dump
      .replaceAll("(/tmp/graft_[a-z_]+)[0-9]+", "$1<tmp>")
      // global plan-id counter: offset shifts with the (timing-
      // dependent) number of plans the graded streaming harnesses
      // created earlier in the session — no review value
      .replaceAll("plan_id=[0-9]+", "plan_id=N")
      // RDD-id counter (MapPartitionsRDD[793]): same global-counter
      // class — the streaming replays' job counts are timing-
      // dependent, so absolute RDD ids are not reproducible
      .replaceAll("RDD\\[[0-9]+\\]", "RDD[N]")
      // lambda-variable counter (lambda x_176#7, lambda y_242#7):
      // global too; the #id suffix (renumbered below) keeps
      // variables distinct
      .replaceAll("lambda ([a-z]+)_[0-9]+", "lambda $1")
    // expression IDs (doc_id#3825L) come off the same global
    // counter: renumber them per SECTION in first-seen order, so
    // same-named columns from different relations stay
    // distinguishable while the dump is byte-reproducible
    val seen = scala.collection.mutable.LinkedHashMap[String, Int]()
    "#([0-9]+)".r.replaceAllIn(plan, m =>
      s"#${seen.getOrElseUpdate(m.group(1), seen.size + 1)}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for headline queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` at sf dir `$sfDir`. Each section: the\n")
    sb.append("intent the plan must show, then `explain(\"formatted\")` output.\n")
    sb.append("PlanSpec enforces these properties as tests; this file is the\n")
    sb.append("human-reviewable rendering.\n")
    expectations.foreach { case (name, intent) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val renumbered = normalizedPlan(df)
      sb.append(s"\n## $name\n\n**Intent:** $intent\n\n```\n")
      sb.append(renumbered.trim)
      sb.append("\n```\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
