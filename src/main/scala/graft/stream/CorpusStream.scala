package graft.stream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus ingestion — the stream twin of the batch admission
  * path (`dedup/Dedup.incrementalDedup`): documents arrive continuously,
  * are fingerprinted, and duplicates are dropped in-stream.
  *
  * State is one fingerprint per distinct document inside the lateness
  * horizon, watermark-evicted, so it stays bounded no matter how long
  * the stream runs. Dedup across horizons (against the full historical
  * corpus) is the batch job's responsibility — the standard
  * stream/batch split for corpus ingestion at scale.
  *
  * At production state sizes set
  * `spark.sql.streaming.stateStore.providerClass` to
  * `RocksDBStateStoreProvider` (off-heap, spillable — the in-memory
  * HDFS-backed default holds every fingerprint on-heap); StreamingSpec
  * runs this pipeline on RocksDB to prove the env supports it.
  *
  * The maintained tables follow one of two protocols. The eight sketch
  * and counter sinks ([[aggMaintenanceSink]] … [[trailingQuantileSink]])
  * are complete-mode aggregations on the same state store, each
  * published whole by [[completeStateSink]], so Spark's checkpoint owns
  * their exactly-once. The two band-index sinks ([[admissionSink]],
  * [[ccMaintenanceSink]]) keep no keyed state: each batch overwrites
  * its own `batch=<id>` partitions and probes only earlier ones.
  */
object CorpusStream {

  /** Expects a streaming DataFrame with (doc_id, text, ingest_ts).
    * Emits the first arrival of each distinct (normalized) text within
    * the watermark; later copies — same batch or later batches — drop. */
  def ingestDedup(docs: DataFrame, lateness: String = "1 hour"): DataFrame =
    docs.withColumn("fp", graft.text.TextOps.fingerprint(col("text")))
      .withWatermark("ingest_ts", lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming admission gate: every micro-batch is checked against the
    * SAME [[graft.quality.Expectations]] rules the batch pipeline uses
    * (one rule library, both planes — the T2 principle applied to data
    * quality). A batch that passes every rule goes to `accept`; a batch
    * with any violation goes WHOLE to `reject` (quarantine-and-replay
    * beats admitting a poisoned batch, and keeps the gate idempotent
    * under checkpoint-retry). Rule evaluation is the same single-pass
    * hash agg as the batch gate — per batch it reduces to a handful of
    * driver booleans, never a collect of the data.
    *
    * Returns the started query (checkpointed at `checkpoint`). */
  def gatedSink(docs: DataFrame, rules: Seq[graft.quality.Expectations.Rule],
                checkpoint: String)(
      accept: DataFrame => Unit, reject: DataFrame => Unit)
      : StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val failed = graft.quality.Expectations.check(batch, rules)
            .filter(!col("passed")).limit(1).count() > 0
          if (failed) reject(batch) else accept(batch)
        }
      }
      .start()

  /** Streaming materialized view: maintain a grouped aggregate STATE
    * table (the [[graft.ops.Incremental.aggState]] columns n, sum_v,
    * min_v, max_v per key) under a continuous stream, as a TABLE other
    * engines read. This is the streaming face of the q103 refresh law:
    * the aggregation runs in complete mode on Spark's state store, so
    * each micro-batch folds only its own rows into the per-key buffers
    * and the historical data never re-enters any plan.
    *
    * Exactly-once is Spark's: the state store versions the buffers
    * with the checkpoint, and [[completeStateSink]] publishes the full
    * result through a staged `.next` swap. A replayed batch recomputes
    * the same table from the same state version, so no replay gate is
    * needed. One stream owns one table: a fresh checkpoint starts from
    * empty state and replaces the table with its own result. */
  def aggMaintenanceSink(rows: DataFrame, statePath: String, checkpoint: String,
                         keys: Seq[String], valueCol: String)
      : StreamingQuery =
    completeStateSink(graft.ops.Incremental.aggState(rows, keys, valueCol),
      statePath, checkpoint)

  /** Streaming HyperLogLog maintenance: keep per-source distinct-token
    * sketches ([[graft.text.HyperLogLog]] registers) current under a
    * continuous document stream. The per-source register array is the
    * aggregation buffer the state store keeps, and its merge IS
    * register-wise max — the mergeability that makes HLL the 100 TB
    * distinct counter is exactly what makes it streaming-maintainable
    * for free; the state is bounded by 256·|sources| rows no matter how
    * long the stream runs. Same exactly-once protocol as
    * [[aggMaintenanceSink]]. State schema: (grp, idx, m). */
  def sketchMaintenanceSink(docs: DataFrame, statePath: String, checkpoint: String)
      : StreamingQuery =
    completeStateSink(
      graft.text.HyperLogLog.registersOnePass(sourceTokens(docs), col("source")),
      statePath, checkpoint)

  /** One graded replay in flight, handed to the body of
    * [[replayGraded]]: `stream` is the replay stream a sink reads (the
    * replayed columns, key first) and `apply(name)` names a path inside
    * the run's temp tree. */
  private[graft] final class GradedReplay private[CorpusStream] (
      dir: String, val stream: DataFrame, nBatches: Int,
      feed: (StreamingQuery, Range) => Unit) {
    def apply(name: String): String = s"$dir/$name"

    /** One sink lifetime: start the sink, feed it the residue
      * `classes` in ascending order, and stop it, also on failure. */
    def run(start: => StreamingQuery, classes: Range = 0 until nBatches): Unit = {
      val q = start
      try feed(q, classes) finally q.stop()
    }
  }

  /** The graded replay harness every `maintained*` query runs through.
    * `rows` (a LONG replay key first, then the columns the sink reads)
    * is collected and sorted by key ONCE; each [[GradedReplay.run]] in
    * the body feeds its residue classes (key mod nBatches) as one
    * micro-batch each, skipping empty classes, through a MemoryStream
    * into the REAL checkpointed sink. The body's result materializes
    * (localCheckpoint, `t`'s "resolve" stage) before the temp tree is
    * deleted, so a graded run leaves no disk behind. The driver-side
    * collect is the harness contract (fixture-scale grading), not the
    * operator: at production scale the same sinks hang off a
    * Kafka/Kinesis source. */
  private[graft] def replayGraded(rows: DataFrame, nBatches: Int, tag: String,
                                  t: CcStageTimer = CcNoTimer)(
      body: GradedReplay => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_graded").toString
    try {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Row](
        rows.sparkSession)(org.apache.spark.sql.Encoders.row(rows.schema))
      val sorted = rows.collect().sortBy(_.getLong(0))
      val out = body(new GradedReplay(dir, mem.toDF(), nBatches, (sink, classes) =>
        classes.foreach { b =>
          val batch = sorted.filter(r => Math.floorMod(r.getLong(0), nBatches.toLong) == b.toLong)
          if (batch.nonEmpty) {
            mem.addData(batch.toIndexedSeq)
            sink.processAllAvailable()
          }
        }))
      t("resolve")(out.localCheckpoint())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** [[replayGraded]] for a [[completeStateSink]] sink started as
    * `sink(stream, statePath, checkpoint)`: one lifetime over every
    * residue class, and the result is the final state table. */
  private def replayMaintained(rows: DataFrame, nBatches: Int, tag: String)(
      sink: (DataFrame, String, String) => StreamingQuery): DataFrame =
    replayGraded(rows, nBatches, tag) { r =>
      r.run(sink(r.stream, r("state"), r("ckpt")))
      rows.sparkSession.read.parquet(r("state"))
    }

  /** Exact distinct in-domain tokens per source: the batch twin the
    * HLL and KMV graded summaries report next to their estimates. */
  private def exactDistinctTokens(documents: DataFrame, name: String): DataFrame =
    sourceTokens(documents)
      .filter(length(col("token")) > 0 && length(col("token")) < 32)
      .groupBy(col("source").as("grp"))
      .agg(countDistinct(col("token")).as(name))

  /** GRADED end-to-end run of [[sketchMaintenanceSink]]: the documents
    * table replays through the REAL sink ([[replayGraded]] — checkpoint,
    * state store, staged-rename state table, all of it) and
    * the FINAL MAINTAINED STATE is then summarized with the
    * [[graft.text.HyperLogLog]] estimate tail and joined to the batch
    * exact distinct counts. Register-wise-max mergeability means the
    * maintained state equals the batch sketch of the whole corpus (the
    * property StreamingSpec's restart test asserts), so a DuckDB oracle
    * replaying the BATCH sketch SQL grades the streaming sink end to
    * end. At production scale the same sink hangs off a Kafka/Kinesis
    * source and the state stays ≤256·|sources| rows forever. */
  def maintainedHllSummary(documents: DataFrame, nBatches: Int): DataFrame = {
    val regs = replayMaintained(documents.select(col("doc_id"), col("source"), col("text")),
      nBatches, "hll")(sketchMaintenanceSink)
    graft.text.HyperLogLog.summarizeRegisters(regs)
      .join(exactDistinctTokens(documents, "exact_distinct"), "grp")
      .select(col("grp").as("source"), col("nonzero_regs"), col("s_hi"), col("s_lo"),
        col("est_milli"), col("exact_distinct"))
      .orderBy(col("source"))
  }

  /** Streaming maintained VOCABULARY: the exact-count twin of
    * [[sketchMaintenanceSink]] — state is the full (token, cnt) table,
    * a streaming count, so after any prefix of batches it equals the
    * batch vocabulary of everything ingested (counts are additive; no
    * approximation). This is the streamed substrate of the FoF corpus
    * statistics ([[graft.text.Coverage]]): a crawl ingests
    * continuously, and Good–Turing/Chao1/diversity are read off the
    * maintained state at any moment without re-scanning history.
    *
    * State size is vocabulary-sized (10⁷–10⁸ rows at 100 TB under
    * Heaps' law) — bounded ≪ corpus but materially bigger than the
    * sketch sinks' ≤2048-row states; that is the honest price of
    * EXACT maintained statistics, and [[sketchMaintenanceSink]] (HLL)
    * is the bounded-state alternative when approximate distinct counts
    * suffice. Same exactly-once protocol as [[aggMaintenanceSink]]; each
    * batch still writes the whole vocabulary-sized table (SCALE.md,
    * `vocab_maintain`). State schema: (token, cnt). */
  def vocabMaintenanceSink(docs: DataFrame, statePath: String, checkpoint: String)
      : StreamingQuery =
    completeStateSink(
      docs.select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt")),
      statePath, checkpoint)

  /** GRADED end-to-end run of [[vocabMaintenanceSink]] through
    * [[replayGraded]]: the REAL sink (checkpoint, state store,
    * staged-rename state), then the Good–Turing row is computed off
    * the FINAL MAINTAINED STATE via the same
    * [[graft.text.Coverage.goodTuringFromFoF]] tail the batch query
    * uses. Additive counts ⇒ maintained state == batch vocabulary, so
    * q218's batch oracle SQL grades the streaming sink end to end (the
    * q179 trick for exact counts). */
  def maintainedVocabStats(documents: DataFrame, nBatches: Int): DataFrame =
    graft.text.Coverage.goodTuringFromFoF(graft.text.Coverage.freqOfFreqFromVocab(
      replayMaintained(documents.select(col("doc_id"), col("text")), nBatches, "vocab")(
        vocabMaintenanceSink)))

  /** Streaming Count-Min maintenance: the counting twin of
    * [[sketchMaintenanceSink]]. CMS counters are a sum sketch, so the
    * state is one streaming count per (row, col) cell over raw token
    * occurrences ([[graft.text.CountMin.sketch]] — one aggregate, as
    * one streaming query requires) — after any prefix of batches the
    * state equals the sketch of everything ingested so far
    * (streamed == batch tested), and point-query estimates stay
    * one-sided. State schema: (row, col, counter). */
  def cmsMaintenanceSink(docs: DataFrame, statePath: String, checkpoint: String)
      : StreamingQuery =
    completeStateSink(graft.text.CountMin.sketch(docs), statePath, checkpoint)

  /** Streaming Bloom maintenance: the MEMBERSHIP twin of
    * [[sketchMaintenanceSink]]/[[cmsMaintenanceSink]] — per-source
    * 4096-bit filters ([[graft.text.Bloom]]) kept current under a
    * document stream. The per-source bit array is the state-store
    * buffer and merges by word-wise OR, so after any prefix of batches
    * the state equals the batch filter of everything ingested so far
    * (streamed == batch tested); the table is flattened to
    * (grp, w, bits) rows — ≤64·|sources| forever — with zero words
    * dropped. Same exactly-once protocol. */
  def bloomMaintenanceSink(docs: DataFrame, statePath: String, checkpoint: String)
      : StreamingQuery =
    completeStateSink(
      graft.text.Bloom.buildPerGroup(sourceTokens(docs), col("source"))
        .select(col("grp"), posexplode(col("bloom")).as(Seq("w", "bits")))
        .filter(col("bits") =!= 0L),
      statePath, checkpoint)

  /** Streaming KMV maintenance: the SET-ALGEBRA twin of the other
    * sketch sinks — per-source k-minimum-values samples
    * ([[graft.text.Theta]]) kept current under a document stream.
    * The state-store buffer is the [[graft.text.Theta.KmvAgg]] sorted
    * distinct array of at most k values, and
    * kmv(A ∪ B) = k-smallest-distinct(kmv(A) ∪ kmv(B)) is its merge,
    * so after any prefix of batches the state equals the batch sketch
    * of everything ingested so far (streamed == batch tested). The
    * table is flattened to (grp, f) rows — ≤ K·|sources| forever.
    * Same exactly-once protocol. */
  def kmvMaintenanceSink(docs: DataFrame, statePath: String, checkpoint: String,
                         k: Int = graft.text.Theta.K)
      : StreamingQuery =
    completeStateSink(
      graft.text.Theta.buildPerGroup(sourceTokens(docs), col("source"), k)
        .select(col("grp"), explode(col("kmv")).as("f")),
      statePath, checkpoint)

  /** GRADED end-to-end run of [[kmvMaintenanceSink]] through
    * [[replayGraded]]: deterministic micro-batch replay through the
    * REAL sink, then the final maintained state reassembles into per-source sketches
    * (array_sort is exact: the state rows ARE the k minima) and takes
    * the [[graft.text.Theta.withEstimates]] tail next to exact
    * distinct counts. Distinct-union mergeability means the maintained
    * state equals the batch sketch of the whole corpus, so a DuckDB
    * oracle replaying the batch KMV chain grades the sink end to
    * end. */
  def maintainedKmvSummary(documents: DataFrame, nBatches: Int,
                           k: Int = graft.text.Theta.K): DataFrame = {
    val sketches = replayMaintained(documents.select(col("doc_id"), col("source"), col("text")),
        nBatches, "kmv")(kmvMaintenanceSink(_, _, _, k))
      .groupBy(col("grp"))
      .agg(array_sort(collect_list(col("f"))).as("kmv"))
    // f_min/f_max grade the maintained CONTENT even while the sketch is
    // exhaustive (word-token groups sit below K, where kth_f is NULL by
    // contract): any dropped/duplicated/corrupted hash in the state
    // moves an extremum
    graft.text.Theta.withEstimates(sketches, k)
      .join(exactDistinctTokens(documents, "n_exact"), Seq("grp"))
      .select(col("grp").as("source"), col("n_exact"), col("n_sketch"),
        element_at(col("kmv"), 1).as("f_min"),
        element_at(col("kmv"), size(col("kmv"))).as("f_max"),
        col("kth_f"), col("est_milli"))
      .orderBy(col("source"))
  }

  /** Streaming quantile-histogram maintenance — the QUANTILE member
    * completing the maintained-sketch family (HLL max-merge, CMS add,
    * Bloom OR, KMV distinct-union-cut): per-source equi-width
    * histograms of document length kept current as streaming counts,
    * the [[graft.quality.QuantileSketch.merge]] law applied by the
    * state store. State is (grp, bucket, cnt) — ≤ buckets·|sources|
    * rows forever. Same exactly-once protocol. */
  def quantileMaintenanceSink(docs: DataFrame, statePath: String, checkpoint: String,
                              width: Long = 16L, buckets: Int = 1024)
      : StreamingQuery =
    completeStateSink(graft.quality.QuantileSketch.build(
      docs, col("source"), length(col("text")), width, buckets), statePath, checkpoint)

  /** GRADED end-to-end run of [[quantileMaintenanceSink]] through
    * [[replayGraded]]: deterministic micro-batch replay through the
    * REAL sink, then the final maintained histogram answers quantiles
    * through the SAME rank arithmetic as q176
    * ([[graft.quality.QuantileSketch.estimatesFrom]]) next to the
    * exact order statistics of the whole corpus. Counter-add
    * mergeability means the maintained histogram equals the batch
    * histogram of everything ingested, so a DuckDB oracle replaying
    * the batch bucket arithmetic grades the sink end to end. */
  def maintainedQuantileSummary(documents: DataFrame, nBatches: Int,
                                width: Long = 16L, buckets: Int = 1024,
                                qMillis: Seq[Int] = Seq(250, 500, 900, 990)): DataFrame = {
    val hist = replayMaintained(documents.select(col("doc_id"), col("source"), col("text")),
      nBatches, "quant")(quantileMaintenanceSink(_, _, _, width, buckets))
    val base = documents.select(col("source").as("grp"),
      length(col("text")).cast("long").as("v")).localCheckpoint()
    val ns = base.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    graft.quality.QuantileSketch.estimatesFrom(hist, ns, width, buckets, qMillis)
      .join(graft.quality.QuantileSketch.exactTwin(base, qMillis),
        Seq("grp", "q_milli"))
      .select(col("grp").as("source"), col("q_milli"), col("est_hi"),
        col("exact_v"), col("n"))
      .orderBy(col("source"), col("q_milli"))
  }

  /** Streaming DAY-keyed log-histogram maintenance over an event value
    * stream — the q197 trailing-window quantiles served from streamed
    * state: per-day bit-length histograms kept current as streaming
    * counts (≤ 64·|days| state rows forever), the identical
    * exactly-once protocol as the other maintained sketches.
    * The trailing merge is a READ-side view over this state — serving
    * last-week quantiles never touches raw rows. */
  def trailingQuantileSink(events: DataFrame, statePath: String, checkpoint: String)
      : StreamingQuery =
    completeStateSink(graft.quality.QuantileSketch.buildLog(events,
        expr("(ts div 1000) div 86400000000"),
        expr("CAST(floor(value * 100) AS BIGINT)")),
      statePath, checkpoint)

  /** GRADED end-to-end run of [[trailingQuantileSink]] through
    * [[replayGraded]] (keyed by event_id), then the maintained
    * per-day histograms answer trailing-window quantiles through the
    * identical q197 merge + rank tail
    * ([[graft.quality.QuantileSketch.trailingFromDailyLog]]) next to
    * per-window exact order statistics. Counter-add mergeability means
    * the maintained dailies equal the batch dailies of everything
    * ingested, so q197's own oracle SQL grades this sink end to end. */
  def maintainedTrailingSummary(events: DataFrame, nBatches: Int,
                                window: Int = 7,
                                qMillis: Seq[Int] = Seq(500, 990)): DataFrame = {
    val daily = replayMaintained(events.select(col("event_id"), col("ts"), col("value")),
      nBatches, "trail")(trailingQuantileSink)
    val base = events.select(
        expr("(ts div 1000) div 86400000000").as("day"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      .localCheckpoint()
    graft.quality.QuantileSketch.trailingFromDailyLog(daily, base, window, qMillis)
  }

  /** GRADED end-to-end run of [[admissionSink]] through
    * [[replayGraded]], applied to the near-dup ADMISSION loop: the REAL
    * checkpointed sink — band-index partitions, replay-stable
    * strictly-earlier-batch probes, per-batch corpus partitions,
    * all of it — and the graded output is the ADMITTED CORPUS itself,
    * (doc_id, batch). Because each micro-batch's decisions probe
    * exactly the admitted docs of earlier batches, the streamed corpus
    * equals the sequential-batch admission chain, which a DuckDB
    * oracle replays round by round with the q87 murmur3/minhash CTEs
    * (the decision function q87 already grades, iterated nBatches
    * times). */
  def maintainedAdmissionCorpus(documents: DataFrame, nBatches: Int): DataFrame =
    replayGraded(documents.select(col("doc_id"), col("text")), nBatches, "adm") { r =>
      r.run(admissionSink(r.stream, r("idx"), r("corpus"), r("ckpt")))
      // Graded `batch` is the RESIDUE CLASS, not the sink's batch id:
      // an empty residue class emits no streaming micro-batch, which
      // compresses batch ids and would shift every later label away
      // from the oracle's doc_id % nBatches — while leaving admission
      // decisions unchanged. The residue class is the replay schedule
      // both engines agree on unconditionally.
      documents.sparkSession.read.parquet(r("corpus"))
        .select(col("doc_id"), pmod(col("doc_id"), lit(nBatches.toLong)).as("batch"))
        .orderBy(col("doc_id"))
    }

  /** The resolve projection shared by the THREE graded CC lifecycles
    * (q231 plain / q232 stop-compact-resume / q233 self-compacting),
    * so the output their common oracle grades cannot fork between
    * them: the resolved state plus the residue-class batch column. */
  private def resolveCcState(spark: SparkSession, statePath: String,
                             nBatches: Int): DataFrame =
    readCcState(spark, statePath)
      .select(col("doc_id"), col("group_id"),
        pmod(col("doc_id"), lit(nBatches.toLong)).as("batch"))
      .orderBy(col("doc_id"))

  /** GRADED end-to-end run of [[ccMaintenanceSink]] through
    * [[replayGraded]], applied to GROUP-ID maintenance: the graded
    * output is the maintained component state itself,
    * (doc_id, group_id, batch). By the sink's equality law the final
    * state equals the BATCH [[graft.dedup.Dedup.minhashDedupGroups]]
    * over the whole corpus, so the oracle is exactly q57's
    * recursive-CTE CC chain plus the residue-class batch column. */
  def maintainedCcGroups(documents: DataFrame, nBatches: Int): DataFrame =
    replayGraded(documents.select(col("doc_id"), col("text")), nBatches, "cc") { r =>
      r.run(ccMaintenanceSink(r.stream, r("idx"), r("state"), r("ckpt")))
      resolveCcState(documents.sparkSession, r("state"), nBatches)
    }

  /** GRADED end-to-end run of the CC sink's full state LIFECYCLE —
    * [[maintainedCcGroups]] with a stop and a resume across a folded
    * index: one self-compacting sink (`compactEvery = 1`) replays the
    * first `compactAfter` residue-class batches, folding its own band
    * index inside them, and STOPS; the SAME stream then resumes from
    * its checkpoint over the remaining batches, whose first batch
    * probes the base the stream folded before it stopped and then folds
    * again. The fold preserves exactly the rows probes read
    * (`batch < id` includes the base's -1 for every real batch id), so
    * the resolved final state still equals batch CC over the whole
    * corpus — q231's oracle (q57's recursive-CTE chain + the
    * residue-class batch column) grades the stop + resume path across
    * a folded index end to end. */
  def maintainedCcGroupsCompacted(documents: DataFrame, nBatches: Int,
                                  compactAfter: Int): DataFrame =
    maintainedCcGroupsCompacted(documents, nBatches, compactAfter, CcNoTimer)

  /** Timer-taking seam (the [[CcStageTimer]] discipline): StressBench's
    * `cc_compact_stages` drives THIS body — the exact one q232 grades —
    * to decompose its cost into lifecycle1 / lifecycle2 / resolve at
    * the graded scale. Each lifecycle is one [[GradedReplay.run]] over
    * its own range of residue classes, its folds included. */
  private[graft] def maintainedCcGroupsCompacted(documents: DataFrame, nBatches: Int,
                                                 compactAfter: Int,
                                                 t: CcStageTimer): DataFrame = {
    require(compactAfter > 0 && compactAfter < nBatches,
      s"compactAfter must split the replay: got $compactAfter of $nBatches")
    val spark = documents.sparkSession
    replayGraded(documents.select(col("doc_id"), col("text")), nBatches, "ccc", t) { r =>
      def start() = ccMaintenanceSink(r.stream, r("idx"), r("state"), r("ckpt"),
        compactEvery = 1)
      t("lifecycle1")(r.run(start(), 0 until compactAfter))
      // determinism insurance: compactAfter counts residue CLASSES — if
      // fewer than two of them held documents, the stream stopped
      // before any fold and the resume would read no folded base. Fail
      // loudly instead of grading q231 again.
      val base = new Path(r("idx"), "batch=-1")
      require(fsFor(spark, base).exists(base),
        "maintainedCcGroupsCompacted: the sink folded nothing before it " +
          s"stopped (the first $compactAfter residue classes of $nBatches " +
          "held fewer than two batches) — this fixture cannot grade the resume")
      // resume the SAME stream from its checkpoint
      t("lifecycle2")(r.run(start(), compactAfter until nBatches))
      resolveCcState(spark, r("state"), nBatches)
    }
  }

  /** GRADED end-to-end run of the CC sink's SELF-compaction knob —
    * [[maintainedCcGroups]] with `compactEvery` engaged on the sink
    * itself: one continuous lifecycle in which the sink folds its own
    * band index INSIDE foreachBatch every `compactEvery`-th batch, so
    * later batches' probes read the self-folded base mid-stream (with
    * nBatches=3, compactEvery=1 the fold fires inside batches 1 and 2,
    * and batch 2's probe reads a base the SINK created). The in-batch
    * fold preserves exactly the rows probes read, so the resolved final
    * state still equals batch CC over the whole corpus and q231's
    * oracle grades the self-compaction path end to end — promoting the
    * `compactEvery` StreamingSpec claim into the driver's correctness
    * gate; q232 grades the same fold across a stop and a resume. The
    * harness REQUIRES the fold actually engaged (a base exists when
    * the stream stops), so a silently-disabled knob fails loudly
    * instead of grading q231 twice. */
  def maintainedCcGroupsAutoCompacted(documents: DataFrame, nBatches: Int,
                                      compactEvery: Int): DataFrame = {
    require(compactEvery > 0 && compactEvery < nBatches,
      s"compactEvery must fire inside the replay: got $compactEvery of $nBatches")
    val spark = documents.sparkSession
    replayGraded(documents.select(col("doc_id"), col("text")), nBatches, "cca") { r =>
      r.run(ccMaintenanceSink(r.stream, r("idx"), r("state"), r("ckpt"),
        compactEvery = compactEvery))
      val base = new Path(r("idx"), "batch=-1")
      require(fsFor(spark, base).exists(base),
        "maintainedCcGroupsAutoCompacted: the sink never self-compacted — " +
          "this run would grade nothing beyond q231")
      resolveCcState(spark, r("state"), nBatches)
    }
  }

  /** The filesystem that owns `path`, resolved from the path's own
    * scheme and authority; `FileSystem.get` returns the DEFAULT
    * filesystem instead, which rejects ("Wrong FS") a state, index or
    * corpus path on any other scheme, such as an object-store table
    * next to an HDFS default. */
  private[graft] def fsFor(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recovery half of the staged swap (the Layout.compact discipline)
    * shared by the CC alias table and the compacted band-index base: a
    * death between `delete(cur)` and the rename leaves the new copy
    * stranded at `next`, so move it into place — but only when
    * `complete(next)` holds, i.e. the marker the copy's writer puts
    * down LAST is there. A death inside the FIRST write also leaves
    * `next` without `cur`, holding a partial job commit or only
    * `_temporary/`; promoting that would publish a truncated or
    * unreadable table. RENAME-ONLY: an incomplete `next`, or one next
    * to a live `cur`, is left alone, because whether it is a stale
    * half-write each caller decides. */
  private def recoverStaged(fs: FileSystem, next: Path, cur: Path)(
      complete: Path => Boolean): Unit =
    if (!fs.exists(cur) && fs.exists(next) && complete(next))
      require(fs.rename(next, cur), s"recovery rename failed: $next -> $cur")

  /** The completion marker of a Spark parquet write: the committer
    * creates `_SUCCESS` after every file of the job is in place. */
  private def jobCommitted(fs: FileSystem)(dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** Publish half of the staged swap: `next` is fully written, so
    * delete `cur` and rename `next` onto it. A crash between the two
    * leaves only `next`: [[recoverStaged]] repairs it for the alias
    * table and the compacted base, and [[completeStateSink]]'s replay
    * rewrites it. */
  private def publishStaged(fs: FileSystem, next: Path, cur: Path): Unit = {
    if (fs.exists(cur)) fs.delete(cur, true)
    require(fs.rename(next, cur), s"rename failed: $next -> $cur")
  }

  /** (source, token) rows of a documents batch, split on single
    * spaces: the token stream of the per-source sketch sinks. */
  private def sourceTokens(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("token"))

  /** The one writer of the maintained sketch and counter tables.
    * `state` is a streaming aggregation (plus any projection, filter or
    * generator over its result) run in complete mode, so each
    * micro-batch hands foreachBatch the FULL current table, computed by
    * the state store from its previous version and the batch's rows.
    * The writer deletes a stale or incomplete `.next`, writes the table
    * there and swaps it in ([[publishStaged]]), so readers never see a
    * partial write.
    *
    * Exactly-once needs no gate here: the checkpoint commit follows the
    * swap, so a crash anywhere in this writer replays the batch, and the
    * replay recomputes the same table from the same state version. A
    * crash between the swap's delete and its rename leaves the table
    * missing until that replay republishes it. One stream owns one
    * table: a fresh checkpoint starts from empty state and replaces the
    * table with its own result. Each batch still writes the whole
    * table, O(|state|). */
  private def completeStateSink(state: DataFrame, statePath: String,
                                checkpoint: String): StreamingQuery =
    state.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (table: DataFrame, _: Long) =>
        val cur = new Path(statePath)
        val nxt = new Path(statePath + ".next")
        val fs = fsFor(table.sparkSession, cur)
        if (fs.exists(nxt)) fs.delete(nxt, true)
        table.write.parquet(nxt.toString)
        publishStaged(fs, nxt, cur)
      }
      .start()

  /** [[admissionSink]]'s index layout: the [[graft.dedup.Dedup.bandRows]]
    * columns it writes flat to `indexPath/batch=<id>/`, plus the
    * partition column `batch` (a micro-batch id, LONG like the
    * stream's; -1 is the compacted base). The probe reads with it, so
    * no per-batch job infers the schema from a parquet footer. */
  private[graft] val AdmissionIndexSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("signature", ArrayType(IntegerType)),
      StructField("band", IntegerType), StructField("bucket", IntegerType),
      StructField("batch", LongType)))
  }

  /** The prior-index read for one batch's probe: strictly earlier
    * batches only (replay-stable decisions), pruned to them by the
    * `batch` partition filter; the compacted base `batch=-1` is below
    * every real batch id. `schema`, when the layout's schema is known
    * ([[AdmissionIndexSchema]]), skips footer inference. */
  private[graft] def readPriorIndex(spark: SparkSession,
                                    indexPath: String, batchId: Long,
                                    schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(indexPath)
      .filter(col("batch") < batchId)

  /** The checkpoint's committed high-water batch id — the max entry in
    * `<checkpoint>/commits` (Structured Streaming writes one file per
    * COMMITTED batch), or -1 when nothing has committed. A restarted
    * stream replays at most the first UNcommitted batch, whose probe
    * reads strictly below itself — all inside a base folded up to
    * highWater + 1, the bound [[compactBandIndex]] takes. */
  def committedHighWater(spark: SparkSession, checkpoint: String): Long = {
    val commits = new Path(s"$checkpoint/commits")
    val fs = fsFor(spark, commits)
    if (!fs.exists(commits)) -1L
    else fs.listStatus(commits).toSeq
      .flatMap(s => s.getPath.getName.toLongOption)
      .foldLeft(-1L)(math.max)
  }

  /** Recovery of a fold interrupted between `delete(base)` and the
    * rename: the folded base is stranded at `.compact_next` (invisible
    * to partition discovery), so until recovered every probe would
    * silently miss the folded history and reach DIFFERENT
    * admission/merge decisions. Called at the head of
    * [[compactBandIndex]] AND before every sink probe
    * ([[probePriorIndex]]), so the window closes at the next batch
    * even if no fold ever fires again.
    *
    * RENAME-ONLY: a `.compact_next` next to a live base is a fold that
    * crashed during its write. Scans cannot see it, and the next fold
    * deletes it before writing its own. A `.compact_next` without its
    * `_SUCCESS` (the first fold crashed mid-write) is not promoted: the
    * per-batch dirs it folds are deleted only after a swap, so probes
    * still read all of them. */
  private[graft] def recoverCompactedBase(
      spark: SparkSession, indexPath: String): Unit = {
    val base = new Path(s"$indexPath/batch=-1")
    val fs = fsFor(spark, base)
    recoverStaged(fs, new Path(s"$indexPath/.compact_next"), base)(jobCommitted(fs))
  }

  /** The band-index FOLD: folds every `batch < uptoBatch` partition
    * (and any existing compacted base) into ONE flat base at
    * `batch=-1`, then removes the consumed per-batch dirs. Probes are
    * untouched — their `batch < batchId` filter includes -1 for every
    * real batch id — and the fold bounds the per-probe file LISTING,
    * which otherwise grows with total batch count for the life of the
    * stream.
    *
    * CONTRACT: the index's own sink is the only caller
    * ([[bandIndexSink]]'s `compactEvery`). It folds inside foreachBatch
    * with `uptoBatch = batchId`, so Structured Streaming serializes the
    * fold with the sink's commits and probes, and the bound is exactly
    * the committed high water + 1. A higher bound would fold an
    * UNCOMMITTED batch's index rows into the base, where its own
    * replay's probe (`batch < batchId`, which includes -1) would see
    * them: every replayed doc self-collides at est_jaccard=1 and the
    * decisions flip versus the original run.
    *
    * Crash-safe by the staged dot-dir discipline plus probe idempotence:
    *  - the new base writes to `.compact_next` (dot-prefixed —
    *    invisible to partition discovery), so a crash mid-write
    *    changes nothing;
    *  - a crash between deleting the old base and renaming the new one
    *    is recovered by the next probe or fold (stranded
    *    `.compact_next` with its `_SUCCESS` and no `batch=-1`);
    *  - consumed per-batch dirs are deleted only AFTER the swap; a
    *    crash mid-delete leaves rows duplicated between the base and
    *    surviving dirs, which both probes tolerate by construction
    *    (admission takes DISTINCT rejected ids; the CC probe takes a
    *    per-bucket MIN and distinct edges), and the next fold REMOVES
    *    them — the fold input is de-duplicated (crash copies are
    *    exact-row duplicates), so the base cannot inflate across crash
    *    cycles. */
  private[graft] def compactBandIndex(spark: SparkSession,
                                      indexPath: String, uptoBatch: Long): Unit = {
    val root = new Path(indexPath)
    val fs = fsFor(spark, root)
    val base = new Path(s"$indexPath/batch=-1")
    val next = new Path(s"$indexPath/.compact_next")
    if (!fs.exists(root)) return
    recoverCompactedBase(spark, indexPath)
    // a stale or incomplete half-write, which the rename-only recovery
    // above leaves in place
    if (fs.exists(next)) fs.delete(next, true)
    val consumed = fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => batchDirId(p.getName).exists(_ < uptoBatch))
    if (consumed.forall(_.getName == "batch=-1")) return
    // crash-mid-delete remnants are exact-row duplicates of base rows:
    // the distinct removes them, so the base cannot inflate across
    // crash cycles
    spark.read.option("basePath", indexPath)
      .parquet(consumed.map(_.toString): _*)
      .drop("batch")
      .distinct()
      .write.mode("overwrite").parquet(next.toString)
    publishStaged(fs, next, base)
    consumed.filter(_.getName != "batch=-1").foreach(p => fs.delete(p, true))
  }

  /** Parse a `batch=<id>` dir name; None for anything else, including
    * a non-numeric suffix (an operator's stray `batch=0.bak`). Shared
    * by the fold's consumed-dir filter and [[pendingBatchDirs]] so the
    * two listings can never disagree — previously the trigger
    * tolerated a foreign entry the fold then threw on, failing the
    * streaming query every batch once the trigger armed. (Probes'
    * partition discovery still rejects foreign dirs under the index
    * root — the layout is sink-owned; this helper only keeps the
    * maintenance path from crash-looping on one.) */
  private[graft] def batchDirId(name: String): Option[Long] =
    if (name.startsWith("batch=")) name.stripPrefix("batch=").toLongOption
    else None

  /** The self-compaction trigger's unit: how many STRICTLY-EARLIER
    * per-batch dirs (`batch=k`, 0 ≤ k < batchId) are not yet folded
    * into the base. Triggering on this COUNT instead of a batch-id
    * modulus keeps the file-count bound tight — an empty micro-batch
    * landing on a modulus boundary (which skips the whole foreachBatch
    * body and writes no dir) used to defer the fold a full cycle,
    * doubling the bound in that corner (ADVICE r16). One shallow
    * listing per batch, already paid by the probe's partition
    * discovery. Replays may legally disagree with the original run's
    * count (folded dirs are gone), shifting WHEN a fold fires — which
    * the preservation law makes immaterial: fold timing never changes
    * the rows any probe reads. */
  private[graft] def pendingBatchDirs(spark: SparkSession,
                                      indexPath: String, batchId: Long): Int = {
    val root = new Path(indexPath)
    val fs = fsFor(spark, root)
    if (!fs.exists(root)) 0
    else fs.listStatus(root).count(s =>
      batchDirId(s.getPath.getName).exists(id => id >= 0L && id < batchId))
  }

  /** The streaming skeleton of both band-index sinks
    * ([[admissionSink]], [[ccMaintenanceSink]]), and the only caller of
    * [[compactBandIndex]]: `process(batch, batchId)` runs each
    * NON-EMPTY micro-batch. With `compactEvery > 0` the batch then
    * folds the index whenever `compactEvery` strictly-earlier
    * per-batch dirs have accumulated unfolded ([[pendingBatchDirs]] —
    * a dir-count trigger, so empty micro-batches cannot defer the fold
    * past the bound); see [[ccMaintenanceSink]] for why the in-batch
    * fold is safe. */
  private def bandIndexSink(docs: DataFrame, indexPath: String, checkpoint: String,
                            compactEvery: Int)(
      process: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          process(batch, batchId)
          if (compactEvery > 0 &&
              pendingBatchDirs(spark, indexPath, batchId) >= compactEvery)
            compactBandIndex(spark, indexPath, batchId)
        }
      }
      .start()

  /** The probe preamble of both band-index sinks: None while no index
    * exists (nothing earlier can match). Otherwise recover a base that
    * a fold crashed between delete(base) and the swap would hide
    * ([[recoverCompactedBase]]), and return the replay-stable prior
    * index: strictly earlier batches ([[readPriorIndex]]). */
  private def probePriorIndex(spark: SparkSession, indexPath: String, batchId: Long,
                              schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] = {
    val root = new Path(indexPath)
    if (!fsFor(spark, root).exists(root)) None
    else {
      recoverCompactedBase(spark, indexPath)
      Some(readPriorIndex(spark, indexPath, batchId, schema))
    }
  }

  /** Streaming near-dup ADMISSION loop — the full ingestion contract as
    * one sink: each micro-batch probes the maintained band index (zero
    * corpus-side compute, the [[graft.dedup.Dedup.incrementalNearDupIndexed]]
    * serve path), admitted documents land in the corpus table, and
    * their band rows extend the index for every later batch.
    *
    * The probe is two broadcast joins and no shuffle: the batch's band
    * rows (broadcast) join the prior index into the distinct rejected
    * doc_ids ([[graft.dedup.Dedup.rejectedIds]]), and the batch
    * anti-joins that broadcast set. The admitted rows are the batch's
    * own `(doc_id, text)` rows, in the batch's order.
    *
    * Exactly-once WITHOUT a transaction log or a replay gate, by
    * construction — the [[ccMaintenanceSink]] protocol:
    * - the index is laid out flat as `indexPath/batch=<id>/…` and the
    *   corpus as `corpusPath/batch=<id>/…`, and a batch OVERWRITES its
    *   own partition of each — idempotent under any number of replays;
    * - admission decisions probe only `batch < batchId` partitions
    *   (partition-pruned), so a replay whose own half-written bands are
    *   already on disk cannot self-collide and reaches the SAME
    *   decisions, hence rewrites the same rows.
    * Replay therefore converges whichever write the crash interrupted,
    * including a corpus write that left only some of its files.
    * Readers see the partition column `batch` next to the documents'
    * columns. As for the index, one stream owns one (index, corpus)
    * pair: a fresh checkpoint restarts at batch 0 and overwrites the
    * earlier stream's partitions.
    *
    * In-batch near-dups are admitted together (only the corpus is
    * probed) — run batch-level dedup upstream if the source can carry
    * duplicates inside one micro-batch, exactly as in the batch
    * admission path.
    *
    * `compactEvery > 0` self-compacts the band index
    * ([[bandIndexSink]]); the admission probe tolerates the
    * crash-mid-delete duplicate window by its DISTINCT rejected-ids
    * contract. The sink is its index's only compactor: no other
    * application can fold a stopped stream's index. To fold one,
    * restart the sink with `compactEvery = 1`; its first non-empty
    * batch folds every committed dir. */
  def admissionSink(docs: DataFrame, indexPath: String, corpusPath: String,
                    checkpoint: String, n: Int = 3, bands: Int = 8,
                    rowsPerBand: Int = 4, minEstJaccard: Double = 0.5,
                    compactEvery: Int = 0)
      : StreamingQuery =
    bandIndexSink(docs, indexPath, checkpoint, compactEvery) { (batch, batchId) =>
      val spark = batch.sparkSession
      val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
      // the batch's band rows, computed ONCE for the admission
      // decisions and the index write alike
      val batchBands = graft.dedup.Dedup.bandRows(b, n, bands, rowsPerBand)
        .localCheckpoint()
      // the batch bands are the broadcast side of the probe join, and the
      // (small) rejected-id set that of the anti-join that admits the
      // rest: the index is scanned once and never shuffled, nor are the
      // batch's doc_ids or text. An empty prior read rejects nothing, so
      // it needs no probe job
      val adm = probePriorIndex(spark, indexPath, batchId, Some(AdmissionIndexSchema))
        .fold(b)(prior => b.join(broadcast(graft.dedup.Dedup.rejectedIds(
          prior, broadcast(batchBands), bands * rowsPerBand, minEstJaccard)),
          Seq("doc_id"), "left_anti"))
        .localCheckpoint()
      // idempotent writes: each overwrites THIS batch's own partition
      batchBands.join(broadcast(adm.select(col("doc_id"))), Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
      adm.write.mode("overwrite").parquet(s"$corpusPath/batch=$batchId")
      // eager-unpersist discipline: index and corpus written — free
      // this batch's checkpoint blocks instead of waiting on GC
      Seq(b, batchBands, adm)
        .foreach(org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint)
    }

  /** The maintained group state, resolved: `(doc_id, group_id)` for
    * every document [[ccMaintenanceSink]] has ingested. The state on
    * disk is `docs/batch=<id>` insert-only rows (doc_id, g0 = the
    * label ASSIGNED AT INSERT) plus the small transitively-compressed
    * ALIAS table (dead label → live label); the current group is one
    * left-join hop by the compression invariant. */
  def readCcState(spark: SparkSession, statePath: String): DataFrame = {
    val docsPath = new Path(s"$statePath/docs")
    import spark.implicits._
    if (!fsFor(spark, docsPath).exists(docsPath))
      return Seq.empty[(Long, Long)].toDF("doc_id", "group_id")
    val docs = spark.read.parquet(s"$statePath/docs").select("doc_id", "g0")
    val alias = readAlias(spark, statePath)
    docs.join(alias.withColumnRenamed("dead", "g0"), Seq("g0"), "left")
      .select(col("doc_id"), coalesce(col("live"), col("g0")).as("group_id"))
  }

  /** The alias table, after recovering a complete `alias.next` that a
    * crash stranded. An incomplete one stays where it is, invisible to
    * readers, until the sink's next alias write replaces it. */
  private def readAlias(spark: SparkSession, statePath: String): DataFrame = {
    val cur = new Path(s"$statePath/alias")
    val fs = fsFor(spark, cur)
    recoverStaged(fs, new Path(s"$statePath/alias.next"), cur)(jobCommitted(fs))
    import spark.implicits._
    if (fs.exists(cur)) spark.read.parquet(cur.toString).select("dead", "live")
    else Seq.empty[(Long, Long)].toDF("dead", "live")
  }

  /** The CC sink's per-batch PROBE, factored out so PlanSpec can gate
    * the physical plan of the round's central scale claim: the
    * corpus-sized prior index is restricted to THIS batch's buckets by
    * a BROADCAST join BEFORE the representative aggregation, so the
    * index scan stays map-only and only the matched postings —
    * batch-bucket-bounded — ever shuffle. An unrestricted
    * groupBy(band, bucket) here would shuffle the whole index every
    * micro-batch. Returns the (u, v) probe edges: each new doc linked
    * to ONE current-label representative per touched prior bucket
    * (rep g0 resolved through the alias table — one left-join hop by
    * the compression invariant). The sink localCheckpoints the
    * result; the plan gate reads it un-checkpointed. */
  private[graft] def ccProbeRepEdges(priorIdx: DataFrame, newBands: DataFrame,
                                     alias: DataFrame): DataFrame = {
    // no distinct: the per-bucket min ignores duplicate matches, and a
    // shuffle on this side would make Spark's runtime-filter rule add a
    // bloom filter of the index to it, which prunes nothing the
    // broadcast join does not
    val batchBuckets = newBands.select(col("band"), col("bucket"))
    val reps = priorIdx
      .join(broadcast(batchBuckets), Seq("band", "bucket"))
      .groupBy(col("band"), col("bucket"))
      .agg(min(struct(col("doc_id"), col("g0"))).as("rep"))
    newBands.join(reps, Seq("band", "bucket"))
      .select(col("doc_id").as("u"), col("rep.g0").as("rep_g0"))
      .join(alias.withColumnRenamed("dead", "rep_g0"), Seq("rep_g0"), "left")
      .select(col("u"), coalesce(col("live"), col("rep_g0")).as("v"))
      .distinct()
  }

  /** Stage seam for the CC sink's per-batch pipeline: StressBench's
    * `cc_sink_stages` unit passes a timing implementation so q231's
    * graded cost decomposes (band / probe / cc / write / alias) on the
    * ONE shared sink body — a measurement fork of the sink would drift
    * from what q231 actually pays. The default is a no-op. */
  private[graft] trait CcStageTimer {
    def apply[T](stage: String)(f: => T): T
  }
  private[graft] object CcNoTimer extends CcStageTimer {
    def apply[T](stage: String)(f: => T): T = f
  }

  /** One micro-batch of [[ccMaintenanceSink]] (semantics documented
    * there), factored out of foreachBatch so StressBench can
    * stage-attribute the graded q231 replay cost through `t` against
    * the exact code the sink runs. Stage boundaries wrap each stage's
    * materializing ACTION (localCheckpoint / parquet write); the
    * lazy plan construction between them is driver-side and free. */
  private[graft] def ccProcessBatch(batch: DataFrame, batchId: Long,
                                    indexPath: String, statePath: String,
                                    n: Int, bands: Int, rowsPerBand: Int,
                                    t: CcStageTimer = CcNoTimer): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // band: fingerprint the batch
    val (b, newBands) = t("band") {
      val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
      val nb = graft.dedup.Dedup.bandRows(b, n, bands, rowsPerBand)
        .select(col("doc_id"), col("band"), col("bucket"))
        .localCheckpoint()
      (b, nb)
    }
    // parquet-backed already — both consumers re-scan the file,
    // cheaper than a checkpoint job for a merge-bounded table
    val alias = readAlias(spark, statePath)
    // probe: ONE representative (min doc, with its insert-time
    // label) per strictly earlier (band, bucket) — the rep's
    // members are already one component, so one edge per bucket
    // carries full connectivity; g0 resolves through the alias.
    // The index scan is restricted to THIS BATCH'S buckets by a
    // broadcast join BEFORE the rep aggregation (the q199 probe
    // shape): the scan stays embarrassingly parallel and only
    // the matched postings — batch-bucket-bounded — ever
    // shuffle; an unrestricted groupBy here would shuffle the
    // whole corpus-sized index every micro-batch
    val repEdges = t("probe") {
      probePriorIndex(spark, indexPath, batchId)
        .fold(Seq.empty[(Long, Long)].toDF("u", "v"))(
          ccProbeRepEdges(_, newBands, alias).localCheckpoint())
    }
    val hubs = newBands.groupBy(col("band"), col("bucket"))
      .agg(min(col("doc_id")).as("hub"))
    val inEdges = newBands.join(hubs, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("u"), col("doc_id").as("v")).distinct()
    // contract: touched live labels become super-nodes (derived
    // from the CHECKPOINTED repEdges — both consumers re-scan
    // those bounded rows, no checkpoint job needed)
    val touched = repEdges.select(col("v").as("group_id")).distinct()
    val nodes = b.select(col("doc_id"))
      .unionByName(touched.select(col("group_id").as("doc_id")))
      .distinct()
    val (relabel, newDocRows) = t("cc") {
      val comp = graft.cluster.ConnectedComponents
        .components(nodes, repEdges.unionByName(inEdges))
        .toDF("id", "component").localCheckpoint()
      // batch-bounded relabel map: touched live labels that merged
      // into a smaller minimum this batch
      val relabel = comp.join(touched, comp("id") === touched("group_id"))
        .select(col("group_id").as("dead"), col("component").as("live"))
        .filter(col("live") =!= col("dead"))
        .localCheckpoint()
      val newDocRows = comp.join(b.select(col("doc_id").as("id")), Seq("id"))
        .select(col("id").as("doc_id"), col("component").as("g0"))
        .localCheckpoint()
      // comp's consumers are both checkpointed: free its blocks now —
      // the sink runs for the life of the stream, and relying on
      // GC/ContextCleaner lets checkpoint blocks pile up between GCs
      org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(comp)
      (relabel, newDocRows)
    }
    // (1) idempotent batch-partition writes: this batch's docs and
    // its band rows (carrying insert-time labels)
    t("write") {
      newDocRows.write.mode("overwrite")
        .parquet(s"$statePath/docs/batch=$batchId")
      newBands.join(newDocRows, Seq("doc_id"))
        .select(col("doc_id"), col("band"), col("bucket"), col("g0"))
        .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
    }
    // (2) alias' = alias·R ∪ R (keys disjoint: R's keys were live),
    // staged-rename swap; skipped when R is empty (alias' = alias)
    t("alias") {
      if (!relabel.isEmpty) {
        val compressed = alias.join(
            broadcast(relabel.select(col("dead").as("live"),
              col("live").as("live2"))),
            Seq("live"), "left")
          .select(col("dead"), coalesce(col("live2"), col("live")).as("live"))
        val aliasNew = compressed.unionByName(relabel)
        val cur = new Path(s"$statePath/alias")
        val nxt = new Path(s"$statePath/alias.next")
        val fs = fsFor(spark, cur)
        if (fs.exists(nxt)) fs.delete(nxt, true) // stale half-write
        aliasNew.write.mode("overwrite").parquet(nxt.toString)
        publishStaged(fs, nxt, cur)
      }
    }
    // eager-unpersist discipline: every consumer has materialized; a
    // long-running sink must not pin this batch's checkpoint blocks
    // until the next GC (repEdges is a no-op on the first-batch branch)
    Seq(b, newBands, repEdges, relabel, newDocRows)
      .foreach(org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint)
  }

  /** Incremental near-dup GROUP-ID maintenance — the sink that
    * completes the maintained-state family with the "stable cluster
    * ids at ingestion" production shape: each micro-batch extends the
    * maintained band index and merges its documents into the
    * maintained component state by min-label contraction restricted to
    * TOUCHED components, instead of re-running batch CC over the whole
    * corpus.
    *
    * STATE LAYOUT — append-only, so per-batch I/O is batch-bounded,
    * never corpus-sized (the r13 second-pass fix of the initial
    * full-rewrite design):
    *  - `indexPath/batch=<id>`: (doc_id, band, bucket, g0) band rows,
    *    written flat — each row carries the doc's INSERT-TIME label
    *    g0, so bucket representatives resolve to a current group
    *    without ever scanning the doc state;
    *  - `statePath/docs/batch=<id>`: (doc_id, g0) — insert-only;
    *  - `statePath/alias`: (dead, live) — the ONLY table rewritten per
    *    batch, and it is MERGE-EVENT-bounded (one row per group label
    *    ever retired), kept transitively COMPRESSED: every dead label
    *    maps DIRECTLY to a live one, so resolution ([[readCcState]])
    *    is a single left-join hop. Compression is maintained in closed
    *    form: alias' = alias·R ∪ R for the batch's relabel map R
    *    (alias values that R retires are rewritten through R; R's keys
    *    were live, hence disjoint from alias keys).
    *
    * EQUALITY LAW (graded, q231; spec-tested incl. restart): after any
    * replay schedule the RESOLVED state equals the batch
    * [[graft.dedup.Dedup.minhashDedupGroups]] over the union of all
    * batches. (a) Connectivity: every pair sharing an LSH
    * (band, bucket) is connected at the LATER doc's arrival — each
    * batch links its band rows to ONE representative per prior bucket
    * (whose members are already one component, by induction) and to
    * the in-batch bucket hub — so cumulative connectivity equals the
    * batch star-edge closure. (b) Labels: contracted super-node ids
    * are CURRENT live labels (= the min doc id of their component, an
    * invariant the relabel map preserves), so the contracted CC's
    * min-label is the true merged component minimum.
    *
    * EXACTLY-ONCE BY IDEMPOTENCE — this sink keeps no keyed state on
    * Spark's state store (the counter sinks do, [[completeStateSink]])
    * and needs no replay gate: the docs/index writes OVERWRITE their own
    * `batch=<id>` partition; probes read only STRICTLY EARLIER
    * partitions; and the alias recompute is deterministic AND
    * convergent — replaying a batch against the pre-swap alias
    * reproduces it, and against the post-swap alias the reps resolve
    * to already-merged labels, the contracted CC returns them
    * unchanged, R is empty, and alias' = alias. The alias swap itself
    * is the staged-rename skeleton (crash leaves the prior alias
    * readable; a stranded `.next` carrying its `_SUCCESS` is recovered
    * on the next access, an incomplete one replaced by the next alias
    * write).
    *
    * Scale shape per batch: O(batch·bands) band rows; the probe scans
    * the prior index (the q199 admission probe shape — embarrassingly
    * parallel, partition-pruned to strictly earlier batches, and
    * restricted to THIS batch's
    * buckets by a broadcast join BEFORE any aggregation, so only the
    * matched postings — batch-bucket-bounded — ever shuffle); probe
    * edges are ONE representative per touched (band, bucket), never
    * every bucket member; the CC runs over the CONTRACTED graph (new
    * docs + touched live labels — batch-bounded); writes are two
    * batch-sized partitions plus the merge-bounded alias. Nothing
    * corpus-sized is SHUFFLED or WRITTEN on the batch path; the index
    * scan is the one corpus-SCALE read, map-only, shared with the
    * admission sink's contract (measured in SCALE.md).
    *
    * `compactEvery > 0` graduates SCALE.md's compaction cadence from
    * runbook guidance into the sink itself: whenever `compactEvery`
    * strictly-earlier per-batch index dirs have accumulated unfolded
    * ([[pendingBatchDirs]]), the batch folds them into the flat
    * base (`batch=-1`) after its own processing
    * completes. The trigger counts DIRS, not a batch-id modulus, so
    * the per-batch dir bound is tight at `compactEvery + 1` — an
    * empty micro-batch (which skips the body and writes no dir)
    * cannot defer a due fold past the bound, it merely doesn't add to
    * it. The fold runs INSIDE foreachBatch, which Structured
    * Streaming serializes with the sink's commits and probes, so no
    * probe can read a layout mid-fold; the bound is
    * `uptoBatch = batchId` — inside batch `batchId` every earlier batch
    * is committed and the current batch's dir is excluded, which is
    * exactly `committedHighWater + 1` whether this attempt is the first
    * or a crash replay (an uncommitted batch IS the one being
    * replayed). A replay may count differently than the original run
    * (already-folded dirs are gone) and so fire a fold the original
    * deferred or vice versa — immaterial by the preservation law
    * (fold timing never changes what probes read; the randomized
    * layout spec pins it), and re-folding already-folded history is a
    * no-op by [[compactBandIndex]]'s own early return; a crash inside
    * the fold is recovered by the probe-path [[recoverCompactedBase]]
    * on the replay. Cadence guidance: at trickle ingestion the
    * per-probe file LISTING grows with total batch count (measured:
    * 334 batches → 668 files, 3.65 s probe; folded: 2 files, 0.47 s —
    * SCALE.md, "One flat band-index layout"), so set `compactEvery` to
    * fold before per-batch dirs reach the hundreds; 0 (default)
    * disables self-compaction.
    *
    * The sink is its index's only writer and only compactor, so no
    * other application can fold a stopped stream's index. To fold one,
    * restart the sink with `compactEvery = 1`: its first non-empty
    * batch folds every committed dir (q232 grades a stop → resume
    * across a folded index). */
  def ccMaintenanceSink(docs: DataFrame, indexPath: String, statePath: String,
                        checkpoint: String, n: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 4, compactEvery: Int = 0)
      : StreamingQuery =
    bandIndexSink(docs, indexPath, checkpoint, compactEvery) { (batch, batchId) =>
      ccProcessBatch(batch, batchId, indexPath, statePath, n, bands, rowsPerBand)
    }
}
