package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The untimed pre-bench warm-up, split into independently-failing
    * stages so one broken path (say a codec) cannot silently skip the
    * index prewarms behind it and turn every serve-path query into a
    * cold-cache build. Returns `"ok"` or `"failed:<stage,...>"` — the
    * caller stamps it into the bench artifact. `failStages` injects a
    * throw at the named stages (env `SPARK_GRAFT_WARMUP_FAIL`,
    * comma-separated; BenchWarmupSpec drives it directly) so the
    * continue-past-failure contract is testable without breaking a
    * real path. Stages: ml_codegen (Breeze/BLAS class load + the
    * codegen/JIT shapes the query set leans on), codecs (javax.imageio
    * / sampled-audio / RIFF decode discovery), indexes
    * ([[SparkEntry.prewarmIndexes]]), shared_caches
    * ([[SparkEntry.prewarmSharedCaches]]). */
  private[graft] def runWarmup(spark: SparkSession, sfDir: String,
                               failStages: Set[String] =
                                 sys.env.get("SPARK_GRAFT_WARMUP_FAIL")
                                   .map(_.split(",").toSet)
                                   .getOrElse(Set.empty)): String = {
    import org.apache.spark.sql.functions._
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    def stage(name: String)(body: => Unit): Unit =
      try {
        if (failStages(name)) sys.error(s"injected warm-up failure: $name")
        body
      } catch { case e: Throwable =>
        System.err.println(
          s"[bench] warm-up stage $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        failed += name
      }
    stage("ml_codegen") {
      val warm = spark.range(32).selectExpr("id", "CAST(id % 3 AS STRING) AS c",
        "CAST(id AS DOUBLE) AS label").cache()
      warm.count()
      graft.ml.DurationPipeline.rfPipeline(Seq("c"), Seq("id"), "label",
        numTrees = 2, maxDepth = 2).fit(warm)
      // exercise the codegen/JIT shapes the query set leans on (hash agg,
      // window, shuffle join, generator, sort, HOF fold) so first use
      // inside a timed query doesn't carry the compiler's cost
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c")).orderBy(col("id"))
      warm.withColumn("rn", row_number().over(w))
        .join(warm.select(col("id"), col("label").as("l2")), "id")
        .select(col("id"), explode(sequence(lit(0L), col("id") % 3)).as("e"),
          aggregate(sequence(lit(1L), lit(4L)), lit(0L), (a, x) => a + x).as("f"))
        .groupBy(col("e")).agg(sum(col("f")).as("s"), count(lit(1)).as("n"))
        .orderBy(col("e"))
        .write.format("noop").mode("overwrite").save()
      warm.unpersist()
    }
    stage("codecs") {
      // the first javax.imageio / javax.sound.sampled / RIFF decode of
      // the session pays codec discovery + class loading (~0.3-2 s),
      // and the canonical bench order is the queries MAP's iteration
      // order — which reshuffles whenever a key is added, silently
      // moving that one-time cost between q66/q173/q178/q183/q184/q187
      // (r15: adding q232 moved q184 ahead of q173; q184 inherited the
      // codec JIT and read as a 1.46x phantom regression, while the
      // shuffled-order run — q173 first — reproduced its old minimum).
      // Warm every decode path untimed on a tiny slice so order can't
      // assign it to anyone.
      val mdocs = graft.ops.Tables.documents(spark, sfDir)
        .filter(col("doc_id") < 24).localCheckpoint()
      // eager-unpersist discipline in a finally: even when one decode
      // path throws (the stage try swallows it and the bench runs
      // on), the warm-up slice must not pin blocks all session
      try Seq(
        graft.multimodal.Multimodal.decodeFeatures(
          graft.multimodal.Multimodal.synthesizeFromDocuments(mdocs), 32, 32).toDF(),
        graft.multimodal.Multimodal.audioHistogram(mdocs),
        graft.multimodal.Multimodal.audioFrameFeatures(mdocs),
        graft.multimodal.Multimodal.resizedHistogram(mdocs, 8, 8),
        graft.multimodal.Multimodal.videoFrameHistogram(mdocs)
      ).foreach(_.write.format("noop").mode("overwrite").save())
      finally org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(mdocs)
    }
    // build the write-once persisted indexes the serve-path queries
    // probe (q151/q152), so their timed bodies measure SERVING cost;
    // build cost is graded separately by q172_postings_build
    stage("indexes") { SparkEntry.prewarmIndexes(spark, sfDir) }
    // force the session-scoped shingle/capped-common artifacts so
    // their many consumers time scoring only; the build is graded
    // and timed by q194_capped_index_build's from-scratch rebuild
    stage("shared_caches") { SparkEntry.prewarmSharedCaches(spark, sfDir) }
    if (failed.isEmpty) "ok" else failed.mkString("failed:", ",", "")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to the machine's cores: the driver invokes Bench with only
    // SPARK_GRAFT_SF_DIR set, and a low hardcoded default would silently
    // under-parallelize the graded run (round-2 ran local[4] this way).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed JVM warm-up: first ML usage pays ~5-9 s of one-time class
    // loading (Breeze/BLAS) and first query pays codegen warm-up; both
    // are JVM artifacts, not query cost, so exclude them from timings.
    // Each stage fails INDEPENDENTLY and the outcome is stamped into
    // the artifact ("warmup":"ok"|"failed:<stages>") — a cold-cache run
    // (prewarm threw; the first consumer query pays the build) must be
    // distinguishable from host drift in the artifact itself, not by
    // re-running an adjudication series (r17 burned one on exactly
    // that ambiguity).
    val warmupStatus = runWarmup(spark, sfDir)
    // A failing query must FAIL the bench visibly (an exception recorded
    // per query + rc failure), never a silent fake timing that would
    // shrink the total and mask a regression.
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    // optional arg: comma-separated query-name prefixes (iteration aid;
    // the driver passes no args = full surface)
    val only: Option[Seq[String]] =
      args.headOption.map(_.split(",").toSeq)
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Iteration order: the session caches (shingle/capped, SCC,
    // postings) make per-query attribution order-sensitive — whoever
    // runs first pays any build the warm-up missed. The canonical
    // order is the queries map's (stable for a fixed key set).
    // SPARK_GRAFT_BENCH_SHUFFLE=<seed> runs the SAME surface in a
    // seeded deterministic permutation instead; a total within noise
    // of the canonical order's proves remaining attribution artifacts
    // don't leak into the headline number (SCALE.md records the pair),
    // and any future per-query regression can be re-checked under a
    // different order before being believed.
    val ordered: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] =
      sys.env.get("SPARK_GRAFT_BENCH_SHUFFLE") match {
        case Some(seed) =>
          new scala.util.Random(seed.toLong)
            .shuffle(SparkEntry.queries.toSeq.sortBy(_._1))
        case None => SparkEntry.queries.toSeq
      }
    ordered.foreach { case (name, fn) =>
      if (only.forall(_.exists(name.startsWith))) {
      val t0 = System.nanoTime()
      try {
        // noop sink, not count(): count() lets Catalyst prune projections
        // and eliminate cardinality-preserving joins (a grouped-unique-key
        // left join or a pure-projection query would time near zero
        // without doing its work). The noop write materializes every row
        // and column — what the driver's Verify dump actually costs,
        // minus parquet encoding.
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        timings(name) = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        System.err.println(s"[bench] $name FAILED — $msg")
        errors(name) = msg
      }
      }
    }
    // The harness captures only the LAST ~2000 chars of stdout; a JSON line
    // with 87 full query names and ns-precision doubles is ~3 KB, so its
    // head (the "metric" field) gets truncated and the line never parses.
    // Emit the machine line with short keys (qNN) at millisecond precision
    // (~1.1 KB for 90 queries) and put the full-name map on stderr for humans.
    def shortKey(name: String): String = {
      val m = "^(q\\d+)".r.findFirstIn(name)
      m.getOrElse(name.take(8))
    }
    val qs = timings.map { case (k, v) => "\"" + shortKey(k) + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + esc(shortKey(k)) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    timings.foreach { case (k, v) => System.err.println(f"[bench] $k%-28s ${v}%9.3f s") }
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$cpus,"warmup":"${esc(warmupStatus)}","queries":$qs,"errors":$errJson,"failed":${errors.size},"sf":"$sfDir"}"""
    // The driver tails the run's combined output and that window truncates
    // the FRONT of a long final line (round 4 lost the "metric" head of a
    // ~2.6 KB per-query line → parsed:null). So the full per-query JSON
    // goes to the file, and stdout gets the per-query map in
    // self-contained chunks, then a compact summary (<200 bytes) as the
    // LAST line the program prints.
    val summary = f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$cpus,"warmup":"${esc(warmupStatus)}","failed":${errors.size},"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/graft_bench.json"),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] file mirror failed: ${e.getMessage}")
    }
    // Chunked per-query lines (VERDICT r18 item 1): each chunk is a
    // self-contained one-line JSON well under 1.5 KB, in canonical key
    // order:
    //   {"metric":"per_query_part","part":i,"of":n,"queries":{...}}
    // A consumer reassembles by concatenating the "queries" maps of
    // parts 1..n (keys are disjoint); any single part also stands alone.
    val partBody = new scala.collection.mutable.ListBuffer[String]
    val partsOut = new scala.collection.mutable.ListBuffer[String]
    var partLen = 0
    def flushPart(): Unit = if (partBody.nonEmpty) {
      partsOut += partBody.mkString("{", ",", "}")
      partBody.clear(); partLen = 0
    }
    timings.foreach { case (k, v) =>
      val entry = "\"" + shortKey(k) + "\":" + f"$v%.3f"
      if (partLen + entry.length > 1200) flushPart()
      partBody += entry; partLen += entry.length + 1
    }
    flushPart()
    // stop Spark first: nothing it logs on the way down may follow the
    // summary
    spark.stop()
    System.err.flush()
    partsOut.zipWithIndex.foreach { case (body, i) =>
      println(s"""{"metric":"per_query_part","part":${i + 1},"of":${partsOut.size},"queries":$body}""")
    }
    println(summary)
    System.out.flush()
    if (errors.nonEmpty) sys.exit(1)
  }
}
