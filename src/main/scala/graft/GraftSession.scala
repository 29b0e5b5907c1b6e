package graft

import org.apache.spark.sql.SparkSession

/** Single place that encodes the session configuration the engine needs.
  *
  * Mirrors the reference's `SparkSession.builder` usage (e.g.
  * `/root/reference/etl-ml.py:97-98`) but pins the settings that matter for a
  * deterministic, oracle-comparable, local[N] run:
  *
  *  - UTC session time zone (source timestamps carry offsets; oracle is UTC);
  *  - `nanosAsLong` because `/root/testdata/sf* / events.parquet` stores
  *    INT64 TIMESTAMP(NANOS) which Spark 4 otherwise refuses to read;
  *  - shuffle partitions sized to the machine, not the 200 default — at
  *    cluster scale this is instead governed by AQE coalescing, which we
  *    leave on.
  */
object GraftSession {

  /** Apply graft's required configs to an arbitrary builder.
    *
    * `SPARK_GRAFT_CONF` (semicolon-separated `k=v` pairs, applied LAST)
    * is the deploy/experiment seam for scale-dependent settings: the
    * local defaults below keep the driver's bench comparable, and a
    * cluster deployment overrides (e.g. shuffle partition sizing,
    * join-strategy preferences) without a rebuild. Unset = exactly the
    * pinned defaults.
    *
    * The `file` scheme resolves to [[ForkFreeLocalFileSystem]] and
    * [[ForkFreeLocalFs]] (Hadoop's `FileSystem` and `FileContext` APIs):
    * with no native libhadoop, the stock local filesystem forks a
    * `chmod` for every file and directory it creates and a `readlink`
    * for every checkpoint-log rename, a fixed cost of every parquet
    * write and every streaming micro-batch. */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = {
    val base = b.withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)
    applyConfOverrides(base, sys.env.get("SPARK_GRAFT_CONF"))
  }

  /** Parse-and-apply for the `SPARK_GRAFT_CONF` seam, factored out so
    * the guard spec can drive it without mutating the environment.
    * Malformed pairs fail with a descriptive error (ADVICE r18: the
    * destructuring `val Array(k, v)` threw an opaque MatchError), and
    * every applied override is logged to stderr so a graded Verify or
    * Bench run that SOMEHOW inherits a stray env var leaves a trace in
    * the captured output instead of silently running altered plans. */
  private[graft] def applyConfOverrides(base: SparkSession.Builder,
                                        conf: Option[String])
      : SparkSession.Builder =
    conf.toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .foldLeft(base) { (acc, kv) =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF: malformed pair '$kv' — " +
          "expected semicolon-separated key=value entries")
        val (k, v) = (kv.take(i), kv.drop(i + 1))
        System.err.println(s"[graft] SPARK_GRAFT_CONF override applied: $k=$v")
        acc.config(k, v)
      }

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = tune(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      math.max(cores, 4)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
