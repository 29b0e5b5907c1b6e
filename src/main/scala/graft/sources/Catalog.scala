package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Remaining source operators from SURVEY.md §2.1.
  *
  * S2 schema-on-read parquet (`/root/reference/cluster.py:34`), S4
  * glob/multi-file union scan (`lambda-run-clustering.py:25` — the
  * reference merged historical + streaming outputs by co-writing one S3
  * prefix), S7 external-table DDL (`athena.sql:5-16` — Athena's
  * `CREATE EXTERNAL TABLE ... STORED AS PARQUET` becomes a Spark
  * catalog table `USING parquet LOCATION`).
  */
object Catalog {

  /** S2: parquet scan with an explicit schema — column projection at the
    * reader level; mismatched columns come back null, exactly the
    * trusted-re-read contract the reference relied on. */
  def readParquet(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** S4 (explicit form): schema-evolution-safe union of sources. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** S7: register an external parquet table in the session catalog —
    * the Spark-native `athena.sql` DDL. Partition columns give dynamic
    * partition pruning on reads (the gap called out in SURVEY §4). */
  def createExternalTable(spark: SparkSession, name: String, path: String): Unit =
    spark.sql(s"CREATE TABLE IF NOT EXISTS $name USING parquet LOCATION '$path'")

  /** Bucketed managed table: co-locates rows by hash(bucketCol) so an
    * equi-join of two tables bucketed the same way needs NO shuffle —
    * the pre-shuffle is paid once at write time. The scale tool for a
    * fact-fact join that repeats across many queries (builder-prompt
    * checklist: "bucketing for co-located joins"; absence of shuffle
    * asserted in SourcesMultimodalSpec). */
  def writeBucketed(df: DataFrame, name: String, bucketCol: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(name)

  /** K1-analog managed write with partition columns — the
    * `partitionBy("year","month")` upgrade SURVEY §4 prescribes for the
    * events sink so downstream scans prune partitions. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** JSONL (one JSON object per line) interchange — the de-facto corpus
    * exchange format for training-data pipelines. Spark's json source IS
    * line-delimited by default (the multiLine Open511 reads are the
    * special case), so these are thin, schema-checked wrappers. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Idempotent backfill: overwrite ONLY the partitions present in `df`,
    * leaving every other partition untouched (dynamic partition
    * overwrite). This is how a pipeline re-runs one bad day out of a
    * year-partitioned 100 TB table — a static overwrite would drop the
    * other 364 days; an append would double-count the re-run. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key)
    }
  }

  /** Schema-evolution read: one logical table over files written with
    * DIFFERENT (compatible) schemas — `mergeSchema` unions the per-file
    * footers; columns absent in older files come back null. The read
    * side of the contract that lets a long-lived corpus add columns
    * without rewriting history. (Footer merging costs a driver pass over
    * file metadata — fine for a backfill read; for hot paths persist the
    * merged schema in the catalog instead.) */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Quarantine ingest: PERMISSIVE JSONL read that ROUTES malformed
    * records instead of dropping (DROPMALFORMED loses evidence) or
    * aborting (FAILFAST loses the batch). Returns (clean rows, quarantine
    * rows); the quarantine carries the raw line for replay after a
    * parser fix. The corrupt-record column must be materialized via a
    * filter on it — Spark only populates it for rows it actually failed
    * to parse, and the required cache/filter dance is exactly what this
    * wrapper encapsulates. */
  def readJsonlQuarantine(spark: SparkSession, path: String,
                          schema: StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val withCorrupt = schema.add("_corrupt_record", "string")
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // one scan serves both routes; Spark requires an action
               // boundary before filtering on the corrupt column
    val clean = raw.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val quarantine = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, quarantine)
  }

  /** CSV twin of [[readJsonlQuarantine]] — the reference ships a CSV
    * fixture for inference smoke tests (`Data/Generated_Test_Data.csv`),
    * so the source matrix includes a schema'd, header-aware CSV reader
    * with the same PERMISSIVE corrupt-row routing: malformed lines stay
    * replayable instead of silently shrinking the batch. */
  def readCsvQuarantine(spark: SparkSession, path: String,
                        schema: StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val withCorrupt = schema.add("_corrupt_record", "string")
    val raw = spark.read.schema(withCorrupt)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      .cache()
    val clean = raw.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val quarantine = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, quarantine)
  }
}
