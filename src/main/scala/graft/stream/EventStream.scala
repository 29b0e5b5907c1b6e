package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.schema.Open511
import graft.ops.{Clean, Geo}

/** Structured-Streaming ETL (SURVEY.md §2.9) — the reference's
  * Kinesis → parse → clean → parquet pipeline (`/root/reference/
  * etl-events.py`) re-expressed over any Spark stream source, plus the
  * stateful upgrades the reference explicitly avoided:
  *
  *  - T7: the reference moved dedup OUT of the stream because plain
  *    `dropDuplicates` is unbounded-state ("would drop non-duplicate
  *    data", Report.pdf p.15). The native fix is
  *    `dropDuplicatesWithinWatermark("id")` — bounded state, correct
  *    within the lateness bound.
  *  - T6: watermarked tumbling-window severity counts as the streaming
  *    flagship aggregate.
  *
  * The transform chain REUSES the batch operators ([[Clean]], [[Geo]]) —
  * one logical op library for batch and stream (T2).
  */
object EventStream {

  /** Production stream sources (SURVEY §2.1 S5). The reference ran
    * Kinesis on EMR (`etl-events.py:70-76`); both adapters below emit the
    * same one-record-per-payload `data` column that [[parseEvents]]
    * consumes, so tests (MemoryStream), Kafka, and Kinesis share the
    * pipeline unchanged. Zero-egress sandbox: compile-tested only — the
    * connector jar supplies the named format at runtime:
    * `spark-sql-kafka-0-10` for Kafka, and AWS's Structured Streaming
    * Kinesis connector (`spark-streaming-sql-kinesis-connector`, which
    * registers the `aws-kinesis` source) for Kinesis. NOTE:
    * `spark-streaming-kinesis-asl` is the legacy DStream receiver and
    * registers NO Structured Streaming source — deploying with it would
    * fail with "Failed to find data source: aws-kinesis". */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession,
                  bootstrapServers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest") // reference used LATEST
      .load()
      .select(col("value").as("data"))

  def kinesisSource(spark: org.apache.spark.sql.SparkSession,
                    streamName: String, region: String): DataFrame =
    spark.readStream.format("aws-kinesis")
      .option("kinesis.streamName", streamName)
      .option("kinesis.region", region)
      .option("kinesis.startingposition", "LATEST") // etl-events.py:74
      .load()
      .select(col("data"))

  /** Payload parse: one JSON document (`{"events":[...]}`) per record in
    * a binary/string `data` column → one row per event
    * (`etl-events.py:79-88`: cast, from_json, explode, star-expand). */
  def parseEvents(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(data AS STRING) AS json_str")
      .select(from_json(col("json_str"), Open511.documentSchema).as("doc"))
      .select(explode(col("doc.events")).as("event"))
      .select(col("event.*"))

  /** The T2 clean chain: coords, timestamps, null-drop, column prune —
    * identical logic to the batch ETL (`etl-events.py:91-104`). */
  def cleanEvents(events: DataFrame): DataFrame =
    events
      .transform(Clean.withTimestamps)
      .withColumn("lonlat", Geo.lonLat(col("geography.type"), col("geography.coordinates")))
      .withColumn("longitude", col("lonlat.lon"))
      .withColumn("latitude", col("lonlat.lat"))
      .na.drop("any", Seq("id", "created_ts"))
      .select("id", "headline", "status", "event_type", "severity",
        "created_ts", "updated_ts", "longitude", "latitude")

  /** Watermarked stateful dedup by id (T7 upgrade). */
  def dedupWithinWatermark(cleaned: DataFrame, lateness: String = "1 hour"): DataFrame =
    cleaned.withWatermark("created_ts", lateness)
      .dropDuplicatesWithinWatermark("id")

  /** Streaming flagship: tumbling-window severity counts with watermark
    * (T5/T6 additions). */
  def hourlySeverityCounts(cleaned: DataFrame, lateness: String = "1 hour"): DataFrame =
    cleaned.withWatermark("created_ts", lateness)
      .groupBy(window(col("created_ts"), "1 hour"), col("severity"))
      .agg(count(lit(1)).as("cnt"))

  /** The reference's foreachBatch sink (`etl-events.py:107-122`):
    * skip empty batches, write parquet, checkpointed. Each batch
    * OVERWRITES its own `outDir/batch=<id>` partition instead of
    * appending, so a batch that replays after a crash (written, not yet
    * committed) rewrites its rows rather than duplicating them. Readers
    * see the partition column `batch`; one stream owns one `outDir`. */
  def parquetSink(cleaned: DataFrame, outDir: String, checkpointDir: String): DataStreamWriter[Row] =
    cleaned.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }

  /** Convenience: start with the synchronous-test-friendly default
    * trigger (micro-batch as data arrives). */
  def start(w: DataStreamWriter[Row]): StreamingQuery =
    w.trigger(Trigger.ProcessingTime(0)).start()
}
