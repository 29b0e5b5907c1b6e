package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Open511

/** Open511 ingestion (SURVEY.md §2.1 S1).
  *
  * The source is multiline JSON documents `{"events": [...]}`
  * (`/root/reference/etl.py:31-33`). Two modes, per SURVEY §1.2:
  * `strict` (explicit schema — required for streams, recommended in
  * prod: no inference job, stable types) and `inferred` (dev).
  */
object Ingest {

  /** Strict scan: explicit schema, explode the events array to rows. */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Open511.documentSchema)
      .option("multiLine", true).json(path)
      .select(explode(col("events")).as("event"))
      .select(col("event.*"))

  /** Default fixture location (checked-in mini corpus, FIXTURES.md §1). */
  def fixturePath: String = {
    val local = new java.io.File("data/mini_incidents.json")
    if (local.exists) local.getPath else "/root/repo/data/mini_incidents.json"
  }
}
