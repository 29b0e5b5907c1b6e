package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Catalog

/** Table-maintenance operators: CDC changelog apply, idempotent
  * partition backfill, schema-evolution reads, quarantine ingest.
  */
class MaintenanceSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  test("applyChangelog: delete removes, update replaces, insert adds, seq wins") {
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "v")
    val changes = Seq(
      (1L, 1L, "D", "ignored"),     // delete 1
      (2L, 1L, "U", "two.a"),       // superseded by seq 2
      (2L, 2L, "U", "two.b"),       // winner for 2
      (4L, 1L, "I", "four"),        // insert
      (5L, 1L, "D", "x"),           // tie on seq 1:
      (5L, 1L, "I", "five")         //   delete wins the tie
    ).toDF("id", "seq", "op", "v")
    val out = graft.ops.Upsert.applyChangelog(base, changes, "id", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "two.b", 3L -> "three", 4L -> "four"), s"got $out")
  }

  test("applyChangelog is idempotent: re-applying the same delta is a no-op") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val changes = Seq((1L, 1L, "U", "a2"), (3L, 1L, "I", "c")).toDF("id", "seq", "op", "v")
    val once = graft.ops.Upsert.applyChangelog(base, changes, "id", "seq", "op")
    val twice = graft.ops.Upsert.applyChangelog(once, changes, "id", "seq", "op")
    assert(once.orderBy("id").collect().toSeq == twice.orderBy("id").collect().toSeq)
  }

  test("overwritePartitions touches only the partitions in the batch") {
    val dir = tempDir("graft_dynpart") + "/t"
    val full = Seq((1, "d1", "x"), (2, "d1", "y"), (3, "d2", "z"))
      .toDF("id", "day", "v")
    Catalog.writePartitioned(full, dir, Seq("day"))
    // backfill day d1 only, with corrected content
    val redo = Seq((9, "d1", "fixed")).toDF("id", "day", "v")
    Catalog.overwritePartitions(redo, dir, Seq("day"))
    val out = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("day"))).toSet
    // d1 replaced (ids 1,2 gone; 9 present), d2 untouched
    assert(out == Set((9, "d1"), (3, "d2")), s"got $out")
    // the session knob is restored (overwritePartitions sets it only
    // for the duration of the write)
    assert(!spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .contains("dynamic"))
  }

  test("readEvolved merges schemas across generations; old files null-fill") {
    val dir = tempDir("graft_evolve") + "/t"
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(dir)
    Seq((2L, "b", 0.5)).toDF("id", "v", "score").write.mode("append").parquet(dir)
    val out = Catalog.readEvolved(spark, dir)
    assert(out.columns.toSet == Set("id", "v", "score"))
    val byId = out.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(byId == Map(1L -> None, 2L -> Some(0.5)), s"got $byId")
  }

  test("quarantine ingest routes malformed lines without losing them") {
    val dir = tempDir("graft_quar")
    val f = new java.io.PrintWriter(s"$dir/in.jsonl")
    f.println("""{"id": 1, "v": "ok"}""")
    f.println("""{"id": BROKEN""")
    f.println("""{"id": 3, "v": "fine"}""")
    f.close()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string")
    val (clean, quarantine) = Catalog.readJsonlQuarantine(spark, s"$dir/in.jsonl", schema)
    assert(clean.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val bad = quarantine.as[String].collect()
    assert(bad.length == 1 && bad.head.contains("BROKEN"),
      s"quarantine must carry the raw line: ${bad.toSeq}")
  }

  test("csv quarantine ingest: header, schema, malformed rows replayable") {
    val dir = tempDir("graft_csvq")
    val f = new java.io.PrintWriter(s"$dir/in.csv")
    f.println("id,v,score")
    f.println("1,ok,0.5")
    f.println("2,broken,not_a_number")
    f.println("3,fine,1.25")
    f.close()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string").add("score", "double")
    val (clean, quarantine) = Catalog.readCsvQuarantine(spark, s"$dir/in.csv", schema)
    assert(clean.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val bad = quarantine.as[String].collect()
    assert(bad.length == 1 && bad.head.contains("not_a_number"),
      s"quarantine must carry the raw row: ${bad.toSeq}")
  }
}
