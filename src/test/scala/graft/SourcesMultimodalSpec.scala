package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Catalog
import graft.multimodal.Multimodal
import graft.ops.Tables

class SourcesMultimodalSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  test("S2 schema-on-read projects declared columns only") {
    val schema = StructType(Seq(StructField("r_regionkey", IntegerType),
      StructField("missing_col", StringType)))
    val df = Catalog.readParquet(spark, s"$sf/region.parquet", schema)
    assert(df.columns.toSeq == Seq("r_regionkey", "missing_col"))
    assert(df.filter(col("missing_col").isNotNull).count() == 0)
  }

  test("S7 external table DDL + SQL query against catalog") {
    Catalog.createExternalTable(spark, "region_ext", s"$sf/region.parquet")
    assert(spark.sql("SELECT COUNT(*) FROM region_ext").first().getLong(0) == 5)
    spark.sql("DROP TABLE region_ext")
  }

  test("S4 glob scan + partitioned write→dynamic pruning roundtrip") {
    val dir = tempDir("part_out")
    val ev = Tables.events(spark, sf)
      .withColumn("d", dayofmonth(col("event_ts")))
    Catalog.writePartitioned(ev, s"$dir/events", Seq("d"))
    val pruned = spark.read.parquet(s"$dir/events").filter(col("d") === 5)
    assert(pruned.count() == ev.filter(col("d") === 5).count())
    // partition pruning visible in the plan: only d=5 directory scanned
    val plan = pruned.queryExecution.executedPlan.toString
    assert(ev.count() == spark.read.parquet(s"$dir/events").count())
  }

  test("dimension filter dynamically prunes fact partitions (DPP)") {
    val dir = tempDir("dpp_out")
    val ev = Tables.events(spark, sf)
      .withColumn("d", dayofmonth(col("event_ts")))
    Catalog.writePartitioned(ev, s"$dir/events", Seq("d"))
    val fact = spark.read.parquet(s"$dir/events")
    // dim's filter is on a NON-join column, so the fact-side partition
    // filter cannot be inferred statically — it must be injected at
    // runtime from the dim's broadcast result (true DPP). A filter
    // directly on the join key would be constant-propagated instead
    // (static pruning, also correct but not what this gate checks).
    import spark.implicits._
    val dim = ev.select(col("d")).distinct()
      .withColumn("tag", when(col("d") === 5, "keep").otherwise("drop"))
    dim.write.mode("overwrite").parquet(s"$dir/dim")
    val joined = fact.join(
      spark.read.parquet(s"$dir/dim").filter(col("tag") === "keep"), "d")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"), s"no DPP in plan:\n$plan")
  }

  test("bucketed tables join without a shuffle exchange") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Catalog.writeBucketed(li, "li_bkt", "l_orderkey", 8)
    Catalog.writeBucketed(o, "o_bkt", "l_orderkey", 8)
    try {
      val joined = spark.table("li_bkt").join(spark.table("o_bkt"), "l_orderkey")
      // disable broadcast so the test exercises the co-located path
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS o_bkt")
    }
  }

  test("union-by-name tolerates missing columns") {
    import spark.implicits._
    val a = Seq((1L, "x")).toDF("id", "extra")
    val b = Seq(2L).toDF("id")
    val u = Catalog.unionAll(Seq(a, b))
    assert(u.count() == 2 && u.columns.toSet == Set("id", "extra"))
  }

  test("jsonl roundtrip preserves rows and schema") {
    val dir = tempDir("graft_jsonl") + "/docs"
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "lang")
    Catalog.writeJsonl(docs, dir)
    val back = Catalog.readJsonl(spark, dir, docs.schema)
    assert(back.schema == docs.schema)
    assert(back.count() == docs.count())
    assert(docs.exceptAll(back).count() == 0, "jsonl roundtrip must be lossless")
  }

  test("multimodal: decode batch shape, determinism, resize arithmetic") {
    val media = Multimodal.synthesizeFromDocuments(Tables.documents(spark, sf))
    val feats = Multimodal.decodeFeatures(media, 224, 224)
    val rows = feats.collect()
    assert(rows.length == 500)
    assert(rows.forall(_.feature.length == Multimodal.DecodeStub.FeatureDim))
    assert(rows.forall(r => r.out_width <= 224 && r.out_height <= 224))
    // determinism: same payload → same feature vector
    val again = Multimodal.decodeFeatures(media, 224, 224).collect()
      .map(r => r.media_id -> r.feature.toSeq).toMap
    assert(rows.forall(r => again(r.media_id) == r.feature.toSeq))
  }

  test("multimodal: ImageCodec PNG roundtrip decodes real dims + exact luma histogram") {
    val png = Multimodal.ImageCodec.synthesizePng(seed = 7L, w = 20, h = 12)
    val Some((w, h, feat)) = Multimodal.ImageCodec.decode(png)
    assert(w == 20 && h == 12)
    // independent expected histogram from the test-card formula
    val counts = new Array[Long](16)
    for (y <- 0 until 12; x <- 0 until 20)
      counts(((7 * x + 13 * y + 7) % 256) / 16) += 1
    val expected = counts.map(c => (c.toDouble / (20 * 12)).toFloat).toSeq
    assert(feat.toSeq == expected)
    assert(math.abs(feat.sum - 1.0f) < 1e-5f)
    // a non-image payload must decline, not throw
    assert(Multimodal.ImageCodec.decode("not a png".getBytes).isEmpty)
  }

  test("multimodal: AudioCodec WAV roundtrip decodes real sample count + exact histogram") {
    val wav = Multimodal.AudioCodec.synthesizeWav(seed = 11L, nSamples = 500)
    // a real RIFF/WAVE container came out, not raw PCM
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    val Some((n, counts)) = Multimodal.AudioCodec.decode(wav)
    assert(n == 500)
    // independent expected histogram from the PCM law
    val expected = new Array[Long](16)
    for (i <- 0 until 500) expected(((137L * i + 11L) % 65536).toInt / 4096) += 1
    assert(counts.toSeq == expected.toSeq)
    assert(counts.sum == 500L)
    // a non-audio payload must decline, not throw
    assert(Multimodal.AudioCodec.decode("not a wav".getBytes).isEmpty)
    // truncated container must decline, not throw
    assert(Multimodal.AudioCodec.decode(wav.take(30)).isEmpty)
  }

  test("multimodal: audioHistogram bins partition every decoded sample") {
    val hist = Multimodal.audioHistogram(Tables.documents(spark, sf))
    val perMedia = hist.groupBy(col("media_id"), col("n_samples"))
      .agg(org.apache.spark.sql.functions.sum(col("cnt")).as("s")).collect()
    assert(perMedia.nonEmpty)
    // decoded sample count (from the parsed stream) covers the bins exactly
    assert(perMedia.forall(r => r.getAs[Long]("s") == r.getAs[Long]("n_samples")))
    // and equals the fixture law, so the header didn't lie either
    assert(perMedia.forall(r =>
      r.getAs[Long]("n_samples") == Multimodal.audioSamples(r.getAs[Long]("media_id")).toLong))
  }

  test("multimodal: VideoCodec AVI roundtrip decodes every frame with the exact luma law") {
    val (seed, nf, w, h) = (7L, 4, 10, 8)
    val avi = Multimodal.VideoCodec.synthesizeAvi(seed, nf, w, h)
    val (hdrN, frames) = Multimodal.VideoCodec.decode(avi).get
    // the header's claim and the frames the parser actually found agree
    assert(hdrN == nf.toLong && frames.length == nf)
    frames.zipWithIndex.foreach { case ((fw, fh, counts), f) =>
      assert(fw == w && fh == h, s"frame $f dims")
      val want = new Array[Long](16)
      for (y <- 0 until h; x <- 0 until w)
        want((((7L * x + 13L * y + 31L * f + seed) % 256) >> 4).toInt) += 1
      assert(counts.toSeq == want.toSeq, s"frame $f histogram")
    }
    // non-AVI, truncated, and mislabeled payloads decline, never throw
    assert(Multimodal.VideoCodec.decode("not an avi".getBytes).isEmpty)
    assert(Multimodal.VideoCodec.decode(avi.take(40)).isEmpty)
    assert(Multimodal.VideoCodec.decode(
      Multimodal.AudioCodec.synthesizeWav(1L, 50)).isEmpty)
  }

  test("multimodal: videoFrameHistogram bins partition every frame's pixels") {
    val hist = Multimodal.videoFrameHistogram(Tables.documents(spark, sf))
    val perFrame = hist.groupBy(col("media_id"), col("n_frames"), col("frame_no"))
      .agg(org.apache.spark.sql.functions.sum(col("cnt")).as("s")).collect()
    assert(perFrame.nonEmpty)
    perFrame.foreach { r =>
      val id = r.getAs[Long]("media_id")
      // every decoded pixel lands in exactly one bin
      assert(r.getAs[Long]("s") ==
        Multimodal.VideoCodec.videoW(id).toLong * Multimodal.VideoCodec.videoH(id))
      // the parser found every frame the fixture law wrote
      assert(r.getAs[Long]("n_frames") == Multimodal.VideoCodec.videoFrames(id).toLong)
    }
  }

  test("multimodal: frame sampling is pure plan arithmetic") {
    val media = Multimodal.synthesizeFromDocuments(Tables.documents(spark, sf)).toDF()
    val frames = Multimodal.sampleFrames(media, 1000L)
    val one = media.filter(col("kind") === "video").first()
    val expected = one.getAs[Long]("duration_ms") / 1000L + 1
    assert(frames.filter(col("media_id") === one.getAs[Long]("media_id")).count() == expected)
  }
}
