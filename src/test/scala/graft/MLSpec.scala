package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.DurationPipeline
import graft.ops.Tables

/** ML surface (SURVEY §2.8 U3-U5): pipeline fit, metrics, persist/load
  * roundtrip with identical predictions, duration-label parity. */
class MLSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  val cat = Seq("event_type"); val num = Seq("type_code", "h", "d", "k")

  lazy val feats = DurationPipeline.eventFeatures(Tables.events(spark, sf)).cache()

  test("RF pipeline trains, evaluates, persists, reloads identically") {
    val Array(train, test0) = feats.randomSplit(Array(0.8, 0.2), 42) // ml-sparkml.py:46
    val model = DurationPipeline.rfPipeline(cat, num, "label", numTrees = 20).fit(train)
    val metrics = DurationPipeline.evaluate(model, test0, "label")
    assert(metrics.keySet == Set("rmse", "mae", "mse", "r2"))
    assert(metrics("rmse") > 0 && !metrics("rmse").isNaN)
    assert(math.abs(metrics("mse") - metrics("rmse") * metrics("rmse")) < 1e-6)

    val dir = tempDir("rfmodel")
    DurationPipeline.save(model, s"$dir/m")
    val reloaded = DurationPipeline.load(s"$dir/m")
    val p1 = DurationPipeline.predict(model, test0, "event_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p2 = DurationPipeline.predict(reloaded, test0, "event_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p1 == p2, "persisted model must predict identically")
  }

  // The synthetic label is ~noise w.r.t. the features, so no model can
  // reliably beat the mean predictor — assert mechanics + sane error
  // magnitude, not predictive skill.
  test("GBT pipeline trains with bounded error vs the constant predictor") {
    val Array(train, test0) = feats.randomSplit(Array(0.8, 0.2), 42)
    val gbt = DurationPipeline.gbtPipeline(cat, num, "label")
    val stages = gbt.getStages
    stages.last.asInstanceOf[org.apache.spark.ml.regression.GBTRegressor].setMaxIter(10)
    val metrics = DurationPipeline.evaluate(gbt.fit(train), test0, "label")
    val meanBaselineRmse = {
      val mean = train.agg(avg("label")).first().getDouble(0)
      math.sqrt(test0.select(pow(col("label") - mean, 2).as("e"))
        .agg(avg("e")).first().getDouble(0))
    }
    assert(metrics("rmse") > 0 && metrics("rmse") <= meanBaselineRmse * 1.5,
      s"GBT rmse ${metrics("rmse")} vs baseline $meanBaselineRmse")
  }

  test("multi-column StringIndexer == one indexer per column (Open511 fixture, eventFeatures)") {
    import org.apache.spark.ml.feature.StringIndexer
    val open511 = graft.ops.Clean.mlTable(
      graft.ops.Ingest.readEvents(spark, graft.ops.Ingest.fixturePath))
    Seq((open511, "id", Seq("event_type", "severity", "status")),
        (feats, "event_id", Seq("event_type", "h"))).foreach { case (df, key, cols) =>
      // fit on a part, so handleInvalid=keep also meets unseen labels
      val fitOn = df.filter(xxhash64(col(key)) % 3 =!= 0)
      val multi = DurationPipeline.featureStages(cols, Nil).head.asInstanceOf[StringIndexer]
        .fit(fitOn).transform(df)
      val perColumn = cols.foldLeft(df) { (d, c) =>
        new StringIndexer().setInputCol(c).setOutputCol(s"${c}_index")
          .setHandleInvalid("keep").fit(fitOn).transform(d)
      }
      val idx = col(key).cast("string") +: cols.map(c => col(s"${c}_index"))
      val a = multi.select(idx: _*).collect().map(_.toSeq).toSet
      val b = perColumn.select(idx: _*).collect().map(_.toSeq).toSet
      assert(a.size == df.count() && a == b, s"indices differ on $cols")
    }
  }

  test("evaluate: one metrics pass == each per-metric RegressionEvaluator") {
    import org.apache.spark.ml.evaluation.RegressionEvaluator
    val Array(train, test0) = feats.randomSplit(Array(0.8, 0.2), 42)
    val model = DurationPipeline.rfPipeline(cat, num, "label", numTrees = 5).fit(train)
    val metrics = DurationPipeline.evaluate(model, test0, "label")
    val pred = model.transform(test0)
    Seq("rmse", "mae", "mse", "r2").foreach { m =>
      assert(metrics(m) == new RegressionEvaluator().setLabelCol("label")
        .setPredictionCol("prediction").setMetricName(m).evaluate(pred), m)
    }
  }

  test("duration label parity on the Open511 fixture (days)") {
    val ml = graft.ops.Clean.mlTable(
      graft.ops.Ingest.readEvents(spark, graft.ops.Ingest.fixturePath))
    val d = ml.filter(col("id") === "example.gov/EV-1").first().getAs[Double]("duration")
    assert(math.abs(d - 0.0625) < 1e-9) // 90 minutes = 0.0625 days
  }

  test("cross-validator selects a model (scaled-down grid)") {
    val small = feats.limit(300).cache()
    val cv = DurationPipeline.crossValidatedRf(cat, num, "label",
      numTrees = Array(5), maxDepth = Array(3))
    val m = cv.fit(small)
    assert(m.bestModel != null && m.avgMetrics.nonEmpty)
  }

  test("k-means assignPartitions is bit-identical to the assignCol expression") {
    // the build path's mapPartitions assignment must agree with the
    // inline argmin fold on EVERY vector — same float->double widening,
    // same t-ascending accumulation, same strict-< lowest-index
    // tiebreak (duplicate centers exercise the tie rule)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ml.LocalKMeans
    val rnd = new scala.util.Random(31)
    val base = Array.fill(7)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val centers = base :+ base(3).clone() // an exact duplicate center
    val vecs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val a = LocalKMeans.assignPartitions(df, "vec_id", "embedding", centers)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = df.select(col("vec_id"),
        LocalKMeans.assignCol(col("embedding"), centers).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
    assert(!a.values.toSet.contains(7), "ties must resolve to the LOWER index")
  }

  test("full reference grid builds 3×3×2 = 18 candidates (ml-sparkml.py:56-62)") {
    val cv = DurationPipeline.crossValidatedRfReferenceGrid(cat, num, "label")
    val maps = cv.getEstimatorParamMaps
    assert(maps.length == 18, s"expected 18 param maps, got ${maps.length}")
    val rf = cv.getEstimator.asInstanceOf[org.apache.spark.ml.Pipeline]
      .getStages.last.asInstanceOf[org.apache.spark.ml.regression.RandomForestRegressor]
    val trees = maps.map(_.apply(rf.numTrees)).toSet
    val depths = maps.map(_.apply(rf.maxDepth)).toSet
    val bins = maps.map(_.apply(rf.maxBins)).toSet
    assert(trees == Set(50, 100, 150) && depths == Set(5, 10, 15) && bins == Set(16, 32))
    assert(cv.getNumFolds == 3)
  }
}
