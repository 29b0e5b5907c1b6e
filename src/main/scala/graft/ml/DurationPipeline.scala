package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressor, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's ML surface (SURVEY.md §2.8 U3-U5): duration-regression
  * feature pipeline, RF/GBT training with CV tuning, metrics, pipeline
  * persistence, and batch inference — direct Spark ML mapping of
  * `/root/reference/ml-sparkml.py`, `ml-savepipeline.py`,
  * `inference-prediction.py`.
  *
  * Reference hyperparameters preserved: RF numTrees=100 maxDepth=5
  * maxBins=32 (`ml-sparkml.py:48`); GBT maxIter=100 maxDepth=5 (`:49`);
  * 80/20 split seed 42 (`:46`); 3-fold CV (`:56-62`).
  */
object DurationPipeline {

  /** Feature pipeline over a table with categorical columns `catCols`
    * and numeric columns `numCols`, label `labelCol`
    * (StringIndexer(keep) → VectorAssembler → StandardScaler —
    * `ml-sparkml.py:33-44`). One multi-column indexer stands in for the
    * reference's indexer per column: Spark fits both forms through the
    * same frequency-then-label ordering, so the `_index` columns are
    * identical (MLSpec), at one fit job and one saved stage. */
  def featureStages(catCols: Seq[String], numCols: Seq[String]): Array[org.apache.spark.ml.PipelineStage] = {
    val indexers = if (catCols.isEmpty) Nil else Seq(new StringIndexer()
      .setInputCols(catCols.toArray).setOutputCols(catCols.map(_ + "_index").toArray)
      .setHandleInvalid("keep"))
    val assembler = new VectorAssembler()
      .setInputCols((catCols.map(_ + "_index") ++ numCols).toArray)
      .setOutputCol("features").setHandleInvalid("skip")
    val scaler = new StandardScaler().setInputCol("features")
      .setOutputCol("scaled_features").setWithMean(true).setWithStd(true)
    (indexers :+ assembler :+ scaler).toArray
  }

  def rfPipeline(catCols: Seq[String], numCols: Seq[String], labelCol: String,
                 numTrees: Int = 100, maxDepth: Int = 5): Pipeline = {
    val rf = new RandomForestRegressor().setLabelCol(labelCol)
      .setFeaturesCol("scaled_features")
      .setNumTrees(numTrees).setMaxDepth(maxDepth).setMaxBins(32).setSeed(42)
    new Pipeline().setStages(featureStages(catCols, numCols) :+ rf)
  }

  def gbtPipeline(catCols: Seq[String], numCols: Seq[String], labelCol: String): Pipeline = {
    val gbt = new GBTRegressor().setLabelCol(labelCol)
      .setFeaturesCol("scaled_features")
      .setMaxIter(100).setMaxDepth(5).setSeed(42)
    new Pipeline().setStages(featureStages(catCols, numCols) :+ gbt)
  }

  /** 3-fold CV over the reference's RF grid shape (`ml-sparkml.py:51-62`),
    * scaled-down grid by default to keep tests tractable; pass
    * [[ReferenceGrid]] values for the full 3×3×2 reference grid. */
  def crossValidatedRf(catCols: Seq[String], numCols: Seq[String], labelCol: String,
                       numTrees: Array[Int] = Array(20, 50),
                       maxDepth: Array[Int] = Array(3, 5),
                       maxBins: Array[Int] = Array(32)): CrossValidator = {
    val pipeline = rfPipeline(catCols, numCols, labelCol)
    val rf = pipeline.getStages.last.asInstanceOf[RandomForestRegressor]
    val grid = new ParamGridBuilder()
      .addGrid(rf.numTrees, numTrees).addGrid(rf.maxDepth, maxDepth)
      .addGrid(rf.maxBins, maxBins).build()
    new CrossValidator().setEstimator(pipeline)
      .setEvaluator(new RegressionEvaluator().setLabelCol(labelCol).setMetricName("rmse"))
      .setEstimatorParamMaps(grid).setNumFolds(3).setSeed(42)
  }

  /** The reference's full tuning grid — numTrees [50,100,150] × maxDepth
    * [5,10,15] × maxBins [16,32] = 18 candidates × 3 folds
    * (`ml-sparkml.py:56-62`). Run via [[graft.ml.CvGridRun]]; results
    * recorded in `CV_METRICS.md` next to BASELINE.md's numbers. */
  object ReferenceGrid {
    val numTrees: Array[Int] = Array(50, 100, 150)
    val maxDepth: Array[Int] = Array(5, 10, 15)
    val maxBins: Array[Int] = Array(16, 32)
  }

  def crossValidatedRfReferenceGrid(catCols: Seq[String], numCols: Seq[String],
                                    labelCol: String): CrossValidator =
    crossValidatedRf(catCols, numCols, labelCol,
      ReferenceGrid.numTrees, ReferenceGrid.maxDepth, ReferenceGrid.maxBins)

  /** rmse/mae/mse/r2 — the reference's metric quadruple
    * (`ml-sparkml.py:66-78`), read from one metrics pass over the
    * predictions; each equals its per-metric `evaluate` (MLSpec). */
  def evaluate(model: PipelineModel, test: DataFrame, labelCol: String): Map[String, Double] = {
    val m = new RegressionEvaluator().setLabelCol(labelCol).setPredictionCol("prediction")
      .getMetrics(model.transform(test))
    Map("rmse" -> m.rootMeanSquaredError, "mae" -> m.meanAbsoluteError,
      "mse" -> m.meanSquaredError, "r2" -> m.r2)
  }

  /** Persist / load roundtrip (`ml-savepipeline.py:83`,
    * `inference-prediction.py:53`). */
  def save(model: PipelineModel, path: String): Unit = model.write.overwrite().save(path)
  def load(path: String): PipelineModel = PipelineModel.load(path)

  /** Batch inference: `(id, prediction)` (`inference-prediction.py:58`). */
  def predict(model: PipelineModel, df: DataFrame, idCol: String): DataFrame =
    model.transform(df).select(col(idCol), col("prediction"))

  /** Metrics report in the reference's format (K6 driver text report,
    * `model_performance.txt` / `ml-sparkml.py:80-105`). */
  def formatMetrics(name: String, metrics: Map[String, Double]): String =
    s"""$name Performance Metrics:
       |RMSE: ${metrics("rmse")}
       |MAE: ${metrics("mae")}
       |MSE: ${metrics("mse")}
       |R2: ${metrics("r2")}
       |""".stripMargin

  /** A duration-regression-shaped feature table from the `events`
    * testdata (label = value; features = type ordinal, calendar, payload
    * key) — SQL-expressible, so oracle-checkable. */
  def eventFeatures(events: DataFrame): DataFrame =
    events.select(
        col("event_id"), col("event_type"),
        graft.ops.EventOps.typeOrdinal(col("event_type")).as("type_code"),
        hour(col("event_ts")).cast("long").as("h"),
        dayofmonth(col("event_ts")).cast("long").as("d"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
          .getField("k").as("k"),
        col("value").as("label"))
      .orderBy(col("event_id"))
}
