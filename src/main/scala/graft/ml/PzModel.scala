package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Par

/** Expected-%PZ/s models (`Final_Scripts/Model Construction.R`): caret's
  * lm / rf / xgbTree / xgbLinear stack re-expressed as Spark MLlib pipelines
  * (SURVEY.md §2.1 K1-K10).
  *
  * Mapping notes:
  *  - `preProcess="scale"` → StandardScaler after VectorAssembler (K5).
  *  - `repeatedcv 10×3` → CrossValidator(numFolds = 10) repeated over three
  *    seeds; MLlib has no native repeatedcv (K1).
  *  - `lmStepAIC` → plain LinearRegression: the reference formula already is
  *    the two-feature model stepAIC would select from (K2).
  *  - `xgbTree` → GBTRegressor; `xgbLinear` → ridge LinearRegression (K4).
  *  - Scoring + residual: `xPZs = predict; dPZs = actual − xPZs` (K7).
  *
  * Scale: training data is play-grain (≪ tracking); MLlib's distributed
  * regressors handle it without collecting to the driver. Scoring is a
  * `transform` — one map-side pass, no shuffle.
  */
object PzModel {

  val labelCol = "Percent_to_Pressure_Zone_per_s"
  val defaultFeatures: Seq[String] = Seq("Blockers_All", "is_play_action")

  /** VectorAssembler → StandardScaler → estimator (MC:19-24's shared shape). */
  def pipeline(estimatorName: String, features: Seq[String] = defaultFeatures,
      seed: Long = 99L): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol("rawFeatures")
    val scaler = new StandardScaler()
      .setInputCol("rawFeatures").setOutputCol("features")
      .setWithMean(false).setWithStd(true)
    val est = estimatorName match {
      case "linear" =>
        new LinearRegression().setLabelCol(labelCol).setFeaturesCol("features")
      case "rf" =>
        new RandomForestRegressor().setLabelCol(labelCol).setFeaturesCol("features")
          .setNumTrees(100).setSeed(seed)
      case "gbt" =>
        new GBTRegressor().setLabelCol(labelCol).setFeaturesCol("features")
          .setMaxIter(50).setSeed(seed)
      case "ridge" => // xgbLinear's closest MLlib native: L2-regularized lm
        new LinearRegression().setLabelCol(labelCol).setFeaturesCol("features")
          .setRegParam(0.1).setElasticNetParam(0.0)
      case other => throw new IllegalArgumentException(s"unknown estimator: $other")
    }
    new Pipeline().setStages(Array(assembler, scaler, est))
  }

  /** MC:27-30 model comparison, the caret `resamples` analog (K1/K6): one
    * row per (model, repeat, fold) with its RMSE — the bwplot/dotplot feed
    * that compares DISTRIBUTIONS of fold errors, not just means;
    * `groupBy("model").avg("rmse")` reproduces the one-row-per-model mean
    * table. Fold assignment is seeded per repeat and
    * SHARED across models (caret's resamples contract: every model is
    * evaluated on the same resample set, so fold-level differences are
    * paired). `repeats` seeds emulate caret's repeatedcv.
    *
    * Scale: each fold's train/test split is a filter on a precomputed fold
    * column (no reshuffle per fold); each repeat's fold-assigned frame is
    * cached for the duration of the call, and one action per repeat counts
    * its folds. The (repeat, fold, model) cells are fitted concurrently
    * through `graft.Par`, up to the session's cores: a fit is bound by job
    * latency, so one cell's driver time hides behind another's jobs. Every
    * cell is an independent fit, so the rows and their order are those of a
    * serial loop. On single-partition input the RMSEs are identical to it
    * too. On several partitions a fit's aggregates merge task results in
    * completion order, so its RMSEs can differ in the last bits between any
    * two runs, serial ones included; running cells at once can vary that
    * order more often, and the result is equal only up to that rounding. */
  def compareModels(df: DataFrame, models: Seq[String] = Seq("linear", "rf", "gbt", "ridge"),
      numFolds: Int = 10, repeats: Int = 1, seed: Long = 99L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val evaluator = new RegressionEvaluator()
      .setLabelCol(labelCol).setPredictionCol("prediction").setMetricName("rmse")
    val folded = (0 until repeats).map { r =>
      df.withColumn("__fold", floor(rand(seed + r) * numFolds).cast("int")).persist()
    }
    try {
      val cells = folded.zipWithIndex.flatMap { case (f, r) =>
        val sizes = f.groupBy("__fold").count().collect()
          .map(row => row.getInt(0) -> row.getLong(1)).toMap
        val total = sizes.values.sum
        // rand-based assignment is multinomial, not a strict partition: on
        // tiny inputs a fold can come up empty, or hold every row — skip it
        // (an empty test fold would make the evaluator throw/NaN and poison
        // the mean, an empty train fold cannot be fitted)
        (0 until numFolds).filter { k =>
          val n = sizes.getOrElse(k, 0L)
          n > 0 && n < total
        }.flatMap { k =>
          val train = f.filter(col("__fold") =!= k).drop("__fold")
          val test = f.filter(col("__fold") === k).drop("__fold")
          models.map { m => () =>
            val fitted = pipeline(m, seed = seed + r).fit(train)
            (m, r, k, evaluator.evaluate(fitted.transform(test)))
          }
        }
      }
      Par.all(spark)(cells).toDF("model", "repeat", "fold", "rmse")
    } finally folded.foreach(_.unpersist())
  }

  /** K-fold CV RMSE for one pipeline (MC:16's trainControl): the mean of the
    * `compareModels` fold RMSEs (same fold machinery, so its rows average
    * exactly to this) across `repeats` seeds (K1). */
  def cvRmse(df: DataFrame, estimatorName: String, numFolds: Int = 10,
      repeats: Int = 3, seed: Long = 99L): Double = {
    val rmses = compareModels(df, Seq(estimatorName), numFolds, repeats = repeats, seed = seed)
      .select("rmse").collect().map(_.getDouble(0))
    require(rmses.nonEmpty,
      s"no usable folds for $estimatorName — input too small for $numFolds folds")
    rmses.sum / rmses.size
  }

  /** MC:33-35: fit, score, and attach the residual — `xPZs` is the model's
    * expectation, `dPZs = actual − expected` is the player's value-add. */
  def scoreResiduals(df: DataFrame, estimatorName: String = "rf",
      seed: Long = 99L): (PipelineModel, DataFrame) = {
    val model = pipeline(estimatorName, seed = seed).fit(df)
    val scored = model.transform(df)
      .withColumnRenamed("prediction", "xPZs")
      .withColumn("dPZs", col(labelCol) - col("xPZs"))
      .drop("rawFeatures", "features")
    (model, scored)
  }

  /** WIP:255-262 80/20 split with a pinned seed (K8). */
  def trainTestSplit(df: DataFrame, seed: Long = 5675L): (DataFrame, DataFrame) = {
    val Array(train, test) = df.randomSplit(Array(0.8, 0.2), seed)
    (train, test)
  }

  /** WIP:241-274 recursive feature elimination over subset sizes (K9):
    * evaluates each leading subset of `features` (ranked by RF importance)
    * by CV RMSE and returns (subsetSize, features, rmse) rows. */
  def rfe(df: DataFrame, features: Seq[String], numFolds: Int = 5,
      seed: Long = 99L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val full = pipeline("rf", features, seed).fit(df)
    val importances = full.stages.last
      .asInstanceOf[org.apache.spark.ml.regression.RandomForestRegressionModel]
      .featureImportances.toArray
    val ranked = features.zip(importances).sortBy(-_._2).map(_._1)
    (1 to ranked.size).map { k =>
      val subset = ranked.take(k)
      val evaluator = new RegressionEvaluator()
        .setLabelCol(labelCol).setPredictionCol("prediction").setMetricName("rmse")
      val cv = new CrossValidator()
        .setEstimator(pipeline("rf", subset, seed))
        .setEvaluator(evaluator)
        .setEstimatorParamMaps(new ParamGridBuilder().build())
        .setNumFolds(numFolds).setSeed(seed)
      (k, subset.mkString(","), cv.fit(df).avgMetrics.head)
    }.toDF("n_features", "features", "cv_rmse")
  }

  /** MC:36-41: attach display names and play context, then propagate dPZs to
    * blockers (the by.x/by.y join of MC:39-40). */
  def attachContext(scored: DataFrame, players: DataFrame, plays: DataFrame): DataFrame =
    scored
      .join(players.select("nflId", "displayName"), Seq("nflId"))
      .join(plays.select("gameId", "playId", "down", "yardsToGo").distinct(),
        Seq("gameId", "playId"))

  def blockersWithResidual(blockers: DataFrame, rushersScored: DataFrame,
      players: DataFrame): DataFrame =
    blockers
      .join(rushersScored.select(
        col("playId"), col("gameId"), col("nflId").as("pff_nflIdBlockedPlayer"), col("dPZs")),
        Seq("playId", "gameId", "pff_nflIdBlockedPlayer"))
      .join(players.select("nflId", "displayName"), Seq("nflId"))
}
