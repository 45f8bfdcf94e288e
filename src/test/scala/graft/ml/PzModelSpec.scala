package graft.ml

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** Golden-seed ML tests (SURVEY.md §5 item 5): residual identity is exact,
  * linear recovery on a noiseless synthetic is near-exact, CV machinery and
  * stat tests reproduce known values.
  */
class PzModelSpec extends AnyFunSuite with Matchers with SparkTestBase {

  import PzModel.labelCol

  // Play-grain synthetic: label = 0.3 − 0.05·blockers + 0.1·pa (+ tiny
  // deterministic ripple so variance is nonzero within feature cells).
  private lazy val training = {
    import spark.implicits._
    (1 to 200).map { i =>
      val blockers = (i % 3) + 1
      val pa = i % 2
      val y = 0.3 - 0.05 * blockers + 0.1 * pa + 0.001 * (i % 5)
      (i.toLong, blockers.toDouble, pa.toDouble, y)
    }.toDF("id", "Blockers_All", "is_play_action", labelCol)
  }

  test("dPZs residual identity holds exactly (MC:33-35, K7)") {
    val (_, scored) = PzModel.scoreResiduals(training, "rf", seed = 99L)
    import org.apache.spark.sql.functions.{abs => sabs, col, max => smax}
    val worst = scored
      .select(smax(sabs(col("dPZs") - (col(labelCol) - col("xPZs")))))
      .collect()(0).getDouble(0)
    worst shouldBe 0.0
  }

  test("linear model recovers the generating coefficients (K2)") {
    val (model, scored) = PzModel.scoreResiduals(training, "linear", seed = 99L)
    import org.apache.spark.sql.functions.{abs => sabs, avg, col}
    // Noiseless-ish generator → residuals bounded by the 0.001 ripple.
    val meanAbs = scored.select(avg(sabs(col("dPZs")))).collect()(0).getDouble(0)
    meanAbs should be < 0.01
    model.stages.last shouldBe a[org.apache.spark.ml.regression.LinearRegressionModel]
  }

  test("80/20 split is seeded and disjoint (WIP:255-262, K8)") {
    val (train, test) = PzModel.trainTestSplit(training, seed = 5675L)
    train.count() + test.count() shouldBe 200
    train.join(test, Seq("id"), "inner").count() shouldBe 0
    // Same seed → identical split.
    val (train2, _) = PzModel.trainTestSplit(training, seed = 5675L)
    train2.select("id").except(train.select("id")).count() shouldBe 0
  }

  test("model comparison emits the per-fold resamples feed (MC:27-30, K6)") {
    val cmp = PzModel.compareModels(training, Seq("linear", "ridge"),
      numFolds = 3, repeats = 1).collect()
    // one row per model × fold (× repeat): caret's bwplot/dotplot input
    cmp.length shouldBe 6
    cmp.map(_.getString(0)).toSet shouldBe Set("linear", "ridge")
    cmp.map(r => (r.getString(0), r.getInt(1), r.getInt(2))).distinct.length shouldBe 6
    all(cmp.map(_.getDouble(3))) should be >= 0.0
    all(cmp.map(_.getDouble(3))) should be < 0.1 // near-deterministic label
    // folds are shared across models (paired resamples, caret contract):
    // and the per-model mean reproduces cvRmse exactly (same machinery)
    val linFolds = cmp.filter(_.getString(0) == "linear").map(_.getDouble(3))
    val linMean = linFolds.sum / linFolds.length
    linMean shouldBe PzModel.cvRmse(training, "linear", numFolds = 3, repeats = 1) +- 1e-12
  }

  test("compareModels' concurrent cells equal a serial fit loop exactly (K1/K6)") {
    import org.apache.spark.ml.evaluation.RegressionEvaluator
    import org.apache.spark.sql.functions.{col, floor, rand}
    // one partition: a multi-partition aggregate merges task results in
    // completion order, so its last bits can differ between any two runs,
    // serial ones included; on one partition every fit is deterministic
    val df = training.coalesce(1)
    val models = Seq("linear", "rf", "gbt", "ridge")
    val (numFolds, repeats, seed) = (3, 2, 7L)
    val evaluator = new RegressionEvaluator()
      .setLabelCol(labelCol).setPredictionCol("prediction").setMetricName("rmse")
    val serial = for {
      r <- 0 until repeats
      folded = df.withColumn("__fold", floor(rand(seed + r) * numFolds).cast("int"))
      k <- 0 until numFolds
      m <- models
    } yield {
      val train = folded.filter(col("__fold") =!= k).drop("__fold")
      val test = folded.filter(col("__fold") === k).drop("__fold")
      val fitted = PzModel.pipeline(m, seed = seed + r).fit(train)
      (m, r, k, evaluator.evaluate(fitted.transform(test)))
    }
    val concurrent = PzModel.compareModels(df, models, numFolds, repeats, seed).collect()
      .map(row => (row.getString(0), row.getInt(1), row.getInt(2), row.getDouble(3))).toSeq
    serial.size shouldBe models.size * numFolds * repeats
    concurrent shouldBe serial // same rows, same order, RMSEs exactly ==
  }

  test("compareModels skips exactly the folds with no train or no test side, on 3 rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{floor, rand}
    val tiny = Seq((1.0, 0.0, 0.10), (2.0, 1.0, 0.25), (3.0, 0.0, 0.05))
      .toDF("Blockers_All", "is_play_action", labelCol)
    val (numFolds, repeats, seed) = (5, 4, 99L)
    val expected = for {
      r <- 0 until repeats
      folds = tiny.select(floor(rand(seed + r) * numFolds).cast("int")).as[Int].collect()
      k <- 0 until numFolds
      n = folds.count(_ == k)
      if n > 0 && n < folds.length
    } yield (r, k)
    val rows = PzModel.compareModels(tiny, Seq("linear"), numFolds, repeats, seed).collect()
    rows.map(row => (row.getInt(1), row.getInt(2))).toSeq shouldBe expected
    all(rows.map(_.getDouble(3))) should be >= 0.0
    // non-vacuity: 3 rows over 5 folds always leave empty folds to skip
    expected.size should be < repeats * numFolds
  }

  test("RFE ranks and scores feature subsets (WIP:241-274, K9)") {
    val out = PzModel.rfe(training, Seq("Blockers_All", "is_play_action"),
      numFolds = 3).collect()
    out.map(_.getInt(0)).toSeq shouldBe Seq(1, 2)
    all(out.map(_.getDouble(2))) should be >= 0.0
  }

  test("pairwise Welch t matches a hand-checked two-sample case (K11)") {
    import spark.implicits._
    // Group A: 1,2,3,4,5 (n=5, mean=3, var=2.5); B: 2,4,6,8,10 (mean=6, var=10).
    val df = (Seq.tabulate(5)(i => ("A", (i + 1).toDouble)) ++
      Seq.tabulate(5)(i => ("B", 2.0 * (i + 1)))).toDF("g", "v")
    val row = StatTests.pairwiseWelch(df, "g", "v").collect()(0)
    // t = (3-6)/sqrt(2.5/5 + 10/5) = -3/sqrt(2.5) = -1.897366...
    row.getDouble(2) shouldBe -1.8973665961010275 +- 1e-12
    // Welch df = 2.5^2 / (0.5^2/4 + 2^2/4) = 6.25/1.0625 = 5.88235...
    row.getDouble(3) shouldBe 5.882352941176471 +- 1e-9
    row.getDouble(4) should (be > 0.10 and be < 0.12) // known p ≈ 0.108
  }

  test("Kruskal-Wallis H matches R's kruskal.test on a known case (K12)") {
    import spark.implicits._
    // R: kruskal.test(list(c(1,2,3), c(4,5,6), c(7,8,9))) → H = 7.2, p ≈ 0.02732
    val df = (Seq.tabulate(3)(i => ("a", (i + 1).toDouble)) ++
      Seq.tabulate(3)(i => ("b", (i + 4).toDouble)) ++
      Seq.tabulate(3)(i => ("c", (i + 7).toDouble))).toDF("g", "v")
    val (h, dof, p) = StatTests.kruskalWallis(df, "g", "v")
    h shouldBe 7.2 +- 1e-9
    dof shouldBe 2L
    p shouldBe 0.027323722447292566 +- 1e-9
  }

  test("Kruskal-Wallis handles ties via mid-ranks (tie-corrected H)") {
    import spark.implicits._
    // R: kruskal.test(list(c(1,1,2), c(2,3,3))) → H = 3.3333..., p ≈ 0.06789
    val df = Seq(("a", 1.0), ("a", 1.0), ("a", 2.0),
      ("b", 2.0), ("b", 3.0), ("b", 3.0)).toDF("g", "v")
    val (h, dof, p) = StatTests.kruskalWallis(df, "g", "v")
    h shouldBe 3.3333333333333 +- 1e-9
    dof shouldBe 1L
    p shouldBe 0.06788915486182917 +- 1e-6
  }
}
