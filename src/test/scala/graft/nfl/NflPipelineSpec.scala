package graft.nfl

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** Golden end-to-end tests of the reference-parity pipeline (SURVEY.md §5
  * item 3) on the hand-computed fixtures of NflFixtures. Every number below
  * is derived by hand from the reference formulas in
  * `Final_Scripts/Metric Building and Evaluation.R`.
  */
class NflPipelineSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private lazy val dir = NflFixtures.writeTo(
    Files.createTempDirectory("nfl-fixtures")).toString

  private lazy val pipeline = new NflPipeline(
    NflIngest.readTracking(spark, s"$dir/tracking_week*.csv"),
    NflIngest.readPff(spark, s"$dir/pffScoutingData.csv"),
    NflIngest.readPlays(spark, s"$dir/plays.csv"),
    NflIngest.readPlayers(spark, s"$dir/players.csv"))

  private val eps = 1e-9

  test("cleaning keeps exactly the three valid plays (DL:31-54)") {
    val plays = pipeline.mainDf.select("gameId", "playId").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    plays shouldBe Set((1001L, 101L), (1001L, 102L), (1002L, 201L))
  }

  test("glob scan unions both weekly files (DL:20-22)") {
    pipeline.mainDf.select("gameId").distinct().count() shouldBe 2
  }

  test("play bounds: snap frame 3, end frame 18 (MB:22-30)") {
    val starts = pipeline.playStart.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    starts shouldBe Map(
      (101L, 1001L) -> 3, (102L, 1001L) -> 3, (201L, 1002L) -> 3)
    val ends = pipeline.playEnd.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    ends shouldBe Map(
      (101L, 1001L) -> 18, (102L, 1001L) -> 18, (201L, 1002L) -> 18)
  }

  test("QB set point: frame 12 at (47.75, 26.5) on all three plays (MB:34-58)") {
    val sp = pipeline.setPoints.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        (r.getInt(3), r.getDouble(4), r.getDouble(5)))).toMap
    sp.keySet shouldBe Set((10L, 101L, 1001L), (10L, 102L, 1001L), (10L, 201L, 1002L))
    sp.values.foreach { case (frame, x, y) =>
      frame shouldBe 12
      x shouldBe 47.75 +- eps
      y shouldBe 26.5 +- eps
    }
  }

  private def metricRow(r: Row): ((Long, Long, Long), Map[String, Double]) = {
    def d(c: String) = r.getAs[Double](c)
    ((r.getAs[Long]("playId"), r.getAs[Long]("gameId"), r.getAs[Long]("nflId")),
      Map(
        "snap" -> d("snap"), "playEnd" -> d("playEnd"),
        "Pressure_Start" -> d("Pressure_Start"),
        "Seconds" -> d("Seconds"), "Distance" -> d("Distance"),
        "pz" -> d("Percent_to_Pressure_Zone"),
        "pzs" -> d("Percent_to_Pressure_Zone_per_s")))
  }

  test("%PZ/s metric matches hand-computed goldens (MB:93-108)") {
    val m = pipeline.metric.collect().map(metricRow).toMap
    m.keySet shouldBe Set(
      (101L, 1001L, 20L), (101L, 1001L, 21L),
      (102L, 1001L, 20L), (102L, 1001L, 21L),
      (201L, 1002L, 20L), (201L, 1002L, 22L))

    // Rusher 20, plays 101/102: enters the zone at frame 14 (delta 1.75).
    for (k <- Seq((101L, 1001L, 20L), (102L, 1001L, 20L))) {
      val g = m(k)
      g("snap") shouldBe 10.0 +- eps
      g("Pressure_Start") shouldBe 1.75 +- eps
      g("playEnd") shouldBe 1.25 +- eps
      g("Seconds") shouldBe 1.1 +- eps         // (14 - 3) * 0.1
      g("Distance") shouldBe 8.25 +- eps       // 10 - 1.75
      g("pz") shouldBe 1.0 +- eps              // pressure reached ⇒ 1
      g("pzs") shouldBe 1.0 / 1.1 +- eps
    }

    // Rusher 21 plays 101/102 and rushers 20/22 play 201: never enter.
    for (k <- Seq((101L, 1001L, 21L), (102L, 1001L, 21L),
        (201L, 1002L, 20L), (201L, 1002L, 22L))) {
      val g = m(k)
      g("snap") shouldBe 8.0 +- eps
      g("Pressure_Start") shouldBe 0.0 +- eps  // absent pivot combo → 0
      g("playEnd") shouldBe 4.25 +- eps
      g("Seconds") shouldBe 1.5 +- eps         // (18 - 3) * 0.1
      g("Distance") shouldBe 3.75 +- eps       // 8 - 4.25
      g("pz") shouldBe 0.625 +- eps            // 3.75 / (8 - 2)
      g("pzs") shouldBe 0.625 / 1.5 +- eps
    }
  }

  test("final rushers: blocker counts, OL gate, play-action flag (MB:134-145)") {
    val f = pipeline.rushersFinal.collect()
      .map(r => ((r.getAs[Long]("playId"), r.getAs[Long]("gameId"), r.getAs[Long]("nflId")),
        (r.getAs[Long]("Blockers_OL"), r.getAs[Long]("Blockers_All"),
          r.getAs[Int]("is_play_action")))).toMap
    // Rusher 22 (play 201) is blocked only by the TE → dropped by the OL gate.
    f.keySet shouldBe Set(
      (101L, 1001L, 20L), (101L, 1001L, 21L),
      (102L, 1001L, 20L), (102L, 1001L, 21L), (201L, 1002L, 20L))
    f((101L, 1001L, 20L)) shouldBe ((1L, 1L, 0))
    f((101L, 1001L, 21L)) shouldBe ((1L, 2L, 0))  // RG + TE double team
    f((102L, 1001L, 20L)) shouldBe ((1L, 1L, 1))  // play action
    f((102L, 1001L, 21L)) shouldBe ((1L, 2L, 1))
    f((201L, 1002L, 20L)) shouldBe ((1L, 1L, 0))
  }

  test("snap-frame labels ride through (MB:106-108)") {
    val labels = pipeline.rushersFinal
      .select("playId", "nflId", "pff_hurry", "pff_sack", "passResult", "playResult")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getInt(3), r.getString(4), r.getInt(5)))).toMap
    labels((101L, 20L)) shouldBe ((1, 0, "C", 12))
    labels((102L, 20L)) shouldBe ((0, 1, "S", -7))
    labels((201L, 20L)) shouldBe ((0, 0, "C", 5))
  }

  test("blockers inherit their rusher's metric (MB:148-149)") {
    val b = pipeline.blockersWithMetric.collect()
      .map(r => ((r.getAs[Long]("playId"), r.getAs[Long]("nflId")),
        r.getAs[Double]("Percent_to_Pressure_Zone_per_s"))).toMap
    // TE 32 is not in Pass_Blockers (OL-only); rusher 22's blocker is the TE
    // → play 201 contributes only LT 30.
    b.keySet shouldBe Set((101L, 30L), (101L, 31L), (102L, 30L), (102L, 31L), (201L, 30L))
    b((101L, 30L)) shouldBe 1.0 / 1.1 +- eps
    b((101L, 31L)) shouldBe 0.625 / 1.5 +- eps
    b((201L, 30L)) shouldBe 0.625 / 1.5 +- eps
  }

  test("time to throw (WIP:73-77)") {
    val t = pipeline.timeToThrow.collect()
      .map(r => ((r.getAs[Long]("playId"), r.getAs[Long]("gameId")),
        (r.getAs[Double]("snap"), r.getAs[Double]("throw"),
          r.getAs[Int]("yards"), r.getAs[Double]("seconds_to_throw")))).toMap
    // Play 102 ends in a sack (passResult 'S') → excluded.
    t.keySet shouldBe Set((101L, 1001L), (201L, 1002L))
    val (snap, thrw, yards, secs) = t((101L, 1001L))
    snap shouldBe 0.3 +- eps
    thrw shouldBe 1.8 +- eps
    yards shouldBe 12
    secs shouldBe 1.5 +- eps
  }

  test("median-by-flag evaluation (MB:161-167)") {
    val bySack = Rankings.medianBy(pipeline.rushersFinal, "pff_sack").collect()
      .map(r => r.getAs[Int]("pff_sack") ->
        (r.getAs[Double]("median_Percent_to_Pressure_Zone_per_s"), r.getAs[Long]("n"))).toMap
    bySack(1)._2 shouldBe 1L                   // the one sack (rusher 20, play 102)
    bySack(1)._1 shouldBe 1.0 / 1.1 +- eps
    bySack(0)._2 shouldBe 4L
  }

  test("full MC->MO chain: model, residuals, rankings on fixtures") {
    import graft.ml.PzModel
    val plays = NflIngest.readPlays(spark, s"$dir/plays.csv")
    val players = NflIngest.readPlayers(spark, s"$dir/players.csv")
    val (_, scored) = PzModel.scoreResiduals(pipeline.rushersFinal, "linear", seed = 99L)
    val withCtx = PzModel.attachContext(scored, players, plays)
    withCtx.count() shouldBe 5
    withCtx.columns should contain allOf ("displayName", "down", "yardsToGo", "dPZs")

    // thresholds relaxed to fixture scale (reference defaults are 50)
    // (displayName, team) grain: Rush One appears for DEF1 and DEF2 → 2 rows,
    // Rush Two for DEF1 → 1 row
    val rushers = Rankings.rusherRankings(withCtx, minAttempts = 1L)
    rushers.count() shouldBe 3
    val teams = Rankings.teamRushRankings(withCtx)
      .collect().map(_.getAs[String]("team")).toSet
    teams shouldBe Set("DEF1", "DEF2")

    val blockers = PzModel.blockersWithResidual(
      pipeline.blockersWithMetric, withCtx, players)
    val blockerRank = Rankings.blockerRankings(blockers, minSnapsExclusive = 0L)
    blockerRank.collect().map(_.getAs[String]("displayName")).toSet shouldBe
      Set("Block Left", "Block Right")
  }

  test("sample play plot feed: keyed label attach, slice order, 157 cap (MO:37-38, C9/K13)") {
    // r18 advice: samplePlay was rewritten for the width prune (labels now
    // re-attach by natural key, team filter after the join) but shipped
    // unexercised. Drive it on the fixture and pin the pre-prune content.
    val s = Rankings.samplePlay(pipeline.rusherFrames, pipeline.rusherLabels,
      gameId = 1001L, playId = 101L, team = "DEF1").collect()
    // both DEF1 rushers, every clamped frame (snap 3 .. end 18), in the
    // deterministic (nflId, frameId) slice order — well under the 157 cap
    s.map(r => (r.getAs[Number]("nflId").longValue,
        r.getAs[Number]("frameId").longValue)).toSeq shouldBe
      (for (n <- Seq(20L, 21L); f <- 3L to 18L) yield (n, f))
    // the width prune moved team/jersey off the frame table — the plot
    // feed must still carry them, from the keyed rusherLabels attach
    s.map(_.getAs[String]("team")).distinct.toSeq shouldBe Seq("DEF1")
    s.filter(_.getAs[Number]("nflId").longValue == 20L)
      .map(_.getAs[Number]("jerseyNumber").intValue).distinct.toSeq shouldBe Seq(91)
    s.filter(_.getAs[Number]("nflId").longValue == 21L)
      .map(_.getAs[Number]("jerseyNumber").intValue).distinct.toSeq shouldBe Seq(95)
    // the team filter really filters (the offense shares the play)
    Rankings.samplePlay(pipeline.rusherFrames, pipeline.rusherLabels,
      1001L, 101L, "OFF1").count() shouldBe 0L // labels carry rushers only
  }

  test("scaleConf is the one cluster posture the scale bench and deployments share") {
    // r18 verdict item 5: the knobs the 1000× rung needed live as code,
    // not prose — `Ladder nfl` folds exactly this map into its session
    val c = NflPipeline.scaleConf(32)
    c("spark.sql.shuffle.partitions") shouldBe "32"
    c("spark.sql.adaptive.coalescePartitions.initialPartitionNum") shouldBe "512"
    c("spark.io.compression.codec") shouldBe "zstd"   // spill density: the disk-bound rung's fix
    c("spark.rdd.compress") shouldBe "true"
    c.size shouldBe 4
  }

  test("histogram plot feed bins the metric (MB:153-156, K13)") {
    val h = Rankings.histogram(pipeline.rushersFinal,
      "Percent_to_Pressure_Zone_per_s", 0.5)
    val buckets = h.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // PZs values: 2×(1/1.1≈0.909 → bucket 1), 3×(0.41666 → bucket 0)
    buckets shouldBe Map(0L -> 3L, 1L -> 2L)
  }

  test("partitioned parquet sink round-trips (A4)") {
    import graft.sources.Sinks
    val out = Files.createTempDirectory("sink-test").toString + "/rushers"
    Sinks.partitionedParquet(pipeline.rushersFinal, out, Seq("gameId"))
    val back = spark.read.parquet(out)
    back.count() shouldBe 5
    back.select("gameId").distinct().count() shouldBe 2
    new java.io.File(out).listFiles().map(_.getName).count(_.startsWith("gameId=")) shouldBe 2
  }

  test("typed Dataset views expose the stage boundaries (SURVEY §1.3)") {
    import graft.nfl.model._
    val sp = pipeline.setPointsDs.collect()
    sp.map(_.frameId).toSet shouldBe Set(12)
    val m = pipeline.metricDs.collect()
    m.length shouldBe 6
    all(m.map(_.Percent_to_Pressure_Zone)) should (be >= 0.0 and be <= 1.0)
    val t = pipeline.timeToThrowDs.collect()
    t.map(_.seconds_to_throw).foreach(_ shouldBe 1.5 +- eps)
  }

  test("EPA comparison joins on the cast string game id (EPA:3-15)") {
    import org.apache.spark.sql.functions.col
    val pbpRows = Seq(
      (101L, "1001", "OFF1", "DEF1", -0.4, 0.01, -0.2, 0.1, "REG", 1),
      (102L, "1001", "OFF1", "DEF1", -1.2, -0.03, -0.9, 0.0, "REG", 1),
      (201L, "1002", "OFF2", "DEF2", 0.3, 0.02, 0.2, 0.1, "REG", 1),
      (999L, "1001", "OFF1", "DEF1", 9.9, 0.5, 9.9, 9.9, "POST", 1),  // filtered: POST
      (998L, "1001", "OFF1", "DEF1", 9.9, 0.5, 9.9, 9.9, "REG", 0))   // filtered: run
    val pbp = spark.createDataFrame(pbpRows)
      .toDF("play_id", "old_game_id", "posteam", "defteam", "epa", "wpa",
        "air_epa", "yac_epa", "season_type", "pass")
    val perPlay = Epa.pzPerPlay(pipeline.rushersFinal, Epa.cleanPbp(pbp))
    val rows = perPlay.collect()
      .map(r => ((r.getAs[Long]("playId"), r.getAs[Long]("gameId")),
        (r.getAs[Double]("PZs"), r.getAs[Double]("epa")))).toMap
    rows.keySet shouldBe Set((101L, 1001L), (102L, 1001L), (201L, 1002L))
    // play 101 mean of the two rushers' %PZ/s
    rows((101L, 1001L))._1 shouldBe ((1.0 / 1.1) + (0.625 / 1.5)) / 2 +- eps
    rows((101L, 1001L))._2 shouldBe -0.4 +- eps
    rows((201L, 1002L))._1 shouldBe 0.625 / 1.5 +- eps

    val team = Epa.teamPzEpa(perPlay).collect()
      .map(r => r.getAs[String]("defteam") -> r.getAs[Double]("epa")).toMap
    team.keySet shouldBe Set("DEF1", "DEF2")
    team("DEF1") shouldBe -0.8 +- eps   // median of (-0.4, -1.2)
  }

  test("unpersistAll drops the two persisted frames; the checkpointed stages were never cached") {
    import org.apache.spark.storage.StorageLevel
    val p = new NflPipeline(
      NflIngest.readTracking(spark, s"$dir/tracking_week*.csv"),
      NflIngest.readPff(spark, s"$dir/pffScoutingData.csv"),
      NflIngest.readPlays(spark, s"$dir/plays.csv"),
      NflIngest.readPlayers(spark, s"$dir/players.csv"))
    p.rushersFinal.count()
    // storageLevel is what the cache manager holds for the frame: NONE for
    // a localCheckpoint, whose blocks belong to its RDD instead
    Seq(p.playStart, p.playEnd, p.setPoints, p.metric, p.rushersFinal)
      .foreach(_.storageLevel shouldBe StorageLevel.NONE)
    Seq(p.mainDf, p.rusherFrames).foreach(_.storageLevel should not be StorageLevel.NONE)
    p.unpersistAll()
    Seq(p.mainDf, p.rusherFrames).foreach(_.storageLevel shouldBe StorageLevel.NONE)
  }
}
