package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{SparkTestBase, Tables}

/** Driver-side recomputation gates for the round-10 event queries: the
  * DuckDB oracle proves cross-engine agreement; these prove the SEMANTICS
  * against a from-scratch Scala reimplementation on the real sf0.001 rows,
  * so both engines can't share one misreading of the spec. */
class EventsEdgeSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private case class Ev(id: Long, user: Long, typ: String, us: Long)

  private def rawEvents(d: String = dir): Seq[Ev] =
    Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq

  /** x16's session rule, recomputed imperatively per user. */
  private def sessionsOf(evs: Seq[Ev]): Map[Long, Long] = {
    evs.groupBy(_.user).iterator.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e.us, e.id))
      var sid = 0L
      var prev = Long.MinValue
      sorted.map { e =>
        if (prev == Long.MinValue || e.us - prev > 1800000000L) sid += 1
        prev = e.us
        e.id -> sid
      }
    }.toMap
  }

  test("x78 attribution ≡ an imperative per-session first-view scan") {
    val evs = rawEvents()
    val sid = sessionsOf(evs)
    // expected: per purchase, us - min view-us in the same (user, session)
    // among views at-or-before the purchase
    val expected = evs.groupBy(_.user).iterator.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e.us, e.id))
      var firstView = Map.empty[Long, Long] // session -> first view us
      sorted.flatMap { e =>
        if (e.typ == "view" && !firstView.contains(sid(e.id)))
          firstView += sid(e.id) -> e.us
        if (e.typ == "purchase")
          Some(e.id -> firstView.get(sid(e.id)).map(e.us - _))
        else None
      }
    }.toMap
    // registry: x78_ev_attribution
    val got = EventsQueries.attribution.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    got shouldBe expected
    // non-vacuous on the shipped data: both attributed and orphan purchases
    got.values.count(_.isDefined) should be > 0
    got.values.count(_.isEmpty) should be > 0
    got.values.flatten.foreach(_ should be >= 0L)
  }

  test("x79 retention ≡ a driver-side cohort triangle") {
    val evs = rawEvents()
    val userWeeks = evs.groupBy(_.user).map { case (u, es) =>
      u -> es.map(_.us / 604800000000L).distinct.sorted
    }
    val expected = userWeeks.toSeq
      .flatMap { case (_, wks) => wks.map(w => (wks.head, w - wks.head)) }
      .groupBy(identity).map { case ((c, o), xs) => (c, o) -> xs.size.toLong }
    // registry: x79_ev_retention
    val got = EventsQueries.retentionCohorts.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got shouldBe expected
    // offset 0 carries every user exactly once (the cohort diagonal)
    got.collect { case ((c, 0L), n) => n }.sum shouldBe userWeeks.size.toLong
    // all offsets are non-negative (cohort = first week, by construction)
    got.keys.foreach { case (_, off) => off should be >= 0L }
  }

  test("x82 MAD report: accounting + robustness invariants on the shipped rows") {
    val vals = Tables.events(spark, dir)
      .select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val byType = vals.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // registry: x82_ev_mad_outliers
    val rows = EventsQueries.madOutliers.run(spark, dir).collect()
    rows.map(_.getString(0)).sorted shouldBe byType.keys.toSeq.sorted
    rows.foreach { r =>
      val (typ, n, med, mad, out) =
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
      n shouldBe byType(typ).size.toLong
      med should (be >= byType(typ).min and be <= byType(typ).max)
      mad should be >= 0.0
      out should be <= n
      // the median really is central: at least half the values on each side
      byType(typ).count(_ <= med) * 2L should be >= n
      byType(typ).count(_ >= med) * 2L should be >= n
      // recompute the flag from the reported stats; ROUND(…,6) can flip a
      // knife-edge row, so allow a ±1-per-ulp band rather than exactness
      val flagged = byType(typ).count(v => 0.6745 * math.abs(v - med) > 3.5 * mad).toLong
      math.abs(flagged - out) should be <= 1L
    }
    // non-vacuous: the report flags something somewhere
    rows.map(_.getLong(4)).sum should be > 0L
  }

  test("x91 slots ≡ JVM MessageDigest md5 arithmetic (portability proof)") {
    def slotOf(feature: String): Int = {
      val hx = java.security.MessageDigest.getInstance("MD5")
        .digest(feature.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val hexv = "0123456789abcdef"
      (hexv.indexOf(hx(0)) * 4096 + hexv.indexOf(hx(1)) * 256 +
        hexv.indexOf(hx(2)) * 16 + hexv.indexOf(hx(3))) % 512
    }
    // registry: x91_ev_feature_hash
    val rows = EventsQueries.featureHashing.run(spark, dir).collect()
    rows should not be empty
    rows.foreach { r =>
      r.getInt(2) shouldBe slotOf(r.getString(1))
    }
    // the slot space is actually used (not everything collides into a few)
    rows.map(_.getInt(2)).distinct.length should be > 8
    // every event contributes both features
    rows.groupBy(_.getLong(0)).values.foreach(_.length shouldBe 2)
  }

  test("x95 cube: marginals and grand total recompose from the base cells") {
    // registry: x95_ev_cube
    val rows = EventsQueries.cubeDatasheet.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    val base = rows.filter(_._3 == 0)
    base should not be empty
    // gid=1: per-type marginal = Σ over that type's base cells
    rows.filter(_._3 == 1).foreach { case (t, hod, _, n, cents) =>
      hod shouldBe -1
      n shouldBe base.filter(_._1 == t).map(_._4).sum
      cents shouldBe base.filter(_._1 == t).map(_._5).sum
    }
    // gid=2: per-hour marginal = Σ over that hour's base cells
    rows.filter(_._3 == 2).foreach { case (t, hod, _, n, cents) =>
      t shouldBe "ALL"
      n shouldBe base.filter(_._2 == hod).map(_._4).sum
      cents shouldBe base.filter(_._2 == hod).map(_._5).sum
    }
    // gid=3: exactly one grand total covering every event
    val g = rows.filter(_._3 == 3)
    g.length shouldBe 1
    g.head._4 shouldBe graft.Tables.events(spark, dir).count()
    g.head._5 shouldBe base.map(_._5).sum
  }

  test("x102 top-k WITH TIES: a tie at the cut keeps every tied row (row_number would drop some)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("topk-ties").toString
    // four rows tie the 3rd-best value: RANK ≤ 3 must return 6 rows
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    Seq(
      (1L, ts0, 1L, "click", 9.00, "{}"),
      (2L, ts0, 1L, "click", 8.00, "{}"),
      (3L, ts0, 1L, "click", 7.00, "{}"),
      (4L, ts0, 1L, "click", 7.00, "{}"),
      (5L, ts0, 1L, "click", 7.00, "{}"),
      (6L, ts0, 1L, "click", 7.00, "{}"),
      (7L, ts0, 1L, "click", 1.00, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    // registry: x102_ev_topk_ties
    val out = EventsQueries.topkTies.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(3)))
    out.map(_._1).sorted.toSeq shouldBe Seq(1L, 2L, 3L, 4L, 5L, 6L)
    out.filter(_._2 == 3).map(_._1).sorted.toSeq shouldBe Seq(3L, 4L, 5L, 6L)
  }

  test("x97 moments MERGE across shards ≡ recompute on the union (the claim that justifies persisting them)") {
    import org.apache.spark.sql.functions._
    // shard the events by epoch-style halves, run x97 per shard, ADD the
    // component columns, and require bit-equality with the whole-table run
    // registry: x97_ev_corr_report
    val whole = EventsQueries.corrReport.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val shards = Seq(0L, 1L).map { half =>
      val sub = java.nio.file.Files.createTempDirectory(s"x97m$half").toString
      graft.Tables.events(spark, dir).filter(col("event_id") % 2 === half)
        .write.parquet(s"$sub/events.parquet")
      EventsQueries.corrReport.run(spark, sub).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    }
    whole.foreach { case (t, (n, sx, sy, sxy, sx2, sy2)) =>
      def m(f: ((Long, Long, Long, Long, Long, Long)) => Long) =
        shards.map(s => s.get(t).map(f).getOrElse(0L)).sum
      withClue(s"$t: ") {
        (m(_._1), m(_._2), m(_._3), m(_._4), m(_._5), m(_._6)) shouldBe
          ((n, sx, sy, sxy, sx2, sy2))
      }
    }
  }

  test("x97: shipped components reproduce commons-math-style Pearson r") {
    val rows = EventsQueries.corrReport.run(spark, dir).collect()
    rows should not be empty
    rows.foreach { r =>
      val (n, sx, sy, sxy, sx2, sy2) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
      // recompose corr from the mergeable moments exactly as a reader would
      val num = n.toDouble * sxy - sx.toDouble * sy
      val den = math.sqrt((n.toDouble * sx2 - sx.toDouble * sx)
        * (n.toDouble * sy2 - sy.toDouble * sy))
      val expected = BigDecimal(num / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      r.getDouble(7) shouldBe expected
      r.getDouble(7) should (be >= -1.0 and be <= 1.0)
    }
  }

  test("x115 decay score ≡ an order-shuffled BigInt recompute (the order-free-exactness claim)") {
    val raw = Tables.events(spark, dir)
      .select(col("user_id"), col("value"), unix_micros(col("ts")))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val tMax = raw.map(_._3).max
    // the engine's exact integer form, re-derived imperatively — and summed
    // in three different orders to make the order-free claim non-vacuous
    def scoreOf(rows: Seq[(Long, Double, Long)]): BigInt =
      rows.map { case (_, v, us) =>
        val v6 = BigInt(math.floor(v * 1000000d).toLong)
        val days = math.min((tMax - us) / 86400000000L, 30L)
        v6 * (BigInt(1) << (30 - days).toInt)
      }.sum
    val byUser = raw.groupBy(_._1)
    val expected = byUser.map { case (u, rows) =>
      val s = scoreOf(rows.toSeq)
      s shouldBe scoreOf(rows.reverse.toSeq)
      s shouldBe scoreOf(scala.util.Random.shuffle(rows.toSeq))
      // the engine's render chain: exact decimal → double → /2^30·10⁶ → round 6
      val score = BigDecimal(s.toDouble / 1073741824000000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      u -> ((rows.length.toLong, score))
    }
    // registry: x115_ev_decay
    val got = EventsQueries.decayScore.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    got shouldBe expected
    // non-vacuity: decay must actually discriminate — at least one user's
    // score differs from what a no-decay (all-weight-2^30) sum would give
    val flat = byUser.map { case (u, rows) =>
      u -> rows.map(r => BigInt(math.floor(r._2 * 1000000d).toLong)).sum * (BigInt(1) << 30)
    }
    byUser.keys.count(u => flat(u) != scoreOf(byUser(u).toSeq)) should be > 0
  }

  test("x115 horizon floor: a >30-day-old event weighs exactly 2^0 (cap branch pinned)") {
    import spark.implicits._
    // the shipped corpus spans 29.99 days — the LEAST(days, 30) cap never
    // fires there, so pin it on a synthetic 100-day frame: value 1.0 at
    // ages {0d, 30d, 31d, 100d}; the last three all weigh 2^0... no —
    // exactly 30d weighs 2^0 too (30-30), 31d and 100d CAP to 30 → 2^0.
    val day = 86400000000L
    def ts(ageDays: Long) = new java.sql.Timestamp((200L * day - ageDays * day) / 1000)
    val f = Seq(
      (1L, ts(0), 1.0), // weight 2^30
      (2L, ts(30), 1.0), // weight 2^0 (at the horizon)
      (3L, ts(31), 1.0), // capped → 2^0
      (4L, ts(100), 1.0)) // capped → 2^0
      .toDF("user_id", "ts", "value")
    val got = EventsQueries.decayScoreOf(f).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    got(1L) shouldBe 1.0 // 10^6·2^30 / (2^30·10^6)
    val floorScore = BigDecimal(
      (BigInt(1000000) * 1).toDouble / 1073741824000000.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got(2L) shouldBe floorScore
    got(3L) shouldBe floorScore // the cap: 31d ≡ 30d exactly
    got(4L) shouldBe floorScore // ...and 100d too — never negative shifts
  }

  test("x14_ev_json_extract ≡ a driver-side parse of every props payload") {
    // registry: x14_ev_json_extract
    val props = Tables.events(spark, dir).select("event_id", "props").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val out = EventsQueries.jsonExtract.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    out.size shouldBe props.length
    val kRe = """"k"\s*:\s*(-?\d+)""".r
    props.foreach { case (id, p) =>
      withClue(s"event $id props=$p: ") {
        out(id) shouldBe kRe.findFirstMatchIn(p).map(_.group(1).toInt)
      }
    }
    // non-vacuous: the extraction actually finds varied integers
    out.values.flatten.toSet.size should be > 1
  }

  test("x15_ev_time_bucket ≡ a driver-side hour-truncated rollup") {
    // registry: x15_ev_time_bucket
    val rows = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val out = EventsQueries.timeBucket.run(spark, dir).collect()
      .map(r => (unixMicrosOf(r.getTimestamp(0)), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val hourUs = 3600L * 1000000L
    val expected = rows.groupBy { case (tpe, us, _) => (Math.floorDiv(us, hourUs) * hourUs, tpe) }
    out.keySet shouldBe expected.keySet
    expected.foreach { case (k, grp) =>
      val (n, sum) = out(k)
      withClue(s"bucket $k: ") {
        n shouldBe grp.length.toLong
        // double sum is order-sensitive in the last ulp; the query rounds to
        // 6 dp, so compare within one ulp of that grid
        sum shouldBe (grp.map(_._3).sum +- 1e-6)
      }
    }
  }

  test("x16_ev_sessionize ≡ the imperative per-user gap walk (30 min boundary exclusive)") {
    // registry: x16_ev_sessionize — sessionsOf is the same rule the x78
    // attribution replay above builds on
    val out = EventsQueries.sessionize.run(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expected = sessionsOf(rawEvents())
    out shouldBe expected
    // non-vacuous: at least one user has a real >30 min gap (multi-session)
    expected.values.max should be > 1L
  }

  /** Session-boundary fixture: gaps of exactly 30 min (same session) and
    * 30 min + 1 µs (new session), over two users and three event types. */
  private lazy val boundaryDir: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("session-boundary").toString
    val t0 = 1767261600000000L // 2026-01-01 10:00:00 UTC, in µs
    val gap = 1800000000L // 30 min
    def ts(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    Seq(
      (1L, 1L, "view", t0), (2L, 1L, "click", t0 + gap),
      (3L, 1L, "purchase", t0 + 2 * gap + 1), (4L, 1L, "view", t0 + 2 * gap + 2),
      (5L, 2L, "click", t0), (6L, 2L, "view", t0 + gap + 1),
      (7L, 2L, "purchase", t0 + 2 * gap + 1))
      .map { case (id, u, typ, us) => (id, ts(us), u, typ, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    tmp
  }

  /** Both corpora the session consumers are checked on: the shipped rows
    * and the boundary fixture, whose session ids are pinned by hand. */
  private def sessionCorpora: Seq[String] = {
    sessionsOf(rawEvents(boundaryDir)) shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L, 6L -> 2L, 7L -> 2L)
    Seq(dir, boundaryDir)
  }

  /** Each (user, session)'s events in (us, event_id) order. */
  private def sessionRuns(evs: Seq[Ev]): Iterable[Seq[Ev]] = {
    val sid = sessionsOf(evs)
    evs.groupBy(e => (e.user, sid(e.id))).values.map(_.sortBy(e => (e.us, e.id)))
  }

  test("x46_ev_session_stats ≡ per-session count and span of the imperative gap walk") {
    sessionCorpora.foreach { d =>
      val evs = rawEvents(d)
      val sid = sessionsOf(evs)
      val expected = evs.groupBy(e => (e.user, sid(e.id))).map { case (k, es) =>
        k -> ((es.size.toLong, es.map(_.us).max - es.map(_.us).min))
      }
      // registry: x46_ev_session_stats
      val got = EventsQueries.sessionStats.run(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
      withClue(s"$d: ") { got shouldBe expected }
    }
  }

  test("x83_ev_transitions ≡ within-session type steps of the imperative gap walk") {
    sessionCorpora.foreach { d =>
      val steps = sessionRuns(rawEvents(d)).toSeq
        .flatMap(run => run.zip(run.drop(1)).map { case (a, b) => (a.typ, b.typ) })
      val n = steps.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
      val fromTot = n.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum }
      val expected = n.map { case (k @ (a, _), c) => k -> ((c, c.toDouble / fromTot(a))) }
      // registry: x83_ev_transitions
      val got = EventsQueries.sessionTransitions.run(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      withClue(s"$d: ") { got shouldBe expected }
    }
  }

  test("x98_ev_cooccurrence ≡ basket lift over the imperative gap walk's sessions") {
    sessionCorpora.foreach { d =>
      val baskets = sessionRuns(rawEvents(d)).toSeq.map(_.map(_.typ).toSet)
      val nBaskets = baskets.size.toLong
      def support(ts: String*) = baskets.count(b => ts.forall(b)).toLong
      val types = baskets.flatten.distinct.sorted
      val expected = (for {
        a <- types; b <- types if a < b && support(a, b) > 0
      } yield (a, b) -> ((support(a, b), support(a), support(b), nBaskets,
        (BigInt(support(a, b)) * nBaskets * 1000000 / (BigInt(support(a)) * support(b))).toLong)))
        .toMap
      // registry: x98_ev_cooccurrence
      val got = EventsQueries.cooccurrence.run(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      withClue(s"$d: ") {
        got shouldBe expected
        got should not be empty
      }
    }
  }

  private def unixMicrosOf(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
}
