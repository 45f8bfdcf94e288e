package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** MemoryStream micro-batch tests for the streaming twins (SURVEY.md §2.1 L):
  * same results as the batch operators on the same rows. */
class EventStreamSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("windowed aggregation with watermark (streaming x15 twin)") {
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = EventStream.timeBucket(events)
      .writeStream.format("memory").queryName("tb").outputMode("update").start()
    try {
      input.addData(
        (1L, ts(5), "click", 1.0), (2L, ts(10), "click", 2.0), (3L, ts(20), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tb")
        .select(col("event_type"), col("n"), col("sum_value")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      rows shouldBe Set(("click", 2L, 3.0), ("view", 1L, 5.0))
    } finally q.stop()
  }

  test("drift-bin counts parity: streamed windows ≡ batch binning on the same rows (x88 shape)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val raw = graft.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // pinned reference artifact: quartile edges fit OFFLINE on the full set
    val edges = graft.operators.FeatureBins.fitBins(raw, "event_type", "value", nBins = 4)
    val ev = raw.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(3), r.getDouble(4)))
      .sortBy(e => (e._2.getTime, e._1))
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = EventStream.driftBinCounts(events, edges)
      .writeStream.format("memory").queryName("drift88").outputMode("update").start()
    try {
      val (first, second) = ev.splitAt(ev.length / 2)
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq)
      q.processAllAvailable()
      // update mode: the latest row per (win, type, bin) is the final count
      val got = spark.table("drift88")
        .groupBy("win", "event_type", "bin").agg(org.apache.spark.sql.functions.max("n").as("n"))
        .collect()
        .map(r => (r.getStruct(0).getTimestamp(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
        .toMap
      val want = graft.operators.FeatureBins.applyBins(raw, edges, "event_type", "value")
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour").as("win"),
          col("event_type"), col("bin"))
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
        .collect()
        .map(r => (r.getStruct(0).getTimestamp(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
        .toMap
      got shouldBe want
      got should not be empty
      // every bin 1..4 appears somewhere (the reference quartiles are live)
      got.keys.map(_._3).toSet shouldBe Set(1, 2, 3, 4)
    } finally q.stop()
  }

  test("watermarked dedup drops replayed event ids (idempotent ingest)") {
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = EventStream.dedupe(events)
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      input.addData((1L, ts(5), "click", 1.0), (2L, ts(6), "view", 2.0))
      q.processAllAvailable()
      input.addData((1L, ts(5), "click", 1.0), (3L, ts(7), "click", 3.0)) // replay of 1
      q.processAllAvailable()
      spark.table("dd").select("event_id").collect().map(_.getLong(0)).sorted shouldBe
        Seq(1L, 2L, 3L)
    } finally q.stop()
  }

  test("file-source end-to-end: readStream dir -> window agg -> memory sink") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ev-stream").toString
    // first file lands before the stream starts, second while it runs
    Seq((1L, ts(5), 7L, "click", 1.0, "{}"), (2L, ts(10), 7L, "click", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/batch1")
    val q = EventStream.timeBucket(EventStream.readEvents(spark, s"$dir/batch*"))
      .writeStream.format("memory").queryName("fileagg").outputMode("update").start()
    try {
      q.processAllAvailable()
      Seq((3L, ts(20), 8L, "view", 5.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/batch2")
      q.processAllAvailable()
      val rows = spark.table("fileagg")
        .select(col("event_type"), col("n"), col("sum_value")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      rows shouldBe Set(("click", 2L, 3.0), ("view", 1L, 5.0))
    } finally q.stop()
  }

  test("content-keyed ingest dedup drops re-ingested payloads (x01/x09 twin)") {
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF.toDF("doc_id", "ts", "text")
    val q = EventStream.dedupeByContent(docs)
      .writeStream.format("memory").queryName("cdd").outputMode("append").start()
    try {
      input.addData((1L, ts(5), "the same payload"), (2L, ts(6), "a different payload"))
      q.processAllAvailable()
      // same text re-arrives under a FRESH id — must still be dropped
      input.addData((3L, ts(7), "the same payload"), (4L, ts(8), "a third payload"))
      q.processAllAvailable()
      spark.table("cdd").select("doc_id").collect().map(_.getLong(0)).sorted shouldBe
        Seq(1L, 2L, 4L)
    } finally q.stop()
  }

  test("content-dedup state is evicted by the watermark (bounded memory)") {
    import spark.implicits._
    def at(hour: Int, minute: Int): Timestamp =
      Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF.toDF("doc_id", "ts", "text")
    val q = EventStream.dedupeByContent(docs, lateness = "1 hour")
      .writeStream.format("memory").queryName("cddExp").outputMode("append").start()
    try {
      input.addData((1L, at(10, 0), "payload A"))
      q.processAllAvailable()
      // inside the horizon: watermark still behind 10:00 + 1h → duplicate dropped
      input.addData((2L, at(10, 30), "payload A"))
      q.processAllAvailable()
      // 12:30 advances the watermark to 11:30 > 11:00 → payload-A state evicted
      input.addData((3L, at(12, 30), "payload B"))
      q.processAllAvailable()
      // past the horizon: payload A must be ADMITTED again — proves the state
      // row was dropped, i.e. memory is O(horizon), not O(corpus)
      input.addData((4L, at(12, 35), "payload A"))
      q.processAllAvailable()
      spark.table("cddExp").select("doc_id").collect().map(_.getLong(0)).sorted shouldBe
        Seq(1L, 3L, 4L)
    } finally q.stop()
  }

  test("streaming sketch aggregate: HLL++ distinct users per window (x22 twin)") {
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val events = input.toDF.toDF("event_id", "ts", "user_id", "event_type")
    val q = EventStream.approxUsers(events)
      .writeStream.format("memory").queryName("au").outputMode("update").start()
    try {
      // 3 distinct users for click (7 twice), 1 for view — HLL++ at rsd 0.05
      // is exact at this cardinality
      input.addData(
        (1L, ts(5), 7L, "click"), (2L, ts(10), 7L, "click"), (3L, ts(12), 8L, "click"),
        (4L, ts(15), 9L, "click"), (5L, ts(20), 9L, "view"))
      q.processAllAvailable()
      val rows = spark.table("au")
        .select(col("event_type"), col("approx_users")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      rows shouldBe Set(("click", 3L), ("view", 1L))
    } finally q.stop()
  }

  test("as-of enrichment parity: streamed clicks ≡ batch x28 on the same rows") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    def key(r: org.apache.spark.sql.Row) = (
      r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3))
    val input = MemoryStream[(Long, Long, Timestamp)]
    val q = EventStream
      .enrichClicksWithViews(input.toDF.toDF("event_id", "user_id", "ts"), views)
      .writeStream.format("memory").queryName("asofx28").outputMode("append").start()
    try {
      val (first, second) = clicks.splitAt(clicks.length / 2)
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq) // across micro-batches — stateless, so no drift
      q.processAllAvailable()
      val got = spark.table("asofx28").collect().map(key).toSet
      // parity against the ORACLE-CHECKED batch query itself, not a re-derivation
      // registry: x28_ev_asof
      val want = graft.queries.EventsQueries.asofClickView.run(spark, dir)
        .collect().map(key).toSet
      got shouldBe want
      got should not be empty
    } finally q.stop()
  }

  test("stream-stream interval join parity: live clicks × live views ≡ batch pairs") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, dir)
    def side(t: String) = ev.filter(col("event_type") === t)
      .select("event_id", "user_id", "ts")
    val clickRows = side("click").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val viewRows = side("view").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))

    val ci = MemoryStream[(Long, Long, Timestamp)]
    val vi = MemoryStream[(Long, Long, Timestamp)]
    val q = EventStream.clickViewPairs(
        ci.toDF.toDF("event_id", "user_id", "ts"),
        vi.toDF.toDF("event_id", "user_id", "ts"))
      .writeStream.format("memory").queryName("sspairs").outputMode("append").start()
    try {
      // both sides split across micro-batches, views lagging clicks by one
      // batch — pairs spanning the batch boundary must come from the state
      // store, which is the property under test
      val (c1, c2) = clickRows.splitAt(clickRows.length / 2)
      val (v1, v2) = viewRows.splitAt(viewRows.length / 2)
      ci.addData(c1.toSeq); q.processAllAvailable()
      vi.addData(v1.toSeq); q.processAllAvailable()
      ci.addData(c2.toSeq); vi.addData(v2.toSeq)
      q.processAllAvailable()
      val got = spark.table("sspairs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // batch twin: the same interval condition as a plain join
      val want = (for {
        (cid, cu, cts) <- clickRows
        (vid, vu, vts) <- viewRows
        if cu == vu
        cus = cts.getTime * 1000 + cts.getNanos / 1000 % 1000
        vus = vts.getTime * 1000 + vts.getNanos / 1000 % 1000
        if vus <= cus && vus >= cus - 1800000000L
      } yield (cid, cu, vid, cus - vus)).toSet
      got shouldBe want
      got should not be empty
    } finally q.stop()
  }

  test("exactly-once parquet sink: an epoch replay replaces its own partition, never duplicates") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("eo-sink").toString
    val path = s"$base/table"
    // epochs 0 and 1 commit
    EventStream.writeEpoch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L, path)
    EventStream.writeEpoch(Seq((3L, "c")).toDF("id", "v"), 1L, path)
    // recovery replays epoch 0 — same rows again must NOT duplicate
    EventStream.writeEpoch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L, path)
    val t1 = spark.read.parquet(path)
    t1.count() shouldBe 3
    t1.filter(col("__epoch") === 0).count() shouldBe 2
    // a replay that RECOMPUTES differently (upstream fix) replaces cleanly
    EventStream.writeEpoch(Seq((9L, "z")).toDF("id", "v"), 0L, path)
    val t2 = spark.read.parquet(path)
    t2.count() shouldBe 2
    t2.filter(col("__epoch") === 0).select("id").collect().map(_.getLong(0)).toSeq shouldBe Seq(9L)
    t2.filter(col("__epoch") === 1).count() shouldBe 1 // other epochs untouched

    // end-to-end: the foreachBatch sink lands each micro-batch once
    val input = MemoryStream[(Long, String)]
    val p2 = s"$base/stream"
    val q = EventStream.exactlyOnceParquetSink(
      input.toDF.toDF("id", "v"), p2, s"$base/ckpt")
    try {
      input.addData((10L, "x")); q.processAllAvailable()
      input.addData((11L, "y")); q.processAllAvailable()
      val got = spark.read.parquet(p2)
      got.select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(10L, 11L)
      got.select("__epoch").distinct().count() shouldBe 2
    } finally q.stop()
  }

  test("stream-stream leftOuter: an unmatched click emits its null-view row once the watermark proves no view can come") {
    import spark.implicits._
    def at(hhmm: String) = Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    val ci = MemoryStream[(Long, Long, Timestamp)]
    val vi = MemoryStream[(Long, Long, Timestamp)]
    val q = EventStream.clickViewPairs(
        ci.toDF.toDF("event_id", "user_id", "ts"),
        vi.toDF.toDF("event_id", "user_id", "ts"),
        joinType = "leftOuter")
      .writeStream.format("memory").queryName("sslo").outputMode("append").start()
    try {
      ci.addData((1L, 7L, at("10:00"))) // the orphan click — user 7 never views
      vi.addData((100L, 8L, at("10:00"))) // unrelated user so the view watermark moves
      q.processAllAvailable()
      // the orphan must NOT emit yet: a matching view could still arrive
      spark.table("sslo").count() shouldBe 0
      // push BOTH watermarks past click_ts + horizon + lateness
      ci.addData((2L, 9L, at("14:00")))
      vi.addData((101L, 9L, at("14:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val orphan = spark.table("sslo").collect().filter(_.getLong(0) == 1L)
      orphan.length shouldBe 1
      orphan.head.isNullAt(2) shouldBe true // view_id
      orphan.head.isNullAt(3) shouldBe true // gap_us
    } finally q.stop()
  }

  test("rolling 1h activity parity: streamed events ≡ batch x38 on the same rows") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, dir)
      .withColumn("cents", org.apache.spark.sql.functions.floor(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "ts", "cents")
      .collect()
      .map(r => EventStream.RollingInput(r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getLong(3)))
      .sortBy(e => (e.ts.getTime, e.event_id)) // the documented ordering contract
    val input = MemoryStream[EventStream.RollingInput]
    val q = EventStream.rollingActivity(input.toDS())
      .writeStream.format("memory").queryName("roll38").outputMode("append").start()
    try {
      val (first, second) = ev.splitAt(ev.length / 2)
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq) // event-time-ordered split across micro-batches
      q.processAllAvailable()
      val got = spark.table("roll38").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // parity against the ORACLE-CHECKED batch query itself
      // registry: x38_ev_rolling
      val want = graft.queries.EventsQueries.rollingActivity.run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      got shouldBe want
      got should not be empty
    } finally q.stop()
  }

  test("rolling activity state prunes to the horizon and counts equal-ts peers") {
    import spark.implicits._
    val input = MemoryStream[EventStream.RollingInput]
    val q = EventStream.rollingActivity(input.toDS(), windowSeconds = 600)
      .writeStream.format("memory").queryName("rollpeer").outputMode("append").start()
    try {
      // two events at the SAME timestamp: each must count the other (peers)
      input.addData(
        EventStream.RollingInput(1L, 9L, ts(0), 10L),
        EventStream.RollingInput(2L, 9L, ts(0), 20L),
        EventStream.RollingInput(3L, 9L, ts(5), 5L))   // 5 min later: window holds all
      q.processAllAvailable()
      input.addData(
        EventStream.RollingInput(4L, 9L, ts(20), 1L))  // 20 min later: 10-min window slid past
      q.processAllAvailable()
      val got = spark.table("rollpeer").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      got shouldBe Set(
        (1L, 2L, 30L), (2L, 2L, 30L), // equal-ts peers see each other
        (3L, 3L, 35L),
        (4L, 1L, 1L))                 // old events pruned out of the window
    } finally q.stop()
  }

  test("session_window rollup parity: streamed sessions ≡ batch x46 on the same rows") {
    import spark.implicits._
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    /** (user, n_events, duration_us) multiset of the streamed sessions and
      * of batch x46, both over `dir`'s events. */
    def streamedAndBatch(dir: String, name: String) = {
      val ev = graft.Tables.events(spark, dir)
        .select("user_id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)))
        .sortBy(_._2.getTime)
      val input = MemoryStream[(Long, Timestamp)]
      val q = EventStream.sessionStats(input.toDF.toDF("user_id", "ts"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        input.addData(ev.toSeq)
        q.processAllAvailable()
        // a far-future sentinel (user -1) advances the watermark so every
        // real session closes and appends its final row
        val sentinelTs = new Timestamp(ev.map(_._2.getTime).max + 86400000L)
        input.addData((-1L, sentinelTs))
        q.processAllAvailable()
        val got = spark.table(name).collect()
          .map(key).filter(_._1 >= 0).groupBy(identity).view.mapValues(_.length).toMap
        // batch x46 emits (user, session_id, n, duration); compare the
        // (user, n, duration) multiset — streaming windows carry no ordinal
        // registry: x46_ev_session_stats
        val want = graft.queries.EventsQueries.sessionStats.run(spark, dir)
          .select("user_id", "n_events", "duration_us").collect()
          .map(key).groupBy(identity).view.mapValues(_.length).toMap
        (got, want)
      } finally q.stop()
    }
    val (got, want) = streamedAndBatch("/root/testdata/sf0.001", "sess46")
    got shouldBe want
    got should not be empty

    // exact-gap boundary: user 1's two events are exactly 30 min apart (one
    // session), user 2's are 30 min + 1 µs apart (two sessions)
    val tmp = java.nio.file.Files.createTempDirectory("sess-gap").toString
    val gapUs = 1800000000L
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    def at(us: Long) = {
      val t = new Timestamp(t0.getTime + us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    Seq((1L, 1L, 0L), (2L, 1L, gapUs), (3L, 2L, 0L), (4L, 2L, gapUs + 1))
      .map { case (id, u, us) => (id, at(us), u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val (gotGap, wantGap) = streamedAndBatch(tmp, "sess46gap")
    gotGap shouldBe Map((1L, 2L, gapUs) -> 1, (2L, 1L, 0L) -> 2)
    gotGap shouldBe wantGap
  }

  test("funnel parity: last streamed snapshot per user ≡ batch x32 on the same rows") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, dir)
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => EventStream.FunnelInput(r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
      .sortBy(e => (e.ts.getTime, e.event_id)) // the documented ordering contract
    val input = MemoryStream[EventStream.FunnelInput]
    // idle expiry far beyond the corpus span: parity needs no state to
    // expire mid-run (expiry restarts a reappearing user at stage 0 — the
    // documented contract, exercised by the sessionize expiry test's shape)
    val q = EventStream.funnel(input.toDS(), idleExpireSeconds = 365L * 86400)
      .writeStream.format("memory").queryName("fun32").outputMode("append").start()
    try {
      val (first, second) = ev.splitAt(ev.length / 2)
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq) // event-time-ordered split across micro-batches
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) = (
        r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))
      // snapshots only ever ADVANCE the funnel (in-order data), so the
      // final snapshot per user is the componentwise max
      val got = spark.table("fun32").collect().map(key)
        .groupBy(_._1).view.mapValues(_.maxBy(t => (t._2, t._3, t._4, t._5))).values.toSet
      // parity against the ORACLE-CHECKED batch query itself
      // registry: x32_ev_funnel
      val want = graft.queries.EventsQueries.funnel.run(spark, dir)
        .select(col("user_id"), col("funnel_stage"), col("t_view"), col("t_click"), col("t_purchase"))
        .collect().map(key).toSet
      got shouldBe want
      got should not be empty
      got.exists(_._2 == 3) shouldBe true // purchases exist in the corpus
    } finally q.stop()
  }

  test("attribution parity: streamed purchases ≡ batch x78 on the same rows") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, dir)
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => EventStream.AttributionInput(
        r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
      .sortBy(e => (e.ts.getTime, e.event_id)) // the documented ordering contract
    val input = MemoryStream[EventStream.AttributionInput]
    val q = EventStream.attribution(input.toDS())
      .writeStream.format("memory").queryName("attr78").outputMode("append").start()
    try {
      val (first, second) = ev.splitAt(ev.length / 2)
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.table("attr78").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      val want = graft.queries.EventsQueries.attribution.run(spark, dir)
        .select("event_id", "ttc_us").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      got shouldBe want
      got should not be empty
      got.values.exists(_ >= 0L) shouldBe true // attributed purchases exist
      got.values.exists(_ == -1L) shouldBe true // orphan purchases exist
    } finally q.stop()
  }

  test("attribution state expires at the session-gap horizon; a reappearing purchase is orphaned") {
    import spark.implicits._
    val input = MemoryStream[EventStream.AttributionInput]
    // tiny lateness so the watermark advances past the gap quickly
    val q = EventStream.attribution(input.toDS(), gapSeconds = 60, lateness = "0 seconds")
      .writeStream.format("memory").queryName("attrexp").outputMode("append").start()
    try {
      input.addData(EventStream.AttributionInput(1L, 7L, ts(0), "view"))
      q.processAllAvailable()
      // push the watermark far past ts(0) + gap: user 7's state expires
      input.addData(EventStream.AttributionInput(2L, 8L, ts(30), "view"))
      q.processAllAvailable()
      // same user returns: the silence gap means a NEW session — purchase
      // has no view in ITS session whether state survived or expired
      input.addData(EventStream.AttributionInput(3L, 7L, ts(40), "purchase"))
      q.processAllAvailable()
      val rows = spark.table("attrexp").collect()
        .map(r => r.getLong(0) -> r.isNullAt(2)).toMap
      rows shouldBe Map(3L -> true) // orphaned, and views emit nothing
    } finally q.stop()
  }

  test("funnel resolves a click and its qualifying view inside one batch (ties included)") {
    import spark.implicits._
    val input = MemoryStream[EventStream.FunnelInput]
    val q = EventStream.funnel(input.toDS())
      .writeStream.format("memory").queryName("funTie").outputMode("append").start()
    try {
      // click sorts BEFORE the view (same ts, lower id) — batch semantics
      // still admit it (us >= t_view with equality); purchase follows later
      input.addData(
        EventStream.FunnelInput(1L, 5L, ts(10), "click"),
        EventStream.FunnelInput(2L, 5L, ts(10), "view"),
        EventStream.FunnelInput(3L, 5L, ts(20), "purchase"),
        EventStream.FunnelInput(4L, 6L, ts(10), "error")) // stage-0 user appears too
      q.processAllAvailable()
      val got = spark.table("funTie").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      got shouldBe Set((5L, 3), (6L, 0))
    } finally q.stop()
  }

  test("funnel state expires after the idle horizon; reappearing user restarts at stage 0") {
    import spark.implicits._
    def at(hour: Int, minute: Int): Timestamp =
      Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")
    val input = MemoryStream[EventStream.FunnelInput]
    val q = EventStream.funnel(input.toDS(), idleExpireSeconds = 600, lateness = "1 minute")
      .writeStream.format("memory").queryName("funExp").outputMode("append").start()
    try {
      // b1: user 1 views @10:00 → snapshot stage 1; timeout armed for 10:10
      input.addData(EventStream.FunnelInput(1L, 1L, at(10, 0), "view"))
      q.processAllAvailable()
      // b2: user 2 @11:00 advances the watermark past 10:10 → user 1 expires
      input.addData(EventStream.FunnelInput(2L, 2L, at(11, 0), "view"))
      q.processAllAvailable()
      input.addData(EventStream.FunnelInput(3L, 2L, at(11, 5), "click"))
      q.processAllAvailable()
      // b4: user 1 reappears with a CLICK — had the state survived, the
      // 10:00 view would gate it to stage 2; expired state restarts at 0,
      // and a click with no view stays stage 0 (bounded-state contract)
      input.addData(EventStream.FunnelInput(4L, 1L, at(11, 30), "click"))
      q.processAllAvailable()
      val rows = spark.table("funExp").collect()
        .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      rows(1L) shouldBe Set(1, 0) // stage 1 before expiry; stage 0 after restart
      rows(2L) shouldBe Set(1, 2)
    } finally q.stop()
  }

  test("resample+ffill parity: streamed grid ≡ batch x48 on the same rows") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, dir)
      .select("event_id", "user_id", "ts", "value").collect()
      .map(r => EventStream.ResampleInput(r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
      .sortBy(e => (e.ts.getTime, e.event_id)) // the documented ordering contract
    val input = MemoryStream[EventStream.ResampleInput]
    // remnant expiry far beyond the corpus span: parity needs every gap
    // forward-filled, so no user's fill value may expire mid-run
    val q = EventStream.resampleFfill(input.toDS(), expireAfterSeconds = 365L * 86400)
      .writeStream.format("memory").queryName("rs48").outputMode("append").start()
    try {
      val (first, second) = ev.splitAt(ev.length / 2)
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq) // event-time-ordered split across micro-batches
      q.processAllAvailable()
      // a far-future sentinel (user -1) advances the watermark past every
      // slot end, so each user's final pending slot closes and appends
      val sentinelTs = new Timestamp(ev.map(_.ts.getTime).max + 7200000L)
      input.addData(EventStream.ResampleInput(-1L, -1L, sentinelTs, 0.0))
      q.processAllAvailable()
      val got = spark.table("rs48").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._1 >= 0).toSet
      // parity against the ORACLE-CHECKED batch query itself
      // registry: x48_ev_resample_ffill
      val want = graft.queries.EventsQueries.resampleFfill.run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      got shouldBe want
      got should not be empty
    } finally q.stop()
  }

  test("resample+ffill fills gap slots across micro-batches after a slot closes") {
    import spark.implicits._
    def at(hour: Int, minute: Int): Timestamp =
      Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")
    val input = MemoryStream[EventStream.ResampleInput]
    val q = EventStream.resampleFfill(input.toDS(), lateness = "1 minute")
      .writeStream.format("memory").queryName("rsGap").outputMode("append").start()
    try {
      // slot 10: two obs — the later one (id 2) must win the slot
      input.addData(
        EventStream.ResampleInput(1L, 9L, at(10, 0), 1.0),
        EventStream.ResampleInput(2L, 9L, at(10, 30), 2.0))
      q.processAllAvailable()
      // another user's event advances the watermark past slot 10's end —
      // the timeout closes user 9's slot 10 with value 2.0
      input.addData(EventStream.ResampleInput(3L, 8L, at(11, 30), 9.0))
      q.processAllAvailable()
      // user 9 reappears at slot 13: gaps 11 and 12 must forward-fill 2.0
      // even though slot 10 was already closed by the watermark (remnant
      // state carries the fill value across the timeout)
      input.addData(EventStream.ResampleInput(4L, 9L, at(13, 15), 7.0))
      q.processAllAvailable()
      val user9 = spark.table("rsGap").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._1 == 9L).map(t => (t._2, t._3)).sortBy(_._1)
      // three consecutive slots — the watermark-closed slot (hour 10, won
      // by the later obs 2.0) plus the forward-filled hours 11 and 12; the
      // reappearance slot (hour 13) stays pending, so it must NOT be here
      user9.map(_._2).toSeq shouldBe Seq(2.0, 2.0, 2.0)
      user9.map(_._1).toSeq shouldBe (user9.head._1 to user9.head._1 + 2)
    } finally q.stop()
  }

  test("stateful gap sessionization across micro-batches (streaming x16 twin)") {
    import spark.implicits._
    val input = MemoryStream[EventStream.SessionInput]
    val q = EventStream.sessionize(input.toDS(), gapSeconds = 600) // 10 min gap
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // batch 1: user 1 events at 10:00, 10:05 (one session)
      input.addData(
        EventStream.SessionInput(1L, 1L, ts(0)),
        EventStream.SessionInput(2L, 1L, ts(5)))
      q.processAllAvailable()
      // batch 2: 10:08 continues session 1; 10:30 starts session 2 (>10 min
      // after 10:08); user 2 starts their own session 1.
      input.addData(
        EventStream.SessionInput(3L, 1L, ts(8)),
        EventStream.SessionInput(4L, 1L, ts(30)),
        EventStream.SessionInput(5L, 2L, ts(9)))
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      rows shouldBe Set(
        (1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L), (4L, 1L, 2L), (5L, 2L, 1L))
    } finally q.stop()
  }

  test("sessionize restart-from-checkpoint: per-user state survives a stop; converges with an uninterrupted mirror") {
    import spark.implicits._
    // r18 verdict item 3: the cross-micro-batch test above never stops a
    // live query — this drives the flatMapGroupsWithState state store
    // across a real stop/restart. The distinguishing probe: user 1's
    // post-restart event at 10:30 is > gap after the pre-stop 10:05, so a
    // RESTORED state assigns session 2 — a lost state store would restart
    // the counter and also read session 1, which the pre-restart events
    // already used (the memory sink can't recover, so rows land in an
    // epoch ledger via foreachBatch).
    val base = java.nio.file.Files.createTempDirectory("sess-restart").toString
    val out = s"$base/led"
    val input = MemoryStream[EventStream.SessionInput]
    def start() = EventStream.sessionize(input.toDS(), gapSeconds = 600)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStream.SessionAssignment], e: Long) =>
        EventStream.writeEpoch(b.toDF(), e, out)
      }
      .start()
    val b1 = Seq(
      EventStream.SessionInput(1L, 1L, ts(0)),
      EventStream.SessionInput(2L, 1L, ts(5)))
    val b2 = Seq(
      EventStream.SessionInput(3L, 1L, ts(8)),   // < gap after 10:05 → still session 1
      EventStream.SessionInput(4L, 1L, ts(30)),  // > gap after 10:08 → session 2
      EventStream.SessionInput(5L, 2L, ts(9)))   // new user post-restart
    val q1 = start()
    try { input.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { input.addData(b2); q2.processAllAvailable() } finally q2.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("session_id"))).toSet
    got shouldBe Set(
      (1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L), (4L, 1L, 2L), (5L, 2L, 1L))
    // mirror: the same five events through an UNINTERRUPTED query agree
    val m = java.nio.file.Files.createTempDirectory("sess-mirror").toString
    val input2 = MemoryStream[EventStream.SessionInput]
    val qm = EventStream.sessionize(input2.toDS(), gapSeconds = 600)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$m/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStream.SessionAssignment], e: Long) =>
        EventStream.writeEpoch(b.toDF(), e, s"$m/led")
      }
      .start()
    try {
      input2.addData(b1); qm.processAllAvailable()
      input2.addData(b2); qm.processAllAvailable()
    } finally qm.stop()
    spark.read.parquet(s"$m/led").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("session_id"))).toSet shouldBe got
  }

  test("session state expires once the watermark passes the gap horizon") {
    import spark.implicits._
    def at(hour: Int, minute: Int): Timestamp =
      Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")
    val input = MemoryStream[EventStream.SessionInput]
    val q = EventStream.sessionize(input.toDS(), gapSeconds = 600, lateness = "1 minute")
      .writeStream.format("memory").queryName("sessExp").outputMode("append").start()
    try {
      // b1: user 1 @10:00 → session 1; timeout armed for 10:10.
      input.addData(EventStream.SessionInput(1L, 1L, at(10, 0)))
      q.processAllAvailable()
      // b2: user 2 @11:00 → advances the watermark to 10:59 (> 10:10).
      input.addData(EventStream.SessionInput(2L, 2L, at(11, 0)))
      q.processAllAvailable()
      // b3: another user-2 event; user 1 has no data, its timeout fires →
      // state removed (bounded-state guarantee).
      input.addData(EventStream.SessionInput(3L, 2L, at(11, 5)))
      q.processAllAvailable()
      // b4: user 1 reappears @11:30 — fresh state, counter restarts at 1
      // (would be 2 had the state survived).
      input.addData(EventStream.SessionInput(4L, 1L, at(11, 30)))
      q.processAllAvailable()
      val rows = spark.table("sessExp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      rows shouldBe Set(
        (1L, 1L, 1L), (2L, 2L, 1L), (3L, 2L, 1L), (4L, 1L, 1L))
    } finally q.stop()
  }

  test("upsert parity: latest streamed version per key ≡ batch x74 on the same changes") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
    val snap = graft.Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    def ch(d: Doc, op: String, seq: Long) =
      EventStream.DocChange(d.doc_id, d.text, d.lang, d.source, d.n_chars, op, seq)
    // the exact x74 changeset, derived the same way from the same corpus
    val updates = snap.filter(_.doc_id % 10 == 3).map(d =>
      ch(d.copy(text = d.text + " [rev2]", n_chars = d.n_chars + 7), "U", 2))
    val deletes3 = snap.filter(_.doc_id % 10 == 7).map(ch(_, "D", 3))
    val deletes5 = snap.filter(_.doc_id % 20 == 3).map(ch(_, "D", 5))
    val inserts = snap.filter(_.doc_id % 10 == 5).map(d =>
      ch(d.copy(doc_id = d.doc_id + 1000000L, text = "new " + d.text,
        source = "src_new", n_chars = d.n_chars + 4), "I", 1))
    val input = MemoryStream[EventStream.DocChange]
    val q = EventStream.upsertLatest(input.toDS())
      .writeStream.format("memory").queryName("ups74").outputMode("append").start()
    try {
      // b1: the snapshot seeds as op='I' below every live seq
      input.addData(snap.map(ch(_, "I", 0)).toSeq)
      q.processAllAvailable()
      // b2: the seq-5 deletes land FIRST, plus the inserts
      input.addData((deletes5 ++ inserts).toSeq)
      q.processAllAvailable()
      // b3: the seq-2 updates arrive AFTER the seq-5 delete they lose to,
      // plus the seq-3 deletes
      input.addData((updates ++ deletes3).toSeq)
      q.processAllAvailable()
      // latest emission per key (max seq emitted), live rows only
      val got = spark.table("ups74").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          r.getLong(4), r.getBoolean(5), r.getLong(6)))
        .groupBy(_._1).view.mapValues(_.maxBy(v => (v._7, if (v._6) "D" else "U")))
        .values.filterNot(_._6)
        .map(v => (v._1, v._2, v._3, v._4, v._5)).toSet
      // registry: x74_snapshot_merge
      val want = graft.queries.TextQueries.snapshotMerge.run(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          r.getLong(4))).toSet
      got shouldBe want
      got should not be empty
    } finally q.stop()
  }

  test("upsert resolves in-batch conflicts and ignores stale late arrivals") {
    import spark.implicits._
    def c(id: Long, text: String, op: String, seq: Long) =
      EventStream.DocChange(id, text, "en", "s", text.length.toLong, op, seq)
    val input = MemoryStream[EventStream.DocChange]
    val q = EventStream.upsertLatest(input.toDS())
      .writeStream.format("memory").queryName("upsLww").outputMode("append").start()
    try {
      // one batch, conflicting ops: seq 5 wins over 1 and 3
      input.addData(c(1L, "v1", "U", 1), c(1L, "v5", "U", 5), c(1L, "v3", "U", 3),
        c(2L, "gone", "D", 2))
      q.processAllAvailable()
      // stale arrival (seq 4 < 5): state unchanged, NO emission
      input.addData(c(1L, "stale", "U", 4))
      q.processAllAvailable()
      // genuine advance emits
      input.addData(c(1L, "v9", "U", 9))
      q.processAllAvailable()
      val got = spark.table("upsLww").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(5), r.getLong(6))).toSet
      got shouldBe Set(
        (1L, "v5", false, 5L), (2L, "gone", true, 2L), (1L, "v9", false, 9L))
    } finally q.stop()
  }

  test("upsert restart-from-checkpoint: the winning version survives a stop — a post-restart stale change emits nothing") {
    import spark.implicits._
    // r19 verdict item 2: the in-batch conflict test above never stops a
    // live query. The distinguishing probe only a RESTORED state can pass:
    // after the restart, a STALE change (seq 3 < the pre-stop winner's 5)
    // arrives ALONE for doc 1 — restored state suppresses it (no emission
    // at all for doc 1 in that epoch); a lost state store would crown
    // seq 3 as first-seen and emit it. Memory sinks can't recover a
    // checkpoint, so rows land via foreachBatch + the epoch ledger.
    def c(id: Long, text: String, op: String, seq: Long) =
      EventStream.DocChange(id, text, "en", "s", text.length.toLong, op, seq)
    val base = java.nio.file.Files.createTempDirectory("ups-restart").toString
    val out = s"$base/led"
    val input = MemoryStream[EventStream.DocChange]
    def start() = EventStream.upsertLatest(input.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStream.DocVersion], e: Long) =>
        EventStream.writeEpoch(b.toDF(), e, out)
      }
      .start()
    val q1 = start()
    try { input.addData(c(1L, "v5", "U", 5)); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try {
      input.addData(c(1L, "v3-stale", "U", 3), c(2L, "new", "I", 1))
      q2.processAllAvailable()
      // and a genuine advance on the restored key still lands, same query
      input.addData(c(1L, "v7", "U", 7))
      q2.processAllAvailable()
    } finally q2.stop()
    def epoch(e: Long) = spark.read.parquet(out).collect()
      .filter(_.getAs[Number]("__epoch").longValue == e)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[Long]("seq")))
      .toSet
    epoch(0L) shouldBe Set((1L, "v5", 5L))
    epoch(1L) shouldBe Set((2L, "new", 1L)) // the stale seq-3 change: silence
    epoch(2L) shouldBe Set((1L, "v7", 7L))
  }

  test("funnel restart-from-checkpoint: a post-restart click gates on the pre-stop view") {
    import spark.implicits._
    // r19 verdict item 2: stage progression is the probe only a restored
    // state can pass — user 1's view arrives BEFORE the stop, the click +
    // purchase AFTER the restart. Restored t_view admits both (stage 3);
    // a lost state store would see a view-less batch and snapshot stage 0.
    val base = java.nio.file.Files.createTempDirectory("funnel-restart").toString
    val out = s"$base/led"
    val input = MemoryStream[EventStream.FunnelInput]
    def start() = EventStream.funnel(input.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStream.FunnelSnapshot], e: Long) =>
        EventStream.writeEpoch(b.toDF(), e, out)
      }
      .start()
    val q1 = start()
    try {
      input.addData(EventStream.FunnelInput(1L, 1L, ts(0), "view"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData(
        EventStream.FunnelInput(2L, 1L, ts(5), "click"),
        EventStream.FunnelInput(3L, 1L, ts(6), "purchase"),
        EventStream.FunnelInput(4L, 2L, ts(7), "view")) // fresh key post-restart
      q2.processAllAvailable()
    } finally q2.stop()
    // epoch ids are NOT asserted absolutely (a no-data watermark-bump
    // batch may claim an id) — per-user epoch ORDER carries the story
    val led = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Number]("__epoch").longValue,
        r.getAs[Int]("funnel_stage"),
        Option(r.getAs[java.lang.Long]("t_view")),
        Option(r.getAs[java.lang.Long]("t_click")),
        Option(r.getAs[java.lang.Long]("t_purchase"))))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // user 1: the pre-stop snapshot reads stage 1; the post-restart one
    // reached stage 3 carrying the SAME pre-stop view time
    val u1 = led(1L)
    u1 should have size 2
    u1.head._3 shouldBe 1
    val tView0 = u1.head._4.get
    val after = u1.last
    after._2 should be > u1.head._2
    after._3 shouldBe 3
    after._4 shouldBe Some(tView0)
    after._5.get should be > tView0
    after._6.get should be >= after._5.get
    // the fresh key opened at stage 1 in the same restarted query
    val u2 = led(2L)
    u2 should have size 1
    u2.head._3 shouldBe 1
    u2.head._2 shouldBe after._2 // same post-restart batch
  }
}
