package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event operators
  * (graft.queries.EventsQueries): the same logical shapes — tumbling-window
  * aggregation, idempotent ingest dedup, gap sessionization, session
  * rollups, rolling activity, as-of enrichment, conversion funnels, and
  * resample+forward-fill — expressed over an unbounded source
  * (SURVEY.md §2.1 L). Each stateful twin is parity-tested against its
  * oracle-checked batch query on the same rows (EventStreamSpec).
  *
  * All transforms take/return streaming DataFrames; callers pick the sink
  * via `writeStream`. State is bounded by watermarks (window agg, dedup) or
  * explicit processing-time timeouts (sessions), so executors hold O(active
  * keys) state at any scale.
  *
  * Deliberately NOT twinned: x53's mixture sampling to a token budget and
  * x54's sequence packing — along with x54's span/efficiency derivatives
  * x112/x114, which inherit the same prefix-sum totality
  * (`TextQueries.mixtureSample`/`textPack` / `operators.PrefixQuota`).
  * Both are running-prefix-sum statements over a TOTAL order of the corpus —
  * "keep documents in priority order until source s reaches B_s tokens" —
  * and over an unbounded stream any prefix decision can be invalidated by
  * a later, higher-priority arrival, the same way a global sort has no
  * streaming form. A per-window variant (budget per event-time window) is
  * expressible with the window-agg + quota shapes here, but it answers a
  * different question (windowed quota, not corpus mixture) and would not
  * be parity-comparable to batch x53, so no twin is registered. This is a
  * semantic property of stream semantics, not an implementation gap.
  *
  * Also not twinned: x115's recency-decay score. Its weights are relative
  * to the CORPUS-FINAL instant (max ts), so every new arrival re-weights
  * all history — a keyed streaming state would need an exact downshift
  * `state >> Δdays` per arrival, and the 30-day weight FLOOR makes that
  * rescale lossy (capped old events must stop decaying, but a shifted
  * integer state cannot tell capped mass from uncapped). A horizonless
  * variant (no floor) IS exactly streamable by power-of-two downshift;
  * the registered query keeps the floor because a feature store serves
  * "never fully forget" scores, and its batch recompute is one cheap
  * partial-final pass (x115 bench: 0.3 s at sf0.1, linearity 0.096 at
  * 100×) — recompute, don't maintain, is the right production posture.
  */
object EventStream {

  /** File-source ingest: tail a directory of event parquet files as an
    * unbounded stream (the batch twin is `Tables.events`). Explicit schema —
    * streaming sources cannot infer. `maxFilesPerTrigger` bounds micro-batch
    * size so a backlog of files doesn't produce one giant batch. */
  def readEvents(spark: org.apache.spark.sql.SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Hourly tumbling-window counts/sums per event type with late-data
    * tolerance — the streaming form of x15_ev_time_bucket. Watermark bounds
    * the state store; partial aggregation still happens map-side. */
  def timeBucket(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** Streaming drift-bin counts (the x88_ev_drift shape, live): each
    * event-time window's values bucketed against PINNED reference edges —
    * the production form of drift monitoring, where the reference
    * distribution is a durable artifact ([[graft.operators.FeatureBins]]
    * fit offline, loaded here) and every closed window appends its
    * (window, type, bin, n) counts. The binning is
    * `FeatureBins.applyBins` unchanged — a stream-static broadcast join +
    * row-local bucket, stateless — so the only state is the windowed
    * count aggregate, bounded by the watermark. The ppm/L1 reduction of
    * x88 is a trivial batch rollup over this sink's rows (per-window
    * totals need the window CLOSED, which is exactly what append mode
    * guarantees here). */
  def driftBinCounts(events: DataFrame, edges: DataFrame,
      windowLength: String = "1 hour", lateness: String = "10 minutes"): DataFrame =
    graft.operators.FeatureBins
      .applyBins(events.withWatermark("ts", lateness), edges, "event_type", "value")
      .groupBy(window(col("ts"), windowLength).as("win"), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))

  /** Idempotent ingest: drop replayed event_ids within the watermark horizon
    * (exactly-once-ish dedup for at-least-once sources). */
  def dedupe(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicates("event_id", "ts")

  /** Idempotent CONTENT-keyed ingest dedup (the streaming twin of the
    * x01/x09 exact-dedup path): drops re-ingested payloads whose md5
    * fingerprint was already seen within the watermark horizon. Unlike
    * `dedupe` (which trusts an upstream event_id), this derives the dedup
    * key from the payload itself — the corpus-ingestion form, where the
    * same document re-arrives under fresh ids.
    *
    * Eviction: plain `dropDuplicates("fp_md5")` would NEVER expire state —
    * watermark cleanup only applies when the event-time column is one of
    * the dedup keys — so a long-running ingest would accumulate one state
    * row per distinct payload ever seen. `dropDuplicatesWithinWatermark`
    * keys the state on the fingerprint alone but stamps each entry with its
    * event time and evicts it once the watermark passes, so executors hold
    * O(distinct payloads within the horizon), not O(corpus). Payloads
    * re-arriving after the horizon are admitted again (at-least-once dedup
    * with a bounded memory, the only contract a stream can honor). */
  def dedupeByContent(docs: DataFrame, textCol: String = "text",
      lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp_md5", md5(col(textCol)))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fp_md5")

  /** Bloom-prefiltered exact membership of a document STREAM against a
    * static corpus (the streaming twin of x70): the corpus bitmap — a
    * [[graft.queries.TextQueries.bloomBuild]] artifact, loaded once at
    * query start and attached as a LITERAL array, the production shape of
    * "broadcast a fixed index to every micro-batch" — is probed row-locally
    * (codegen'd bit tests), and only bloom survivors join the static
    * per-key count table (broadcast; the `bloom_hit` conjunct in the join
    * condition keeps non-survivors from ever reaching it). Stateless and
    * watermark-free: every operator is row-local or stream-static, so
    * append mode emits one exact row per incoming doc — Bloom false
    * positives die in the verify join, false negatives cannot exist.
    * `corpusCounts`: (`key`, n BIGINT). Output: (doc_id, n_matches,
    * is_dup) — DocStreamSpec pins multiset parity with the batch
    * [[graft.queries.TextQueries.bloomMembership]]. */
  def bloomMembership(docs: DataFrame, keyCol: String, bits: Array[Long],
      corpusCounts: DataFrame, mBits: Int): DataFrame = {
    val probed = docs
      .withColumn("bits", typedlit(bits))
      .withColumn("ps", graft.queries.TextQueries.bloomPositions(col(keyCol), mBits))
      .withColumn("bloom_hit", graft.queries.TextQueries.bloomHitExpr)
    val cnt = broadcast(corpusCounts.toDF("__ck", "__n"))
    probed
      .join(cnt, probed(keyCol) === col("__ck") && col("bloom_hit"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("__n"), lit(0L)).as("n_matches"),
        col("__n").isNotNull.cast("int").as("is_dup"))
  }

  /** Per-window top-k tokens (the streaming twin of x42's heavy-hitters
    * shape): Misra-Gries summaries per (hourly window, lang) over a
    * watermarked document stream. The sketch is a fixed-size MERGEABLE
    * partial aggregate, so it drops into streaming aggregation exactly
    * like count/sum — map-side combine applies, and the per-group state
    * persisted in the state store is the m-slot summary, merged across
    * micro-batches — where an exact (group, token) count would hold
    * unbounded distinct-token state. Append mode emits each window's
    * final ranking when the watermark closes it. Exact while a group's
    * distinct tokens stay under `m` (the regime x42's oracle checks);
    * classical n/(m+1) undercount bound beyond (HeavyHittersSpec).
    * Output: (hour_start, lang, tok, cnt, rk). */
  def topkTokens(docs: DataFrame, m: Int = 1024, k: Int = 5,
      lateness: String = "10 minutes"): DataFrame = {
    val topk = udaf(new graft.functions.HeavyHitters(m, k)).withName("graft_topk_win")
    docs
      .withWatermark("ts", lateness)
      .select(col("ts"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(window(col("ts"), "1 hour").as("hour"), col("lang"))
      .agg(topk(col("tok")).as("tk"))
      .select(col("hour"), col("lang"), posexplode(col("tk")))
      .select(col("hour.start").as("hour_start"), col("lang"),
        col("col._1").as("tok"), col("col._2").as("cnt"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** Streaming sketch aggregates (the streaming twin of x22): HLL++
    * distinct users per hourly window — the sketch state is a mergeable,
    * fixed-size partial aggregate, so map-side combine still applies and
    * per-window state never grows with user cardinality (exact
    * countDistinct in a stream would buffer every key). */
  def approxUsers(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.05).as("approx_users"))

  /** As-of enrichment (the streaming twin of x28_ev_asof): each streamed
    * click gets the latest view by the same user at-or-before it, from a
    * STATIC view dimension. `AsOfJoin.asOfLookup` is STATELESS (broadcast
    * dim + row-local array pick — no window over the unbounded side), so
    * the exact batch operator runs unchanged as a stream-static enrichment;
    * EventStreamSpec asserts output parity with the oracle-checked batch
    * query on the same rows. Output schema matches x28:
    * (event_id, user_id, view_event_id, gap_us). */
  def enrichClicksWithViews(clicks: DataFrame, views: DataFrame): DataFrame =
    graft.operators.AsOfJoin.asOfLookup(clicks, views,
        key = "user_id", time = "ts", rightPayload = Seq("event_id", "ts"),
        tiebreak = "event_id")
      .select(col("event_id"), col("user_id"),
        col("asof.event_id").as("view_event_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof.ts"))).as("gap_us"))

  /** TRUE stream-stream interval join — two unbounded inputs, neither
    * broadcastable: every click pairs with EVERY view by the same user in
    * the trailing `horizon`, the general form [[enrichClicksWithViews]]'s
    * stream-static as-of lookup cannot express once the view side is
    * itself a live stream. Both sides carry a watermark and the join
    * condition bounds `view_ts` to a click-relative range, which is what
    * lets Spark size and EVICT the two state stores: a buffered view can
    * only match clicks until `click_watermark − horizon` passes it, so
    * state is O(rate × (horizon + lateness)) per side, never unbounded.
    * Inner join in append mode emits exactly-once pairs; pass
    * `joinType = "leftOuter"` for click-with-no-view rows (emitted when
    * the watermark proves no view can arrive — same state bound).
    *
    * At cluster scale both sides hash-partition on `user_id` (the join
    * key) — the same co-partitioning a batch interval join pays, amortized
    * across micro-batches by the state store. */
  def clickViewPairs(clicks: DataFrame, views: DataFrame,
      horizon: String = "30 minutes", lateness: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    val v = views
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", lateness)
    c.join(v,
        col("user_id") === col("v_user")
          && col("view_ts") <= col("click_ts")
          && col("view_ts") >= col("click_ts") - expr(s"INTERVAL $horizon"),
        joinType)
      .select(col("click_id"), col("user_id"), col("view_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("gap_us"))
  }

  /** Per-session rollup (the streaming twin of x46_ev_session_stats):
    * Spark's native `session_window` merges events at most `gap` apart
    * into one window per (user, session), and the aggregation emits each
    * session's event count and first-to-last
    * duration once the watermark closes it (append mode: exactly-once
    * final rows, state evicted on close). This is the built-in
    * session-window aggregation; [[sessionize]] remains the
    * flatMapGroupsWithState variant for when per-EVENT assignment is
    * needed rather than per-session rollups. `session_window` merges an
    * event that starts AT a session's end `t + gap`, so a new session
    * starts only when the silence EXCEEDS `gap` — batch x46's
    * `gap_us > 1800000000` rule (EventStreamSpec's parity test pins both
    * sides of the boundary). */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"))
      .select("user_id", "n_events", "duration_us")

  case class RollingInput(event_id: Long, user_id: Long, ts: Timestamp, cents: Long)
  case class RollingState(eventsUs: List[(Long, Long)]) // (tsMicros, cents), horizon-pruned
  case class RollingOutput(event_id: Long, user_id: Long, n_1h: Long, cents_1h: Long)

  /** Exact event-time MICROSECONDS of a Timestamp. `getTime` alone
    * truncates to milliseconds, which silently diverges from the batch
    * twins' `unix_micros` on sub-millisecond timestamps (the shipped
    * events data has them): window membership, peer detection, and gap
    * comparisons must all use the same clock as the oracle-checked batch
    * queries. */
  private def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Per-event rolling one-hour activity (the streaming twin of
    * x38_ev_rolling): each event is emitted with the count and fixed-point
    * value sum of the same user's events in the preceding hour, INCLUDING
    * same-timestamp peers — the batch RANGE frame's peer semantics.
    *
    * State per user is the event buffer inside the rolling horizon, pruned
    * each batch to `watermark − window` (a later on-time event's window
    * cannot reach below that) — executors hold O(events per user·hour),
    * the same bound the batch window's per-partition frame needs. State
    * expires via event-time timeout once the watermark passes the last
    * event + window. Same ordering contract as [[sessionize]]: exact when
    * a user's events arrive in-batch or in event-time order across
    * batches; a late straggler gets its own counts right but does not
    * retro-update rows already emitted (append mode).
    */
  def rollingActivity(events: Dataset[RollingInput], windowSeconds: Long = 3600,
      lateness: String = "10 minutes"): Dataset[RollingOutput] = {
    import events.sparkSession.implicits._
    val winUs = windowSeconds * 1000000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RollingState, RollingOutput](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[RollingInput], state: GroupState[RollingState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val buffered = state.getOption.map(_.eventsUs).getOrElse(Nil) ++
              batch.map(e => (micros(e.ts), e.cents))
            // whole batch joins the buffer BEFORE any emission so equal-ts
            // peers later in the batch count toward earlier rows (RANGE
            // frames include all peers of the current row)
            val out = batch.map { e =>
              val us = micros(e.ts)
              val inWin = buffered.filter { case (t, _) => t >= us - winUs && t <= us }
              RollingOutput(e.event_id, user, inWin.size.toLong, inWin.map(_._2).sum)
            }
            val horizon = state.getCurrentWatermarkMs() * 1000L - winUs
            val kept = buffered.filter(_._1 >= horizon)
            state.update(RollingState(kept))
            val lastMs = kept.map(_._1 / 1000L).maxOption.getOrElse(0L)
            state.setTimeoutTimestamp(
              math.max(lastMs + windowSeconds * 1000L, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  case class FunnelInput(event_id: Long, user_id: Long, ts: Timestamp, event_type: String)
  case class FunnelState(tView: Option[Long], tClick: Option[Long],
      tPurchase: Option[Long], lastUs: Long)
  case class FunnelSnapshot(user_id: Long, funnel_stage: Int,
      t_view: Option[Long], t_click: Option[Long], t_purchase: Option[Long])

  /** Ordered conversion funnel (the streaming twin of x32_ev_funnel): per
    * user, first view, first click at-or-after that view, first purchase
    * at-or-after that click — emitted as a SNAPSHOT row each time the
    * user's funnel state changes (append mode: the latest snapshot per
    * user is the batch query's row).
    *
    * Stage precedence inside a micro-batch mirrors the batch query's
    * aggregate semantics, not arrival order: the batch's views are merged
    * into `t_view` FIRST, then clicks gate on the updated `t_view`, then
    * purchases on the updated `t_click` — so a click and its qualifying
    * view landing in one batch resolve identically to batch x32 even when
    * the click sorts first (equal timestamps). A user's whole history in
    * one batch therefore reproduces the batch row exactly; across batches
    * the same ordering contract as [[sessionize]] applies (exact when
    * events arrive in event-time order; an out-of-order view that would
    * retroactively admit an already-seen click cannot, because streams
    * don't buffer discarded events).
    *
    * State is three optional stage times + the last-seen event time —
    * O(1) per user — and expires via event-time timeout once the
    * watermark passes `idleExpireSeconds` after the user's last event
    * (snapshots already emitted stay valid; a user reappearing after
    * expiry restarts at stage 0, the sessionize contract). */
  def funnel(events: Dataset[FunnelInput], idleExpireSeconds: Long = 86400,
      lateness: String = "10 minutes"): Dataset[FunnelSnapshot] = {
    import events.sparkSession.implicits._
    val idleMillis = idleExpireSeconds * 1000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelSnapshot](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[FunnelInput], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = rows.toSeq
            val prev = state.getOption
            val st = prev.getOrElse(FunnelState(None, None, None, Long.MinValue))
            def minOpt(a: Option[Long], b: Option[Long]): Option[Long] =
              (a ++ b).minOption
            // batch-aggregate precedence: views first, then gated clicks,
            // then gated purchases — all against the UPDATED prior stage
            val tView = minOpt(st.tView,
              evs.collect { case e if e.event_type == "view" => micros(e.ts) }.minOption)
            val tClick = minOpt(st.tClick, tView.flatMap(v =>
              evs.collect { case e if e.event_type == "click" && micros(e.ts) >= v =>
                micros(e.ts) }.minOption))
            val tPurchase = minOpt(st.tPurchase, tClick.flatMap(c =>
              evs.collect { case e if e.event_type == "purchase" && micros(e.ts) >= c =>
                micros(e.ts) }.minOption))
            val lastUs = math.max(st.lastUs,
              evs.map(e => micros(e.ts)).maxOption.getOrElse(Long.MinValue))
            val next = FunnelState(tView, tClick, tPurchase, lastUs)
            state.update(next)
            state.setTimeoutTimestamp(math.max(
              lastUs / 1000L + idleMillis, state.getCurrentWatermarkMs() + 1))
            // append-mode snapshots: emit only when the funnel moved (or on
            // first sight, so stage-0 users appear like in batch x32)
            if (prev.contains(next)) Iterator.empty
            else {
              val stage =
                if (tPurchase.isDefined) 3
                else if (tClick.isDefined) 2
                else if (tView.isDefined) 1
                else 0
              Iterator.single(FunnelSnapshot(user, stage, tView, tClick, tPurchase))
            }
          }
      }
  }

  case class AttributionInput(event_id: Long, user_id: Long, ts: Timestamp,
      event_type: String)
  case class AttribState(lastUs: Long, firstViewUs: Long) // firstViewUs < 0 = none yet
  case class AttributionRow(event_id: Long, user_id: Long, ttc_us: Option[Long])

  /** First-touch attribution (the streaming twin of x78_ev_attribution):
    * per purchase, the µs since the FIRST view of the same gap-session,
    * emitted the moment the purchase is processed (append mode — one row
    * per purchase, no snapshots to reconcile). The batch query's
    * session_id ordinal is deliberately NOT emitted: numbering sessions
    * 1..k per user needs a counter that must outlive every session (state
    * could never expire); the conversion lag is the product signal, and
    * the parity test compares on (event_id, ttc_us).
    *
    * State per user is two longs: last event time and the current
    * session's first view (if any). The expiry story is TIGHTER than the
    * other twins': once the watermark passes `lastUs + gap`, any later
    * event necessarily starts a NEW session with no carryover — so state
    * can expire at the session-gap horizon itself with zero behavioral
    * difference, not merely after an idle grace period. In-order arrival
    * reproduces batch x78 exactly (EventStreamSpec); within a micro-batch
    * rows are replayed in (event-time, event_id) order like [[sessionize]]. */
  def attribution(events: Dataset[AttributionInput], gapSeconds: Long = 1800,
      lateness: String = "10 minutes"): Dataset[AttributionRow] = {
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttribState, AttributionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[AttributionInput], state: GroupState[AttribState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var st = state.getOption.getOrElse(AttribState(Long.MinValue, -1L))
            val out = Seq.newBuilder[AttributionRow]
            evs.foreach { e =>
              val us = micros(e.ts)
              if (st.lastUs != Long.MinValue && us - st.lastUs > gapUs)
                st = st.copy(firstViewUs = -1L) // silence gap: new session
              if (e.event_type == "view" && st.firstViewUs < 0L)
                st = st.copy(firstViewUs = us)
              if (e.event_type == "purchase")
                out += AttributionRow(e.event_id, user,
                  if (st.firstViewUs >= 0L) Some(us - st.firstViewUs) else None)
              st = st.copy(lastUs = us)
            }
            state.update(st)
            state.setTimeoutTimestamp(math.max(
              st.lastUs / 1000L + gapSeconds * 1000L + 1,
              state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class ResampleInput(event_id: Long, user_id: Long, ts: Timestamp, value: Double)
  case class ResampleState(slot: Long, bestUs: Long, bestId: Long,
      bestValue: Double, finalEmitted: Boolean)
  case class GridRow(user_id: Long, slot: Long, value_ff: Double)

  /** Hourly resample + forward fill (the streaming twin of
    * x48_ev_resample_ffill): each user's event stream regularized onto an
    * hourly grid, carrying the last observed value into empty slots. Grid
    * rows are emitted as the stream advances: when a user's events move to
    * a LATER slot, the previous slot's final row plus forward-filled rows
    * for any skipped slots are appended; when the WATERMARK passes a
    * slot's end with no later event, the event-time timeout emits that
    * slot's row (the slot can no longer change — exactly-once final rows,
    * append mode).
    *
    * Per-slot pick matches batch: the observation with the greatest
    * (event-time µs, event_id) in the slot wins; `value_ff` is rounded
    * like the batch query (half-up, 6 dp) so parity is bit-exact.
    *
    * State per user is O(1): the current slot's best observation plus an
    * emitted flag. After the timeout emits the current slot, a REMNANT
    * state (the fill value) survives until `expireAfterSeconds` past the
    * last event, so a user reappearing within that horizon still gets skipped
    * slots forward-filled — only full expiry restarts the grid (the
    * documented late-data contract, like [[sessionize]]'s: in-order
    * arrival reproduces batch x48 exactly; an event arriving after its
    * slot was closed by the watermark is dropped rather than
    * retro-emitted). */
  def resampleFfill(events: Dataset[ResampleInput], slotSeconds: Long = 3600,
      expireAfterSeconds: Long = 86400, lateness: String = "10 minutes"): Dataset[GridRow] = {
    import events.sparkSession.implicits._
    val slotUs = slotSeconds * 1000000L
    val expireMillis = expireAfterSeconds * 1000L
    def round6(v: Double): Double =
      java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ResampleState, GridRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[ResampleInput], state: GroupState[ResampleState]) =>
          val slotEndMs = (st: ResampleState) => (st.slot + 1) * slotSeconds * 1000L
          if (state.hasTimedOut) {
            val st = state.get
            if (!st.finalEmitted) {
              // close the pending slot; keep a remnant so later events
              // within the expire horizon still forward-fill the gap
              state.update(st.copy(finalEmitted = true))
              state.setTimeoutTimestamp(math.max(
                slotEndMs(st) + expireMillis, state.getCurrentWatermarkMs() + 1))
              Iterator.single(GridRow(user, st.slot, round6(st.bestValue)))
            } else {
              state.remove()
              Iterator.empty
            }
          } else {
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[GridRow]
            var st = state.getOption.orNull
            sorted.foreach { e =>
              val us = micros(e.ts)
              val s = math.floorDiv(us, slotUs)
              if (st == null) {
                st = ResampleState(s, us, e.event_id, e.value, finalEmitted = false)
              } else if (s == st.slot) {
                // late event into an already-closed slot: dropped (the row
                // is final); otherwise the greatest (us, id) obs wins
                if (!st.finalEmitted &&
                    (us > st.bestUs || (us == st.bestUs && e.event_id > st.bestId)))
                  st = st.copy(bestUs = us, bestId = e.event_id, bestValue = e.value)
              } else if (s > st.slot) {
                if (!st.finalEmitted)
                  out += GridRow(user, st.slot, round6(st.bestValue))
                ((st.slot + 1) until s).foreach { g =>
                  out += GridRow(user, g, round6(st.bestValue))
                }
                st = ResampleState(s, us, e.event_id, e.value, finalEmitted = false)
              } // s < st.slot: out-of-contract late event — ignored
            }
            state.update(st)
            state.setTimeoutTimestamp(math.max(
              if (st.finalEmitted) slotEndMs(st) + expireMillis else slotEndMs(st),
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  case class SessionInput(event_id: Long, user_id: Long, ts: Timestamp)
  case class SessionState(sessionId: Long, lastTsMicros: Long)
  case class SessionAssignment(event_id: Long, user_id: Long, session_id: Long)

  /** Gap-based sessionization (the streaming twin of x16_ev_sessionize):
    * events > `gapSeconds` after the previous event of the same user start a
    * new session. Custom keyed state via flatMapGroupsWithState — the Spark
    * primitive for reference-less stateful operators (SURVEY.md §7.1).
    *
    * State is BOUNDED: an event-time timeout fires once the watermark
    * (`lateness` behind max event time) passes `gapSeconds` after a user's
    * last event — at that point no on-time event can extend the session, so
    * the per-user state is removed and executors hold O(users active within
    * the gap horizon), not O(all users ever seen). A user reappearing after
    * expiry restarts the per-user session counter at 1 (the batch twin,
    * which sees all history, would keep counting — stable cross-run ids at
    * scale would key sessions by start timestamp instead).
    *
    * Within one micro-batch the group iterator is NOT time-ordered, so
    * events are sorted per key before state is applied (correct as long as a
    * user's events arrive in-batch or in order across batches; a production
    * variant would buffer a watermark's worth of events in state).
    */
  def sessionize(events: Dataset[SessionInput], gapSeconds: Long = 1800,
      lateness: String = "10 minutes"): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAssignment](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
            val out = sorted.map { e =>
              val tsMicros = micros(e.ts) // exact µs — the batch twin's clock
              val newSession = st.sessionId == 0L ||
                tsMicros - st.lastTsMicros > gapSeconds * 1000000L
              st = SessionState(if (newSession) st.sessionId + 1 else st.sessionId, tsMicros)
              SessionAssignment(e.event_id, user, st.sessionId)
            }
            state.update(st)
            // Expire once no on-time event can continue this session. The
            // timeout must sit strictly past the current watermark, so late
            // stragglers inside the allowed lateness can't set one in the past.
            val gapEndMs = st.lastTsMicros / 1000L + gapSeconds * 1000L
            state.setTimeoutTimestamp(math.max(gapEndMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  case class DocChange(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long, op: String, seq: Long)
  case class UpsertState(seq: Long, op: String, text: String, lang: String,
      source: String, n_chars: Long)
  case class DocVersion(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long, deleted: Boolean, seq: Long)

  /** CDC upsert view (the streaming twin of x74_snapshot_merge /
    * `operators.MergeInto`): a stream of insert/update/delete changes
    * keyed on doc_id, materialized as the LATEST version per key —
    * last-writer-wins on (seq, op), the batch operator's exact conflict
    * rule. Emits a snapshot row whenever a key's winning version changes
    * (append mode; deletes surface as `deleted = true` tombstones so a
    * downstream sink can retract), so "latest emission per key" at any
    * point ≡ the batch merge over the changes seen so far — which
    * EventStreamSpec asserts across micro-batch boundaries, including a
    * stale change arriving AFTER the version it lost to.
    *
    * State is one winning version per key with NO timeout: an upsert view
    * is permanent by definition (any key may be revised forever), so the
    * bound is the KEY DOMAIN, not a time horizon — the honest cost of
    * MERGE semantics over a stream. At corpus scale that means the
    * RocksDB state store, or foreachBatch-compacting into a keyed table
    * and letting x74's batch merge own the history; bounded-domain keys
    * (the active-crawl frontier) fit executor memory directly. Seed the
    * initial snapshot as op='I' rows with seq below every live change. */
  def upsertLatest(changes: Dataset[DocChange]): Dataset[DocVersion] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[UpsertState, DocVersion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[DocChange], state: GroupState[UpsertState]) =>
          val prev = state.getOption
          // last-writer-wins across state + this batch: max (seq, op) —
          // the same lexicographic tiebreak as MergeInto's window order
          val best = (prev.toSeq ++ rows.map(c =>
            UpsertState(c.seq, c.op, c.text, c.lang, c.source, c.n_chars)))
            .maxBy(s => (s.seq, s.op))
          if (prev.contains(best)) Iterator.empty // losers change nothing
          else {
            state.update(best)
            Iterator.single(DocVersion(id, best.text, best.lang, best.source,
              best.n_chars, best.op == "D", best.seq))
          }
      }
  }

  /** EXACTLY-ONCE durable sink: stream → parquet table partitioned by
    * epoch, written via `foreachBatch` with per-epoch OVERWRITE. The
    * failure contract this buys: Structured Streaming replays a micro-batch
    * whose commit was not recorded, so an APPEND sink duplicates that
    * epoch's rows on recovery — dynamic partition overwrite makes the
    * replay REPLACE its own partition instead, and (epoch write + commit
    * log) together become idempotent. This is the standard exactly-once
    * recipe for sinks without transactions; a table format with atomic
    * commits (Iceberg/Delta-class) subsumes it.
    *
    * The downstream reader sees `__epoch` as a hive partition column —
    * per-epoch directories also give retention/compaction a natural unit
    * ([[graft.sources.Sinks.compactParquet]] with partition awareness). */
  def exactlyOnceParquetSink(df: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epoch: Long) =>
        writeEpoch(batch.toDF(), epoch, path)
      }
      .start()

  /** The idempotent epoch write `exactlyOnceParquetSink` commits: replayed
    * epochs overwrite ONLY their own partition (dynamic mode), leaving
    * every other epoch's data untouched. Factored out so the idempotence
    * is testable without restart choreography. */
  def writeEpoch(batch: DataFrame, epoch: Long, path: String): Unit =
    batch.withColumn("__epoch", lit(epoch))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("__epoch")
      .parquet(path)
}
