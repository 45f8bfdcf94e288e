package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-stream operators over the `events` table (batch form; the streaming
  * module runs the same shapes under Structured Streaming). JSON property
  * extraction, time-bucketed aggregation, and gap-based sessionization —
  * the core of an ingest pipeline's enrichment stage.
  */
object EventsQueries {
  import QueryDef.sql

  /** JSON property extraction from the `props` column. */
  val jsonExtract = sql(
    "x14_ev_json_extract",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .select("event_id", "k")
      .orderBy("event_id")
  }

  /** Tumbling-window (hourly) aggregation — the batch twin of the streaming
    * windowed agg. Partial aggregation happens map-side; the shuffle key
    * (hour, event_type) is low-cardinality and unskewed. */
  val timeBucket = sql(
    "x15_ev_time_bucket",
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Events of one user in (ts, event_id) order: the order the session rule,
    * its consumers and the per-user lag/split windows read in. */
  private val byUserTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
  private val byUserTimeCum = byUserTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The session rule, engine side: a user's first event, or an event more
    * than 30 min after the user's previous one, starts a new session.
    * `sessionGap(us)` (`us` = event time in exact microseconds) is the gap
    * to the previous event, to be added as `gap_us`; `sessionId` then
    * numbers the sessions by counting starts (a BIGINT already, so the
    * `.cast("long")` some consumers add changes no value). [[sessionsSql]]
    * is the oracle side. */
  private def sessionGap(us: Column): Column = us - lag(us, 1).over(byUserTime)
  private val sessionId: Column =
    sum(when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1).otherwise(0)).over(byUserTimeCum)

  /** The session rule, oracle side: `g` is the events (`event_id, user_id,
    * ts` plus the `carry` select items) with `gap_us`, `s` adds
    * `session_id`. Exact integer microseconds, so both engines agree
    * bit-for-bit. */
  private def sessionsSql(carry: String = ""): String =
    s"""g AS (
      |  SELECT event_id, user_id, ts$carry,
      |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |  FROM events),
      |s AS (
      |  SELECT *, CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g)""".stripMargin

  /** x16: gap-based sessionization (the session rule above). One shuffle
    * (window partition by user). */
  val sessionize = sql(
    "x16_ev_sessionize",
    s"""WITH ${sessionsSql()}
      |SELECT event_id, user_id, session_id FROM s ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .withColumn("gap_us", sessionGap(unix_micros(col("ts"))))
      .withColumn("session_id", sessionId)
      .select("event_id", "user_id", "session_id")
      .orderBy("event_id")
  }

  /** Sketch aggregates — what a 100 TB pipeline actually runs for cardinality
    * and quantile reporting: HyperLogLog++ distinct counts and quantile
    * sketches are mergeable partial aggregates (map-side combine, fixed-size
    * state per group), where exact distinct/percentile would buffer whole
    * groups.
    *
    * THE EXACT-REGIME ORACLE (the x42 move, applied to the last `no_oracle`
    * row): sketch INTERNALS are engine-specific, but each sketch has a
    * provable exact regime, and inputs can be CONSTRUCTED to sit inside it
    * at every scale factor:
    *
    *  - HLL++: its register state is a function of the DISTINCT-VALUE SET
    *    only (insert = register max, merge = register max — row count and
    *    partitioning are irrelevant), and in the small-cardinality range the
    *    estimator is linear counting `m·ln(m/(m−k))`, whose error ≈ k²/2m
    *    rounds to zero for k ≪ √m. `user_id % 16` pins the distinct set to
    *    ⊆ {0..15} at EVERY sf, so k ≤ 16 ≪ √512 = the rsd-0.05 register
    *    count, and the estimate IS the exact distinct count (probed: exact
    *    for domains ≤ 32, invariant under 1/7/32-way partitioning). The
    *    oracle is plain COUNT(DISTINCT user_id % 16).
    *  - percentile_approx(…, accuracy 10⁴): a Greenwald-Khanna summary
    *    never compresses while n ≤ accuracy (merge threshold 2·n/accuracy
    *    < 1 can never absorb a g = 1 sample, through partial-final merges
    *    too), so every observation is retained with exact rank and the
    *    query returns the element at 1-based rank ⌈q·n⌉. Aggregating the
    *    per-`user_id % 256` bucket maxima bounds n ≤ 256 per group BY
    *    CONSTRUCTION at every sf. The oracle replicates the rank rule
    *    explicitly: ROW_NUMBER = CEIL(q·n) — same double arithmetic, no
    *    quantile-function semantics gamble.
    *
    * The free-range sketches (raw user_id, raw value stream — genuinely
    * approximate) remain gated by ApproxStatsSpec (accuracy vs exact) and
    * SketchCanarySpec (pinned outputs); this query is the registry's
    * hash-checked witness that the SAME mergeable aggregates are exact
    * where theory says they must be. Cohort/bucket pre-aggregation is
    * itself the production pattern (per-cohort cardinality, per-cohort-max
    * percentiles), not a test artifice. */
  val approxStats = sql(
    "x22_ev_approx_stats",
    """WITH bm AS (
      |  SELECT event_type, user_id % 256 AS bucket, MAX(value) AS bucket_max
      |  FROM events GROUP BY 1, 2),
      |rk AS (
      |  SELECT event_type, bucket_max,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket_max) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM bm),
      |pct AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN bucket_max END) AS p50_bucket_max,
      |    MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN bucket_max END) AS p95_bucket_max
      |  FROM rk GROUP BY event_type),
      |hll AS (
      |  SELECT event_type, CAST(COUNT(DISTINCT user_id % 16) AS BIGINT) AS approx_user_cohorts
      |  FROM events GROUP BY event_type)
      |SELECT h.event_type, h.approx_user_cohorts, p.p50_bucket_max, p.p95_bucket_max
      |FROM hll h JOIN pct p USING (event_type) ORDER BY event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val hll = ev.groupBy("event_type")
      .agg(approx_count_distinct(pmod(col("user_id"), lit(16)), rsd = 0.05)
        .as("approx_user_cohorts"))
    val bucketMax = ev
      .groupBy(col("event_type"), pmod(col("user_id"), lit(256)).as("bucket"))
      .agg(max("value").as("bucket_max"))
    val pct = bucketMax.groupBy("event_type")
      .agg(
        percentile_approx(col("bucket_max"), lit(0.5), lit(10000)).as("p50_bucket_max"),
        percentile_approx(col("bucket_max"), lit(0.95), lit(10000)).as("p95_bucket_max"))
    hll.join(pct, Seq("event_type")).orderBy("event_type")
  }

  /** As-of enrichment: every click gets the latest view by the same user
    * at-or-before it (attribution — "which impression led here"). Runs the
    * join-free union+window plan of `operators.AsOfJoin` (one shuffle, no
    * inequality join, no per-key pair blowup — PlanQualitySpec asserts the
    * executed plan contains no join node); the oracle is the naive
    * inequality join + QUALIFY pick, which DuckDB can afford at test scale.
    * Gap arithmetic in exact integer microseconds (x16 precedent). */
  val asofClickView = sql(
    "x28_ev_asof",
    """WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
      |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id,
      |  v.event_id AS view_event_id,
      |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
      |FROM c LEFT JOIN v ON v.user_id = c.user_id AND v.ts <= c.ts
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY c.event_id
      |  ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST) = 1
      |ORDER BY c.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    graft.operators.AsOfJoin
      .asOf(clicks, views, key = "user_id", time = "ts",
        rightPayload = Seq("event_id", "ts"), tiebreak = "event_id")
      .select(col("event_id"), col("user_id"),
        col("asof.event_id").as("view_event_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof.ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  /** Point-in-interval classification: each event's value lands in its
    * band(s) via `operators.RangeJoin` — a bucket-expansion EQUI-join,
    * where the naive BETWEEN join could only plan as broadcast-nested-loop
    * (O(points × intervals)). The oracle runs the naive BETWEEN join,
    * affordable at test scale. Band table rides as literals here; the plan
    * shape is identical when it is a real table. */
  val valueBands = sql(
    "x29_ev_value_bands",
    """WITH bands(band, lo, hi) AS (VALUES
      |  ('b0_micro', 0.0, 10.0), ('b1_low', 10.0, 50.0), ('b2_mid', 50.0, 100.0),
      |  ('b3_high', 100.0, 200.0), ('b4_burst', 200.0, 500.0))
      |SELECT e.event_id, b.band, e.value
      |FROM events e JOIN bands b ON e.value BETWEEN b.lo AND b.hi
      |ORDER BY e.event_id, b.band""".stripMargin) { (s, d) =>
    import s.implicits._
    val bands = Seq(
      ("b0_micro", 0.0, 10.0), ("b1_low", 10.0, 50.0), ("b2_mid", 50.0, 100.0),
      ("b3_high", 100.0, 200.0), ("b4_burst", 200.0, 500.0)).toDF("band", "lo", "hi")
    graft.operators.RangeJoin
      .pointInInterval(Tables.events(s, d).select("event_id", "value"), bands,
        valueCol = "value", loCol = "lo", hiCol = "hi", bucketWidth = 10.0)
      .select("event_id", "band", "value")
      .orderBy("event_id", "band")
  }

  /** Ordered conversion funnel per user: first view, first click AFTER
    * that view, first purchase AFTER that click — the product-analytics
    * staple. Three chained window mins over ONE exchange (each stage gates
    * on the previous stage's window output; consecutive Window nodes share
    * the user_id partitioning, so Spark plans a single shuffle) + a
    * distinct — no self-joins over the fact table. Exact integer
    * microseconds throughout. */
  val funnel = sql(
    "x32_ev_funnel",
    """WITH s AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view
      |  FROM events GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, s.t_view,
      |    MIN(CASE WHEN e.event_type = 'click' AND epoch_us(e.ts) >= s.t_view
      |      THEN epoch_us(e.ts) END) AS t_click
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  GROUP BY e.user_id, s.t_view),
      |p AS (
      |  SELECT e.user_id, c.t_view, c.t_click,
      |    MIN(CASE WHEN e.event_type = 'purchase' AND epoch_us(e.ts) >= c.t_click
      |      THEN epoch_us(e.ts) END) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  GROUP BY e.user_id, c.t_view, c.t_click)
      |SELECT user_id,
      |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
      |       WHEN t_click IS NOT NULL THEN 2
      |       WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS funnel_stage,
      |  t_view, t_click, t_purchase
      |FROM p ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id")
    Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("us") >= col("t_view"),
          col("us"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("us") >= col("t_click"),
          col("us"))).over(w))
      .select("user_id", "t_view", "t_click", "t_purchase").distinct()
      .select(col("user_id"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0).as("funnel_stage"),
        col("t_view"), col("t_click"), col("t_purchase"))
      .orderBy("user_id")
  }

  /** Rolling one-hour per-user activity: event count and value sum over a
    * sliding event-time window ending at each event — the feature-
    * engineering staple (recent-activity features, rate limiting, anomaly
    * baselines). RANGE frame over exact integer microseconds; the summed
    * value is fixed-pointed first (floor(value·100) — floor, not cast:
    * BIGINT casts round in one engine and truncate in the other), so the
    * rolling sum is integer-exact and independent of the engines' frame
    * accumulation order (a windowed DOUBLE sum is not: sliding-frame
    * implementations regroup additions).
    *
    * Scale shape: one exchange on user_id, then a partition-local ordered
    * scan; Spark evaluates the growing RANGE frame incrementally, so a hot
    * user is one spillable sort, never a per-row rescan. */
  val rollingActivity = sql(
    "x38_ev_rolling",
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT event_id, user_id,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
      |  CAST(SUM(cents) OVER w AS BIGINT) AS cents_1h
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY us
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum("cents").over(w).as("cents_1h"))
      .orderBy("event_id")
  }

  /** x41: salted skew join — `operators.SkewJoin` end to end. event_type
    * is the canonical hot key (5 values over the whole fact table); the
    * salted plan spreads each key across 8 shuffle partitions while the
    * oracle runs the plain join, proving salting never changes results.
    * In production this shape covers what AQE's skew split cannot:
    * stream-static enrichment and pre-emptive splitting before the first
    * lopsided sort. (At THIS dim size Spark would broadcast — the salt
    * rides along harmlessly; SkewJoinSpec exercises the shuffle path.) */
  val skewJoinDemo = sql(
    "x41_ev_skew_join",
    """WITH dim(event_type, weight) AS (VALUES
      |  ('view', 1), ('click', 5), ('purchase', 50), ('signup', 10), ('error', 0))
      |SELECT e.event_id, e.event_type, CAST(d.weight AS INTEGER) AS weight
      |FROM events e JOIN dim d USING (event_type)
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val dim = Seq(("view", 1), ("click", 5), ("purchase", 50), ("signup", 10),
      ("error", 0)).toDF("event_type", "weight")
    graft.operators.SkewJoin
      .saltedJoin(Tables.events(s, d).select("event_id", "event_type"), dim,
        Seq("event_type"), salts = 8)
      .select("event_id", "event_type", "weight")
      .orderBy("event_id")
  }

  /** x43: Z-order curve value over (user_id, value-bucket) — the layout
    * key behind `Sinks.zOrderedParquet` (multi-dimensional file
    * clustering: min/max stats prune scans filtered on EITHER dimension).
    * The oracle SQL is GENERATED from the same mask table the engine
    * folds over (ZOrder.spreadSql), so the two cannot drift; all
    * arithmetic is integer-exact in both engines. */
  val zorderKey = sql(
    "x43_ev_zorder",
    s"""WITH e AS (SELECT event_id, user_id AS a,
      |    CAST(FLOOR(value / 10) AS BIGINT) AS b FROM events),
      |s AS (SELECT event_id,
      |  ${graft.functions.ZOrder.spreadSql("a")} AS sa,
      |  ${graft.functions.ZOrder.spreadSql("b")} AS sb FROM e)
      |SELECT event_id, (sa | (sb << 1)) AS z FROM s
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        graft.functions.ZOrder.zValue(col("user_id"),
          floor(col("value") / 10).cast("long")).as("z"))
      .orderBy("event_id")
  }

  /** x44: per-group winsorization — clamp values to the group's exact
    * [P1, P99] (outlier clipping before training, the robust-stats
    * staple). Percentiles come from `operators.Quantiles.groupQuantiles`
    * (skew-safe dispatch, interpolation ≡ PERCENTILE_CONT); the tiny
    * per-group bounds table broadcasts back, so the fact side never
    * shuffles for the clamp. */
  val winsorize = sql(
    "x44_ev_winsorize",
    """WITH p AS (
      |  SELECT event_type,
      |    PERCENTILE_CONT(0.01) WITHIN GROUP (ORDER BY value) AS p01,
      |    PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY value) AS p99
      |  FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type,
      |  ROUND(LEAST(GREATEST(e.value, p.p01), p.p99), 6) AS value_w
      |FROM events e JOIN p ON e.event_type = p.event_type
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val p = graft.operators.Quantiles
      .groupQuantiles(ev, "event_type", "value", Seq(0.01, 0.99))
      .select(col("event_type"), col("q0").as("p01"), col("q1").as("p99"))
    ev.join(broadcast(p), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        round(least(greatest(col("value"), col("p01")), col("p99")), 6).as("value_w"))
      .orderBy("event_id")
  }

  /** x45: per-group standardization (z-score) — the distributed form of
    * feature scaling (K5 does it inside the ML pipeline; this is the
    * data-prep query shape). Group mean/stddev are a tiny broadcast;
    * AVG/STDDEV_SAMP + ROUND(…,6) are the proven-stable cross-engine
    * float pattern (q08/q21 precedent). */
  val zscore = sql(
    "x45_ev_zscore",
    """WITH s AS (
      |  SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
      |  FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type,
      |  ROUND((e.value - s.mu) / s.sigma, 6) AS z
      |FROM events e JOIN s ON e.event_type = s.event_type
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val stats = ev.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp("value").as("sigma"))
    ev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        round((col("value") - col("mu")) / col("sigma"), 6).as("z"))
      .orderBy("event_id")
  }

  /** x46: per-session stats — event count and duration per (user,
    * session), on top of x16's gap-sessionization (>30 min silence starts
    * a new session). One window exchange assigns sessions, then a
    * partial-aggregated groupBy rolls them up; exact integer microseconds
    * throughout (x16 precedent). The product-analytics rollup every
    * sessionized pipeline feeds downstream. */
  val sessionStats = sql(
    "x46_ev_session_stats",
    s"""WITH ${sessionsSql(", epoch_us(ts) AS us")}
      |SELECT user_id, session_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  MAX(us) - MIN(us) AS duration_us
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap_us", sessionGap(col("us")))
      .withColumn("session_id", sessionId.cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), (max("us") - min("us")).as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  /** x48: hourly resample + forward fill — each user's event stream
    * regularized onto an hourly grid between their first and last event,
    * carrying the latest observed value forward into empty slots (the
    * time-series prep step before any windowed model). Grid slots come
    * from a row-local `sequence` explode of per-user bounds (no
    * cross-user blowup: rows ∝ user-hours); the per-slot last observation
    * is a deterministic (us, event_id) pick, and the fill is ONE
    * `last(…, ignoreNulls)` running window per user — no self-joins, no
    * per-slot subqueries. Exact integer slots; values pass through
    * untouched, so the oracle matches bit-for-bit. */
  val resampleFfill = sql(
    "x48_ev_resample_ffill",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events),
      |b AS (SELECT user_id, CAST(FLOOR(MIN(us) / 3600000000) AS BIGINT) AS lo,
      |             CAST(FLOOR(MAX(us) / 3600000000) AS BIGINT) AS hi
      |      FROM e GROUP BY user_id),
      |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS slot FROM b),
      |obs AS (SELECT user_id, slot, value FROM (
      |    SELECT user_id, CAST(FLOOR(us / 3600000000) AS BIGINT) AS slot, value,
      |      ROW_NUMBER() OVER (PARTITION BY user_id, CAST(FLOOR(us / 3600000000) AS BIGINT)
      |        ORDER BY us DESC, event_id DESC) AS rn
      |    FROM e) t WHERE rn = 1),
      |filled AS (
      |  SELECT g.user_id, g.slot,
      |    LAST_VALUE(o.value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.slot
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
      |  FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.slot = g.slot)
      |SELECT user_id, slot, ROUND(value_ff, 6) AS value_ff
      |FROM filled ORDER BY user_id, slot""".stripMargin) { (s, d) =>
    val slotUs = 3600000000L
    val e = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
    val grid = e.groupBy("user_id")
      .agg(floor(min("us") / slotUs).as("lo"), floor(max("us") / slotUs).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("slot"))
    val w = Window.partitionBy("user_id", "slot").orderBy(desc("us"), desc("event_id"))
    val obs = e.withColumn("slot", floor(col("us") / slotUs))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "slot", "value")
    val fill = Window.partitionBy("user_id").orderBy("slot")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("user_id", "slot"), "left")
      .withColumn("value_ff", round(last("value", ignoreNulls = true).over(fill), 6))
      .select("user_id", "slot", "value_ff")
      .orderBy("user_id", "slot")
  }

  /** x75: interval-OVERLAP join — concurrent-session pairs across the two
    * user-parity halves, over x46's gap-session intervals. The big×big
    * sibling of x29's point-in-interval: BOTH sides are fact-sized, so the
    * naive inequality join is a broadcast-nested-loop the broadcast side of
    * which may not even fit; `operators.IntervalJoin` meets the sides in a
    * bucketed EQUI-join (1 h buckets ≥ the ~57 min max session, so
    * replication ≤ 2 rows/interval) and dedups by the first-common-bucket
    * rule — no distinct, no cartesian (PlanQualitySpec pins both). Exact
    * integer microseconds end to end; the oracle runs the naive overlap
    * join, affordable at test scale. */
  val intervalOverlap = sql(
    "x75_ev_interval_overlap",
    s"""WITH ${sessionsSql(", epoch_us(ts) AS us")},
      |iv AS (SELECT user_id, session_id, MIN(us) AS lo_us, MAX(us) AS hi_us
      |       FROM s GROUP BY user_id, session_id),
      |a AS (SELECT user_id AS a_user, session_id AS a_session, lo_us, hi_us
      |      FROM iv WHERE user_id % 2 = 0),
      |b AS (SELECT user_id AS b_user, session_id AS b_session,
      |             lo_us AS lo2, hi_us AS hi2
      |      FROM iv WHERE user_id % 2 = 1)
      |SELECT a_user, a_session, b_user, b_session,
      |  LEAST(hi_us, hi2) - GREATEST(lo_us, lo2) AS overlap_us
      |FROM a JOIN b ON lo_us <= hi2 AND lo2 <= hi_us
      |ORDER BY a_user, a_session, b_user, b_session""".stripMargin) { (s, d) =>
    val iv = Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap_us", sessionGap(col("us")))
      .withColumn("session_id", sessionId.cast("long"))
      .groupBy("user_id", "session_id")
      .agg(min("us").as("lo_us"), max("us").as("hi_us"))
    val a = iv.filter(col("user_id") % 2 === 0)
      .select(col("user_id").as("a_user"), col("session_id").as("a_session"),
        col("lo_us"), col("hi_us"))
    val b = iv.filter(col("user_id") % 2 === 1)
      .select(col("user_id").as("b_user"), col("session_id").as("b_session"),
        col("lo_us"), col("hi_us"))
    graft.operators.IntervalJoin
      .overlapJoin(a, b, loCol = "lo_us", hiCol = "hi_us",
        bucketWidth = 3600000000L)
      .select(col("a_user"), col("a_session"), col("b_user"), col("b_session"),
        (least(col("hi_us"), col("hi_us_r")) -
          greatest(col("lo_us"), col("lo_us_r"))).as("overlap_us"))
      .orderBy("a_user", "a_session", "b_user", "b_session")
  }

  /** x76: key-SKEW report — the distribution diagnostic a shuffle planner
    * reads before keying a 100 TB join or groupBy on a column: key count,
    * hottest key and its parts-per-million share, and exact quantiles of
    * the per-key row counts. Complements x34's per-COLUMN profiler (nulls/
    * distincts/bounds) with the per-KEY mass distribution that decides
    * salting (x41), AQE skew thresholds, and partition sizing. Plan: one
    * partial-final count aggregate over the fact table, then all statistics
    * over the keys-sized counts table — the fact is scanned once and never
    * sorted; quantiles ride `Quantiles.singleGroupQuantiles`, whose size
    * dispatch swaps in the spillable range-partitioned plan when the key
    * table itself is huge. The hot key is argmax with a deterministic
    * min-key tiebreak (max-struct with negated key — no second scan). */
  val keySkewReport = sql(
    "x76_ev_key_skew",
    """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
      |m AS (SELECT MAX(cnt) AS mx FROM c)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |  CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
      |  CAST(FLOOR(MAX(cnt) * 1000000.0 / SUM(cnt)) AS BIGINT) AS max_share_ppm,
      |  (SELECT MIN(user_id) FROM c, m WHERE cnt = mx) AS hot_key,
      |  AVG(cnt) AS avg_key_rows,
      |  ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY cnt), 6) AS p50_key_rows,
      |  ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY cnt), 6) AS p90_key_rows,
      |  ROUND(PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY cnt), 6) AS p99_key_rows
      |FROM c""".stripMargin) { (s, d) =>
    val counts = Tables.events(s, d).groupBy("user_id")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false) // three consumers: stats, argmax, quantiles
    val quantiles = graft.operators.Quantiles
      .singleGroupQuantiles(counts.withColumn("__g", lit(1)), "__g", "cnt",
        Seq(0.5, 0.9, 0.99))
      .select(round(col("q0"), 6).as("p50_key_rows"),
        round(col("q1"), 6).as("p90_key_rows"),
        round(col("q2"), 6).as("p99_key_rows"))
    counts.agg(
      count(lit(1)).as("n_keys"),
      sum("cnt").as("n_rows"),
      max("cnt").as("max_key_rows"),
      floor(max("cnt") * 1000000.0 / sum("cnt")).cast("long").as("max_share_ppm"),
      (-max(struct(col("cnt"), (-col("user_id")).as("nk"))).getField("nk")).as("hot_key"),
      avg("cnt").as("avg_key_rows"))
      .withColumn("__g", lit(1))
      .join(quantiles.withColumn("__g", lit(1)), Seq("__g"), "left")
      .select("n_keys", "n_rows", "max_key_rows", "max_share_ppm", "hot_key",
        "avg_key_rows", "p50_key_rows", "p90_key_rows", "p99_key_rows")
  }

  /** x77: TEMPORAL holdout split — each user's event history cut at the
    * 70 %/85 % positions into train/val/test, the time-ordered split a
    * sequence model needs (predict-the-future evaluation). Completes the
    * split-assignment family: x31 hashes documents i.i.d., x55 keys on the
    * near-dup cluster, x77 keys on event-time ORDER — train always
    * precedes val precedes test within a user. Exact integer arithmetic
    * (rn·10 ≤ n·7 etc., no float thresholds); both windows share the
    * user_id partitioning, so the split costs ONE exchange
    * (PlanQualitySpec pins it). */
  val temporalSplit = sql(
    "x77_ev_temporal_split",
    """WITH r AS (
      |  SELECT event_id, user_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT event_id, user_id,
      |  CASE WHEN rn * 10 <= n * 7 THEN 'train'
      |       WHEN rn * 20 <= n * 17 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM r ORDER BY event_id""".stripMargin) { (s, d) =>
    val whole = Window.partitionBy("user_id")
    Tables.events(s, d)
      .withColumn("rn", row_number().over(byUserTime))
      .withColumn("n", count(lit(1)).over(whole))
      .select(col("event_id"), col("user_id"),
        when(col("rn") * 10 <= col("n") * 7, "train")
          .when(col("rn") * 20 <= col("n") * 17, "val")
          .otherwise("test").as("split"))
      .orderBy("event_id")
  }

  /** x78: first-touch attribution — for every purchase, the microseconds
    * since the FIRST 'view' of the SAME gap-session (x16's >30 min rule),
    * NULL when the session had no view before the purchase. The
    * conversion-lag table funnel analysis reads after x32 says *whether*
    * sessions convert.
    *
    * The naive plan needs a second window keyed (user, session) — a second
    * exchange, because session_id only exists after the first window. This
    * plan keeps ONE exchange (PlanQualitySpec pins it): session_id is
    * monotone per user in (ts, event_id) order, so the first view of the
    * CURRENT session is recoverable from a running user-wide max of
    * `struct(session_id, -us)` over view rows — lexicographic max keeps
    * the LATEST session seen, and within it the EARLIEST view; a guard
    * `fv_session = session_id` rejects carryover from earlier sessions.
    * All three windows share the user_id partitioning and (ts, event_id)
    * order: one exchange, one sort. Exact integer microseconds (x16). */
  val attribution = sql(
    "x78_ev_attribution",
    s"""WITH ${sessionsSql(", event_type, epoch_us(ts) AS us")},
      |f AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
      |    OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv_us
      |  FROM s)
      |SELECT event_id, user_id, session_id, CAST(us - fv_us AS BIGINT) AS ttc_us
      |FROM f WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap_us", sessionGap(col("us")))
      .withColumn("session_id", sessionId.cast("long"))
      .withColumn("fv",
        max(when(col("event_type") === "view",
          struct(col("session_id"), (-col("us")).as("nus")))).over(byUserTimeCum))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("session_id"),
        when(col("fv.session_id") === col("session_id"),
          col("us") + col("fv.nus")).as("ttc_us"))
      .orderBy("event_id")
  }

  /** x79: weekly retention cohorts — users bucketed by their FIRST active
    * week, counted in each later week they return: the (cohort_week,
    * week_offset) → users triangle product analytics reads as a retention
    * curve per acquisition cohort. Weeks are pure integer arithmetic on
    * epoch microseconds (floor-div by 604 800 s), NOT calendar
    * `date_trunc` — no week-start or timezone convention to disagree on
    * across engines, and the bucket is a row-local expression any scan
    * fuses.
    *
    * Plan: collapse the fact to DISTINCT (user, week) FIRST (partial-
    * aggregated, so the 100 TB fact reduces map-side before its one
    * shuffle), window-min the per-user cohort over that users×weeks-sized
    * table, then a partial-final count by (cohort, offset). The fact is
    * touched once; every later stage is bounded by |users|·|weeks|. */
  val retentionCohorts = sql(
    "x79_ev_retention",
    """WITH w AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
      |c AS (SELECT user_id, wk, MIN(wk) OVER (PARTITION BY user_id) AS cohort FROM w)
      |SELECT CAST(cohort AS BIGINT) AS cohort_week,
      |  CAST(wk - cohort AS BIGINT) AS week_offset,
      |  CAST(COUNT(*) AS BIGINT) AS users
      |FROM c GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin) { (s, d) =>
    val w = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
      .distinct()
    w.withColumn("cohort", min("wk").over(Window.partitionBy("user_id")))
      .groupBy(col("cohort").as("cohort_week"), (col("wk") - col("cohort")).as("week_offset"))
      .agg(count(lit(1)).as("users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** x82: robust outlier report — per event_type median + MAD (median
    * absolute deviation) and the count of modified-z outliers
    * (0.6745·|x−med| > 3.5·MAD, the Iglewicz-Hoaglin rule). The
    * data-cleaning diagnostic that survives the very outliers that poison
    * x45's mean/stddev z-score.
    *
    * Two quantile passes by construction (MAD needs deviations FROM the
    * median): each rides the skew-safe `Quantiles.groupQuantiles`
    * (interpolation ≡ PERCENTILE_CONT, hash-stable vs DuckDB — the x44
    * precedent), and each result is a per-group scalar broadcast back, so
    * the fact never shuffles — it is scanned twice and exchanged zero
    * times. The outlier test compares products of bit-identical doubles,
    * so the flag is deterministic cross-engine. */
  val madOutliers = sql(
    "x82_ev_mad_outliers",
    """WITH m AS (SELECT event_type, PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value) AS med
      |  FROM events GROUP BY event_type),
      |d AS (SELECT e.event_type, m.med, ABS(e.value - m.med) AS dev
      |  FROM events e JOIN m ON e.event_type = m.event_type),
      |md AS (SELECT event_type, PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY dev) AS mad
      |  FROM d GROUP BY event_type)
      |SELECT d.event_type AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(MIN(d.med), 6) AS med, ROUND(MIN(md.mad), 6) AS mad,
      |  CAST(SUM(CASE WHEN 0.6745 * d.dev > 3.5 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN md ON d.event_type = md.event_type
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val med = graft.operators.Quantiles
      .groupQuantiles(ev, "event_type", "value", Seq(0.5))
      .select(col("event_type"), col("q0").as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = graft.operators.Quantiles
      .groupQuantiles(dev, "event_type", "dev", Seq(0.5))
      .select(col("event_type"), col("q0").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(min("med"), 6).as("med"), round(min("mad"), 6).as("mad"),
        sum(when(lit(0.6745) * col("dev") > lit(3.5) * col("mad"), 1).otherwise(0))
          .cast("long").as("n_outliers"))
      .orderBy("event_type")
  }

  /** x83: session transition matrix — within-session (event_type →
    * next event_type) counts and row-normalized probabilities: the
    * user-journey Markov table behind funnel design (x32 checks ONE
    * ordered path; this measures ALL empirical steps). Transitions never
    * cross a session boundary (the `next_session = session_id` guard).
    *
    * Plan: the lead windows share x16's single user_id exchange, the
    * count is a partial-final groupBy, and the normalizing window runs
    * over the aggregated |types|² table (≤ 25 rows at any corpus scale) —
    * the fact is exchanged once. p is an exact-sums division rounded to 6
    * (x45 float stance). */
  val sessionTransitions = sql(
    "x83_ev_transitions",
    s"""WITH ${sessionsSql(", event_type")},
      |t AS (
      |  SELECT event_type, session_id,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
      |    LEAD(session_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_session
      |  FROM s),
      |c AS (
      |  SELECT event_type AS prev_type, next_type, COUNT(*) AS n FROM t
      |  WHERE next_type IS NOT NULL AND next_session = session_id
      |  GROUP BY 1, 2)
      |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
      |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type) AS p
      |FROM c ORDER BY prev_type, next_type""".stripMargin) { (s, d) =>
    val c = Tables.events(s, d)
      .withColumn("gap_us", sessionGap(unix_micros(col("ts"))))
      .withColumn("session_id", sessionId.cast("long"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUserTime))
      .withColumn("next_session", lead(col("session_id"), 1).over(byUserTime))
      .filter(col("next_type").isNotNull && col("next_session") === col("session_id"))
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    c.withColumn("p",
        col("n").cast("double") / sum("n").over(Window.partitionBy("prev_type")))
      .select("prev_type", "next_type", "n", "p")
      .orderBy("prev_type", "next_type")
  }

  /** x86: equi-depth feature binning through the DURABLE-edges contract
    * ([[graft.operators.FeatureBins]] — the feature-store fit/transform
    * pair): quartile edges learned per event_type, applied as a broadcast
    * + row-local bucket. The per-GROUP, artifact-backed sibling of x50's
    * single-pass deciles; serve-time plan is a BroadcastHashJoin + a
    * codegen'd filter-HOF, the fact never shuffles (PlanQualitySpec).
    * Strict `v > edge` bucketing over PERCENTILE_CONT-identical doubles
    * is deterministic cross-engine (x44/x50 precedent). */
  val featureBins = sql(
    "x86_ev_feature_bins",
    """WITH p AS (
      |  SELECT event_type,
      |    PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY value) AS q1,
      |    PERCENTILE_CONT(0.5)  WITHIN GROUP (ORDER BY value) AS q2,
      |    PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY value) AS q3
      |  FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type,
      |  CAST(1 + (CASE WHEN e.value > p.q1 THEN 1 ELSE 0 END)
      |         + (CASE WHEN e.value > p.q2 THEN 1 ELSE 0 END)
      |         + (CASE WHEN e.value > p.q3 THEN 1 ELSE 0 END) AS INTEGER) AS bin
      |FROM events e JOIN p ON e.event_type = p.event_type
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val bins = graft.operators.FeatureBins.fitBins(ev, "event_type", "value", nBins = 4)
    graft.operators.FeatureBins.applyBins(ev, bins, "event_type", "value")
      .select("event_id", "event_type", "bin")
      .orderBy("event_id")
  }

  /** x88: distribution-drift report — the PSI-shaped monitor an ML
    * deployment runs on its features: the event stream is cut at its
    * temporal midpoint into a REFERENCE and a CURRENT window, reference
    * quartile edges bin both sides, and the per-(type, bin) table carries
    * exact ppm proportions plus the per-type L1 drift (Σ|ref−cur| ppm —
    * 0 = identical shape, 2e6 = disjoint). Everything after the quantiles
    * is INTEGER arithmetic (counts, floor-div ppm): no ln/log libm call,
    * so the drift numbers are bit-identical cross-engine where a textbook
    * PSI (Σ(p−q)·ln(p/q)) would gamble on last-ulp libm agreement.
    *
    * Plan: midpoint = one broadcast scalar; edges = the skew-safe quantile
    * operator over the reference half; binning is the x86 broadcast +
    * row-local bucket; counts are ONE partial-final groupBy over (type,
    * bin, side); the dense (type × 4 bins) frame and the L1 window run on
    * that ≤ |types|·4 table. The fact is scanned twice (quantiles, then
    * binning) and never sort-merge-joined. */
  val driftReport = sql(
    "x88_ev_drift",
    """WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS thr FROM events),
      |e AS (SELECT event_type, value,
      |        CASE WHEN epoch_us(ts) <= (SELECT thr FROM b) THEN 0 ELSE 1 END AS side
      |      FROM events),
      |p AS (SELECT event_type,
      |        PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY value) AS q1,
      |        PERCENTILE_CONT(0.5)  WITHIN GROUP (ORDER BY value) AS q2,
      |        PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY value) AS q3
      |      FROM e WHERE side = 0 GROUP BY event_type),
      |binned AS (
      |  SELECT e.event_type, e.side,
      |    1 + (CASE WHEN e.value > p.q1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN e.value > p.q2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN e.value > p.q3 THEN 1 ELSE 0 END) AS bin
      |  FROM e JOIN p ON e.event_type = p.event_type),
      |counts AS (
      |  SELECT event_type, bin, side, COUNT(*) AS n FROM binned GROUP BY 1, 2, 3),
      |dense AS (
      |  SELECT d.event_type, bb.bin,
      |    COALESCE(MAX(CASE WHEN c.side = 0 THEN c.n END), 0) AS n_ref,
      |    COALESCE(MAX(CASE WHEN c.side = 1 THEN c.n END), 0) AS n_cur
      |  FROM (SELECT DISTINCT event_type FROM e) d
      |  CROSS JOIN (SELECT unnest(range(1, 5)) AS bin) bb
      |  LEFT JOIN counts c ON c.event_type = d.event_type AND c.bin = bb.bin
      |  GROUP BY 1, 2),
      |tot AS (SELECT event_type, SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM dense GROUP BY 1),
      |ppm AS (
      |  SELECT dense.event_type, bin, n_ref, n_cur,
      |    CASE WHEN tr > 0 THEN n_ref * 1000000 // tr ELSE 0 END AS ref_ppm,
      |    CASE WHEN tc > 0 THEN n_cur * 1000000 // tc ELSE 0 END AS cur_ppm
      |  FROM dense JOIN tot ON dense.event_type = tot.event_type)
      |SELECT event_type, CAST(bin AS INTEGER) AS bin,
      |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
      |  CAST(ref_ppm AS BIGINT) AS ref_ppm, CAST(cur_ppm AS BIGINT) AS cur_ppm,
      |  CAST(SUM(ABS(ref_ppm - cur_ppm)) OVER (PARTITION BY event_type) AS BIGINT) AS l1_ppm
      |FROM ppm ORDER BY event_type, bin""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
    val thr = ev.agg(expr("(min(us) + max(us)) div 2").as("thr"))
    val e = ev.crossJoin(broadcast(thr))
      .withColumn("side", when(col("us") <= col("thr"), 0).otherwise(1))
      .select("event_type", "value", "side")
    val edges = graft.operators.FeatureBins
      .fitBins(e.filter(col("side") === 0), "event_type", "value", nBins = 4)
    val counts = graft.operators.FeatureBins.applyBins(e, edges, "event_type", "value")
      .groupBy("event_type", "bin", "side").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // tiny; consumed by the dense frame twice
    val dense = counts.select("event_type").distinct()
      .crossJoin(s.range(1, 5).select(col("id").cast("int").as("bin")))
      .join(counts.filter(col("side") === 0).select(col("event_type"), col("bin"), col("n").as("n_ref")),
        Seq("event_type", "bin"), "left")
      .join(counts.filter(col("side") === 1).select(col("event_type"), col("bin"), col("n").as("n_cur")),
        Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    val tot = Window.partitionBy("event_type")
    dense
      .withColumn("tr", sum("n_ref").over(tot))
      .withColumn("tc", sum("n_cur").over(tot))
      .withColumn("ref_ppm",
        when(col("tr") > 0, expr("n_ref * 1000000 div tr")).otherwise(0L))
      .withColumn("cur_ppm",
        when(col("tc") > 0, expr("n_cur * 1000000 div tc")).otherwise(0L))
      .withColumn("l1_ppm", sum(abs(col("ref_ppm") - col("cur_ppm"))).over(tot))
      .select("event_type", "bin", "n_ref", "n_cur", "ref_ppm", "cur_ppm", "l1_ppm")
      .orderBy("event_type", "bin")
  }

  /** x89: A/B conversion test — the two-proportion z-test an
    * experimentation platform runs: users split into arms by a
    * deterministic id hash (user_id mod 2 here; production salts the
    * experiment id in), per-arm user-level conversion (≥ 1 HIGH-VALUE purchase, value > 150 —
    * plain any-purchase is degenerate on the shipped corpus: every user
    * converts, pooled variance hits exactly 0 and z is 0/0; a metric with
    * actual variance is what a real experiment would pick too), and the
    * pooled z statistic with the 1.96 significance verdict.
    *
    * Everything reduces to four integers (users and converters per arm);
    * the z chain is doubles from those integers in one mirrored operand
    * order — sqrt is IEEE-correctly-rounded on both engines (unlike ln,
    * which x88 dodges), so the statistic hash-matches bit-exactly.
    *
    * Plan: ONE partial-final groupBy on user_id collapses the fact to a
    * per-user (arm, converted) row; the arm rollup and the z arithmetic
    * run on that users-sized table and a single output row. */
  val abTest = sql(
    "x89_ev_ab_test",
    """WITH u AS (
      |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x1
      |  FROM u)
      |SELECT n0, n1, x0, x1,
      |  CAST(x0 AS DOUBLE) / n0 AS p0,
      |  CAST(x1 AS DOUBLE) / n1 AS p1,
      |  ROUND((CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1)
      |    / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 / n0 + 1.0 / n1)), 6) AS z,
      |  CASE WHEN ABS((CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1)
      |    / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 / n0 + 1.0 / n1))) > 1.96 THEN 1 ELSE 0 END AS significant
      |FROM a""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150, 1)
        .otherwise(0)).as("conv"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    val a = u.agg(
      sum(when(col("arm") === 0, 1).otherwise(0)).cast("long").as("n0"),
      sum(when(col("arm") === 1, 1).otherwise(0)).cast("long").as("n1"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0)).cast("long").as("x0"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0)).cast("long").as("x1"))
    val p0 = col("x0").cast("double") / col("n0")
    val p1 = col("x1").cast("double") / col("n1")
    val pp = (col("x0") + col("x1")).cast("double") / (col("n0") + col("n1"))
    val z = (p0 - p1) / sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
    a.select(col("n0"), col("n1"), col("x0"), col("x1"),
      p0.as("p0"), p1.as("p1"), round(z, 6).as("z"),
      when(abs(z) > 1.96, 1).otherwise(0).as("significant"))
  }

  /** x91: hashing-trick feature vectorization (Weinberger et al. 2009) —
    * categorical features mapped to a FIXED 512-slot space by hashing the
    * feature string, no vocabulary anywhere: the zero-shuffle alternative
    * to x40's vocabulary broadcast and x87's per-category table when the
    * category space is unbounded (new values at serve time just hash).
    * Completes the tabular-prep family's third strategy (learned bins,
    * learned encodings, learned-NOTHING hashing).
    *
    * Slot = first 4 md5 hex digits as an integer, mod 512 — portable
    * string arithmetic (the x31/x56 md5-hex stance; no engine-specific
    * hash in sight). Fully row-local: explode + hash + mod fuse into the
    * scan, the only exchange is the oracle-mandated output sort. */
  val featureHashing = sql(
    "x91_ev_feature_hash",
    """WITH f AS (
      |  SELECT event_id, unnest([
      |    'type=' || event_type,
      |    'kb=' || CAST(COALESCE(CAST(json_extract_string(props, '$.k') AS INTEGER), -1) // 10 AS VARCHAR)
      |  ]) AS feature FROM events),
      |h AS (SELECT event_id, feature, md5(feature) AS hx FROM f)
      |SELECT event_id, feature,
      |  CAST(((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 4096
      |      + (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) * 256
      |      + (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1)) % 512 AS INTEGER) AS slot
      |FROM h ORDER BY event_id, feature""".stripMargin) { (s, d) =>
    val hex = "0123456789abcdef"
    def digit(i: Int) = instr(lit(hex), substring(col("hx"), i, 1)) - 1
    Tables.events(s, d)
      .select(col("event_id"), explode(array(
        concat(lit("type="), col("event_type")),
        concat(lit("kb="),
          expr("CAST(COALESCE(CAST(get_json_object(props, '$.k') AS INT), -1) div 10 AS STRING)"))))
        .as("feature"))
      .withColumn("hx", md5(col("feature")))
      .select(col("event_id"), col("feature"),
        ((digit(1) * 4096 + digit(2) * 256 + digit(3) * 16 + digit(4)) % 512)
          .cast("int").as("slot"))
      .orderBy("event_id", "feature")
  }

  /** x92: percentile-rank transform — each value mapped to its exact
    * within-group CUME_DIST (the rank-based feature scaling that is
    * immune to the outliers x82 flags and the distribution drift x88
    * monitors; "rank-gauss" pipelines start exactly here). CUME_DIST is
    * peers-counting integer arithmetic (rank/n) shipped as the RAW IEEE
    * quotient — bit-identical cross-engine, and immune to the
    * round-a-tie hazard (x62 round-11 lesson). One window exchange on
    * the group key. */
  val percentileRank = sql(
    "x92_ev_percentile_rank",
    """SELECT event_id, event_type,
      |  CUME_DIST() OVER (PARTITION BY event_type ORDER BY value) AS pct_rank
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        cume_dist().over(
          Window.partitionBy("event_type").orderBy("value")).as("pct_rank"))
      .orderBy("event_id")
  }

  /** x93: lag-feature matrix — per user, the 1/2/3-step lagged values and
    * the trailing 3-observation mean: the feature block a sequence model
    * (or gradient-boosted forecaster) trains on. All four features ride
    * ONE user_id window exchange. The trailing mean is NOT a windowed
    * AVG of doubles (frame summation order is engine-private): it is
    * rebuilt from the lags as exact fixed-point cents over a counted
    * denominator — the x87 determinism stance — so the row hash-matches
    * bit-exactly. */
  val lagFeatures = sql(
    "x93_ev_lag_features",
    """WITH l AS (
      |  SELECT event_id, user_id, value,
      |    LAG(value, 1) OVER w AS lag1,
      |    LAG(value, 2) OVER w AS lag2,
      |    LAG(value, 3) OVER w AS lag3
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_id, user_id, lag1, lag2, lag3,
      |  CASE WHEN lag1 IS NULL THEN NULL ELSE
      |    ROUND((COALESCE(CAST(ROUND(lag1 * 100) AS BIGINT), 0)
      |         + COALESCE(CAST(ROUND(lag2 * 100) AS BIGINT), 0)
      |         + COALESCE(CAST(ROUND(lag3 * 100) AS BIGINT), 0))
      |      / (100.0 * ((CASE WHEN lag1 IS NULL THEN 0 ELSE 1 END)
      |                + (CASE WHEN lag2 IS NULL THEN 0 ELSE 1 END)
      |                + (CASE WHEN lag3 IS NULL THEN 0 ELSE 1 END))), 6)
      |  END AS rmean3
      |FROM l ORDER BY event_id""".stripMargin) { (s, d) =>
    def cents(c: Column) = coalesce(round(c * 100).cast("long"), lit(0L))
    def present(c: Column) = when(c.isNull, 0).otherwise(1)
    Tables.events(s, d)
      .withColumn("lag1", lag(col("value"), 1).over(byUserTime))
      .withColumn("lag2", lag(col("value"), 2).over(byUserTime))
      .withColumn("lag3", lag(col("value"), 3).over(byUserTime))
      .select(col("event_id"), col("user_id"), col("lag1"), col("lag2"), col("lag3"),
        when(col("lag1").isNull, lit(null)).otherwise(
          round((cents(col("lag1")) + cents(col("lag2")) + cents(col("lag3")))
            / (lit(100.0) * (present(col("lag1")) + present(col("lag2"))
              + present(col("lag3")))), 6)).as("rmean3"))
      .orderBy("event_id")
  }

  /** x95: multi-dimensional CUBE datasheet — every (event_type × hour-of-day)
    * cell PLUS both marginals PLUS the grand total in ONE pass: Spark plans
    * an Expand (4 grouping sets) over a single scan with partial
    * aggregation, so the 100 TB log is read once for all four
    * granularities instead of once per report. `gid` = 2·GROUPING(type) +
    * GROUPING(hod) disambiguates a genuine NULL dimension value from a
    * super-aggregate row (the classic CUBE pitfall); the value sum rides
    * the x38 exact-cents discipline so every cell hash-matches.
    *
    * Scale note: Expand multiplies scanned rows ×4 BEFORE the partial
    * aggregate — fine for the 4-set CUBE here; a d-dimension cube is 2^d
    * sets, where the production path is re-aggregating the gid=0 cells
    * (low-cardinality, already tiny) instead of widening the Expand. The
    * COUNT(DISTINCT user_id) forces a second Expand internally; at corpus
    * scale swap it for the x22 HLL++ sketch column. */
  val cubeDatasheet = sql(
    "x95_ev_cube",
    """WITH e AS (SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents, user_id FROM events)
      |SELECT COALESCE(event_type, 'ALL') AS event_type,
      |  CAST(COALESCE(hod, -1) AS INTEGER) AS hod,
      |  CAST(2 * GROUPING(event_type) + GROUPING(hod) AS INTEGER) AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS cents,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM e GROUP BY CUBE(event_type, hod)
      |ORDER BY gid, event_type, hod""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), hour(col("ts")).as("hod"),
        floor(col("value") * 100).cast("long").as("cents"), col("user_id"))
      .cube(col("event_type"), col("hod"))
      .agg(
        (grouping(col("event_type")).cast("int") * 2
          + grouping(col("hod")).cast("int")).as("gid"),
        count(lit(1)).as("n"),
        sum("cents").as("cents"),
        count_distinct(col("user_id")).as("n_users"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("hod"), lit(-1)).cast("int").as("hod"),
        col("gid"), col("n"), col("cents"), col("n_users"))
      .orderBy("gid", "event_type", "hod")
  }

  /** x97: per-type Pearson components + diurnal value correlation — the
    * mergeable-moments pattern every distributed stats layer reduces to:
    * (n, Σx, Σy, Σxy, Σx², Σy²) are BIGINT partial aggregates (map-side
    * combined, order-independent, mergeable across shards/days — the form
    * a 100 TB job SHOULD persist, since any corr/variance/covariance over
    * any union of shards recomposes from them by addition alone). x =
    * value in exact cents (x38 discipline), y = hour-of-day: corr_r > 0
    * means value trends with time of day (diurnal pricing signal). The
    * single presentation double mirrors the textbook formula with the
    * SAME explicit cast tree on both engines — every operand is an
    * exactly-representable integer, so the IEEE mul/sub/sqrt/div sequence
    * is bit-identical and ROUND(…,6) of a value in [-1,1] is safe (the
    * x94 large-quotient hazard does not apply at this magnitude). */
  val corrReport = sql(
    "x97_ev_corr_report",
    """WITH e AS (SELECT event_type,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS x,
      |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS y
      |  FROM events)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |  CAST(SUM(x * y) AS BIGINT) AS sxy,
      |  CAST(SUM(x * x) AS BIGINT) AS sx2, CAST(SUM(y * y) AS BIGINT) AS sy2,
      |  ROUND((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * y) AS DOUBLE)
      |       - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
      |    / SQRT((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
      |          - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
      |         * (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(y * y) AS DOUBLE)
      |          - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))), 6) AS corr_r
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val m = Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("x"),
        hour(col("ts")).cast("long").as("y"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"), sum(col("y") * col("y")).as("sy2"))
    def d_(c: String) = col(c).cast("double")
    m.select(col("event_type"), col("n"), col("sx"), col("sy"), col("sxy"),
        col("sx2"), col("sy2"),
        round((d_("n") * d_("sxy") - d_("sx") * d_("sy"))
          / sqrt((d_("n") * d_("sx2") - d_("sx") * d_("sx"))
               * (d_("n") * d_("sy2") - d_("sy") * d_("sy"))), 6).as("corr_r"))
      .orderBy("event_type")
  }

  /** x98: session co-occurrence lift — the market-basket association
    * report with gap-sessions as baskets and event types as items: which
    * behaviors travel together within a visit (lift > 10^6 ppm) and which
    * repel (< 10^6)? Sessions come from x16's exact integer gap rule; a
    * basket's item set is the DISTINCT types it contains; the pair stage
    * is a within-basket self equi-join whose fan-out is bounded by the
    * ITEM-DOMAIN² (≤ |types|² per basket regardless of basket size — the
    * distinct collapse first is what kills the quadratic-in-events risk).
    * At a large item domain the classic A-priori move applies unchanged:
    * support-prune `bt` before pairing. Lift stays exact integer ppm —
    * `(n_ab · N · 10^6) // (n_a · n_b)` — no float anywhere; the numerator
    * is computed in 128-bit (DECIMAL(38,0) / HUGEINT) because at the
    * 100 TB posture (N ~ 10^9-10^10 baskets) `n_ab · N · 10^6` can reach
    * ~10^26 and would silently wrap a BIGINT; the quotient itself is ≤
    * N·10^6 and lands back in BIGINT exactly. The 128-bit arithmetic runs
    * only on the |types|²-row pairs table, never the fact.
    *
    * The singleton totals attach via broadcastable aggregates: `nb` is ONE
    * row (broadcast nested-loop by construction, never a shuffle) and `ca`
    * is |types| rows. */
  val cooccurrence = sql(
    "x98_ev_cooccurrence",
    s"""WITH ${sessionsSql(", event_type")},
      |bt AS (SELECT DISTINCT user_id, session_id, event_type FROM s),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets
      |  FROM (SELECT DISTINCT user_id, session_id FROM bt) b0),
      |ca AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM bt GROUP BY event_type),
      |pp AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_ab
      |  FROM bt a JOIN bt b ON a.user_id = b.user_id AND a.session_id = b.session_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT pp.type_a, pp.type_b, pp.n_ab, ca1.n_t AS n_a, ca2.n_t AS n_b,
      |  nb.n_baskets,
      |  CAST((pp.n_ab::HUGEINT * nb.n_baskets * 1000000) // (ca1.n_t::HUGEINT * ca2.n_t) AS BIGINT) AS lift_ppm
      |FROM pp JOIN ca ca1 ON ca1.event_type = pp.type_a
      |  JOIN ca ca2 ON ca2.event_type = pp.type_b CROSS JOIN nb
      |ORDER BY type_a, type_b""".stripMargin) { (s, d) =>
    val bt = Tables.events(s, d)
      .withColumn("gap_us", sessionGap(unix_micros(col("ts"))))
      .withColumn("session_id", sessionId)
      .select("user_id", "session_id", "event_type")
      .distinct()
      .localCheckpoint(eager = false) // four consumers below
    val nb = bt.select("user_id", "session_id").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val ca = bt.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val pp = bt.select(col("user_id"), col("session_id"), col("event_type").as("type_a"))
      .join(bt.select(col("user_id"), col("session_id"), col("event_type").as("type_b")),
        Seq("user_id", "session_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))
    pp.join(broadcast(ca.select(col("event_type").as("type_a"), col("n_t").as("n_a"))),
        Seq("type_a"))
      .join(broadcast(ca.select(col("event_type").as("type_b"), col("n_t").as("n_b"))),
        Seq("type_b"))
      .crossJoin(broadcast(nb))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_baskets"),
        expr("CAST((CAST(n_ab AS DECIMAL(38,0)) * n_baskets * 1000000) div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("lift_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** x102: top-k WITH TIES — RANK() ≤ 3, the "give me the top 3 values,
    * and everyone who ties them" semantics that ROW_NUMBER-based top-k
    * (q16, x42) silently violates: a row_number cut drops tied rows by
    * arbitrary physical order, which on a value column with real ties is
    * nondeterministic output. RANK's gap semantics keep the cut
    * deterministic with no tiebreak column needed. Spark still prunes
    * inside the window sort (WindowGroupLimit handles rank() like
    * row_number(), plan-asserted), so the group never fully sorts at
    * scale; cents comparison keeps the tie notion exact cross-engine. */
  val topkTies = sql(
    "x102_ev_topk_ties",
    """WITH c AS (SELECT event_id, event_type,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
      |r AS (SELECT event_id, event_type, cents,
      |    CAST(RANK() OVER (PARTITION BY event_type ORDER BY cents DESC) AS INTEGER) AS rk
      |  FROM c)
      |SELECT event_id, event_type, cents, rk FROM r WHERE rk <= 3
      |ORDER BY event_type, rk, event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .withColumn("rk", rank().over(
        Window.partitionBy("event_type").orderBy(col("cents").desc)).cast("int"))
      .filter(col("rk") <= 3)
      .orderBy("event_type", "rk", "event_id")
  }

  /** x115: recency-decayed engagement score — the time-decayed per-user
    * feature a feature store serves (recent activity counts more; a
    * 30-day-old event counts ~2⁻³⁰ of a fresh one). The textbook form
    * Σ value·e^(−λ·age) is a cross-row FLOAT sum — partial-aggregation
    * order changes the low bits, so it can never hash-match across
    * engines (or even across two Spark runs with different partitioning).
    * This is the order-free exact form (the x109 move): value quantizes to
    * floor(value·10⁶) BIGINT, age buckets to whole days capped at the
    * 30-day horizon, the weight is the EXACT power of two 2^(30−days)
    * (halving per day = half-life one day), and the per-user sum
    * accumulates DECIMAL(38,0)/HUGEINT products of exact integers —
    * associative and commutative, so ANY aggregation order gives the same
    * bits. Doubles appear only in the final per-user normalization
    * (exact-decimal → double is round-to-nearest in both engines) before
    * ROUND(…,6). Magnitude bound: |v6| ≤ 5·10⁸, weight ≤ 2³⁰ ≈ 10⁹ ⇒
    * ≤ 5·10¹⁷ per row, ≪ 10³⁸ for any real per-user event count.
    *
    * Plan/scale: the reference instant is ONE broadcast scalar (max ts —
    * BroadcastNestedLoop by construction, never a shuffle); the score is
    * ONE partial-final groupBy on user_id over row-local integer
    * arithmetic. Two fact scans total (scalar + score), zero joins on the
    * fact. */
  val decayScore = sql(
    "x115_ev_decay",
    """WITH mx AS (SELECT MAX(epoch_us(ts)) AS t_max FROM events),
      |e AS (SELECT user_id,
      |    CAST(FLOOR(value * 1000000) AS BIGINT) AS v6,
      |    LEAST((mx.t_max - epoch_us(ts)) // 86400000000, 30) AS days
      |  FROM events CROSS JOIN mx)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  ROUND(CAST(SUM(v6::HUGEINT * CAST(POWER(2, 30 - days) AS HUGEINT)) AS DOUBLE)
      |    / 1073741824000000.0, 6) AS decay_score
      |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    decayScoreOf(Tables.events(s, d)).orderBy("user_id")
  }

  /** x115's engine over an arbitrary (user_id, ts, value) frame — factored
    * so EventsEdgeSpec can drive a >30-day span through the identical plan
    * (the shipped corpus spans 29.99 days, so the horizon floor never
    * fires there; the cap branch is pinned on a synthetic frame). */
  def decayScoreOf(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ev = events.withColumn("us", unix_micros(col("ts")))
    val tMax = ev.agg(max("us").as("t_max"))
    ev.crossJoin(broadcast(tMax))
      .select(col("user_id"),
        floor(col("value") * 1000000d).cast("long").as("v6"),
        least(expr("(t_max - us) div 86400000000"), lit(30L)).as("days"))
      .groupBy("user_id").agg(
        count(lit(1)).as("n_events"),
        round(
          sum(expr("CAST(v6 AS DECIMAL(38,0)) * CAST(shiftleft(1L, CAST(30 - days AS INT)) AS DECIMAL(38,0))"))
            .cast("double") / lit(1073741824000000.0), 6).as("decay_score"))
  }

  val all: Seq[QueryDef] = Seq(jsonExtract, timeBucket, sessionize, approxStats,
    asofClickView, valueBands, funnel, rollingActivity, skewJoinDemo, zorderKey,
    winsorize, zscore, sessionStats, resampleFfill, intervalOverlap,
    keySkewReport, temporalSplit, attribution, retentionCohorts, madOutliers,
    sessionTransitions, featureBins, driftReport, abTest, featureHashing,
    percentileRank, lagFeatures, cubeDatasheet, corrReport, cooccurrence, topkTies,
    decayScore)
}
