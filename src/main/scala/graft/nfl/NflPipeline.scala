package graft.nfl

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** End-to-end orchestration of the reference pipeline (DL → MB), with the
  * explicit intermediate-reuse points the reference gets for free from R's
  * eager evaluation (SURVEY.md §4): `main_df` feeds ~10 branches and the
  * bounds/metric tables feed 3+ each, so they are persisted once instead of
  * recomputed per action.
  *
  * Everything is lazily declared; nothing executes until a caller takes an
  * action on one of the exposed tables.
  */
final class NflPipeline(
    tracking: DataFrame,
    pff: DataFrame,
    plays: DataFrame,
    players: DataFrame) {

  /** Two kinds of stage boundary:
    *  - big frame-grain tables keep `persist` (compressed columnar
    *    InMemoryRelation — a localCheckpoint of raw rows is ~10× larger and
    *    OOMs at 30M tracking rows in an 8 GB heap);
    *  - small play-grain tables use a lazy `localCheckpoint`, which
    *    TRUNCATES LINEAGE. Without truncation the analyzed plan re-embeds
    *    every upstream DAG at each of the 6 nested boundaries and
    *    driver-side planning grows super-linearly (measured: metric-stage
    *    re-count 4.8 s → 0.1 s; whole pipeline 79 s → 13 s at 600k rows).
    *    On a cluster swap for `checkpoint()` against a reliable dir if
    *    executor loss must be recoverable. */
  private def truncated(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false)

  /** DL: cleaned tracking-grain fact. */
  lazy val mainDf: DataFrame =
    NflIngest.buildMainDf(tracking, pff, plays, players).persist(StorageLevel.MEMORY_AND_DISK)

  /** MB:22-30 play bounds (tiny per-play tables, reused by 3+ branches). */
  lazy val playStart: DataFrame = truncated(PlayBounds.playStart(mainDf))
  lazy val playEnd: DataFrame = truncated(PlayBounds.playEnd(mainDf))

  /** MB:34-58 QB set points (small per-play table; the pressure-zone branch
    * re-reads it). */
  lazy val setPoints: DataFrame =
    truncated(QbSetPoint.setPoints(mainDf, playStart, playEnd))

  /** MB:63-91 frame-grain rusher table (also the MO:37 plot feed). Persisted:
    * the metric stage reads it three times (pivot, delta-end, snap labels) —
    * without the boundary each read recomputes the set-point + clamp DAG
    * (measured 49 s → 4 s for the metric at 600k tracking rows). Since the
    * r18 width prune this persists only the frame-grain math columns; the
    * rusher-play labels live in [[rusherLabels]]. */
  lazy val rusherFrames: DataFrame =
    PressureZone.rusherFrames(mainDf, setPoints, playStart, playEnd).persist(StorageLevel.MEMORY_AND_DISK)

  /** The rusher-play-constant label columns (r18 width prune) — a pure
    * filter+project over the persisted mainDf, read once by the metric's
    * snap attach and by the plot feed; no boundary needed. */
  lazy val rusherLabels: DataFrame = PressureZone.rusherLabels(mainDf)

  /** MB:93-108 per-rusher-play metric (read by finalize + blocker attach). */
  lazy val metric: DataFrame =
    truncated(PressureZone.metric(rusherFrames, rusherLabels))

  /** MB:134-145 final rusher table (blocker counts, OL gate, play-action). */
  lazy val rushersFinal: DataFrame =
    truncated(Blockers.finalizeRushers(metric, mainDf, pff))

  /** MB:113-118 blocker dimension. */
  lazy val passBlockers: DataFrame = Blockers.passBlockers(mainDf)

  /** MB:148-149 blockers with their rushers' metric attached. */
  lazy val blockersWithMetric: DataFrame =
    Blockers.attachMetric(passBlockers, rushersFinal)

  /** WIP:73-77 time-to-throw. */
  lazy val timeToThrow: DataFrame = TimeToThrow.compute(mainDf)

  /** Drops the two persisted frames. The `truncated` stages need no call:
    * their blocks belong to the checkpoint RDDs, which the cache manager
    * never holds, so `unpersist` on them is a no-op. */
  def unpersistAll(): Unit =
    Seq(mainDf, rusherFrames).foreach(_.unpersist(false))
}

object NflPipeline {
  /** The pipeline's CLUSTER POSTURE as code (r18 verdict item 5): the
    * session settings the 1000× rung (600M tracking rows, PLANS.md Round
    * 18) needed to complete live here as one shared map, so the `Ladder
    * nfl` scale bench and any real deployment read the same recipe instead
    * of re-deriving it from prose. `cpus` is the session's executor-thread
    * count (local mode) or per-executor core count (cluster).
    *
    *  - adaptive initialPartitionNum = 16×cpus: an N×-scale shuffle into a
    *    1×-sized partition count concentrates per-task window/aggregate
    *    state until it OOMs (the r14 `Ladder queries --factor` lesson);
    *    AQE coalesces small runs back by bytes, so over-provisioning costs
    *    nothing.
    *  - zstd shuffle/spill compression + compressed RDD cache blocks: the
    *    1000× rung is DISK-bound (shuffle spill + the persisted frame
    *    tables), and zstd is ~1.5-2× denser than the lz4 default — the
    *    trade a disk-tight cluster makes. Without it the rung died of
    *    disk at stage 202 (r18, ~75 GiB free).
    *  - shuffle.partitions = cpus: the baseline pre-AQE width.
    */
  def scaleConf(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (16 * cpus).toString,
    "spark.io.compression.codec" -> "zstd",
    "spark.rdd.compress" -> "true")
}
