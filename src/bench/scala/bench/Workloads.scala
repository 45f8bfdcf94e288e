package bench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.ml.PzModel
import graft.nfl.{NflPipeline, NflSynth, Rankings}
import graft.queries._
import graft.sources.Sinks

/** One measured operation of a pass. `kind` is "op" for the operations the
  * latency percentiles are taken over and "aux" for the rest of the pass.
  * `check` is the value compared against the pinned expectation. */
final case class Op(label: String, kind: String, seconds: Double,
    error: Option[String], check: Option[String])

/** A workload: input preparation (repeatable, timed as set-up), a timed
  * pass, and an untimed verification of what the pass produced. */
abstract class Workload(spark: SparkSession, tracer: Tracer) {
  /** Input generation, timed three times in set-up. */
  def prepare(): Unit
  /** Fixed inputs copied into place once, after `prepare`. */
  def materialize(): Unit = ()
  def pass(): Seq[Op]
  /** Untimed passes run in set-up before the timed ones. */
  def warmups: Int = 1
  /** One warm-up pass; the whole pass unless a workload trims it. */
  def warmup(): Seq[Op] = pass()
  /** Checks that need a read-back of the pass's output, keyed by op label. */
  def verify(): Map[String, String] = Map.empty

  protected def op(label: String, name: String, kind: String = "op")(
      body: => Option[String]): Op = {
    val t0 = System.nanoTime()
    try {
      val check = tracer.span(name, label)(body)
      Op(label, kind, (System.nanoTime() - t0) / 1e9, None, check)
    } catch {
      case NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}".linesIterator.nextOption()
        Op(label, kind, (System.nanoTime() - t0) / 1e9, msg.orElse(Some("error")), None)
    }
  }

  protected def plan(df: DataFrame, label: String): Unit =
    tracer.span("catalyst.plan", label)(df.queryExecution.executedPlan)

  /** Plan, then count: the action that forces a pipeline boundary. */
  protected def count(df: DataFrame, label: String): Long = {
    plan(df, label)
    tracer.span("exec.action", label)(df.count())
  }

  protected def collect(df: DataFrame, label: String): Array[Row] = {
    plan(df, label)
    tracer.span("exec.action", label)(df.collect())
  }
}

/** The paper's pipeline: DL → MB (`NflPipeline`, every boundary forced,
  * outputs written through `Sinks`) on one block of synthetic games, then
  * MC → MO on a fixed season's `rushersFinal`.
  *
  * The model stage does not take the block's own output: GBT's job count
  * follows its input (120 to 316 jobs a fit for two blocks of equal size),
  * so a seed-dependent model input would make the pass time follow the seed.
  * The season is block 0's `rushersFinal` at the full size, made by this
  * pipeline (`Synth.writeSeason`) and committed; set-up materializes it
  * once, beside the timed repeats of the tracking input generation. */
final class PzsPipeline(spark: SparkSession, tracer: Tracer, work: String, data: String,
    games: Int, block: Int, folds: Int) extends Workload(spark, tracer) {
  private val in = s"$work/input"
  private val season = s"$work/season"
  private val out = s"$work/output"
  private val Families = Seq("linear", "ridge", "rf", "gbt")
  private var pipeline: NflPipeline = _

  def prepare(): Unit = Synth.writeBlock(spark, in, games, block)

  override def materialize(): Unit = {
    Sinks.parquet(spark.read.parquet(Synth.seasonFile(data)), s"$season/rushersFinal")
    Synth.writeBlock(spark, season, Synth.seasonGames, 0, tracking = false)
  }

  def pass(): Seq[Op] = tracking() ++ model(Families)

  /** GBT is left out of the warm-up: it is half a pass and runs the tree
    * code RF has already warmed (its first fit is ~5 % slower than later
    * ones), so warming it would cost more set-up than it saves noise. */
  override def warmup(): Seq[Op] = tracking() ++ model(Families.filter(_ != "gbt"))

  private def tracking(): Seq[Op] = {
    def boundary(what: String)(body: NflPipeline => String): Op =
      op(what, s"nfl.$what")(Some(body(pipeline)))
    Seq(
      boundary("ingest") { _ =>
        val read = (t: String) => tracer.span("sources.read", t)(spark.read.parquet(s"$in/$t"))
        pipeline = new NflPipeline(read("tracking"), read("pff"), read("plays"), read("players"))
        s"rows=${count(pipeline.mainDf, "mainDf")}"
      },
      boundary("bounds") { p =>
        s"rows=${count(p.playStart, "playStart")}/${count(p.playEnd, "playEnd")}"
      },
      boundary("set_points")(p => s"rows=${count(p.setPoints, "setPoints")}"),
      boundary("rusher_frames")(p => s"rows=${count(p.rusherFrames, "rusherFrames")}"),
      boundary("metric")(p => s"rows=${count(p.metric, "metric")}"),
      boundary("rushers_final")(p => s"rows=${count(p.rushersFinal, "rushersFinal")}"),
      boundary("blockers")(p => s"rows=${count(p.blockersWithMetric, "blockersWithMetric")}"),
      boundary("time_to_throw") { p =>
        Digest.ofRows(collect(p.timeToThrow, "timeToThrow"), p.timeToThrow.schema.fieldNames.toSeq)
      },
      op("write", "sources.write") {
        Sinks.parquet(pipeline.rushersFinal, s"$out/rushersFinal")
        Sinks.parquet(pipeline.blockersWithMetric, s"$out/blockersWithMetric")
        None
      })
  }

  private def model(families: Seq[String]): Seq[Op] = {
    var rushers, players, plays, context: DataFrame = null
    val read = op("read", "sources.read", "aux") {
      val read = (path: String) => spark.read.parquet(path)
      rushers = read(s"$season/rushersFinal")
      players = read(s"$season/players")
      plays = read(s"$season/plays")
      None
    }
    val cv = families.map { family =>
      op(family, s"ml.cv_$family") {
        val rmse = collect(PzModel.compareModels(rushers, Seq(family), folds, 1), family)
          .map(_.getAs[Double]("rmse"))
        Some(s"rmse=${rmse.sum / rmse.length}")
      }
    }
    val score = op("score", "ml.score", "aux") {
      val (_, scored) = PzModel.scoreResiduals(rushers, "rf")
      context = PzModel.attachContext(scored, players, plays)
      Some(s"rows=${count(context, "context")}")
    }
    val rankings = op("rankings", "nfl.rankings", "aux") {
      val r = Rankings.rusherRankings(context, minAttempts = 1L)
      val t = Rankings.teamRushRankings(context)
      Some(Digest.ofRows(collect(r, "rusherRankings"), r.schema.fieldNames.toSeq) + " " +
        Digest.ofRows(collect(t, "teamRushRankings"), t.schema.fieldNames.toSeq))
    }
    (read +: cv) ++ Seq(score, rankings)
  }

  override def verify(): Map[String, String] = {
    if (pipeline != null) pipeline.unpersistAll()
    pipeline = null
    val read = (t: String) => Digest.of(spark.read.parquet(s"$out/$t"))
    Map("write" -> s"${read("rushersFinal")} ${read("blockersWithMetric")}")
  }
}

/** A fixed slice of the query registry, in an order the seed rotates, each
  * query run to completion through a counting noop sink. */
final class RegistrySweep(spark: SparkSession, tracer: Tracer, data: String,
    stride: Int, seed: Long) extends Workload(spark, tracer) {
  private val families = Seq(
    "core" -> CoreQueries.all, "text" -> TextQueries.all,
    "similarity" -> SimilarityQueries.all, "events" -> EventsQueries.all,
    "media" -> MediaQueries.all)
  private val byName = SparkEntry.defs.map(q => q.name -> q).toMap

  /** Every `stride`-th query of each family, so each family is present. */
  val slice: Seq[(String, QueryDef)] = {
    val s = families.flatMap { case (f, qs) =>
      qs.zipWithIndex.collect { case (q, i) if i % stride == 0 => f -> byName(q.name) }
    }
    val k = Math.floorMod(seed, s.size.toLong).toInt
    s.drop(k) ++ s.take(k)
  }

  def prepare(): Unit = ()

  /** The registry's passes keep getting faster for ~30 s of JIT warm-up
    * (7.5, 6.8, 6.2, 5.7 s for the first four after a 16 s cold one, on
    * 4 cores), so set-up runs two passes, not one, before timing. */
  override def warmups: Int = 2

  def pass(): Seq[Op] = {
    val tables = op("tables", "tables.load", "aux") {
      val loaders = Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation,
        Tables.customer, Tables.supplier, Tables.part, Tables.orders, Tables.lineitem,
        Tables.events, Tables.documents, Tables.embeddings)
      Some(s"columns=${loaders.map(_(spark, data).schema.size).sum}")
    }
    tables +: slice.map { case (family, q) =>
      op(q.name, "op.query") {
        val df = tracer.span(s"queries.$family", q.name)(q.run(spark, data))
        plan(df, q.name)
        Some(s"rows=${tracer.span("exec.action", q.name)(CountingSink.write(df))}")
      }
    }
  }
}

/** Synthetic game blocks: block `b` holds games `b·n+1 … b·n+n`, so each
  * block has the generator's fixed play geometry and its own hash jitter. */
object Synth {
  val playsPerGame = 60
  val seasonGames = 8

  def writeBlock(spark: SparkSession, dir: String, games: Int, block: Int,
      tracking: Boolean = true): Unit = {
    val upTo = (block + 1) * games
    def ofBlock(df: DataFrame) = df.filter(col("gameId") > block.toLong * games)
    if (tracking) {
      Sinks.parquet(ofBlock(NflSynth.tracking(spark, upTo, playsPerGame)), s"$dir/tracking")
      Sinks.parquet(ofBlock(NflSynth.pff(spark, upTo, playsPerGame)), s"$dir/pff")
    }
    Sinks.parquet(ofBlock(NflSynth.plays(spark, upTo, playsPerGame)), s"$dir/plays")
    Sinks.parquet(NflSynth.players(spark), s"$dir/players")
  }

  def seasonFile(data: String): String = s"$data/season.parquet"

  /** DL → MB over block 0's games; `rushersFinal` as one parquet file. */
  def writeSeason(spark: SparkSession, work: String, data: String): Unit = {
    val in = s"$work/season-input"
    writeBlock(spark, in, seasonGames, 0)
    val read = (t: String) => spark.read.parquet(s"$in/$t")
    val p = new NflPipeline(read("tracking"), read("pff"), read("plays"), read("players"))
    val out = s"$work/season"
    p.rushersFinal.coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(seasonFile(data)),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Order-independent digest of a table: row count plus the sum of 32-bit
  * hashes of each row's canonical text (columns by name, doubles rounded to
  * four decimals so summation order cannot flip a digit). */
object Digest {
  def of(df: DataFrame): String = ofRows(df.collect(), df.schema.fieldNames.toSeq)

  def ofRows(rows: Array[Row], fields: Seq[String]): String = {
    val order = fields.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(fields).mkString(",")
    val sum = rows.iterator.map { r =>
      val text = order.map(i => cell(r.get(i))).mkString("\u0001")
      scala.util.hashing.MurmurHash3.stringHash(header + "\u0002" + text) & 0xffffffffL
    }.sum
    f"n=${rows.length}:$sum%x"
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => rounded(d)
    case f: Float => rounded(f.toDouble)
    case other => other.toString
  }

  private def rounded(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
}
