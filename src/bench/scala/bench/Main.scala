package bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftExtensions}

/** Runs one workload in one JVM and writes its raw samples as JSON; the
  * Python front end (`run.py`) turns them into metrics and checks them.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * work (scratch directory), data (the committed inputs: registry tables
  * and the model stage's season), out (samples file), size (full|tiny),
  * blocks (pin mode: `a-b`, one verified pass per block, no timing loop).
  * Workload `season` writes the model stage's committed input instead.
  */
object Main {
  val Cores = 4
  val Blocks = 16

  /** CV folds of the model stage: the fewest that still cross-validate. */
  val Folds = 2
  /** Input generations timed in set-up; `setup_s` takes their median. */
  val Prepares = 3

  final case class Size(games: Int, stride: Int)
  val sizes = Map(
    "full" -> Size(games = 8, stride = 30),
    "tiny" -> Size(games = 2, stride = 46))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt.getOrElse("seed", "0").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val size = sizes(opt.getOrElse("size", "full"))

    val t0 = System.nanoTime()
    val spark = session(workload, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val storage = new StorageWatch(spark.sparkContext)
    spark.sparkContext.addSparkListener(storage)

    def build(block: Int): Workload = workload match {
      case "pzs_pipeline" =>
        new PzsPipeline(spark, tracer, work, opt("data"), size.games, block, Folds)
      case "registry_sweep" => new RegistrySweep(spark, tracer, opt("data"), size.stride, seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    def runPass(w: Workload, id: Int, counting: Boolean, warm: Boolean = false): Json.Obj = {
      tracer.pass = id
      storage.reset()
      tracer.counting(counting)
      val start = System.nanoTime()
      val ops = if (warm) w.warmup() else w.pass()
      val passS = (System.nanoTime() - start) / 1e9
      val spans = if (counting) tracer.spansOf(id) else Seq.empty
      tracer.counting(false)
      val checks = try w.verify() catch {
        case scala.util.control.NonFatal(e) => Map("verify" -> s"error: $e")
      }
      val peak = storage.peakBytes()
      Json.Obj(
        "id" -> id, "seconds" -> passS, "traced" -> counting, "peak_cached_bytes" -> peak,
        "ops" -> ops.map(o => Json.Obj("label" -> o.label, "kind" -> o.kind,
          "seconds" -> o.seconds, "error" -> o.error.orNull,
          "check" -> checks.get(o.label).orElse(o.check).orNull)),
        "verify_errors" -> checks.get("verify").toSeq,
        "spans" -> spans.map(spanJson))
    }

    val result = opt.get("blocks") match {
      case _ if workload == "season" =>
        Synth.writeSeason(spark, work, opt("data"))
        Json.Obj("season" -> Synth.seasonFile(opt("data")))
      case Some(range) =>
        // pin mode: one verified pass per seed block, for the pinned table
        val Array(a, b) = range.split("-").map(_.toInt)
        Json.Obj("pins" -> (a to b).map { block =>
          val w = build(block)
          w.prepare()
          w.materialize()
          Json.Obj("block" -> block, "pass" -> runPass(w, 0, counting = false))
        })
      case None =>
        val w = build(Math.floorMod(seed, Blocks.toLong).toInt)
        val prepareS = (1 to Prepares).map { _ =>
          val s = System.nanoTime(); w.prepare(); (System.nanoTime() - s) / 1e9
        }
        val ms = System.nanoTime()
        w.materialize()
        val materializeS = (System.nanoTime() - ms) / 1e9
        val ws = System.nanoTime()
        val warmups = (1 to w.warmups).map(i => runPass(w, -i, counting = false, warm = true))
        val warmupS = (System.nanoTime() - ws) / 1e9
        val before = noise(spark)
        val passes = scala.collection.mutable.ArrayBuffer.empty[Json.Obj]
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        // trace mode alternates counted and uncounted passes, so one run
        // gives both the per-layer counts and the tracing overhead
        val minPasses = if (traced) 2 else 1
        while (passes.size < minPasses || System.nanoTime() < deadline)
          passes += runPass(w, passes.size + 1, counting = traced && passes.size % 2 == 0)
        Json.Obj(
          "workload" -> workload, "seed" -> seed, "cores" -> Cores,
          "session_s" -> sessionS, "prepare_s" -> prepareS, "materialize_s" -> materializeS,
          "warmup_s" -> warmupS,
          "warmups" -> warmups, "passes" -> passes.toSeq,
          "noise" -> Json.Obj("before" -> before, "after" -> noise(spark)))
    }
    spark.stop()
    Files.write(Paths.get(opt("out")), result.render.getBytes(StandardCharsets.UTF_8))
  }

  /** Host-noise stamp: 1-minute load average and the repo's fixed
    * calibration job. Recorded beside the metrics, never as one. */
  private def noise(spark: SparkSession): Json.Obj =
    Json.Obj("load1" -> Bench.loadAvg1().getOrElse(-1.0), "calibrate_s" -> Bench.calibrate(spark))

  private def spanJson(s: Span): Json.Obj = Json.Obj(
    "id" -> s.id, "name" -> s.name, "label" -> s.label, "pass" -> s.pass, "parent" -> s.parent,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> s.counts.jobs,
    "stages" -> s.counts.stages, "tasks" -> s.counts.tasks, "task_ns" -> s.counts.taskNs,
    "shuffle_write_bytes" -> s.counts.shuffleWriteBytes, "spill_bytes" -> s.counts.spillBytes)

  private def session(workload: String, work: String): SparkSession = {
    val base = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$Cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
    // shuffle width = cores, as the query bench runs; NflPipeline.scaleConf's
    // 16x-cores initial partitioning targets 100x-1000x inputs and at these
    // sizes only multiplies tasks (a tracking pass takes 24 s under it, 9 s
    // without)
    val spark = base.config("spark.sql.shuffle.partitions", Cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    spark
  }
}

/** Minimal JSON output: objects keep insertion order. */
object Json {
  final case class Obj(fields: (String, Any)*) {
    def render: String = fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}")
  }

  private def value(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.render
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
