package bench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Work Spark did on behalf of one span: the jobs submitted while the span
  * was innermost, and their stages and tasks. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One timed call into a layer. `name` is `<layer>.<what>` (`nfl.ingest`,
  * `catalyst.plan`); `label` says which query, boundary or model family. */
final case class Span(id: Int, name: String, label: String, pass: Int, parent: Int,
    startNs: Long, endNs: Long, counts: Counts)

/** Spans around the benchmark's calls into the program. Spans are always
  * recorded (two `nanoTime` reads and a local property each); the counting
  * listener is attached only for traced passes. Jobs are attributed through
  * the `bench.span` local property, which Spark copies into every job the
  * calling thread submits. */
final class Tracer(sc: SparkContext) {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, String, Long)]
  private var nextId = 1
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  var pass = 0

  private def countsOf(id: Int): Counts = counts.computeIfAbsent(id, _ => new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(_.toInt).getOrElse(0)
      e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, id))
      val c = countsOf(id)
      c.synchronized(c.jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = countsOf(stageSpan.getOrDefault(e.stageId, 0))
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskNs += m.executorRunTime * 1000000L
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }
  private var attached = false

  def counting(on: Boolean): Unit = if (on != attached) {
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    attached = on
  }

  def span[T](name: String, label: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parentProp = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, id.toString)
    stack = (id, name, label, System.nanoTime()) :: stack
    try body
    finally {
      val (_, _, _, start) = stack.head
      stack = stack.tail
      sc.setLocalProperty(Tracer.Key, parentProp)
      val parent = stack.headOption.map(_._1).getOrElse(0)
      done += Span(id, name, label, pass, parent, start, System.nanoTime(), countsOf(id))
    }
  }

  /** Spans of one pass, after every event of its jobs has been delivered. */
  def spansOf(p: Int): Seq[Span] = {
    if (attached) org.apache.spark.BenchBus.drain(sc)
    done.filter(_.pass == p).toSeq
  }
}

object Tracer {
  val Key = "bench.span"
}

/** Peak block-manager storage memory held by RDD blocks created since
  * `reset`: `persist` and `localCheckpoint` blocks both land here. Blocks
  * left over from an earlier pass are excluded by RDD id, so one pass's
  * peak does not depend on when the cleaner released the previous pass's
  * blocks. */
final class StorageWatch(sc: SparkContext) extends SparkListener {
  private val sizes = new java.util.HashMap[String, Long]()
  @volatile private var floorRdd = 0
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.filter(_.rddId >= floorRdd).foreach { b =>
      val key = s"${b.name}@${info.blockManagerId.executorId}"
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      current += mem - Option(sizes.put(key, mem)).getOrElse(0L)
      peak = math.max(peak, current)
    }
  }

  def reset(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized {
      // an RDD created now takes the next id: everything older is excluded
      floorRdd = sc.emptyRDD[Int].id
      sizes.clear()
      current = 0L
      peak = 0L
    }
  }

  def peakBytes(): Long = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(peak)
  }
}
