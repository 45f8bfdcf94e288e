package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.{Seconds, Span}

/** `Par.all`, the one thread pool: input order, the core cap, the caller's
  * local properties and session in every worker, failures rethrown as
  * themselves, and no thread left behind. Runs on the shared `local[4]`
  * session with sleeps of tens of milliseconds and a few tiny jobs. */
class ParSpec extends AnyFunSuite with Matchers with SparkTestBase with Eventually {

  private def cores = spark.sparkContext.defaultParallelism

  test("results come back in input order when thunks finish out of order") {
    val finished = new ConcurrentLinkedQueue[Int]()
    val out = Par.all(spark)((0 until 6).map { i => () =>
      Thread.sleep(30L * (6 - i)) // later thunks finish first
      finished.add(i)
      i * 10
    })
    out shouldBe (0 until 6).map(_ * 10)
    // non-vacuity: they really did finish out of input order
    finished.asScala.toSeq should not be (0 until 6)
  }

  test("no more than min(n, cores) distinct worker threads run") {
    cores shouldBe 4
    for (n <- Seq(2, 10)) {
      val seen = new ConcurrentLinkedQueue[Thread]()
      Par.all(spark)(Seq.fill(n) { () =>
        seen.add(Thread.currentThread()); Thread.sleep(40L)
      })
      val distinct = seen.asScala.toSet
      seen.size shouldBe n
      distinct.size should be <= math.min(n, cores)
      distinct.size should be > 1
      distinct should not contain Thread.currentThread()
      all(distinct.map(_.isDaemon)) shouldBe true
    }
  }

  test("jobs submitted from the thunks carry the caller's local properties and session") {
    val sc = spark.sparkContext
    val key = "graft.par.probe"
    val probes = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(probes.add)
    }
    sc.addSparkListener(listener)
    SparkSession.setActiveSession(spark)
    try {
      // two calls with different values: a pool that outlived the first
      // call would still carry "first" into the second
      for (value <- Seq("first", "second")) {
        sc.setLocalProperty(key, value)
        val sessions = Par.all(spark)(Seq.fill(3) { () =>
          spark.range(0, 10, 1, 2).count() shouldBe 10L
          (sc.getLocalProperty(key), SparkSession.getActiveSession)
        })
        sessions shouldBe Seq.fill(3)((value, Some(spark)))
        eventually(timeout(Span(10, Seconds))) {
          probes.asScala.count(_ == value) should be >= 3
        }
      }
      probes.asScala.toSet shouldBe Set("first", "second")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("the first failure comes back as itself and stops unstarted thunks") {
    final class CellFailed(msg: String) extends RuntimeException(msg)
    val started = new ConcurrentLinkedQueue[Int]()
    val e = intercept[CellFailed] {
      Par.all(spark)((0 until 20).map { i => () =>
        started.add(i)
        i match {
          case 0 => Thread.sleep(300L); throw new IllegalStateException("late failure")
          case 1 => throw new CellFailed("cell 1 failed first")
          case _ => Thread.sleep(40L); i
        }
      })
    }
    e.getMessage shouldBe "cell 1 failed first"
    started.size should be < 20
  }

  test("no pool thread is alive after a normal return or a failure") {
    def workersOf(fail: Boolean): Set[Thread] = {
      val seen = new ConcurrentLinkedQueue[Thread]()
      val body = () => Par.all(spark)((0 until 8).map { i => () =>
        seen.add(Thread.currentThread())
        Thread.sleep(20L)
        if (fail && i == 3) throw new RuntimeException("boom")
        i
      })
      if (fail) intercept[RuntimeException](body()).getMessage shouldBe "boom"
      else body() shouldBe (0 until 8)
      seen.asScala.toSet
    }
    for (fail <- Seq(false, true)) {
      val workers = workersOf(fail)
      workers should not be empty
      workers.filter(_.isAlive) shouldBe empty
    }
  }

  test("no thunk returns nothing, and one thunk returns its own result") {
    Par.all(spark)(Seq.empty[() => Int]) shouldBe empty
    Par.all(spark)(Seq(() => 42)) shouldBe Seq(42)
  }
}
