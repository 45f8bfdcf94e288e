package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.SparkSession

/** Bounded concurrent submission: the one thread pool in the program.
  *
  * At bench and paper scale a fit or a query is bound by job latency, not by
  * task time: most of a job's wall time is driver work between jobs
  * (closure cleaning, planning, scheduling) while the cores sit idle. Two
  * bodies run at once hide each other's driver time behind their jobs.
  */
object Par {

  /** Runs every thunk and returns the results in input order.
    *
    * At most `min(thunks.size, defaultParallelism)` threads run, never the
    * caller's own. The pool belongs to this call: its daemon threads are
    * created here, on the caller's thread, so each inherits the caller's
    * Spark local properties (job group, trace span) and active session as
    * they stand now, and all of them are joined before the call returns or
    * throws. The first failure stops further thunks from starting and is
    * rethrown as itself once the running ones finish (no job is left
    * running behind the call).
    */
  def all[T](spark: SparkSession)(thunks: Seq[() => T]): Seq[T] = {
    val cells = thunks.toIndexedSeq
    val n = math.min(cells.size, spark.sparkContext.defaultParallelism)
    val results = new Array[Any](cells.size)
    val next = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable]()
    val workers = Seq.tabulate(n) { w =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < cells.size && failure.get == null) {
          try results(i) = cells(i)()
          catch { case e: Throwable => failure.compareAndSet(null, e) }
          i = next.getAndIncrement()
        }
      }, s"graft-par-$w")
      t.setDaemon(true)
      t
    }
    try workers.foreach(_.start())
    finally workers.foreach(_.join()) // join orders every write to `results` before the reads
    Option(failure.get).foreach(e => throw e)
    results.toIndexedSeq.map(_.asInstanceOf[T])
  }
}
