package graft
import org.apache.spark.sql.SparkSession

/** Host probes that stamp every timing line ([[Ladder]] and the repo
  * benchmark): the 1-minute load average and a fixed calibration job. */
object Bench {

  /** First /proc/loadavg figure at artifact time (1-minute host load) —
    * ~12 B that let a reader see residual contention the calibration
    * samples bracket but cannot timestamp. None where unreadable (macOS,
    * restricted mounts): the field is simply omitted. */
  def loadAvg1(): Option[Double] = try {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
    s.split("\\s+").headOption.flatMap(_.toDoubleOption)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Fixed deterministic calibration job: 64M `range` ids hashed and summed
    * on the session's full parallelism — no I/O, no shuffle, constant work.
    * Its wall time measures HOST capacity at that instant, so samples taken
    * through the run let a reader separate contention from regression: if
    * the calibration rows are inflated over the documented calm-window
    * value (PLANS.md "bench calibration"), every query row in the same
    * stretch is inflated by host load, not by a plan change. (Round-4
    * lesson: a loaded window recorded 23.0 s for a query that measures
    * 1.93 s calm, and nothing in the artifact could prove it was noise.) */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{bit_xor, xxhash64, col}
    val parallelism = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    // bit_xor, not sum: a Long sum of 64M hashes overflows under ANSI mode
    spark.range(0L, 64L << 20, 1L, parallelism)
      .select(xxhash64(col("id")).as("h"))
      .agg(bit_xor(col("h"))).head()
    (System.nanoTime() - t0) / 1e9
  }
}
