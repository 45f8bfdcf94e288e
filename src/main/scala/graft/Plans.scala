package graft
/** Dump formatted physical plans for every registered query (plan-review
  * tool: check pushdown/broadcast/codegen before trusting bench numbers). */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names: Set[String] = if (args.length > 1) args.drop(1).toSet else Set.empty
    val spark = Ladder.localSession(
      "spark.master" -> "local[8]", "spark.sql.shuffle.partitions" -> "8")
    SparkEntry.defs.filter(q => names.isEmpty || names(q.name)).foreach { q =>
      println(s"\n===== ${q.name} =====")
      try q.run(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
