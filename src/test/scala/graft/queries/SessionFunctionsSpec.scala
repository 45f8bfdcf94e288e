package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.streaming.EventStream

/** A query body must not mutate its session: two queries can then run at
  * once on one session. The aggregator-backed paths (x26's MinHashUnion,
  * x42's HeavyHitters, the x70 Bloom bitmap and the streaming top-k twin)
  * apply their `udaf` as a column function, so building and running them
  * leaves the session's function registry exactly as it was. A fresh
  * child session keeps other suites' registrations out of the baseline. */
class SessionFunctionsSpec extends AnyFunSuite with Matchers with SparkTestBase {

  test("aggregator-backed query paths leave the session's function registry unchanged") {
    val s = spark.newSession()
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("session-fns").toString
    Seq((1L, "a b c d e f", "en"), (2L, "a b c d e g", "en"), (3L, "x y z w", "de"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    def functions() = s.catalog.listFunctions().collect().map(_.name).toSet
    val before = functions()

    TextQueries.dedupClusters.run(s, dir).collect() should not be empty
    TextQueries.textTopkTokens.run(s, dir).collect() should not be empty
    val keys = Seq("k1", "k2").toDF("bk")
    TextQueries.bloomBuild(keys, "bk", 1 << 10).collect() should have length 1
    val docs = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), "en", "a a b"))
      .toDF("doc_id", "ts", "lang", "text")
    EventStream.topkTokens(docs, m = 16, k = 2).collect() should not be empty

    val after = functions()
    (after -- before) shouldBe empty
    (before -- after) shouldBe empty
  }
}
