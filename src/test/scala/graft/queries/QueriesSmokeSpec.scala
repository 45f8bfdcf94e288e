package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{Par, SparkEntry, SparkTestBase}

/** Smoke: every registered query runs on the sf0.001 testdata and produces a
  * well-formed result (value correctness is the driver's DuckDB gate; this
  * catches plan-breaking regressions at test time). */
class QueriesSmokeSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // Queries whose result can legitimately be small/empty at tiny scale.
  private val mayBeEmpty = Set("x03_dedup_minhash", "x04_dedup_simhash", "x05_dedup_ngram_jaccard",
    "x21_dedup_emb_lsh", // LSH recall on sub-threshold "near"-dups can be 0 at tiny SF
    "x24_dedup_chunks")  // sf0.001 documents have no duplicated texts at all

  SparkEntry.defs.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val df = q.run(spark, dir)
      val n = df.count()
      if (!mayBeEmpty(q.name)) {
        withClue(s"${q.name} returned no rows: ") { n should be > 0L }
      }
      df.columns.distinct.length shouldBe df.columns.length // no dup column names
    }
  }

  test("entry() flagship returns rows (driver t1 smoke contract)") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    SparkEntry.oracleSql.keySet.subsetOf(qs) shouldBe true
  }

  test("registry names and their id prefixes (q01, x31) are unique") {
    // `SparkEntry.queries` is a Map, so a duplicate name would silently drop
    // a query from the oracle compare; docs, plan dumps and `Ladder queries`
    // prefixes address queries by the id before the first '_'
    val names = SparkEntry.defs.map(_.name)
    names.diff(names.distinct) shouldBe empty
    val ids = names.map(_.takeWhile(_ != '_'))
    ids.diff(ids.distinct) shouldBe empty
  }

  /** A value as comparable text: binary as hex (its toString is an
    * identity hash), nested rows and arrays element by element. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().toSeq.map(canon).sorted

  test("a registry slice run concurrently on one session equals its serial run") {
    // the registry_sweep rule: every 30th query of each family
    val slice = Seq(CoreQueries.all, TextQueries.all, SimilarityQueries.all,
      EventsQueries.all, MediaQueries.all)
      .flatMap(_.zipWithIndex.collect { case (q, i) if i % 30 == 0 => q })
    val serial = slice.map(q => sortedRows(q.run(spark, dir)))
    val concurrent = Par.all(spark)(slice.map(q => () => sortedRows(q.run(spark, dir))))
    slice.zip(serial.zip(concurrent)).foreach { case (q, (s, c)) =>
      withClue(s"${q.name}: ") {
        c.size shouldBe s.size
        c shouldBe s
      }
    }
  }
}
