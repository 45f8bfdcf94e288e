package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Schema-drift canary for the driver-shipped testdata (TESTDATA.md).
  *
  * The round-9 regeneration changed `events.ts` from parquet timestamp[ns]
  * to tz-naive timestamp[us] and nothing failed NAMING the drift — 22
  * queries just vanished from the correctness report. This spec pins what
  * every `Tables` loader yields, so the next regeneration fails HERE with
  * the changed table and column in the message, not downstream in whatever
  * query happens to touch the changed column first.
  *
  * Deliberately tolerant where the engine is: timestamp columns that ship
  * tz-naive may arrive as TIMESTAMP_NTZ or TIMESTAMP (both layouts are
  * handled and oracle-verified); everything else is exact.
  */
class TestdataContractSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
  private val dir = sfDirs.head

  /** Accept both session-zone and ntz arrivals for shipped-naive columns. */
  private val AnyTimestamp: Set[DataType] = Set(TimestampType, TimestampNTZType)

  private def assertSchema(table: String, df: org.apache.spark.sql.DataFrame,
                           expected: Seq[(String, AnyRef)]): Unit = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType)
    withClue(s"$table column names drifted (got ${actual.map(_._1).mkString(",")}): ") {
      actual.map(_._1) shouldBe expected.map(_._1)
    }
    expected.zip(actual).foreach {
      case ((name, want: DataType), (_, got)) =>
        withClue(s"$table.$name type drifted: ") { got shouldBe want }
      case ((name, want: Set[_]), (_, got)) =>
        withClue(s"$table.$name type drifted (got $got): ") {
          want.asInstanceOf[Set[DataType]] should contain(got)
        }
    }
  }

  test("region/nation dimension schemas") {
    assertSchema("region", Tables.region(spark, dir),
      Seq("r_regionkey" -> IntegerType, "r_name" -> StringType))
    assertSchema("nation", Tables.nation(spark, dir),
      Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType))
  }

  test("customer/supplier/part schemas") {
    assertSchema("customer", Tables.customer(spark, dir),
      Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType))
    assertSchema("supplier", Tables.supplier(spark, dir),
      Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    assertSchema("part", Tables.part(spark, dir),
      Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType))
  }

  test("orders/lineitem fact schemas") {
    assertSchema("orders", Tables.orders(spark, dir),
      Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> AnyTimestamp, "o_orderpriority" -> StringType))
    assertSchema("lineitem", Tables.lineitem(spark, dir),
      Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> AnyTimestamp))
  }

  test("events schema — ts is ALWAYS session-zone TIMESTAMP after the loader") {
    assertSchema("events", Tables.events(spark, dir),
      Seq("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType))
  }

  test("documents/embeddings schemas") {
    assertSchema("documents", Tables.documents(spark, dir),
      Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType))
    assertSchema("embeddings", Tables.embeddings(spark, dir),
      Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType))
  }

  test("all three scale factors agree on the events layout") {
    // a partial regeneration (one sf dir changed, others stale) would make
    // sf0.01 correctness and sf0.1 bench disagree — catch it here
    sfDirs.foreach { d =>
      withClue(s"$d: ") {
        Tables.events(spark, d).schema("ts").dataType shouldBe TimestampType
      }
    }
  }

  test("footer-read schemas equal Spark's inferred ones for every table and scale factor") {
    for (d <- sfDirs :+ "src/bench/data"; t <- Catalog.tableNames)
      withClue(s"$d/$t: ") {
        Tables.load(spark, d, t).schema shouldBe spark.read.parquet(s"$d/$t.parquet").schema
      }
  }

  test("a Spark-written multi-part directory loads with its inferred schema and rows") {
    val dir = java.nio.file.Files.createTempDirectory("tables-parts").resolve("t.parquet").toString
    spark.range(0, 8, 1, 4).select(
      col("id"), // non-nullable bigint
      expr("TIMESTAMP_NTZ '2026-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, 0, id)").as("ntz"),
      expr("TIMESTAMP '2026-01-02 03:04:05+00:00' + make_interval(0, 0, 0, 0, 0, 0, id)").as("ltz"),
      array(col("id").cast("float"), lit(0.5f)).as("vec"))
      .write.parquet(dir)
    val parts = new java.io.File(dir).list().count(_.startsWith("part-"))
    parts should be > 1
    val inferred = spark.read.parquet(dir)
    inferred.schema.simpleString shouldBe
      "struct<id:bigint,ntz:timestamp_ntz,ltz:timestamp,vec:array<float>>"
    val loaded = Tables.parquet(spark, dir)
    loaded.schema shouldBe inferred.schema
    loaded.orderBy("id").collect() shouldBe inferred.orderBy("id").collect()
  }

  test("a path with no parquet data file fails naming the path") {
    val empty = java.nio.file.Files.createTempDirectory("tables-empty").toString
    java.nio.file.Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    val e = intercept[IllegalArgumentException](Tables.parquet(spark, empty))
    e.getMessage should include(empty)
  }

  test("loading all ten tables through Tables launches no Spark job") {
    val sc = spark.sparkContext
    val key = "graft.tables.probe"
    val tagged = new AtomicInteger()
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach {
          case "sentinel" => sentinelSeen = true
          case _ => tagged.incrementAndGet()
        }
    }
    // the bus delivers in order: once the sentinel job is seen, every job
    // started before it has been counted
    def jobsOf(body: => Unit): Int = {
      tagged.set(0)
      sentinelSeen = false
      sc.setLocalProperty(key, "load")
      try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      eventually(timeout(Span(10, Seconds)))(assert(sentinelSeen))
      tagged.get
    }
    sc.addSparkListener(listener)
    try {
      // the counter sees a schema-inferring read
      jobsOf(spark.read.parquet(s"$dir/region.parquet").schema) should be >= 1
      val loaders = Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
        Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
        Tables.orders, Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
      jobsOf(loaders.foreach(_(spark, dir).schema)) shouldBe 0
    } finally sc.removeSparkListener(listener)
  }
}
