package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins `Tables.events`'s schema-adaptive `ts` contract (the round-9
  * regression: the driver regenerated the testdata and `events.ts` changed
  * from parquet timestamp[ns] to tz-naive timestamp[us], which broke every
  * events-reading query — 22 rows vanished from the correctness report).
  * Whatever layout the file carries, the loader must yield a session-zone
  * TIMESTAMP(LTZ) column that `unix_micros`/window code can consume. */
class EventsLoaderSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val shipped = "/root/testdata/sf0.001"

  private def writeEvents(df: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("ev-loader").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("shipped testdata loads with a TIMESTAMP ts usable by unix_micros") {
    val ev = Tables.events(spark, shipped)
    ev.schema("ts").dataType shouldBe TimestampType
    val r = ev.agg(
      count(when(col("ts").isNull, 1)).as("nulls"),
      min(unix_micros(col("ts"))).as("lo")).head()
    r.getLong(0) shouldBe 0L
    r.getLong(1) should be > 0L // epoch micros, sane (post-1970) clock
  }

  test("a tz-naive timestamp file (round-9 layout) is reinterpreted in the session zone") {
    // session zone is pinned UTC (SparkTestBase), so the naive literal's
    // micros must equal its UTC epoch offset exactly
    val dir = writeEvents(spark.sql(
      """SELECT 1L AS event_id,
        |       TIMESTAMP_NTZ '2026-01-02 03:04:05.678901' AS ts,
        |       7L AS user_id""".stripMargin))
    val ev = Tables.events(spark, dir)
    ev.schema("ts").dataType shouldBe TimestampType
    val expected = java.time.LocalDateTime
      .parse("2026-01-02T03:04:05.678901")
      .toInstant(java.time.ZoneOffset.UTC)
    val micros = ev.select(unix_micros(col("ts"))).head().getLong(0)
    micros shouldBe expected.getEpochSecond * 1000000L + expected.getNano / 1000L
  }

  test("a long ts column (ns file read under the legacy conf) converts ns -> us") {
    val nanos = 1767323045678901000L // 2026-01-02T03:04:05.678901Z in ns
    val dir = writeEvents(spark.range(1)
      .select(col("id").as("event_id"), lit(nanos).as("ts")))
    spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType shouldBe LongType
    val ev = Tables.events(spark, dir)
    ev.schema("ts").dataType shouldBe TimestampType
    ev.select(unix_micros(col("ts"))).head().getLong(0) shouldBe nanos / 1000L
  }

  test("an INT64 TIMESTAMP(NANOS) file (pre-round-9 layout) converts ns -> us on a fresh session") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val nanos = 1767323045678901234L // 2026-01-02T03:04:05.678901234Z in ns
    val dir = java.nio.file.Files.createTempDirectory("ev-loader-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", nanos))
    finally w.close()
    // a fresh session: the loader itself must turn the legacy conf on
    val fresh = spark.newSession()
    val ev = Tables.events(fresh, dir)
    ev.schema("ts").dataType shouldBe TimestampType
    ev.select(unix_micros(col("ts"))).head().getLong(0) shouldBe nanos / 1000L
    fresh.conf.get(NanosAsLong) shouldBe "true"
  }

  test("shipped testdata leaves the legacy nanos conf unset") {
    val fresh = spark.newSession()
    Tables.events(fresh, shipped).schema("ts").dataType shouldBe TimestampType
    fresh.conf.getAll.get(NanosAsLong) shouldBe None
  }

  test("an already-LTZ timestamp file passes through unchanged") {
    val dir = writeEvents(spark.sql(
      "SELECT 1L AS event_id, TIMESTAMP '2026-01-02 03:04:05.678901+00:00' AS ts"))
    val ev = Tables.events(spark, dir)
    ev.schema("ts").dataType shouldBe TimestampType
    ev.select(unix_micros(col("ts"))).head().getLong(0) shouldBe
      1767323045678901L
  }
}
