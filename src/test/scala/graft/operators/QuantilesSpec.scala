package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** The counts+window exact-quantile plan must equal the builtin
  * (buffer-the-group) `median`/`percentile` bit-for-bit — odd/even group
  * sizes, heavy ties, nulls — and the public API must route between the two
  * plans on the rows-per-group crossover. The equivalence tests call
  * `parallelQuantiles` directly: the public dispatch would send these
  * small fixtures to the builtin and the comparison would be vacuous. */
class QuantilesSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def parallelMedian(df: org.apache.spark.sql.DataFrame) =
    Quantiles.parallelQuantiles(df, "g", "v", Seq(0.5))

  test("parallel plan ≡ builtin median on randomized groups (exact)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23L)
    val rows = (0 until 8).flatMap { g =>
      val n = 1 + rnd.nextInt(200) // odd and even sizes
      (0 until n).map(_ => (s"g$g", math.floor(rnd.nextGaussian() * 50) / 4)) // ties
    }
    val df = rows.toDF("g", "v")
    val ours = parallelMedian(df)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val builtin = df.groupBy("g").agg(median(col("v")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ours.keySet shouldBe builtin.keySet
    ours.foreach { case (g, m) => m shouldBe builtin(g) } // exact, not +-
  }

  test("parallel plan ≡ builtin percentile for arbitrary p, one pass") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    val df = (0 until 3).flatMap { g =>
      (0 until 50 + g).map(_ => (s"g$g", rnd.nextDouble() * 100)) // odd+even n
    }.toDF("g", "v")
    val ps = Seq(0.25, 0.5, 0.75, 0.9)
    val ours = Quantiles.parallelQuantiles(df, "g", "v", ps)
      .collect().map(r => r.getString(0) -> ps.indices.map(i => r.getDouble(i + 1))).toMap
    val builtin = df.groupBy("g")
      .agg(percentile(col("v"), typedLit(ps)).as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    ours.keySet shouldBe builtin.keySet
    ours.foreach { case (g, qs) =>
      qs.zip(builtin(g)).foreach { case (a, b) => a shouldBe b } // exact
    }
  }

  test("parallel plan is exact when groups span many range partitions") {
    // the failure mode: a group's distinct values split across multiple
    // range partitions, where the driver-collected rank offsets must match
    // the very materialization the result reads (recomputation after
    // unpersist would re-sample range boundaries)
    import spark.implicits._
    val rnd = new scala.util.Random(47L)
    val df = (0 until 2).flatMap { g =>
      (0 until 20000).map(_ => (s"g$g", rnd.nextDouble() * 1e6))
    }.toDF("g", "v")
    val ours = Quantiles.parallelQuantiles(df, "g", "v", Seq(0.25, 0.5))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val builtin = df.groupBy("g")
      .agg(percentile(col("v"), lit(0.25)).as("a"), percentile(col("v"), lit(0.5)).as("b"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    ours shouldBe builtin // exact, across multi-partition groups
  }

  test("both paths ignore nulls and handle single-value groups identically") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("b", Some(7.0)), ("c", Some(2.0)), ("c", Some(4.0))).toDF("g", "v")
    val want = Map("a" -> 2.0, "b" -> 7.0, "c" -> 3.0)
    // forced parallel (hint above the crossover)
    Quantiles.groupMedian(df, "g", "v", rowsPerGroupHint = Some(Long.MaxValue))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe want
    // dispatch default → builtin path on this tiny input
    Quantiles.groupMedian(df, "g", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe want
  }

  test("crossover measures the LARGEST group, not the average (skew-safe)") {
    import spark.implicits._
    // 1 hot group (1000 rows) + 1000 singletons: average ≈ 2 would hide the
    // hot group; the estimator must report the max so a skewed input above
    // the threshold routes to the parallel plan, not the builtin buffer
    val df = ((0 until 1000).map(_ => ("hot", 1.0)) ++
      (0 until 1000).map(i => (s"s$i", 1.0))).toDF("g", "v")
    Quantiles.largestGroupRows(df, "g", "v") shouldBe 1000L
    // nulls don't count toward a group's buffered size
    val withNulls = Seq(("a", Some(1.0)), ("a", None), ("b", Some(2.0)))
      .toDF("g", "v")
    Quantiles.largestGroupRows(withNulls, "g", "v") shouldBe 1L
    Quantiles.largestGroupRows(withNulls.limit(0), "g", "v") shouldBe 0L
  }

  test("grouping a column by itself is rejected up front, not as an ambiguous-frame AnalysisException") {
    val df = spark.range(10).select((col("id") % 2).as("g"), col("id").cast("double").as("v"))
    an[IllegalArgumentException] should be thrownBy
      Quantiles.groupQuantiles(df, "v", "v", Seq(0.5))
  }

  test("rows-per-group crossover picks builtin below, parallel above") {
    import spark.implicits._
    val df = (0 until 3).flatMap(g => (0 until 40).map(i => (s"g$g", i.toDouble)))
      .toDF("g", "v")
    // small rows/group (estimated) → lazy builtin percentile aggregate
    val viaEstimate = Quantiles.groupQuantiles(df, "g", "v", Seq(0.5))
    viaEstimate.queryExecution.analyzed.toString should include("percentile")
    // hint above the crossover → eager parallel plan (materialized result)
    val forced = Quantiles.groupQuantiles(df, "g", "v", Seq(0.5),
      rowsPerGroupHint = Some(Quantiles.builtinMaxRowsPerGroup + 1))
    (forced.queryExecution.analyzed.toString should not).include("percentile")
    // and the two choices agree exactly
    forced.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe
      viaEstimate.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("q10 regime: a WIDE parquet frame keeps the zero-job builtin dispatch via the entry projection") {
    // without the entry projection, the dispatch estimate prices the whole
    // 16-column lineitem file (compressed bytes × slack > cap) and q10
    // falls back to the probe/parallel path; the projection prices the two
    // columns quantiles actually read
    val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    val q = Quantiles.groupQuantiles(li, "l_returnflag", "l_extendedprice", Seq(0.5))
    q.queryExecution.analyzed.toString should include("percentile") // builtin, zero probe jobs
    // and the wide frame WITHOUT projection would NOT pass the slacked cap
    Quantiles.estimatedBytesForDispatch(li) should be >
      BigInt(Quantiles.builtinMaxBytesSingleGroup)
  }

  test("file-source estimates are charged the compression slack (r20 advice)") {
    import spark.implicits._
    // in-memory/derived frame: raw Catalyst estimate, no slack
    val local = (0 until 100).map(i => ("g", i.toDouble)).toDF("g", "v")
    val rawEst = local.queryExecution.optimizedPlan.stats.sizeInBytes
    Quantiles.estimatedBytesForDispatch(local) shouldBe rawEst
    // file-backed frame: the same stats estimate is compressed on-disk
    // bytes and must be multiplied by the slack before the cap compare
    val dir = java.nio.file.Files.createTempDirectory("qslack").toFile
    try {
      val p = new java.io.File(dir, "t.parquet").getAbsolutePath
      local.write.mode("overwrite").parquet(p)
      val onDisk = spark.read.parquet(p)
      val fileEst = onDisk.queryExecution.optimizedPlan.stats.sizeInBytes
      Quantiles.estimatedBytesForDispatch(onDisk) shouldBe
        fileEst * Quantiles.fileSourceCompressionSlack
      // ...and a frame DERIVED from the scan keeps the slack (the scan is
      // still in the plan, so the estimate is still compression-based)
      val derived = onDisk.filter(col("v") >= 0.0)
      val dEst = derived.queryExecution.optimizedPlan.stats.sizeInBytes
      Quantiles.estimatedBytesForDispatch(derived) shouldBe
        dEst * Quantiles.fileSourceCompressionSlack
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }
}
