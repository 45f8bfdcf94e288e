package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Scale-safe exact quantiles.
  *
  * Spark's builtin `median`/`percentile` aggregate buffers EVERY value of a
  * group inside one ObjectHashAggregate task — O(group size) memory in a
  * single JVM, the classic driver-of-OOM for billion-row groups. And even a
  * counts+window formulation partitioned BY GROUP serializes each group's
  * sort into one task — with few groups, a 1000-executor cluster sorts on 3
  * cores.
  *
  * This plan parallelizes across the whole cluster regardless of group
  * count, reusing the distributed-ranking scheme of
  * `StatTests.withValueRanks`:
  *
  *   1. one map-side-combinable groupBy → per-(group, value) counts;
  *   2. `repartitionByRange` on (group, value) → every partition holds a
  *      contiguous slice of one-or-more groups' value ranges;
  *   3. per-(partition, group) totals collected to the driver (≤ #partitions
  *      + #groups tiny rows) → prefix offsets per group;
  *   4. a window partitioned by (partition-id, group) adds the local running
  *      count — so the only sorts are partition-local and spillable;
  *   5. the bracketing distinct values for each requested rank are picked by
  *      a broadcast join against the per-group target table and aggregated.
  *
  * Interpolation matches `percentile(v, p)` BIT-exactly — Spark's own
  * formula `(higher − pos)·lo + (pos − lower)·hi` with the lower==higher
  * short-circuit (the algebraically equal `lo + (hi−lo)·frac` differs by an
  * ulp for p ≠ 0.5) — so swapping this into an oracle-checked query changes
  * no results.
  */
object Quantiles {

  /** Rows-per-group crossover between the two exact plans. The decision
    * variable is per-group VOLUME, not group count: the builtin
    * `percentile` aggregate buffers one OpenHashMap entry per distinct
    * value per group inside a single task, so it is both correct and
    * fastest as long as that buffer fits task memory — `Ladder quantiles`
    * at 20M rows / local[8] measures it 0.4-1.5 s across 3 to 1M groups
    * while the range-partitioned plan pays 16-46 s of exchange + driver
    * overhead (PLANS.md). Above the threshold a group's values (worst
    * case all distinct: ~48 B/entry, 2M ≈ 100 MB) stop fitting, the
    * builtin becomes the classic single-task OOM, and the parallel plan —
    * whose sort parallelism is the cluster's, not the group count's — is
    * the only exact plan that survives. */
  val builtinMaxRowsPerGroup: Long = 2000000L

  /** Exact per-group percentiles of `valueCol` (nulls ignored). Output:
    * (groupCol, q0, q1, … qk) — one DOUBLE column per requested p, in
    * order. One delta from the builtin: a group whose values are ALL null
    * is omitted from the output (the builtin would emit it with a null
    * result).
    *
    * Plan choice: at or below [[builtinMaxRowsPerGroup]] rows in the
    * LARGEST group, the builtin `percentile` aggregate runs (lazy, one
    * shuffle, per-group buffers); above it, the cluster-parallel
    * range-partitioned plan (eager — collects tiny per-(partition, group)
    * totals to compute rank offsets, like a distributed sort). The decision
    * variable is the MAX group size, not the average: under skew (one
    * giant group among many small ones — the shape the crossover exists
    * for) an average stays low and would route the hot group into the
    * builtin's single-task buffer, the exact OOM being prevented.
    *
    * Un-hinted probe cost is tiered so the common regimes stay cheap:
    * one scalar aggregate (total + approx group count) decides outright
    * when total ≤ threshold (max ≤ total ⇒ builtin is safe) or when the
    * AVERAGE already exceeds the threshold (max ≥ avg ⇒ parallel is
    * mandatory). Only the ambiguous middle — big total, small average,
    * where skew could hide a hot group — pays the exact
    * groupBy-count/max pass; that pass is the price of never OOMing, and
    * `rowsPerGroupHint` (= the largest group's size) skips all probing
    * when the caller knows the shape. Both paths interpolate
    * BIT-identically (QuantilesSpec), so the choice never changes
    * results. */
  def groupQuantiles(df0: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], rowsPerGroupHint: Option[Long] = None): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0, 1], got $ps")
    // the entry projection below would build an ambiguous two-column frame
    require(groupCol != valueCol, s"groupCol and valueCol must differ, both are '$groupCol'")
    // r21 (guide §2.3 "project before"): quantiles read exactly two
    // columns — project them FIRST so (a) the dispatch estimate below
    // prices the two columns instead of the caller's whole frame (a
    // full-width parquet frame × the r21 compression slack was flipping
    // q10 back to the probe), and (b) neither plan ever scans or
    // shuffles unused columns. Value-identical by definition.
    val df = df0.select(col(groupCol), col(valueCol))
    // r20 OPTIMIZATION (guide §1.2/§5): the un-hinted probe was an EAGER
    // scalar-aggregate job on every call — even when the optimizer's size
    // estimate already proves the builtin safe (worst case, the WHOLE
    // input is one group: est/16 B-per-row ≤ builtinMaxRowsPerGroup ⇒ the
    // largest group fits the builtin's task buffer). The zero-job
    // [[singleGroupQuantiles]] dispatch applies verbatim; sentinel-sized
    // estimates (unmeasured sources) are huge and fall through to the
    // probe, the safe direction. Saves one full input scan per call at
    // every scale below the cap; both paths stay bit-identical.
    // r21 (r20 ADVICE): file-source estimates are COMPRESSED on-disk bytes
    // and get charged [[fileSourceCompressionSlack]] before the compare —
    // see [[estimatedBytesForDispatch]].
    val est = estimatedBytesForDispatch(df)
    val maxRows =
      if (rowsPerGroupHint.isEmpty && est <= BigInt(builtinMaxBytesSingleGroup)) 0L
      else rowsPerGroupHint.getOrElse {
        val r = df.filter(col(valueCol).isNotNull)
          .agg(count(lit(1)), approx_count_distinct(groupCol)).head()
        val total = r.getLong(0)
        val groups = math.max(r.getLong(1), 1L)
        if (total <= builtinMaxRowsPerGroup) total // max ≤ total: builtin safe
        else if (total / groups > builtinMaxRowsPerGroup) total // avg over cap: parallel
        else largestGroupRows(df, groupCol, valueCol) // ambiguous: measure the max
      }
    if (maxRows > builtinMaxRowsPerGroup) parallelQuantiles(df, groupCol, valueCol, ps)
    else builtinQuantiles(df, groupCol, valueCol, ps)
  }

  /** Optimizer-estimated input bytes below which [[builtinQuantiles]] is
    * safe when the WHOLE input is one group: [[builtinMaxRowsPerGroup]]
    * rows at a deliberately LOW 16 bytes/row, so the byte estimate
    * over-counts rows and flips to the parallel plan early (the safe
    * direction — parallel never OOMs a task, it is merely slower at small
    * scale). */
  val builtinMaxBytesSingleGroup: Long = builtinMaxRowsPerGroup * 16L

  /** Compressed-on-disk → 16 B/row slack charged to FILE-SOURCE-backed
    * size estimates (r20 ADVICE): for a parquet/ORC scan,
    * optimizedPlan.stats.sizeInBytes is compressed bytes, and
    * dictionary/RLE/delta encodings can pack far more than est/16 rows
    * into est bytes (a sorted all-distinct BIGINT column delta-encodes to
    * ~2 bytes/row) — so a raw `est ≤ cap` does NOT bound rows for the
    * builtin's single-task buffer. 8× covers every codec ratio the shipped
    * corpora measure (zstd parquet ≈ 2-4× on these tables) with margin;
    * in-memory/derived estimates keep the raw compare (Catalyst's own
    * row-width arithmetic, already conservative at 16 B/row), and
    * unmeasured sources still report the huge sentinel and fall through
    * to the probe/parallel path. */
  val fileSourceCompressionSlack: Int = 8

  /** The dispatch estimate: optimizer sizeInBytes, × [[fileSourceCompressionSlack]]
    * when the plan reads any file-backed relation (v1 or v2). */
  private[graft] def estimatedBytesForDispatch(df: DataFrame): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    val fileBacked = plan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation
          if r.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] => r
      case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => v2
    }.isDefined
    val est = plan.stats.sizeInBytes
    if (fileBacked) est * fileSourceCompressionSlack else est
  }

  /** Exact quantiles of `valueCol` over a frame the CALLER constructed as
    * one group (q21/x50's synthetic `__g = lit(1)` shape). Knowing the
    * group count is 1 leaves a single dispatch question — does the one
    * group outgrow the builtin's task buffer? — and the optimizer's size
    * estimate answers it with ZERO extra jobs, where [[groupQuantiles]]'s
    * un-hinted probe pays a scalar aggregate pass (the Profiler
    * size-dispatch precedent). Conservative in the safe direction twice
    * over: bytes-per-row is lower-bounded at 16 B (over-counts rows ⇒
    * flips to parallel early), and unmeasured sources (RDD-backed/JDBC
    * frames report the sentinel-sized estimate) also route to the
    * parallel plan, which degrades in speed, never in memory safety.
    * Both paths interpolate bit-identically (QuantilesSpec), so the
    * dispatch never changes results. */
  def singleGroupQuantiles(df0: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0, 1], got $ps")
    val df = df0.select(col(groupCol), col(valueCol)) // see groupQuantiles
    val est = estimatedBytesForDispatch(df)
    if (est <= BigInt(builtinMaxBytesSingleGroup))
      builtinQuantiles(df, groupCol, valueCol, ps)
    else parallelQuantiles(df, groupCol, valueCol, ps)
  }

  /** Exact size of the largest group (non-null values only) — the
    * crossover's decision variable. MAX, deliberately not the average: one
    * hot group among millions of small ones keeps the average low while
    * still blowing the builtin's single-task buffer. One
    * map-side-combinable pass; the public API's `rowsPerGroupHint` skips
    * it when the caller already knows the shape. */
  private[graft] def largestGroupRows(df: DataFrame, groupCol: String,
      valueCol: String): Long =
    Option(df.filter(col(valueCol).isNotNull)
        .groupBy(groupCol).agg(count(lit(1)).as("__c"))
        .agg(max("__c")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L) // null ⇔ empty input

  /** The high-cardinality path: builtin `percentile` — per-group buffered
    * aggregation, right when groups are many and individually small. ONE
    * aggregate with the array-of-percentages form: k separate
    * `percentile(v, p_i)` calls each buffer the whole group independently
    * (k per-partition value maps, k sorted merges — the x50 plan showed 9
    * `partial_percentile` buffers over the same column); the array form
    * buffers once and reads all k ranks off the single sorted counts map.
    * Same `Percentile` expression, bit-identical interpolation. */
  private[graft] def builtinQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[Double]): DataFrame = {
    val v = col(valueCol).cast("double")
    df.filter(col(valueCol).isNotNull)
      .groupBy(groupCol)
      .agg(percentile(v, typedLit(ps)).as("__qs"))
      .select(col(groupCol) +: ps.indices.map(i => col("__qs").getItem(i).as(s"q$i")): _*)
  }

  /** The low-cardinality path: range-partitioned exact ranks (see the
    * class doc); sort parallelism is the cluster's, not the group count's. */
  private[graft] def parallelQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    val gv = df
      .filter(col(valueCol).isNotNull)
      .groupBy(groupCol, valueCol)
      .agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
      val ranged = gv.repartitionByRange(parts, col(groupCol), col(valueCol))
        .withColumn("pid", spark_partition_id())
        .persist()
      try {
        // per-(pid, group) totals: range partitioning on (g, v) keeps each
        // partition a contiguous slice, so this is ≤ parts + #groups rows
        val totals = ranged.groupBy("pid", groupCol)
          .agg(sum("cnt").cast("long").as("c"))
          .collect()
          .map(r => (r.getInt(0), r.get(1), r.getLong(2)))
        // per-group prefix offsets in pid order + per-group totals
        val offsets = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Long)]
        val nPerG = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
        totals.sortBy(_._1).foreach { case (pid, g, c) =>
          val acc = nPerG.getOrElse(g, 0L)
          offsets += ((pid, g, acc))
          nPerG(g) = acc + c
        }
        val gField = gv.schema(groupCol)
        val offsetDf = spark.createDataFrame(
          java.util.Arrays.asList(offsets.toSeq.map { case (pid, g, o) =>
            Row(pid, g, o) }: _*),
          StructType(Seq(StructField("o_pid", IntegerType, nullable = false),
            gField.copy(name = "o_g"), StructField("rank_offset", LongType, nullable = false))))
        // targets: one row per (group, p-index) with the bracketing 1-based
        // ranks and Spark's interpolation weights, computed on the driver
        // with the same double arithmetic as Percentile.getPercentile
        val targets = nPerG.toSeq.flatMap { case (g, n) =>
          ps.zipWithIndex.map { case (p, i) =>
            val pos0 = (n - 1) * p
            Row(g, i, math.floor(pos0).toLong + 1, math.ceil(pos0).toLong + 1,
              math.ceil(pos0) - pos0, pos0 - math.floor(pos0))
          }
        }
        val targetDf = spark.createDataFrame(
          java.util.Arrays.asList(targets: _*),
          StructType(Seq(gField.copy(name = "t_g"),
            StructField("qi", IntegerType, nullable = false),
            StructField("t1", LongType, nullable = false),
            StructField("t2", LongType, nullable = false),
            StructField("wlo", DoubleType, nullable = false),
            StructField("whi", DoubleType, nullable = false))))
        val w = Window.partitionBy("pid", groupCol).orderBy(valueCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val v = col(valueCol).cast("double")
        val cum = ranged
          .join(broadcast(offsetDf),
            col("pid") === col("o_pid") && col(groupCol) <=> col("o_g"))
          .withColumn("cum", col("rank_offset") + sum("cnt").over(w))
          .withColumn("prev", col("cum") - col("cnt"))
        val picked = cum
          .join(broadcast(targetDf), col(groupCol) <=> col("t_g"))
          .filter(col("prev") < col("t2") && col("cum") >= col("t1"))
          .groupBy(col(groupCol), col("qi"))
          .agg(
            min(when(col("prev") < col("t1") && col("cum") >= col("t1"), v)).as("lo"),
            min(when(col("prev") < col("t2") && col("cum") >= col("t2"), v)).as("hi"),
            first("wlo").as("wlo"), first("whi").as("whi"))
          .withColumn("q",
            when(col("whi") === 0.0, col("lo"))
              .otherwise(col("wlo") * col("lo") + col("whi") * col("hi")))
        val pivoted = picked
          .groupBy(groupCol)
          .agg(
            min(when(col("qi") === 0, col("q"))).as("q0"),
            (1 until ps.length).map(i =>
              min(when(col("qi") === i, col("q"))).as(s"q$i")): _*)
        // MATERIALIZE before the finally-unpersist: the offsets were collected
        // from THIS materialization of the range partitioning — a lazy result
        // would recompute `ranged` after unpersist, and fresh range-boundary
        // sampling need not reproduce the partition ids the offsets assume.
        // The output is one row per group (this operator targets low-
        // cardinality groupings — for high-cardinality groups the builtin's
        // per-group plan is already parallel and right-sized).
        spark.createDataFrame(
          java.util.Arrays.asList(pivoted.collect(): _*), pivoted.schema)
      } finally { ranged.unpersist(); () }
    } finally { gv.unpersist(); () }
  }

  /** Exact per-group median (see groupQuantiles).
    * Output: (groupCol, median DOUBLE). */
  def groupMedian(df: DataFrame, groupCol: String, valueCol: String,
      rowsPerGroupHint: Option[Long] = None): DataFrame =
    groupQuantiles(df, groupCol, valueCol, Seq(0.5), rowsPerGroupHint)
      .withColumnRenamed("q0", "median")
}
