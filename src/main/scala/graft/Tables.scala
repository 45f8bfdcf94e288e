package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Parquet table loaders for the driver testdata (TESTDATA.md / FIXTURES.md §1).
  *
  * Explicit-path parquet scans: Catalyst gets filter pushdown + column pruning
  * for free on these (SURVEY.md §4). At cluster scale the same API reads a
  * partitioned directory tree; nothing here assumes local paths.
  *
  * Every read takes its schema from one parquet footer, read on the driver,
  * and hands it to `spark.read.schema(...)`. A bare `spark.read.parquet`
  * infers the schema with a Spark job (`mergeSchemasInParallel`), even for
  * one file, and the registry loads its tables in every query, so at
  * small scale factors that job is a large share of a query's latency.
  * The footer is the one Spark's non-merging inference reads when there is
  * no summary file (a first data file), turned into a row schema by Spark's own
  * `readSchemaFromFooter` under the session's parquet confs, so every
  * layout loads with the schema it had: shipped single files, Spark-written
  * part-file directories, NTZ/LTZ/long `ts`. No Spark job runs.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Read the parquet file or directory at `path` without a schema job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    read(spark, path, footerOf(spark, path))

  private def read(spark: SparkSession, path: String, footer: Footer): DataFrame =
    spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
      footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(path)

  /** The footer of `path` itself, or of the first data file under it (by
    * name, skipping the `_*` and `.*` names Spark skips too). */
  private def footerOf(spark: SparkSession, path: String): Footer = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    def firstFile(st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st)
      else fs.listStatus(st.getPath).filterNot(c => hidden(c.getPath.getName))
        .sortBy(_.getPath.getName).iterator.flatMap(firstFile).nextOption()
    val file = firstFile(fs.getFileStatus(root)).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    new Footer(file.getPath, ParquetFileReader.readFooter(conf, file, SKIP_ROW_GROUPS))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped as parquet INT64 TIMESTAMP(NANOS) (pre-round-9
    * testdata) and as timestamp[us] (round-9 regeneration). Spark 4 rejects
    * nanos by default, so for a NANOS footer only, the session's legacy
    * conf reads them as long, converted here; a long column is converted
    * the same way. A tz-naive microsecond column is reinterpreted in the
    * session zone and an LTZ one passes through. Either way the values
    * match DuckDB's read of the same file exactly (FIXTURES.md §1 note).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val path = s"$d/events.parquet"
    val footer = footerOf(s, path)
    val schema = footer.getParquetMetadata.getFileMetaData.getSchema
    val nanos = schema.containsField("ts") &&
      (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      })
    if (nanos) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, path, footer)
    raw.schema("ts").dataType match {
      case LongType => // ns file (or a long column): nanos arrive as long
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => // us file written tz-naive: reinterpret in the
        // session zone (Verify/tests pin UTC) so downstream unix_micros/window
        // code keeps the loader's long-standing TIMESTAMP(LTZ) contract and
        // the values match DuckDB's naive read of the same file
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
