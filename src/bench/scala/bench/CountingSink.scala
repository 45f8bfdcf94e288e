package bench

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark's `noop` sink plus a row count: every row is consumed through the
  * same DataSource V2 write path and dropped, and each task reports how many
  * it saw in its commit message. The benchmark checks a query's row count
  * from the write itself, with no second action. */
final class CountingSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = CountingSink.table
}

object CountingSink {
  private val lastCount = new AtomicLong(-1L)

  /** Run `df` to completion and return the number of rows it produced. */
  def write(df: DataFrame): Long = {
    lastCount.set(-1L)
    df.write.format(classOf[CountingSink].getName).mode("overwrite").save()
    lastCount.get()
  }

  private final case class Rows(n: Long) extends WriterCommitMessage

  private object writerFactory extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var n = 0L
        override def write(record: InternalRow): Unit = n += 1
        override def commit(): WriterCommitMessage = Rows(n)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }

  private object batchWrite extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      writerFactory
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      lastCount.set(messages.collect { case Rows(n) => n }.sum)
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private val table: Table = new Table with SupportsWrite {
    override def name(): String = "bench_counting_sink"
    override def schema(): StructType = new StructType()
    override def capabilities(): java.util.Set[TableCapability] = Set(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = batchWrite
        }
      }
  }
}
