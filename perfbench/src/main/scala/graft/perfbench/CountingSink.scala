package graft.perfbench

import java.util
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `noop` sink with a row count: rows are discarded on the executors
  * exactly as `format("noop")` discards them, and each task's count rides
  * back on its commit message, so the total is known to the caller as soon
  * as the write returns. Use `format(classOf[CountingSink].getName)`.
  */
final class CountingSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = CountingSink.table
}

object CountingSink {
  /** rows committed by the most recent write */
  val lastRows = new AtomicLong

  private final case class Count(rows: Long) extends WriterCommitMessage

  private object table extends Table with SupportsWrite {
    override def name(): String = "counting-noop"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = batch
        }
      }
  }

  private object batch extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      lastRows.set(messages.collect { case Count(n) => n }.sum)
    override def abort(messages: Array[WriterCommitMessage]): Unit = lastRows.set(-1)
  }

  private object factory extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var n = 0L
        override def write(record: InternalRow): Unit = n += 1
        override def commit(): WriterCommitMessage = Count(n)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
