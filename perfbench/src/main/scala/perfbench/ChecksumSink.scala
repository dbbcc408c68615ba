package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row count plus an order-independent checksum of every column. */
final case class Digest(rows: Long, checksum: Long) {
  def hex: String = f"$checksum%016x"
}

/** A batch sink that consumes every row and every column of a frame.
  *
  * `count()` lets Catalyst prune every projected and aggregated column
  * of a key's result, so it under-states what a pipeline that writes
  * the result pays. This sink sits where a writer would: the plan is an
  * append of the whole frame, so no column can be pruned, and each row
  * is folded into a digest (the sum of per-row 64-bit hashes over all
  * fields), which makes the check independent of row order and of the
  * partitioning the key happens to produce.
  */
class ChecksumSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = ChecksumSink.SinkTable
}

object ChecksumSink {
  private val results = new ConcurrentHashMap[String, Digest]()
  private val tokens = new java.util.concurrent.atomic.AtomicLong()

  /** Materialise `df` into the sink; returns its digest. */
  def write(df: DataFrame): Digest = {
    val token = tokens.incrementAndGet().toString
    df.write.format(classOf[ChecksumSink].getName)
      .option("token", token).mode("append").save()
    results.remove(token)
  }

  /** Fold one row into a 64-bit hash, field by field. Strings hash by
    * their bytes whatever their collation. */
  def rowHash(row: InternalRow, schema: StructType): Long = {
    var h = 42L
    var i = 0
    while (i < schema.length) {
      val dt = schema.fields(i).dataType
      h = if (row.isNullAt(i)) h * 31 + 7 else XxHash64Function.hash(row.get(i, dt), dt, h, false, false)
      i += 1
    }
    h
  }

  private object SinkTable extends Table with SupportsWrite {
    override def name(): String = "perfbench-checksum"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new DigestBatch(info.options().get("token"), info.schema())
      }
    }
  }

  private case class Part(rows: Long, sum: Long) extends WriterCommitMessage

  private class DigestBatch(token: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new PartFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      results.put(token, Digest(parts.map(_.rows).sum, parts.map(_.sum).sum))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private class PartFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var rows = 0L
        private var sum = 0L
        override def write(row: InternalRow): Unit = {
          rows += 1
          sum += rowHash(row, schema)
        }
        override def commit(): WriterCommitMessage = Part(rows, sum)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
