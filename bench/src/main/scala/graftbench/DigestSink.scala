package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.DataFrame

/** Order-insensitive digest of a multiset of rows: the row count plus the
  * wrapping sum of one 64-bit hash per row. Each row hash folds the hashes
  * of all its columns in column order, so the digest changes if any value
  * of any column changes, but not if rows arrive in another order or
  * partitioning. The hash is defined here rather than borrowed from Spark
  * so that the workload generator can compute the same digest for the
  * rows it lands (see `gen.py`).
  */
final case class Digest(count: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, hash + o.hash)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def fnv(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    mix(h)
  }

  private val NullHash = 0x9e3779b97f4a7c15L

  def value(v: Any, t: DataType): Long =
    if (v == null) NullHash
    else t match {
      case BooleanType => if (v.asInstanceOf[Boolean]) mix(1L) else mix(2L)
      case ByteType => mix(v.asInstanceOf[Byte].toLong)
      case ShortType => mix(v.asInstanceOf[Short].toLong)
      case IntegerType | DateType => mix(v.asInstanceOf[Int].toLong)
      case LongType | TimestampType | TimestampNTZType => mix(v.asInstanceOf[Long])
      case FloatType => mix(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong)
      case DoubleType => mix(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
      case _: StringType => fnv(v.toString.getBytes(UTF_8))
      case BinaryType => fnv(v.asInstanceOf[Array[Byte]])
      case _: DecimalType =>
        fnv(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString.getBytes(UTF_8))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        var h = mix(a.numElements().toLong)
        var i = 0
        while (i < a.numElements()) {
          h = mix(h ^ value(if (a.isNullAt(i)) null else a.get(i, et), et))
          i += 1
        }
        h
      case st: StructType => row(v.asInstanceOf[InternalRow], st)
      case MapType(kt, vt, _) => // map entry order is not part of the value
        val m = v.asInstanceOf[MapData]
        val (ks, vs) = (m.keyArray(), m.valueArray())
        var h = mix(m.numElements().toLong)
        var i = 0
        while (i < m.numElements()) {
          h += mix(value(ks.get(i, kt), kt) * 31 +
            value(if (vs.isNullAt(i)) null else vs.get(i, vt), vt))
          i += 1
        }
        h
      case _ => fnv(v.toString.getBytes(UTF_8))
    }

  def row(r: InternalRow, schema: StructType): Long = {
    var h = 0L
    var i = 0
    while (i < schema.length) {
      val t = schema(i).dataType
      h = mix(h ^ value(if (r.isNullAt(i)) null else r.get(i, t), t))
      i += 1
    }
    h
  }

  /** Digest of already-collected rows, for tests and small checks. */
  def of(rows: Seq[InternalRow], schema: StructType): Digest =
    rows.foldLeft(empty)((d, r) => d + Digest(1L, row(r, schema)))
}

/** A sink that, like Spark's `noop`, consumes every row of every column
  * of the plan it is given, and in addition folds the rows' [[Digest]].
  * Each write is keyed by its `id` option; the driver-side commit stores
  * the combined digest for [[DigestSink.write]] to return.
  */
object DigestSink {
  private val results = new ConcurrentHashMap[String, Digest]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  def write(df: DataFrame): Digest = {
    val id = s"w${ids.incrementAndGet()}"
    df.write.format(classOf[DigestSource].getName).mode("overwrite")
      .option("id", id).save()
    Option(results.remove(id)).getOrElse(
      sys.error(s"digest sink: write $id committed no result"))
  }

  private[graftbench] def commit(id: String, d: Digest): Unit = results.put(id, d)
}

class DigestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = new DigestTable
}

private class DigestTable extends Table with SupportsWrite {
  override def name(): String = "digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new DigestBatchWrite(info.options.get("id"), info.schema())
      }
    }
}

private final case class DigestMessage(d: Digest) extends WriterCommitMessage

private class DigestBatchWrite(id: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    DigestSink.commit(id, messages.collect { case DigestMessage(d) => d }
      .foldLeft(Digest.empty)(_ + _))
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var count = 0L
      private var hash = 0L
      override def write(r: InternalRow): Unit = {
        count += 1
        hash += Digest.row(r, schema)
      }
      override def commit(): WriterCommitMessage = DigestMessage(Digest(count, hash))
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
