package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Row count plus an order-independent sum of row hashes. */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
}

/** A sink like Spark's `noop` that materialises every row of the result
  * and keeps only its [[Fingerprint]], so each timed catalog op can be
  * checked against the oracle-checked output of the same query.
  *
  * `df.write.format(classOf[FingerprintSink].getName).option("id", id)
  * .mode("append").save()`, then [[FingerprintSink.take]]`(id)`.
  */
final class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = FingerprintSink.table
}

object FingerprintSink {
  private val results = new ConcurrentHashMap[String, Fingerprint]()

  def take(id: String): Option[Fingerprint] = Option(results.remove(id))

  private final case class Part(fp: Fingerprint) extends WriterCommitMessage

  private val table: Table = new Table with SupportsWrite {
    override def name(): String = "fingerprint"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new Batch(info.options.get("id"), info.schema)
      }
    }
  }

  private final class Batch(id: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      results.put(id, messages.collect { case Part(fp) => fp }
        .foldLeft(Fingerprint(0, 0))(_ + _))
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var fp = Fingerprint(0, 0)
        override def write(row: InternalRow): Unit =
          fp = Fingerprint(fp.rows + 1, fp.hash + rowHash(row, schema))
        override def commit(): WriterCommitMessage = Part(fp)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }

  private val Seed = 0x2545F4914F6CDD1DL
  private val NullHash = 0x9E3779B97F4A7C15L

  private def mix(h: Long, v: Long): Long = {
    var z = h * 31 + v
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rowHash(row: InternalRow, schema: StructType): Long = {
    var h = Seed
    var i = 0
    while (i < schema.length) {
      h = mix(h, valueHash(row, i, schema(i).dataType))
      i += 1
    }
    h
  }

  private def bytesHash(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, Seed)

  /** Value hash by type. Floating values are canonical (one zero, one
    * NaN), as the oracle comparison treats them.
    */
  private def valueHash(g: SpecializedGetters, i: Int, dt: DataType): Long =
    if (g.isNullAt(i)) NullHash
    else dt match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => g.getByte(i).toLong
      case ShortType => g.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType => g.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType => g.getLong(i)
      case FloatType =>
        val f = g.getFloat(i)
        if (f == 0f) 0L else if (f.isNaN) 3L else java.lang.Float.floatToIntBits(f).toLong
      case DoubleType =>
        val d = g.getDouble(i)
        if (d == 0d) 0L else if (d.isNaN) 3L else java.lang.Double.doubleToLongBits(d)
      case _: StringType =>
        val s = g.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
      case BinaryType => bytesHash(g.getBinary(i))
      case d: DecimalType => g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.hashCode.toLong
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        var h = Seed + a.numElements
        var j = 0
        while (j < a.numElements) { h = mix(h, valueHash(a, j, et)); j += 1 }
        h
      case s: StructType => rowHash(g.getStruct(i, s.length), s)
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val (ks, vs) = (m.keyArray, m.valueArray)
        var h = Seed + m.numElements
        var j = 0
        while (j < m.numElements) { h += mix(valueHash(ks, j, kt), valueHash(vs, j, vt)); j += 1 }
        h
      case other => bytesHash(String.valueOf(g.get(i, other)).getBytes("UTF-8"))
    }
}
