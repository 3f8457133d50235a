package bench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive digest of a result: the row count and the sum
  * (mod 2^64) of one 64-bit hash per row. Columns enter a row hash in
  * name order, and doubles compare as `tools/selfcheck.py` compares them:
  * exact values, with -0.0 equal to 0.0 and every NaN equal. `digest.py`
  * computes the same hash from DuckDB rows.
  */
final case class Digest(rows: Long, sum: Long) {
  override def toString: String = f"$rows:$sum%016x"
}

object Digest {
  private val TagNull = 0x11L
  private val TagBool = 0x12L
  private val TagInt = 0x13L
  private val TagFloat = 0x14L
  private val TagDecimal = 0x15L
  private val TagString = 0x16L
  private val TagBinary = 0x17L
  private val TagDate = 0x18L
  private val TagTimestamp = 0x19L
  private val TagArray = 0x1aL
  private val TagStruct = 0x1bL
  private val TagMap = 0x1cL
  private val TagOther = 0x1dL
  private val RowSeed = 0x5eedL

  /** splitmix64's finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def combine(h: Long, v: Long): Long = mix(h * 31 + v)

  private def fnv(base: AnyRef, offset: Long, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < len) {
      h = (h ^ (Platform.getByte(base, offset + i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    combine(h, len.toLong)
  }

  private def bytes(tag: Long, b: Array[Byte]): Long =
    combine(tag, fnv(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length))

  private def double(d: Double): Long = {
    val bits =
      if (d.isNaN) 0x7ff8000000000000L
      else if (d == 0.0) 0L
      else java.lang.Double.doubleToRawLongBits(d)
    combine(TagFloat, bits)
  }

  /** Hash of one value of Catalyst type `t` (`v` in Catalyst's internal form). */
  def value(v: Any, t: DataType): Long = if (v == null) combine(TagNull, 0L) else t match {
    case BooleanType => combine(TagBool, if (v.asInstanceOf[Boolean]) 1L else 0L)
    case ByteType => combine(TagInt, v.asInstanceOf[Byte].toLong)
    case ShortType => combine(TagInt, v.asInstanceOf[Short].toLong)
    case IntegerType => combine(TagInt, v.asInstanceOf[Int].toLong)
    case LongType => combine(TagInt, v.asInstanceOf[Long])
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case DoubleType => double(v.asInstanceOf[Double])
    case _: DecimalType =>
      val d = v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal
      combine(combine(TagDecimal, d.scale.toLong),
        bytes(TagDecimal, d.unscaledValue.toString.getBytes("UTF-8")))
    case StringType | _: StringType =>
      val s = v.asInstanceOf[UTF8String]
      combine(TagString, fnv(s.getBaseObject, s.getBaseOffset, s.numBytes))
    case BinaryType => bytes(TagBinary, v.asInstanceOf[Array[Byte]])
    case DateType => combine(TagDate, v.asInstanceOf[Int].toLong)
    case TimestampType | TimestampNTZType => combine(TagTimestamp, v.asInstanceOf[Long])
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = TagArray
      var i = 0
      while (i < a.numElements()) {
        h = combine(h, value(if (a.isNullAt(i)) null else a.get(i, et), et))
        i += 1
      }
      combine(h, a.numElements().toLong)
    case st: StructType => combine(TagStruct, fields(v.asInstanceOf[InternalRow], st))
    case MapType(kt, vt, _) =>
      // entry order is not part of a map's value
      val m = v.asInstanceOf[MapData]
      val ks = m.keyArray()
      val vs = m.valueArray()
      var s = 0L
      var i = 0
      while (i < m.numElements()) {
        s += combine(value(ks.get(i, kt), kt), value(if (vs.isNullAt(i)) null else vs.get(i, vt), vt))
        i += 1
      }
      combine(combine(TagMap, s), m.numElements().toLong)
    case _ => bytes(TagOther, String.valueOf(v).getBytes("UTF-8"))
  }

  private def fields(r: InternalRow, st: StructType): Long = {
    var h = TagStruct
    var i = 0
    while (i < st.length) {
      val t = st(i).dataType
      h = combine(h, value(if (r.isNullAt(i)) null else r.get(i, t), t))
      i += 1
    }
    h
  }

  /** Column ordinals in name order: the digest ignores column order. */
  def nameOrder(schema: StructType): Array[Int] =
    schema.fields.zipWithIndex.sortBy(_._1.name).map(_._2)

  def row(r: InternalRow, order: Array[Int], types: Array[DataType]): Long = {
    var h = RowSeed
    var j = 0
    while (j < order.length) {
      val i = order(j)
      val t = types(i)
      h = combine(h, value(if (r.isNullAt(i)) null else r.get(i, t), t))
      j += 1
    }
    h
  }

  /** Digests committed by [[DigestSink]] writes, by the `key` option. */
  private val results = new java.util.concurrent.ConcurrentHashMap[String, Digest]()

  def take(key: String): Option[Digest] = Option(results.remove(key))

  private[bench] def put(key: String, d: Digest): Unit = { results.put(key, d); () }
}

/** A write-only sink that consumes every row of every column, like
  * Spark's `noop` sink, and commits the rows' [[Digest]]:
  * `df.write.format(classOf[DigestSink].getName).mode("append")
  *   .option("key", k).save()`, then `Digest.take(k)`.
  */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new DigestTable(properties.get("key"))
}

private class DigestTable(key: String) extends Table with SupportsWrite {
  override def name(): String = s"digest:$key"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = new DigestBatchWrite(key, info.schema())
    }
  }
}

private final case class DigestMessage(rows: Long, sum: Long) extends WriterCommitMessage

private class DigestBatchWrite(key: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    var rows = 0L
    var sum = 0L
    messages.foreach { case DigestMessage(r, s) => rows += r; sum += s }
    Digest.put(key, Digest(rows, sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val order = Digest.nameOrder(schema)
      private val types = schema.fields.map(_.dataType)
      private var rows = 0L
      private var sum = 0L
      override def write(r: InternalRow): Unit = {
        sum += Digest.row(r, order, types)
        rows += 1
      }
      override def commit(): WriterCommitMessage = DigestMessage(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
