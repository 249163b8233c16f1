package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Row count plus an order-independent hash of a result.
  *
  * Each row hashes its values in column order; row hashes are summed, so
  * partitioning and row order do not matter. Doubles are rounded to nine
  * significant digits first (the precision `scripts/check_oracle.py`
  * compares at), so a float sum that arrives in another order still
  * matches. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {
  /** Executes `df` as written (like `queryExecution.toRdd.count()`, so no
    * column is pruned) and digests the rows in the same job. */
  def of(df: DataFrame): Digest = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r, schema) }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Digest(n, h)
  }

  /** Digest of rows already on the driver, each given as its values. */
  def ofValues(rows: Seq[Seq[Any]]): Digest =
    Digest(rows.size, rows.map(r => mix(r.foldLeft(17L)((h, v) =>
      h * 31 + plain(v)))).sum)

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def canon(d: Double): Double =
    if (d == 0.0) 0.0
    else if (d.isNaN || d.isInfinite) d
    else new java.math.BigDecimal(d, new java.math.MathContext(9)).doubleValue

  private def str(s: String): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a over UTF-16 units
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  private def plain(v: Any): Long = v match {
    case null => 0x6e756c6cL
    case d: Double => java.lang.Double.doubleToLongBits(canon(d))
    case f: Float => java.lang.Double.doubleToLongBits(canon(f.toDouble))
    case x: Long => x
    case x: Int => x.toLong
    case x: Short => x.toLong
    case x: Byte => x.toLong
    case b: Boolean => if (b) 1L else 2L
    case other => str(other.toString)
  }

  private def rowHash(r: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = h * 31 + value(r, i, schema(i).dataType)
      i += 1
    }
    mix(h)
  }

  private def value(r: InternalRow, i: Int, dt: DataType): Long =
    if (r.isNullAt(i)) 0x6e756c6cL
    else dt match {
      case DoubleType => plain(r.getDouble(i))
      case FloatType => plain(r.getFloat(i))
      case LongType | TimestampType | TimestampNTZType => r.getLong(i)
      case IntegerType | DateType => r.getInt(i).toLong
      case ShortType => r.getShort(i).toLong
      case ByteType => r.getByte(i).toLong
      case BooleanType => plain(r.getBoolean(i))
      case StringType => str(r.getUTF8String(i).toString)
      case BinaryType => java.util.Arrays.hashCode(r.getBinary(i)).toLong
      case d: DecimalType => str(r.getDecimal(i, d.precision, d.scale)
        .toJavaBigDecimal.stripTrailingZeros.toPlainString)
      case s: StructType => rowHash(r.getStruct(i, s.length), s)
      case a: ArrayType => arrayHash(r.getArray(i), a.elementType)
      case m: MapType =>
        val md: MapData = r.getMap(i)
        arrayHash(md.keyArray(), m.keyType) * 31 + arrayHash(md.valueArray(), m.valueType)
      case other => str(r.get(i, other).toString)
    }

  private def arrayHash(a: ArrayData, et: DataType): Long = {
    var h = 19L
    var i = 0
    while (i < a.numElements()) {
      h = h * 31 + (if (a.isNullAt(i)) 0x6e756c6cL else et match {
        case DoubleType => plain(a.getDouble(i))
        case FloatType => plain(a.getFloat(i))
        case LongType => a.getLong(i)
        case IntegerType => a.getInt(i).toLong
        case StringType => str(a.getUTF8String(i).toString)
        case other => str(a.get(i, other).toString)
      })
      i += 1
    }
    h
  }
}
