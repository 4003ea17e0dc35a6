package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's output rows.
  *
  * Each row hashes to 64 bits from its typed values, walked by schema;
  * the digest is the row count plus the wrapping sum of the row hashes.
  * A sum (not an xor) keeps duplicate rows visible, and it is the same
  * for any row order or partitioning.
  *
  * Doubles and floats hash with the low 20 mantissa bits cleared (about
  * ten significant digits kept), so a fold whose summation order follows
  * task scheduling does not flip the digest, while any real change to a
  * value does.
  */
object Digest {

  final case class Value(rows: Long, sum: Long) {
    def +(o: Value): Value = Value(rows + o.rows, sum + o.sum)
    override def toString: String = f"$rows:$sum%016x"
  }

  /** Executes `df`'s physical plan once, as `graft.Bench` does
    * (`queryExecution.toRdd`, no extra operator on top), folding the
    * digest as the rows stream past.
    */
  def of(df: DataFrame): Value = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var rows = 0L
      var sum = 0L
      while (it.hasNext) {
        sum += row(it.next(), schema)
        rows += 1
      }
      Iterator.single(Value(rows, sum))
    }.collect().foldLeft(Value(0L, 0L))(_ + _)
  }

  private val NullMark = 0x5bd1e9955bd1e995L
  private val LowMantissa = (1L << 20) - 1

  private[perfbench] def mix(h: Long, v: Long): Long = {
    var x = (h ^ v) * 0x9e3779b97f4a7c15L
    x ^= x >>> 31
    x * 0xbf58476d1ce4e5b9L
  }

  private def canonical(d: Double): Long =
    if (d == 0.0) 0L // folds -0.0 into 0.0
    else if (d.isNaN) java.lang.Double.doubleToLongBits(Double.NaN)
    else java.lang.Double.doubleToLongBits(d) & ~LowMantissa

  private def bytes(h0: Long, b: Array[Byte]): Long = {
    var h = mix(h0, b.length.toLong)
    var i = 0
    while (i < b.length) { h = mix(h, b(i).toLong); i += 1 }
    h
  }

  private[perfbench] def row(r: SpecializedGetters, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = field(h, r, i, schema(i).dataType)
      i += 1
    }
    mix(h, schema.length.toLong)
  }

  private def field(h: Long, g: SpecializedGetters, i: Int, dt: DataType): Long =
    if (g.isNullAt(i)) mix(h, NullMark)
    else dt match {
      case BooleanType => mix(h, if (g.getBoolean(i)) 1L else 2L)
      case ByteType => mix(h, g.getByte(i).toLong)
      case ShortType => mix(h, g.getShort(i).toLong)
      case IntegerType | DateType | _: YearMonthIntervalType =>
        mix(h, g.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        mix(h, g.getLong(i))
      case FloatType => mix(h, canonical(g.getFloat(i).toDouble))
      case DoubleType => mix(h, canonical(g.getDouble(i)))
      case d: DecimalType =>
        bytes(h, g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .unscaledValue.toByteArray)
      case _: StringType => bytes(h, g.getUTF8String(i).getBytes)
      case BinaryType => bytes(h, g.getBinary(i))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        var x = mix(h, a.numElements.toLong)
        var j = 0
        while (j < a.numElements) { x = field(x, a, j, et); j += 1 }
        x
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val ks = m.keyArray
        val vs = m.valueArray
        var x = mix(h, m.numElements.toLong)
        var j = 0
        while (j < m.numElements) {
          x = field(field(x, ks, j, kt), vs, j, vt)
          j += 1
        }
        x
      case s: StructType => mix(h, row(g.getStruct(i, s.length), s))
      case u: UserDefinedType[_] => field(h, g, i, u.sqlType)
      case other => throw new IllegalArgumentException(
        s"digest has no rule for column type $other")
    }
}
