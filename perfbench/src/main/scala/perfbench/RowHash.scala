package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** An order-independent fingerprint of a query result, computed while the
  * physical plan's rows are consumed. Floating-point values are rounded to
  * nine significant digits first: a sum whose partial aggregates merge in a
  * different order may differ in its last bits from run to run. */
object RowHash {

  private def mix(h: Long): Long = {
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def rounded(d: Double): Long =
    if (d.isNaN) 0x7ff8L
    else if (d == 0 || d.isInfinite) java.lang.Double.doubleToLongBits(d + 0.0)
    else java.lang.Double.doubleToLongBits(
      new java.math.BigDecimal(d).round(new java.math.MathContext(9)).doubleValue)

  private def value(v: Any, t: DataType): Long = if (v == null) 0x5bd1e995L else t match {
    case DoubleType => rounded(v.asInstanceOf[Double])
    case FloatType => rounded(v.asInstanceOf[Float].toDouble)
    case s: StructType => row(v.asInstanceOf[InternalRow], s)
    case a: ArrayType =>
      val d = v.asInstanceOf[ArrayData]
      var h = 17L
      var i = 0
      while (i < d.numElements()) {
        h = h * 31 + value(if (d.isNullAt(i)) null else d.get(i, a.elementType), a.elementType)
        i += 1
      }
      h
    case m: MapType =>
      val d = v.asInstanceOf[MapData]
      value(d.keyArray(), ArrayType(m.keyType)) * 31 + value(d.valueArray(), ArrayType(m.valueType))
    case BinaryType => java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong
    case _ => v.hashCode.toLong
  }

  private def row(r: InternalRow, s: StructType): Long = {
    var h = 1L
    var i = 0
    while (i < s.length) {
      val t = s(i).dataType
      h = h * 31 + value(if (r.isNullAt(i)) null else r.get(i, t), t)
      i += 1
    }
    mix(h)
  }

  /** Execute `df`'s physical plan and return (rows, fingerprint). */
  def of(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += row(r, schema) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }
}
