package perfbench

import java.lang.management.ManagementFactory

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row count and an order-insensitive digest of every row and column of a
  * query's result, computed in the tasks of the query's own physical
  * plan. Unlike `count()`, nothing is pruned: the final sort, every
  * projected expression and every column are evaluated.
  *
  * Values are normalized as the repository's precheck compares them:
  * NaN reads as null and -0.0 as 0.0. Doubles are compared at float
  * precision (about seven significant digits), so a different summation
  * order across partitions or task retries cannot flip a digest; map
  * entries are hashed as an unordered set. */
object Digest {
  /** `taskNs`: CPU time the tasks spent producing and hashing the rows. */
  final case class Result(rows: Long, digest: String, taskNs: Long)

  def of(df: DataFrame): Result = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val cpu = ManagementFactory.getThreadMXBean
      val t0 = cpu.getCurrentThreadCpuTime
      var n, x, lo, hi = 0L
      it.foreach { r =>
        val h = row(r, schema)
        n += 1; x ^= h; lo += h & 0xffffffffL; hi += h >>> 32
      }
      Iterator((n, x, lo, hi, cpu.getCurrentThreadCpuTime - t0))
    }.collect()
    val n = parts.map(_._1).sum
    val x = parts.map(_._2).foldLeft(0L)(_ ^ _)
    // Sums of 32-bit halves cannot overflow below 2^31 rows.
    Result(n, f"$x%016x${parts.map(_._3).sum}%x${parts.map(_._4).sum}%x", parts.map(_._5).sum)
  }

  private val NullHash = 0x6e756c6cL

  private def mix(h: Long, v: Long): Long = {
    var z = h * 0x9e3779b97f4a7c15L + v
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private def bytes(b: Array[Byte]): Long =
    (MurmurHash3.bytesHash(b, 17).toLong << 32) ^
      (MurmurHash3.bytesHash(b, 91).toLong & 0xffffffffL) ^ b.length

  private def float(f: Float): Long =
    if (f.isNaN) NullHash else if (f == 0f) 0L else java.lang.Float.floatToIntBits(f).toLong

  private def row(r: InternalRow, s: StructType): Long = {
    var h = s.length.toLong
    var i = 0
    while (i < s.length) {
      h = mix(h, if (r.isNullAt(i)) NullHash else value(r.get(i, s(i).dataType), s(i).dataType))
      i += 1
    }
    h
  }

  private def value(v: Any, t: DataType): Long = t match {
    case DoubleType => val d = v.asInstanceOf[Double]
      if (d.isNaN) NullHash else float(d.toFloat)
    case FloatType => float(v.asInstanceOf[Float])
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType | ShortType | IntegerType | DateType | _: YearMonthIntervalType =>
      v.asInstanceOf[Number].longValue
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
      v.asInstanceOf[Long]
    case _: DecimalType => bytes(v.asInstanceOf[Decimal].toJavaBigDecimal
      .stripTrailingZeros.toPlainString.getBytes("UTF-8"))
    case _: StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
    case s: StructType => row(v.asInstanceOf[InternalRow], s)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = a.numElements().toLong
      var i = 0
      while (i < a.numElements()) {
        h = mix(h, if (a.isNullAt(i)) NullHash else value(a.get(i, et), et))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      var h = 0L
      var i = 0
      while (i < m.numElements()) {
        h += mix(value(ks.get(i, kt), kt),
          if (vs.isNullAt(i)) NullHash else value(vs.get(i, vt), vt))
        i += 1
      }
      mix(m.numElements().toLong, h)
    case _ => bytes(String.valueOf(v).getBytes("UTF-8"))
  }
}
