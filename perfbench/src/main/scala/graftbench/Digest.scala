package graftbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._

/** Order-insensitive digest of the rows a query's executed plan produces:
  * the row count and the sum (mod 2^64) of a 64-bit hash of each row's
  * canonical text. Floating-point values are rounded to 10 significant
  * digits (floats to 6), so a last-ulp difference from a changed summation
  * order does not read as a wrong answer. */
object Digest {

  /** Executes the plan once and returns (rows, digest as 16 hex digits). */
  def of(qe: QueryExecution): (Long, String) = {
    val schema = qe.executedPlan.schema
    val parts = qe.toRdd.mapPartitions { it =>
      var n, sum = 0L
      val sb = new java.lang.StringBuilder
      it.foreach { row =>
        sb.setLength(0)
        render(row, schema, sb)
        sum += hash64(sb.toString)
        n += 1
      }
      Iterator((n, sum))
    }.collect()
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }

  def hash64(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    (MurmurHash3.bytesHash(b, 0x3c074a61).toLong << 32) | (MurmurHash3.bytesHash(b, 0x7f4a7c15) & 0xffffffffL)
  }

  private val Sig10 = new MathContext(10, RoundingMode.HALF_EVEN)
  private val Sig6  = new MathContext(6, RoundingMode.HALF_EVEN)

  private def num(d: Double, mc: MathContext): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  def render(v: Any, t: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append("null")
    else t match {
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('(')
        var i = 0
        while (i < st.length) {
          if (i > 0) sb.append(',')
          val ft = st.fields(i).dataType
          render(if (r.isNullAt(i)) null else r.get(i, ft), ft, sb)
          i += 1
        }
        sb.append(')')
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          render(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
          i += 1
        }
        sb.append(']')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          render(m.keyArray().get(i, kt), kt, e)
          e.append("->")
          render(if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt, e)
          e.toString
        }
        sb.append(entries.sorted.mkString("{", ",", "}"))
      case DoubleType => sb.append(num(v.asInstanceOf[Double], Sig10))
      case FloatType  => sb.append(num(v.asInstanceOf[Float].toDouble, Sig6))
      case BinaryType => v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"${b & 0xff}%02x"))
      case _          => sb.append(v.toString)
    }
}
