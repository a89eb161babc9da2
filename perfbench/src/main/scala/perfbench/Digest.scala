package perfbench

import java.math.MathContext

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's result: the row count and the
  * wrapping sum of a 64-bit hash per row. Rows are hashed on the
  * executors from a canonical text form, so computing the digest
  * materializes every operator of the plan, as a plain `foreach` would,
  * and ships only one pair per partition to the driver. Floating-point
  * values are rounded to 9 significant digits before hashing, so that
  * summation order across partitions cannot change the digest. */
object Digest {

  def of(qe: QueryExecution): (Long, String) = {
    val schema = qe.analyzed.schema
    val parts = qe.toRdd.mapPartitions { rows =>
      var n = 0L
      var sum = 0L
      val sb = new java.lang.StringBuilder
      while (rows.hasNext) {
        sb.setLength(0)
        canon(rows.next(), schema, sb)
        val s = sb.toString
        sum += (MurmurHash3.stringHash(s, 17).toLong << 32) ^
          (MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
        n += 1
      }
      Iterator((n, sum))
    }.collect()
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }

  private val sig = new MathContext(9)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(sig).stripTrailingZeros.toString

  private def canon(row: InternalRow, schema: StructType, sb: java.lang.StringBuilder): Unit = {
    sb.append('(')
    var i = 0
    while (i < schema.length) {
      val t = schema(i).dataType
      canonValue(if (row.isNullAt(i)) null else row.get(i, t), t, sb)
      sb.append(',')
      i += 1
    }
    sb.append(')')
  }

  private def canonValue(v: Any, t: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append("null")
    else t match {
      case DoubleType => sb.append(num(v.asInstanceOf[Double]))
      case FloatType => sb.append(num(v.asInstanceOf[Float].toDouble))
      case st: StructType => canon(v.asInstanceOf[InternalRow], st, sb)
      case at: ArrayType =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        for (i <- 0 until a.numElements()) {
          canonValue(if (a.isNullAt(i)) null else a.get(i, at.elementType), at.elementType, sb)
          sb.append(',')
        }
        sb.append(']')
      case mt: MapType =>
        // map entry order is not part of a map's value
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          canonValue(m.keyArray().get(i, mt.keyType), mt.keyType, e)
          e.append(':')
          canonValue(if (m.valueArray().isNullAt(i)) null
            else m.valueArray().get(i, mt.valueType), mt.valueType, e)
          e.toString
        }
        sb.append('{').append(entries.sorted.mkString(",")).append('}')
      case BinaryType =>
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case _ => sb.append(v.toString)
    }
}
