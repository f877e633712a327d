package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent digest of a query's output: the sum (mod 2^64) of a
  * 64-bit hash of each row's canonical text. The text rounds floating-point
  * values to 9 significant digits, so an aggregate whose last bits depend
  * on the order tasks finished in digests the same, and sorts map entries;
  * arrays and struct fields keep their order.
  */
object RowDigest {
  private val digits = new MathContext(9)

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new JBigDecimal(d).round(digits).stripTrailingZeros().toString

  /** Canonical text of one value of type `t` (as Spark holds it internally). */
  def text(v: Any, t: DataType): String = if (v == null) "null" else t match {
    case DoubleType => real(v.asInstanceOf[Double])
    case FloatType => real(v.asInstanceOf[Float].toDouble)
    case BinaryType => v.asInstanceOf[Array[Byte]].map(b => f"$b%02x").mkString
    case s: StructType =>
      val r = v.asInstanceOf[InternalRow]
      s.fields.indices.map(i => text(r.get(i, s(i).dataType), s(i).dataType))
        .mkString("(", ",", ")")
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).map(i => text(a.get(i, et), et)).mkString("[", ",", "]")
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      (0 until m.numElements()).map(i => text(ks.get(i, kt), kt) + ":" + text(vs.get(i, vt), vt))
        .sorted.mkString("{", ",", "}")
    case u: UserDefinedType[_] => text(v, u.sqlType)
    case _ => v.toString
  }

  /** 64-bit hash of one row's text: two 32-bit MurmurHash3 halves. */
  def rowHash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)

  /** Sum of the row hashes of `rows`, which have schema `schema`. */
  def sum(rows: Iterator[InternalRow], schema: StructType): Long =
    rows.foldLeft(0L)((acc, r) => acc + rowHash(text(r, schema)))

  def hex(digest: Long): String = f"$digest%016x"
}
