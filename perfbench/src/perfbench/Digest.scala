package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a collected result.
  *
  * Columns are visited in name order; each row is rendered canonically
  * (doubles rounded to 9 significant digits, -0.0 folded to 0, NULL as
  * `\N`), hashed with MD5, and the two 64-bit halves of every row hash are
  * summed modulo 2^64. The sum is a multiset hash: the same rows in any
  * order give the same digest. */
object Digest {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case v: org.apache.spark.ml.linalg.Vector => v.toArray.map(double).mkString("v[", ",", "]")
    case v: org.apache.spark.mllib.linalg.Vector => v.toArray.map(double).mkString("v[", ",", "]")
    case o => o.toString
  }

  /** Canonical row strings, columns in name order. */
  def rows(schema: StructType, rows: Array[Row]): Array[String] = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001"))
  }

  def of(lines: Array[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    var a = 0L
    var b = 0L
    lines.foreach { s =>
      val h = md.digest(s.getBytes(UTF_8))
      a += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      b += java.nio.ByteBuffer.wrap(h, 8, 8).getLong
    }
    f"$a%016x$b%016x"
  }
}
