package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result, for checking outputs
  * against the values recorded in `digests.tsv`. Pure; unit tested in
  * DigestSpec.
  *
  * Each row is rendered canonically and hashed; the digest is the row
  * count, the column names and the sum of the row hashes modulo 2^64,
  * so row order, partitioning and the order rows arrive in do not
  * matter while every value does.
  */
object Digest {

  // Queries round their floating outputs themselves (the oracle
  // compares exact values after those rounds). Twelve significant
  // digits keeps every digit a query rounds to while absorbing the
  // last-bit noise of a floating sum whose partial results merge in a
  // different order.
  private val floatDigits = new MathContext(12, RoundingMode.HALF_EVEN)

  def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(floatDigits)
      .stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => canonDouble(b.doubleValue)
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(row: Row): Long = {
    val h = MessageDigest.getInstance("SHA-256")
      .digest(canon(row).getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h).getLong
  }

  /** `<rows>:<hex>`, where hex covers the column names and every row. */
  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    var sum = MessageDigest.getInstance("SHA-256")
      .digest(columns.mkString(",").getBytes(UTF_8))
      .take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xff))
    var n = 0L
    rows.foreach { r => sum += rowHash(r); n += 1 }
    f"$n:$sum%016x"
  }
}
