package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result: the sum (mod 2^64) of a 64-bit
  * hash of each row's canonical text. Columns are taken in name order
  * and floating-point values are rounded to 12 significant digits, so
  * a digest recorded once stays valid across plans whose summation
  * order differs in the last bits. Bitwise float checks are the DuckDB
  * compare's job, not this one's.
  */
object Digest {
  private val mc = new MathContext(12)

  def of(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val b = md.digest(canon(r).getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(b).getLong
    }
    f"$sum%016x"
  }

  private def canon(r: Row): String = {
    val names = r.schema.fieldNames.zipWithIndex.sortBy(_._1)
    names.map { case (_, i) => value(r.get(i)) }.mkString("\u0001")
  }

  private def value(v: Any): String = v match {
    case null => "∅"
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => canon(r)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case o => o.toString
  }

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(mc).stripTrailingZeros.toPlainString
}
