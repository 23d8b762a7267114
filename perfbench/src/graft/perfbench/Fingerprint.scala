package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** An order-free fingerprint of a query result, computed the same way
  * `perfbench/oracle.py` computes it over DuckDB's result: columns sorted
  * by lower-cased name, each value rendered canonically (floats to 9
  * significant digits as Python's `%.9g`, timestamps as UTC
  * `yyyy-MM-dd HH:mm:ss.ffffff`, null as `None`), rows sorted, then
  * SHA-256. This is the `tools/check_oracle.py` normalisation with the
  * value rendering pinned down on both sides. */
final case class Fingerprint(cols: Seq[String], rows: Long, sha: String)

object Fingerprint {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val mc9 = new MathContext(9, RoundingMode.HALF_EVEN)

  def of(schema: StructType, rows: Array[Row]): Fingerprint = {
    val names = schema.fieldNames.map(_.toLowerCase)
    val order = names.indices.sortBy(names(_)).toArray
    val lines = rows.map { r =>
      order.map(i => canon(r.get(i))).mkString("\u001f")
    }.sorted
    val sha = MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\u001e").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Fingerprint(names.sorted.toSeq, rows.length.toLong, sha)
  }

  def canon(v: Any): String = v match {
    case null => "None"
    case b: Boolean => if (b) "True" else "False"
    case d: Double => g9(d)
    case f: Float => g9(f.toDouble)
    case t: java.sql.Timestamp => tsFmt.format(
      LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case t: Instant => tsFmt.format(LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case t: LocalDateTime => tsFmt.format(t)
    case d: JBigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case other => other.toString // integers, strings, dates (ISO)
  }

  /** Python's `format(d, ".9g")`: round the exact binary value half-even
    * to 9 significant digits, strip trailing zeros, and use exponent
    * notation below 1e-4 and from 1e9 up. */
  def g9(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0" else "0")
    else {
      val bd = new JBigDecimal(d).round(mc9)
      val exp = bd.precision - bd.scale - 1
      if (exp < -4 || exp >= 9) {
        val digits = bd.unscaledValue.abs.toString.reverse
          .dropWhile(_ == '0').reverse
        val mant = if (digits.length > 1) s"${digits.head}.${digits.tail}"
          else digits
        val sign = if (bd.signum < 0) "-" else ""
        f"$sign${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      } else bd.stripTrailingZeros.toPlainString
    }
}
