package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** SHA-256 of a query result under tools/oracle_check.py's comparison
  * rule: columns sorted by name, rows in result order, floating-point
  * cells rounded to 10 significant digits (Python's `%.10g`), nulls as
  * `NULL`. */
object Digest {

  def apply(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(schema.fieldNames(_)).mkString("|").getBytes("UTF-8"))
    rows.foreach { r =>
      md.update(order.map(i => cell(r.get(i))).mkString("\n", "\u0001", "").getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => g10(d)
    case f: Float => g10(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Python's `f"{v:.10g}"`. */
  def g10(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else if (v == 0) (if (1 / v < 0) "-0" else "0")
    else {
      val bd = new JBigDecimal(v).round(new MathContext(10, RoundingMode.HALF_EVEN)).stripTrailingZeros
      val exp = bd.precision - bd.scale - 1
      if (exp >= -4 && exp < 10) bd.toPlainString
      else {
        val digits = bd.unscaledValue.abs.toString
        val mantissa = digits.head.toString + (if (digits.length > 1) "." + digits.tail else "")
        (if (bd.signum < 0) "-" else "") + mantissa + (if (exp < 0) "e-" else "e+") + f"${math.abs(exp)}%02d"
      }
    }
}
