package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical digest of a query result, computed identically by
  * `tools/make_expected.py` from the DuckDB oracle's rows.
  *
  * Columns are ordered by name and rows are an unordered multiset, as in
  * the oracle gate. Every number is rendered as the exact decimal value
  * of its IEEE double, so an integer column on one side and an
  * integral double (or a DECIMAL) on the other compare as the oracle
  * gate's pandas `==` does.
  */
object Canon {

  def digest(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val rowHashes = rows.map { r =>
      sha256(order.map { case (_, i) => value(r.get(i)) }.mkString("\t"))
    }.sorted
    sha256(order.map(_._1).mkString(",") + "\n" + rowHashes.mkString("\n"))
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).toPlainString

  private def str(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c => c.toString
    }

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: java.math.BigInteger => x.toString
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case s: String => str(s)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
