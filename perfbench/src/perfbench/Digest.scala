package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical digest of a result relation, the same one `oracle.py`
  * computes from DuckDB: columns sorted by name, each value rendered
  * type-tagged (doubles as their exact value rounded half-even to 9
  * decimals, the precision dev/check_oracle.py compares at), rows sorted,
  * SHA-256 over the lines.
  */
object Digest {
  final case class Result(digest: String, rows: Int, cols: Seq[String])

  def of(schema: StructType, rows: Array[Row]): Result = {
    val names = schema.fieldNames.toSeq
    val lines = canonicalLines(schema, rows)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(names.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    Result(md.digest().map(b => f"${b & 0xff}%02x").mkString, rows.length, names.sorted)
  }

  def canonicalLines(schema: StructType, rows: Array[Row]): Seq[String] = {
    val order = schema.fieldNames.toSeq.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map(r => order.map(i => value(r.get(i))).mkString("|")).sorted.toSeq
  }

  def dbl(v: Double): String =
    if (v.isNaN) "dNaN"
    else if (v.isInfinite) (if (v > 0) "dInf" else "d-Inf")
    else "d" + new JBigDecimal(v).setScale(9, RoundingMode.HALF_EVEN).toPlainString

  /** JSON string escaping with every non-ASCII UTF-16 unit as \\uXXXX —
    * Python's `json.dumps(s)` byte for byte.
    */
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case '\b' => b ++= "\\b"
      case '\f' => b ++= "\\f"
      case c if c < ' ' || c > '~' && c != '\u007f' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => "m" + x.toPlainString
    case x: scala.math.BigDecimal => "m" + x.bigDecimal.toPlainString
    case x: String => str(x)
    case x: java.sql.Date => "D" + x.toLocalDate.toString
    case x: java.time.LocalDate => "D" + x.toString
    case x: java.sql.Timestamp => "t" + micros(x.toInstant)
    case x: java.time.Instant => "t" + micros(x)
    case x: java.time.LocalDateTime => "t" + micros(x.toInstant(java.time.ZoneOffset.UTC))
    case x: Array[Byte] => "b" + x.map(b => f"${b & 0xff}%02x").mkString
    case x: Row => x.toSeq.map(value).mkString("{", ",", "}")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => value(k) + "=" + value(w) }.sorted.mkString("<", ",", ">")
    case x: scala.collection.Seq[_] => x.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
