package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Output fingerprints, computed the same way on both sides of the check:
  * here over collected Spark rows, and in `oracle.py` over DuckDB rows.
  *
  * The rules follow the repository's oracle checker: columns are compared
  * by name (sorted), rows as a multiset, doubles bit for bit, and a
  * DECIMAL-typed output never matches (its rendering differs between the
  * two engines, so the gate contract bans it).
  */
object Canon {

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toString
    case d: java.time.LocalDate => "D" + d.toString
    case d: java.math.BigDecimal => "DEC" + d.toPlainString
    case d: scala.math.BigDecimal => "DEC" + d.bigDecimal.toPlainString
    case a: Array[Byte] => "b" + a.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => "?" + other.toString
  }

  def double(d: Double): String =
    if (d.isNaN) "dNaN"
    else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(x => f"${x & 0xff}%02x").mkString

  /** `rows:<n>:<digest>`; the digest covers the sorted column names and
    * the sorted per-row digests, so row order does not matter.
    */
  def fingerprint(schema: StructType, rows: Seq[Row]): String = {
    if (schema.fields.exists(_.dataType.isInstanceOf[DecimalType]))
      return "decimal-output"
    val names = schema.fieldNames.toSeq
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val digests = rows.map(r => sha(order.map(i => value(r.get(i))).mkString("\u001f")))
    s"rows:${rows.size}:" + sha(names.sorted.mkString("\u001e") + "\n" +
      digests.sorted.mkString("\n")).take(32)
  }
}
