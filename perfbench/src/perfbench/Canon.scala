package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical, order-sensitive digest of a result set.
  *
  * Columns are taken in name order (as `scripts/check.py` does) and every
  * value is written in a typed text form that `perfbench/canon.py` writes
  * identically for a DuckDB result:
  *
  *   null `N`; boolean `b0`/`b1`; integer `i<decimal>`; float, double and
  *   decimal `f<16 hex digits of the IEEE-754 double>` (NaN as `fNaN`);
  *   string `s<utf-8 byte length>:<text>`; binary `x<hex>`; date
  *   `D<days since epoch>`; timestamp `T<microseconds since epoch, UTC>`;
  *   array `[a,b]`; struct `{a,b}` in field order; map `M{k=v,...}` with
  *   entries sorted by their text.
  *
  * Decimals compare as doubles because that is what the pandas compare of
  * `check.py` does. The digest is SHA-256 over the column header line and
  * one line per row. `unordered` sorts the row lines first, for results
  * that promise no order.
  */
object Canon {
  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: java.math.BigInteger => "i" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => dbl(x.doubleValue)
    case x: scala.math.BigDecimal => dbl(x.toDouble)
    case s: String => "s" + s.getBytes(UTF_8).length + ":" + s
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case t: java.sql.Timestamp => "T" + micros(t.toInstant)
    case t: java.time.Instant => "T" + micros(t)
    case t: java.time.LocalDateTime => "T" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("M{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "fNaN" else "f" + f"${java.lang.Double.doubleToRawLongBits(d)}%016x"

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)

  /** (row count, hex SHA-256) of `rows` under `schema`. */
  def digest(schema: StructType, rows: Array[Row], unordered: Boolean = false): (Long, String) = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("|"))
    val body = if (unordered) lines.sorted else lines
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString("cols:", ",", "\n").getBytes(UTF_8))
    body.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
