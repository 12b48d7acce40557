package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/**
 * Row- and column-order-insensitive fingerprint of a query result.
 * Columns are taken in name order; each row becomes a canonical string
 * whose SHA-256 prefix is summed (mod 2^64) over all rows, so the same
 * multiset of rows gives the same fingerprint in any order.
 * `oracle.py` implements the same canonical form for DuckDB results;
 * the two are pinned against each other by shared test vectors.
 *
 * Numbers: integers print as integers, floats correctly rounded (half to
 * even, as Python's formatting does) to ten significant digits, so
 * last-bit summation noise does not change the fingerprint. Timestamps
 * print as epoch microseconds.
 */
object Fingerprint {

  def canon(v: Any): String = v match {
    case null => "n"
    case b: Boolean => if (b) "b:1" else "b:0"
    case x: Byte => "i:" + x
    case x: Short => "i:" + x
    case x: Int => "i:" + x
    case x: Long => "i:" + x
    case x: BigInt => "i:" + x
    case x: java.math.BigInteger => "i:" + x
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: BigDecimal => num(x.toDouble)
    case s: String => "s:" + s
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "t:" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case t: java.time.Instant => "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => "d:" + d.toLocalDate.toString
    case d: java.time.LocalDate => "d:" + d.toString
    case a: Array[Byte] => "x:" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case other => "?:" + other.toString
  }

  def num(d: Double): String =
    if (d.isNaN) "f:nan"
    else if (d.isInfinite) (if (d > 0) "f:inf" else "f:-inf")
    else if (d == 0.0) "f:0"
    else "f:" + String.format(java.util.Locale.ROOT, "%.9e",
      new java.math.BigDecimal(d).round(new java.math.MathContext(10, java.math.RoundingMode.HALF_EVEN)))

  def rowString(names: Seq[String], values: Seq[Any]): String =
    names.zip(values).sortBy(_._1).map { case (n, v) => n + "=" + canon(v) }
      .mkString("\u001f")

  def rowHash(s: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** "<rows>:<16 hex digits>" over rows with the given column names. */
  def of(names: Seq[String], rows: Iterable[Seq[Any]]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(rowString(names, r)); n += 1 }
    f"$n:$sum%016x"
  }

  def ofRows(names: Seq[String], rows: Array[Row]): String =
    of(names, rows.map(r => (0 until r.length).map(r.get)))
}
