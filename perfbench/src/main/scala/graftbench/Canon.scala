package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent content hash of a query result. `expected.py`
  * computes the same hash over the DuckDB oracle's rows, so the two
  * sides must render every value identically:
  *  - null is `~`; booleans are 1/0, as Python compares them to ints;
  *  - a number with an integral value is its integer string; any other
  *    number is the bit pattern of its double value;
  *  - a string is prefixed with its length; dates are ISO days;
  *    timestamps are microseconds since the epoch (UTC);
  *  - arrays and structs render their elements in order.
  * Columns are taken in name order. Each row hashes on its own (first
  * 8 bytes of SHA-256) and the row hashes are summed mod 2^64, so row
  * order does not matter; the column names and the sum form the hash.
  */
object Canon {
  private val TwoTo63 = BigDecimal(2).pow(63)

  def value(v: Any): String = v match {
    case null => "~"
    case b: Boolean => if (b) "1" else "0"
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: java.math.BigDecimal =>
      val bd = BigDecimal(d)
      if (bd.isWhole && bd.abs < TwoTo63) bd.toBigInt.toString else double(d.doubleValue)
    case s: String => s"${s.codePointCount(0, s.length)}:$s"
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => s"?${other.getClass.getSimpleName}:$other"
  }

  private def double(d: Double): String =
    if (!d.isNaN && !d.isInfinite && d == math.rint(d) && math.abs(d) < 9.2e18) d.toLong.toString
    else if (d.isNaN) "nan"
    else java.lang.Double.doubleToLongBits(d).toString

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)

  /** Hash of (column names, rows) as 16 hex digits. */
  def hash(columns: Seq[String], rows: Iterator[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => value(r.get(i))).mkString("\u0001")
      val d = md.digest(line.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    val head = order.map(columns(_)).mkString(",") + "|" + java.lang.Long.toUnsignedString(sum)
    md.digest(head.getBytes(UTF_8)).take(8).map("%02x".format(_)).mkString
  }
}
