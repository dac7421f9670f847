package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive digest of a result set, computed the same way by
  * `verify.py` over DuckDB results, so a Spark output can be compared
  * with its SQL twin without shipping the rows.
  *
  * Columns are sorted by name; each cell gets a canonical text form
  * (integral numbers exact, other numbers rounded to 12 significant
  * digits, timestamps as epoch microseconds, dates as epoch days);
  * each row hashes to the first 8 bytes of its MD5 and the digest is
  * `rows:sum-of-row-hashes:header-hash`. */
object Digest {
  private val mc = new MathContext(12, RoundingMode.HALF_EVEN)

  private def number(d: JBigDecimal): String =
    if (d.signum == 0) "0"
    else if (d.stripTrailingZeros.scale <= 0) d.toBigIntegerExact.toString
    else d.round(mc).stripTrailingZeros.toPlainString

  private def double(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else number(new JBigDecimal(d))

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigInteger => n.toString
    case f: Float => double(f.toDouble)
    case d: Double => double(d)
    case d: JBigDecimal => number(d)
    case d: scala.math.BigDecimal => number(d.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      cell(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def hash8(s: String): Long =
    java.nio.ByteBuffer.wrap(MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))).getLong

  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      sum += hash8(order.map(i => cell(r.get(i))).mkString("\u001f"))
      n += 1
    }
    val header = hash8(columns.sorted.mkString("\u001f"))
    f"$n:$sum%016x:$header%016x"
  }
}
