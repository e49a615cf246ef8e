package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result, comparable across engines.
  * `make_expected.py` renders DuckDB's result of the same key's oracle SQL
  * with the same rules, so the two digests match when the rows do.
  *
  * Rules: columns in name order; a row is its cells joined by tabs; numbers
  * of any type become exact decimals, integral ones below 1e15 printed
  * whole and all others rounded to 10 significant digits (float sums that
  * differ in the last bits still agree); the digest is the row count and
  * the sum, mod 2^64, of the first 8 bytes of each row's SHA-256. */
object Canon {
  private val Tens15 = new JBigDecimal("1e15")
  private val Mc = new MathContext(10, RoundingMode.HALF_EVEN)
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def num(bd: JBigDecimal): String =
    if (bd.signum == 0) "0"
    else if (bd.stripTrailingZeros.scale <= 0 && bd.abs.compareTo(Tens15) < 0)
      bd.toBigIntegerExact.toString
    else bd.round(Mc).stripTrailingZeros.toPlainString

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else num(new JBigDecimal(d))

  def cell(v: Any): String = v match {
    case null                 => "\\N"
    case b: Boolean           => b.toString
    case x: Byte              => x.toString
    case x: Short             => x.toString
    case x: Int               => num(JBigDecimal.valueOf(x.toLong))
    case x: Long              => num(JBigDecimal.valueOf(x))
    case x: Float             => dbl(x.toDouble)
    case x: Double            => dbl(x)
    case x: JBigDecimal       => num(x)
    case x: BigDecimal        => num(x.bigDecimal)
    case s: String            => s.flatMap {
      case '\\' => "\\\\"; case '\t' => "\\t"; case '\n' => "\\n"
      case c => c.toString }
    case t: java.sql.Timestamp => TsFmt.format(t.toInstant.atZone(ZoneOffset.UTC))
    case t: Instant            => TsFmt.format(t.atZone(ZoneOffset.UTC))
    case t: LocalDateTime      => TsFmt.format(t)
    case d: java.sql.Date      => d.toLocalDate.toString
    case d: LocalDate          => d.toString
    case b: Array[Byte]        => b.map(x => f"$x%02x").mkString
    case r: Row                => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(cell).mkString("[", ",", "]")
    case other                 => other.toString
  }

  def rowHash(sha: MessageDigest, text: String): Long = {
    val h = sha.digest(text.getBytes("UTF-8"))
    (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (h(i) & 0xffL))
  }

  /** (row count, digest as 16 hex digits) of `df`'s rows. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val parts = df.select(cols.head, cols.tail.toIndexedSeq: _*).rdd
      .mapPartitions { it =>
        val sha = MessageDigest.getInstance("SHA-256")
        var n = 0L; var sum = 0L
        it.foreach { r =>
          n += 1
          sum += rowHash(sha, (0 until r.length).map(i => cell(r.get(i))).mkString("\t"))
        }
        Iterator((n, sum))
      }.collect()
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }
}
