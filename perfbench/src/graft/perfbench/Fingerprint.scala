package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive content fingerprint of a query result. It must agree
  * bit for bit with `canon`/`fingerprint` in perfbench/oracle.py, which
  * computes the same value from the DuckDB oracle's result:
  *  - columns are taken in name order;
  *  - a double keeps 6 significant digits, rounded half up on an exactly
  *    scaled mantissa, so the last-bit differences of summation order
  *    between engines vanish;
  *  - timestamps and dates become epoch microseconds (UTC);
  *  - each row is hashed (first 8 bytes of MD5) and the hashes are summed
  *    modulo 2^64, so row order does not matter but multiplicity does. */
object Fingerprint {
  // exact: every power of ten up to 1e22 is a double
  private val Pow10 = Array.iterate(1.0, 23)(_ * 10)

  /** x / 10^e in exactly-rounded steps that the Python twin repeats. */
  private def scaled(x: Double, e: Int): Double = {
    var v = x
    var k = e
    while (k > 0) { val s = math.min(k, 22); v /= Pow10(s); k -= s }
    while (k < 0) { val s = math.min(-k, 22); v *= Pow10(s); k += s }
    v
  }

  def double(x: Double): String =
    if (x.isNaN) "nan"
    else if (x.isInfinite) (if (x > 0) "inf" else "-inf")
    else if (x == 0.0) "0"
    else {
      var e = math.floor(math.log10(math.abs(x))).toInt - 5
      def scaled(e: Int): Double = Fingerprint.scaled(x, e)
      var m = math.floor(scaled(e) + 0.5).toLong
      if (math.abs(m) >= 1000000L) { e += 1; m = math.floor(scaled(e) + 0.5).toLong }
      if (math.abs(m) < 100000L) { e -= 1; m = math.floor(scaled(e) + 0.5).toLong }
      s"${m}e$e"
    }

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: java.math.BigDecimal => double(d.doubleValue)
    case d: scala.math.BigDecimal => double(d.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => (d.toLocalDate.toEpochDay * 86400000000L).toString
    case d: java.time.LocalDate => (d.toEpochDay * 86400000000L).toString
    case s: String => s
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def rowHash(cells: Seq[String]): Long = {
    val d = MessageDigest.getInstance("MD5").digest(cells.mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** (row count, fingerprint as 16 hex digits) of `df`'s collected rows. */
  def of(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect()
    var sum = 0L
    rows.foreach(r => sum += rowHash(order.toSeq.map(i => value(r.get(i)))))
    (rows.length.toLong, f"$sum%016x")
  }
}
