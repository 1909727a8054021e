package perfbench

import java.math.RoundingMode
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Order-insensitive digest of a query result.
  *
  * Each value is rendered with a type tag, floating and decimal values
  * rounded the way `tools/compare.py` rounds them (9 decimals below 1,
  * else 9 digits after the leading one), columns taken in lower-cased
  * name order. A row hashes to the first 8 bytes of the SHA-256 of its
  * rendering; the digest is the column list, the row count and the
  * wrapping sum of the row hashes. `oracle.py` renders DuckDB rows the
  * same way, so the two digests compare directly.
  */
object Digest {
  private def num(d: Double): String =
    if (d.isNaN) "f:nan"
    else if (d.isInfinite) (if (d > 0) "f:inf" else "f:-inf")
    else if (d == 0.0) "f:0"
    else {
      val x = new java.math.BigDecimal(d)
      // the exponent of the leading digit, exactly (floor(log10 |d|))
      val lead = x.precision - x.scale - 1
      "f:" + x.setScale(if (lead < 0) 9 else 9 - lead, RoundingMode.HALF_EVEN)
        .stripTrailingZeros.toPlainString
    }

  private def two(n: Int) = if (n < 10) "0" + n else n.toString

  private def iso(t: java.time.LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${two(t.getMonthValue)}-${two(t.getDayOfMonth)}T" +
      s"${two(t.getHour)}:${two(t.getMinute)}:${two(t.getSecond)}"
    val micros = t.getNano / 1000
    if (micros == 0) base else base + f".$micros%06d"
  }

  private def utc(i: java.time.Instant) =
    java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)

  def render(v: Any): String = v match {
    case null => "null"
    case b: Boolean => if (b) "b:True" else "b:False"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case i: Int => "i:" + i
    case l: Long => "i:" + l
    case s: Short => "i:" + s
    case b: Byte => "i:" + b
    case t: java.sql.Timestamp => "dt:" + iso(utc(t.toInstant))
    case t: java.time.Instant => "dt:" + iso(utc(t))
    case t: java.time.LocalDateTime => "dt:" + iso(t)
    case d: java.sql.Date => "d:" + d.toLocalDate
    case d: java.time.LocalDate => "d:" + d
    case s: String => "s:" + s
    case a: Array[Byte] => "x:" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=>" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => "o:" + other
  }

  def rowHash(rendered: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(rendered.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  private def partition(order: Array[Int])(rows: Iterator[Row]): Iterator[(Long, Long)] = {
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      n += 1
      sum += rowHash(order.map(i => render(r.get(i))).mkString("\u001f"))
    }
    Iterator((n, sum))
  }

  /** The column list of a digest, for the caller to compare or to keep. */
  def columns(df: DataFrame): Seq[String] = df.columns.toSeq.map(_.toLowerCase).sorted

  /** Materialize `df` (every row of every column) and return its digest
    * together with the Dataset that ran, whose query execution holds the
    * optimizer and planner phases.
    */
  def of(df: DataFrame): (String, org.apache.spark.sql.Dataset[(Long, Long)]) = {
    val names = df.columns.map(_.toLowerCase)
    val order = names.indices.sortBy(names(_)).toArray
    val ds = df.mapPartitions(partition(order))(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val parts = ds.collect()
    val n = parts.map(_._1).sum
    val sum = parts.map(_._2).sum
    (format(columns(df), n, sum), ds)
  }

  /** Only the column list and whether any row came back, for results
    * whose text is not stable across sessions (plan listings).
    */
  def shapeOf(df: DataFrame): (String, org.apache.spark.sql.Dataset[(Long, Long)]) = {
    val (full, ds) = of(df)
    val nonEmpty = !full.split('|')(1).startsWith("0:")
    (columns(df).mkString(",") + "|rows=" + nonEmpty, ds)
  }

  def format(cols: Seq[String], n: Long, sum: Long): String =
    cols.mkString(",") + "|" + n + ":" + f"$sum%016x"
}
