package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive content digest of a query result: the row count plus
  * the sum (mod 2^64) of a 64-bit MD5 prefix of each row's canonical text.
  * Floating-point values are rounded to 9 significant digits first, so a
  * different summation order inside an aggregate does not change the
  * digest, while any real change of a value does. */
object Digest extends Serializable {
  final case class Value(rows: Long, sum: Long) {
    def render: String = Stats.fmt("%d:%016x", rows, sum)
  }

  /** The digest of a whole result, computed by the tasks: no partition,
    * and never the whole result, is collected on the driver. */
  def of(df: DataFrame): Value = df.rdd
    .mapPartitions(rows => Iterator(of(rows)))
    .fold(Value(0L, 0L))((a, b) => Value(a.rows + b.rows, a.sum + b.sum))

  def of(rows: Seq[Row]): Value = of(rows.iterator)

  def of(rows: Iterator[Row]): Value = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var n, sum = 0L
    rows.foreach { r =>
      val h = md.digest(canonical(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h).getLong
      n += 1
    }
    Value(n, sum)
  }

  def canonical(v: Any): String = v match {
    case null => "∅"
    case d: Double => float(d)
    case f: Float => float(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => Stats.fmt("T%d.%09d", t.getTime / 1000, t.getNanos)
    case i: java.time.Instant => Stats.fmt("T%d.%09d", i.getEpochSecond, i.getNano)
    case b: Array[Byte] => b.map(x => Stats.fmt("%02x", x & 0xff)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case x => x.toString
  }

  private def float(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString
}
