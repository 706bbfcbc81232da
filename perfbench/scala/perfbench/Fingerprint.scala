package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent fingerprint of a result: the column names, the row
  * count, and the wrapping sum and xor of a 64-bit hash of each row's
  * canonical rendering. Doubles render at 9 significant digits, so a sum
  * whose partial results merged in another order still matches; decimals
  * render without trailing zeros. Computed distributed: no result is
  * collected to the driver.
  */
object Fingerprint {

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.8e", java.lang.Double.valueOf(d))

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case x => x.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x1ce)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def of(df: DataFrame): String = {
    val (n, sum, xor) = df.rdd
      .mapPartitions { it =>
        var n = 0L; var sum = 0L; var xor = 0L
        it.foreach { r => val h = rowHash(r); n += 1; sum += h; xor ^= h }
        Iterator((n, sum, xor))
      }
      .fold((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c ^ z) }
    s"${df.columns.mkString(",")}|$n|${java.lang.Long.toHexString(sum)}|" +
      java.lang.Long.toHexString(xor)
  }
}
