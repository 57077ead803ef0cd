package graftbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query's output: the row count and the
  * sum (mod 2^64) of one 64-bit hash per row. A row hashes its rendered
  * cells; floating-point cells are rendered to 9 significant digits, so a
  * last-bit difference from a different summation order does not change
  * the digest. */
object Digest {
  final case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = {
    val rows = df.collect()
    Result(rows.length, java.lang.Long.toHexString(rows.foldLeft(0L)(_ + rowHash(_))))
  }

  private def rowHash(r: Row): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = md.digest(render(r).getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(b).getLong
  }

  private def fp(d: Double): String =
    if (d == 0.0) "0" // folds -0.0 into 0.0
    else if (d.isNaN || d.isInfinite) d.toString
    else "%.8e".formatLocal(java.util.Locale.ROOT, d)

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => fp(d)
    case f: Float => fp(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
