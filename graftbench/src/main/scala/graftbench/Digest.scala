package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent multiset digest of a result: "<rows>:<hex sum>".
  *
  * Each row is rendered canonically (columns in name order, floating
  * values at 10 significant digits so a last-bit difference in a
  * partition-order-dependent sum cannot flip the digest) and hashed with
  * MD5; the digest is the row count plus the sum of the first 8 bytes of
  * every row hash modulo 2^64, so duplicate rows count and row order does
  * not.
  */
object Digest {
  private val Sig = new MathContext(10)

  def of(df: DataFrame): String = {
    val cols = df.columns.sorted.map(df.col).toSeq
    val (n, sum) = df.select(cols: _*).rdd
      .map(r => (1L, rowHash(r)))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    f"$n:$sum%016x"
  }

  private def rowHash(r: Row): Long = {
    val b = MessageDigest.getInstance("MD5")
      .digest(render(r).getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(b).getLong
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => renderDouble(d)
    case f: Float => renderDouble(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  private def renderDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(Sig).stripTrailingZeros.toString
}
