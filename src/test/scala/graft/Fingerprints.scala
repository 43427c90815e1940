package graft

import org.apache.spark.sql.{DataFrame, Row}

/** Bit-level, order-insensitive fingerprint of a result frame: its
  * schema, its row count and a per-row mix of every column's bits
  * (null has its own sentinel) summed over rows. Two frames print alike
  * only when they hold the same multiset of bit-identical rows.
  */
object Fingerprints {

  private def fin(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def rowHash(r: Row): Long =
    (0 until r.length).map { i =>
      r.get(i) match {
        case null => 0x7ff8dead00000001L
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case s: String => s.hashCode.toLong
        case d: java.math.BigDecimal => d.hashCode.toLong
        case x: Number => x.longValue
        case b: Boolean => if (b) 1L else 0L
        case other => throw new IllegalArgumentException(s"unexpected value $other")
      }
    }.foldLeft(17L)((h, x) => fin(h + x))

  /** (schema, row count, fingerprint summed over rows). */
  def print(df: DataFrame): (String, Int, Long) = {
    val rows = df.collect()
    (df.schema.simpleString, rows.length, rows.map(rowHash).sum)
  }
}
