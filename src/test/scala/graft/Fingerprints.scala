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

/** The seeded inputs the fingerprint specs are pinned on. */
object TestSignals {
  import TestSpark.spark.implicits._

  /** One channel of `n` samples: a sine of period 2π(15 + ch) around
    * 1000 plus Gaussian noise seeded by (ch, n). */
  def sig(n: Int, ch: Int = 0, e: String = "e"): DataFrame = {
    val rng = new java.util.Random(1000L * ch + n)
    (0 until n).map { i =>
      SignalRow(e, ch, i.toLong, i / 100.0,
        1000.0 + 300.0 * math.sin(i / (15.0 + ch)) + rng.nextGaussian() * 5)
    }.toDS().toDF()
  }

  /** A 9 × 3,000-sample recording with one beat every 700 samples per
    * channel (offset 37 samples per channel) and seeded noise. */
  def recording(seed: Long): DataFrame = {
    val rng = new java.util.Random(seed)
    (0 until 9).flatMap { ch =>
      (0 until 3000).map { i =>
        val beat = 400.0 * math.exp(-math.pow((i + 37 * ch) % 700 - 350.0, 2) / 500.0)
        SignalRow("rec", ch, i.toLong, i / 100.0,
          1000.0 + beat + rng.nextGaussian() * 10)
      }
    }.toDS().toDF()
  }
}
