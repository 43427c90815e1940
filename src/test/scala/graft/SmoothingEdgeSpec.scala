package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import graft.functions.SavitzkyGolay
import graft.operators.Smoothing
import Fingerprints.print
import TestSignals.{recording, sig}

/** Bit-level fingerprints of `Smoothing.withSmooth` over its whole
  * output frame. They were recorded from the window formulation of the
  * operator (an explode pad, a count window and a 51-row `collect_list`
  * frame), so any later formulation must reproduce them exactly.
  *
  * `padded` is the reference model of the block-repeat pad: the series
  * with its first and last min(n, 25) samples repeated at either end,
  * each output reading the ±25-row frame around its sample and nothing
  * when that frame runs off the padded series.
  */
class SmoothingEdgeSpec extends SparkSpec {
  import spark.implicits._

  private val schema =
    "struct<experiment_id:string,channel:int,sample_idx:bigint,t:double,y:double,y_smooth:double>"

  private def smooth(df: DataFrame) = Smoothing.withSmooth(df)

  /** Per sample: its ±25-row frame of the padded series, if complete. */
  private def padded(ys: Seq[java.lang.Double]): Seq[Option[Seq[java.lang.Double]]] = {
    val n = ys.length
    val a = math.min(n, 25)
    val p = ys.take(a) ++ ys ++ ys.takeRight(a)
    ys.indices.map { i =>
      Option.when(a + i - 25 >= 0 && a + i + 25 < p.length)(p.slice(a + i - 25, a + i + 26))
    }
  }

  /** (sample_idx, y_smooth) of one channel, by sample_idx. */
  private def series(df: DataFrame): Seq[(Long, Option[Double])] =
    df.select("sample_idx", "y_smooth").collect().toSeq
      .map(r => (r.getLong(0), Option.when(!r.isNullAt(1))(r.getDouble(1))))
      .sortBy(_._1)

  test("seeded 9 x 3,000 recording: bit-level fingerprint") {
    assert(print(smooth(recording(1L))) === (schema, 27000, 8294102670122023094L))
  }

  test("two experiments x three channels sharing channel ids: each channel equals its solo result") {
    val all = Seq("a", "b").flatMap(e => (0 until 3).map(ch => (e, ch)))
    val in = all.map { case (e, ch) => sig(700 + 37 * ch, ch, e) }.reduce(_ union _)
    val out = print(smooth(in))
    assert(out === (schema, 4422, 6145464314213970477L))
    assert(out._3 === all.map { case (e, ch) => print(smooth(sig(700 + 37 * ch, ch, e)))._3 }.sum)
  }

  test("channel lengths around the pad and the window: which samples of a short channel get a value") {
    val expected = Seq(
      1 -> 3965752629734724076L, 10 -> 5578224997260136664L,
      20 -> 1576327790627344182L, 24 -> -6568876061809049886L,
      25 -> 6405371955140672383L, 26 -> 2480415738142901922L,
      50 -> 5351400813723467795L, 51 -> 838306940211397626L,
      52 -> 3185974603536562453L)
    val c = SavitzkyGolay.coeffs(51, 7)
    expected.foreach { case (n, hash) =>
      val in = sig(n, n)
      val out = smooth(in)
      assert(print(out) === (schema, n, hash), s"n = $n")
      // n >= 25: every sample; n < 25: exactly the samples i with
      // 25 - n <= i <= 2n - 26 (none for n <= 16)
      val valued = series(out).collect { case (i, Some(_)) => i }
      val rule = if (n >= 25) 0L until n.toLong else (25L - n) to (2L * n - 26)
      assert(valued === rule, s"n = $n")
      // and each value is the 51-tap fold of that sample's padded frame
      val ys = in.select("y").as[Double].collect().toSeq.map(Double.box)
      series(out).zip(padded(ys)).foreach {
        case ((i, Some(v)), Some(fr)) =>
          assert(math.abs(v - fr.zip(c).map { case (y, w) => y * w }.sum) < 1e-9, s"n = $n at $i")
        case ((i, v), fr) => assert(v.isEmpty && fr.isEmpty, s"n = $n at $i")
      }
    }
    val together = expected.map(_._1).map(n => sig(n, n)).reduce(_ union _)
    assert(print(smooth(together))._3 === expected.map(_._2).sum)
  }

  test("scattered null y and one NaN y: a null in the frame gives null, a NaN propagates") {
    val n = 300
    val ys: Seq[java.lang.Double] = (0 until n).map { i =>
      if (i == 3 || i == 140 || i == 141 || i == 296) null
      else if (i == 220) Double.NaN
      else Double.box(1000.0 + 300.0 * math.sin(i / 15.0))
    }
    val in = ys.zipWithIndex.map { case (y, i) => ("e", 0, i.toLong, i / 100.0, Option(y).map(_.doubleValue)) }
      .toDF("experiment_id", "channel", "sample_idx", "t", "y")
    val out = smooth(in)
    assert(print(out) === (schema, n, 3741711860955807847L))
    series(out).zip(padded(ys)).foreach { case ((i, v), fr) =>
      val frame = fr.get
      if (frame.contains(null)) assert(v.isEmpty, s"at $i")
      else if (frame.exists(_.isNaN)) assert(v.exists(_.isNaN), s"at $i")
      else assert(v.exists(x => !x.isNaN), s"at $i")
    }
  }

  test("rows with a null key keep their rows and get a null y_smooth") {
    val in = sig(300, 1).withColumn("experiment_id", lit(null).cast("string"))
      .union(sig(300, 2, "k").withColumn("channel", lit(null).cast("int")))
      .union(sig(300, 3))
    val out = smooth(in)
    val keyless = out.filter($"experiment_id".isNull || $"channel".isNull)
    assert(keyless.count() === 600)
    assert(keyless.filter($"y_smooth".isNotNull).count() === 0)
    assert(print(out.filter($"experiment_id".isNotNull && $"channel".isNotNull)) ===
      print(smooth(sig(300, 3))))
  }

  test("a channel whose sample_idx is not dense and 0-based fails, naming the channel") {
    val oneBased = sig(100, 4, "x").withColumn("sample_idx", $"sample_idx" + 1L)
    val e = intercept[Exception](smooth(oneBased.union(sig(100, 5))).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("dense 0-based sample_idx") &&
      m.contains("channel (experiment_id=x, channel=4)")), msgs.mkString("\n"))
  }
}
