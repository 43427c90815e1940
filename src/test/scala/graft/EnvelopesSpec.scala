package graft

import org.apache.spark.sql.functions._
import graft.operators.{Envelopes, Smoothing}
import TestSignals.{recording, sig}

class EnvelopesSpec extends SparkSpec {
  import spark.implicits._

  // A channel long enough for the 350/301 machinery: sine + offset.
  private def sine(n: Int, ch: Int = 0) =
    (0 until n).map { i =>
      SignalRow("e", ch, i.toLong, i / 100.0,
        1000.0 + 300.0 * math.sin(i / 20.0))
    }.toDS().toDF()

  test("envelopes bracket the signal away from edges; diastolic between them") {
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(sine(1200)))
    val rows = df.filter($"sample_idx".between(300, 700))
      .select("y_smooth", "baseline", "ceiling", "diastolic").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, c, d) = (r.getAs[Double]("baseline"), r.getAs[Double]("ceiling"),
        r.getAs[Double]("diastolic"))
      assert(b < c, s"baseline $b !< ceiling $c")
      assert(d > b && d < c, s"diastolic $d outside ($b,$c)")
      assert(math.abs(d - (b + 0.1 * (c - b))) < 1e-9)
    }
  }

  test("output keeps exactly n rows per channel with envelope columns") {
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(sine(900)))
    assert(df.count() === 900)
    assert(df.filter($"baseline".isNotNull).count() === 900)
  }

  test("monotone 350-sample stretch poisons envelopes to null (NaN parity)") {
    // ramp has no interior local minima anywhere -> every frame NaN ->
    // nulls everywhere after SG.
    val ramp = (0 until 900).map { i =>
      SignalRow("e", 0, i.toLong, i / 100.0, i.toDouble)
    }.toDS().toDF()
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(ramp))
    assert(df.filter($"baseline".isNotNull).count() === 0)
    assert(df.filter($"diastolic".isNotNull).count() === 0)
  }

  test("short channel (n < 525) degrades to null envelopes, does not crash") {
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(sine(400)))
    assert(df.count() === 400)
    assert(df.filter($"baseline".isNotNull).count() === 0)
  }
}

/** Edge-of-bound specs for the envelope operator. The pinned hashes are
  * bit-level fingerprints of `baseline`/`ceiling`/`diastolic`; they were
  * recorded from the window-and-join formulation of the operator, so the
  * per-channel kernel that replaced it must reproduce them exactly.
  */
class EnvelopesEdgeSpec extends SparkSpec {
  import spark.implicits._

  private val outCols =
    Seq("experiment_id", "channel", "sample_idx", "t", "y", "y_smooth",
      "baseline", "ceiling", "diastolic")

  /** One channel that already carries `y_smooth = f(i)`, so the operator
    * sees the exact target values a case needs (NaN, null, ties).
    */
  private def smoothed(n: Int)(f: Int => java.lang.Double) =
    (0 until n).map(i => ("e", 0, i.toLong, i / 100.0, 0.0, f(i)))
      .toDF("experiment_id", "channel", "sample_idx", "t", "y", "y_smooth")

  private def sine(i: Int): java.lang.Double = 1000.0 + 300.0 * math.sin(i / 20.0)

  /** Order-insensitive fingerprint of the key, sample index and the
    * three envelope columns.
    */
  private def envHash(df: org.apache.spark.sql.DataFrame): Long =
    Fingerprints.print(df.select("experiment_id", "channel", "sample_idx",
      "baseline", "ceiling", "diastolic"))._3

  private def nulls(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    Seq("baseline", "ceiling", "diastolic").map(c => df.filter(col(c).isNull).count())

  /** Pins the output columns, the fingerprint and the null counts of
    * baseline/ceiling/diastolic.
    */
  private def pinned(df: org.apache.spark.sql.DataFrame, hash: Long,
      nullCounts: Long*): Unit = {
    assert(df.columns.toSeq === outCols)
    assert(envHash(df) === hash)
    assert(nulls(df) === nullCounts)
  }

  test("NaN in y_smooth: NaN is the greatest double, so it can be a peak mark") {
    val in = smoothed(1200)(i =>
      if (i == 600 || i == 601 || i == 900) Double.NaN else sine(i))
    val df = Envelopes.withEnvelopes(in)
    // the NaN at 900 is a peak mark (the pair at 600/601 marks nothing):
    // every ceiling frame holding it is NaN, hence null; baseline survives
    pinned(df, -3479575612885729300L, 0, 623, 623)
    assert(df.filter(isnan($"baseline") || isnan($"ceiling") ||
      isnan($"diastolic")).count() === 0)
  }

  test("null y_smooth: a null value or a null neighbour marks nothing") {
    val in = smoothed(1200)(i => if (i == 500 || i == 777 || i == 778) null else sine(i))
    pinned(Envelopes.withEnvelopes(in), 7086648526921329491L, 0, 0, 0)
  }

  test("tied neighbours are not extrema; -0.0 and 0.0 compare equal") {
    // integer plateaus plus isolated ±0.0 valleys
    val in = smoothed(1000)(i =>
      if (i % 97 == 13) 0.0 else if (i % 97 == 50) -0.0
      else math.rint(5.0 * math.sin(i / 9.0)) + 6.0)
    // plateau maxima are never strict: the only peak marks sit beside the
    // inserted zeros, so most ceiling frames are empty
    pinned(Envelopes.withEnvelopes(in), 749443573119575363L, 0, 892, 892)
  }

  test("channel lengths at the bigW + pad edge: 524 null, 525 and 526 computed") {
    val expected = Seq(
      524 -> (-279926452895895810L, 524L),
      525 -> (-6232950737193955955L, 0L),
      526 -> (5801939042267148627L, 0L))
    expected.foreach { case (n, (hash, nullRows)) =>
      val df = Envelopes.withEnvelopes(Smoothing.withSmooth(sig(n)))
      assert(df.count() === n)
      pinned(df, hash, nullRows, nullRows, nullRows)
    }
  }

  test("two experiments x three channels: each channel equals its solo result") {
    val all = Seq("a", "b").flatMap(e => (0 until 3).map(ch => (e, ch)))
    val in = all.map { case (e, ch) => sig(700 + 37 * ch, ch, e) }.reduce(_ union _)
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(in))
    pinned(df, -2069330456182290965L, 0, 0, 0)
    val solo = all.map { case (e, ch) =>
      envHash(Envelopes.withEnvelopes(Smoothing.withSmooth(sig(700 + 37 * ch, ch, e))))
    }
    assert(envHash(df) === solo.sum)
  }

  test("auxSmoothingWindow > auxWindowSize: the nearest-mode taps run past both ends") {
    val cfg = PeakConfig(auxWindowSize = 100, auxSmoothingWindow = 101)
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(sig(400)), cfg)
    pinned(df, 6603002013807517122L, 0, 0, 0)
  }

  test("seeded 9 x 3,000 recording: bit-level envelope fingerprint") {
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(recording(1L)))
    assert(df.count() === 27000)
    pinned(df, 2917310609054125431L, 0, 0, 0)
  }

  test("rows with a null key keep their rows and get null envelopes") {
    val in = sig(700).withColumn("experiment_id", lit(null).cast("string"))
      .union(sig(700, 1))
    val df = Envelopes.withEnvelopes(Smoothing.withSmooth(in))
    assert(df.count() === 1400)
    val keyless = df.filter($"experiment_id".isNull)
    assert(keyless.count() === 700)
    assert(nulls(keyless) === Seq(700L, 700L, 700L))
    assert(envHash(df.filter($"experiment_id".isNotNull)) ===
      envHash(Envelopes.withEnvelopes(Smoothing.withSmooth(sig(700, 1)))))
  }

  test("a channel whose sample_idx is not dense and 0-based fails, naming the channel") {
    val gap = sig(600, 2, "x").filter($"sample_idx" =!= 300L)
    val dup = sig(600, 3, "y").union(sig(600, 3, "y").filter($"sample_idx" === 7L))
    Seq(gap -> "channel (experiment_id=x, channel=2)",
        dup -> "channel (experiment_id=y, channel=3)").foreach { case (in, named) =>
      val e = intercept[Exception] {
        Envelopes.withEnvelopes(Smoothing.withSmooth(in)).collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains("dense 0-based sample_idx") && m.contains(named)),
        msgs.mkString("\n"))
    }
  }

  test("smooth + envelopes plan one Exchange: no join back, no AppendColumns") {
    val p = Envelopes.withEnvelopes(Smoothing.withSmooth(sig(600)))
      .queryExecution.executedPlan.toString()
    assert("\\bExchange\\b".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Join") && !p.contains("AppendColumns"), p)
  }
}
