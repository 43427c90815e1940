package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{BeatMetrics, Envelopes, PeakDetect, Smoothing}

/** Bit-level, order-insensitive fingerprints of `detectPeaks`,
  * `candidateProminences` and `metrics` (with and without markers) over
  * the edge cases of the signal spine. They were recorded from the typed
  * `groupByKey` passes and the window-and-join formulation of the
  * metrics, so the per-channel kernels that replaced them must reproduce
  * them exactly.
  */
class BeatMetricsEdgeSpec extends SparkSpec {
  import spark.implicits._

  private def fin(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Per-row mix of every column's bits (null has its own sentinel). */
  private def rowHash(r: Row): Long =
    (0 until r.length).map { i =>
      r.get(i) match {
        case null => 0x7ff8dead00000001L
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case s: String => s.hashCode.toLong
        case x: Number => x.longValue
        case b: Boolean => if (b) 1L else 0L
        case other => fail(s"unexpected value $other")
      }
    }.foldLeft(17L)((h, x) => fin(h + x))

  /** (schema, row count, fingerprint summed over rows). */
  private def print(df: DataFrame): (String, Int, Long) = {
    val rows = df.collect()
    (df.schema.simpleString, rows.length, rows.map(rowHash).sum)
  }

  private def enrich(df: DataFrame): DataFrame =
    Envelopes.withEnvelopes(Smoothing.withSmooth(df))

  /** detectPeaks, candidateProminences, metrics with and without markers. */
  private def allFour(sig: DataFrame): Seq[(String, Int, Long)] = {
    val e = enrich(sig)
    val peaks = PeakDetect.detectPeaks(e).toDF()
    Seq(print(peaks),
      print(PeakDetect.candidateProminences(Smoothing.withSmooth(sig))),
      print(BeatMetrics.metrics(e, peaks)),
      print(BeatMetrics.metrics(e, peaks, markers = false)))
  }

  private val peaksSchema =
    "struct<experiment_id:string,channel:int,peak_idx:bigint,t:double,peak_value:double>"
  private val promSchema =
    "struct<experiment_id:string,channel:int,peak_idx:bigint,prominence:double>"
  private val leanSchema =
    "struct<experiment_id:string,channel:int,peak_idx:bigint,t:double," +
      "peak_value:double,baseline_value:double,force:double,time_to_peak:double," +
      "time_to_relaxation:double,duration:double>"
  private val fullSchema =
    leanSchema.dropRight(1) + ",ttp_t:double,ttp_y:double,ttr_t:double,ttr_y:double>"

  test("seeded 9 x 3,000 recording: peaks, prominences and metrics fingerprints") {
    assert(allFour(recording(1L)) === Seq(
      (peaksSchema, 258, 9039199004444218177L),
      (promSchema, 4313, 3592657583601086557L),
      (fullSchema, 258, 7649206289366409823L),
      (leanSchema, 258, -6463888405782204267L)))
  }

  test("two experiments x three channels: peaks, prominences and metrics fingerprints") {
    val in = Seq("a", "b").flatMap(e => (0 until 3).map(ch => sig(1500 + 37 * ch, ch, e)))
      .reduce(_ union _)
    assert(allFour(in) === Seq(
      (peaksSchema, 94, 6482800692601550208L),
      (promSchema, 102, 8052614934973031167L),
      (fullSchema, 94, 2819759096480770924L),
      (leanSchema, 94, -7907079096663090407L)))
  }

  test("metric edges: null diastolic, null y_smooth, edge, duplicated and absent peaks") {
    val n = 1200
    val base = enrich(sig(n, 0, "h"))
    val detected = PeakDetect.detectPeaks(base).toDF()
    // a stretch of null diastolic, and scattered null y_smooth (a null
    // state is "below" for TTP and "above" for TTR)
    val holed = base
      .withColumn("diastolic",
        when($"sample_idx".between(400, 519), lit(null).cast("double"))
          .otherwise($"diastolic"))
      .withColumn("y_smooth",
        when($"sample_idx" % 97 === 11, lit(null).cast("double")).otherwise($"y_smooth"))
    // ch1: above the diastolic on [30, 38], the flip lands on the last
    // sample (39); ch2: above from sample 0, so the left walk exhausts
    val hand = Seq((1, 40, 30 to 38), (2, 20, 0 to 8)).flatMap { case (ch, len, above) =>
      (0 until len).map { i =>
        val y = if (above.contains(i)) 20.0 + (5 - math.abs(i - above.head - above.size / 2)) else 5.0
        ("h", ch, i.toLong, i / 100.0, y, y, Option(5.0), Option(30.0), Option(10.0))
      }
    }.toDF("experiment_id", "channel", "sample_idx", "t", "y", "y_smooth",
      "baseline", "ceiling", "diastolic")
    val enriched = holed.unionByName(hand)
    def peak(e: String, ch: Int, i: Long) = (e, ch, i, i / 100.0, 1000.0 + i)
    val extra = Seq(
      peak("h", 0, 0), peak("h", 0, n - 2), peak("h", 0, n - 1), // edge guard
      peak("h", 0, 450), peak("h", 0, 450), // duplicated, inside the null stretch
      peak("h", 0, n), peak("h", 0, -1), peak("h", 0, 5000), // absent from enriched
      peak(null, 0, 100), peak("h", 9, 100), // null key, absent channel
      peak("h", 1, 34), peak("h", 1, 20), peak("h", 1, 37), peak("h", 1, 38),
      peak("h", 2, 4), peak("h", 2, 6), peak("h", 2, 12)
    ).toDF("experiment_id", "channel", "peak_idx", "t", "peak_value")
    val peaks = detected.union(extra)
    assert(Seq(print(BeatMetrics.metrics(enriched, peaks)),
      print(BeatMetrics.metrics(enriched, peaks, markers = false))) === Seq(
      (fullSchema, 25, -63553181469883468L),
      (leanSchema, 25, 2614252897616806314L)))
  }

  test("channels shorter than the smoothing window: null y_smooth is never a peak") {
    val long = sig(1500, 0, "s")
    val in = long.union(sig(10, 1, "s")).union(sig(20, 2, "s"))
    val smooth = Smoothing.withSmooth(in)
    assert(smooth.filter($"channel" =!= 0 && $"y_smooth".isNull).count() > 0)
    val peaks = PeakDetect.detectPeaks(Envelopes.withEnvelopes(smooth)).toDF()
    val proms = PeakDetect.candidateProminences(smooth)
    assert(peaks.filter(isnan($"peak_value")).count() === 0)
    assert(proms.filter(isnan($"prominence")).count() === 0)
    assert(print(peaks.filter($"channel" === 0)) ===
      print(PeakDetect.detectPeaks(enrich(long)).toDF()))
    assert(print(proms.filter($"channel" === 0)) ===
      print(PeakDetect.candidateProminences(Smoothing.withSmooth(long))))
  }

  private def sig(n: Int, ch: Int = 0, e: String = "e") = {
    val rng = new java.util.Random(1000L * ch + n)
    (0 until n).map { i =>
      SignalRow(e, ch, i.toLong, i / 100.0,
        1000.0 + 300.0 * math.sin(i / (15.0 + ch)) + rng.nextGaussian() * 5)
    }.toDS().toDF()
  }

  private def recording(seed: Long) = {
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
