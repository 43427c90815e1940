package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{PeakConfig, SignalRow}
import graft.operators.{BeatMetrics, Envelopes, PeakDetect, Smoothing}

/** One synthetic recording: 9 channels, as one ABF file yields, sampled
  * at 100 Hz. Every channel's beat period, amplitude, noise and baseline
  * drift come from the seed, and so does where its four beats start;
  * `beats` keeps the planted beat centres so
  * the detected peaks can be checked against them.
  */
final case class Recording(rows: Seq[SignalRow], beats: Map[Int, Seq[Long]])

object Recording {
  val Channels = 9
  val Samples = 3000
  /** Planted beats keep this far from both ends, beyond the envelope pad. */
  private val Margin = 400
  /** Beats per channel, fixed so that the work per call does not depend
    * on the seed.
    */
  private val Beats = 4

  def generate(seed: Long): Recording = {
    val perChannel = (0 until Channels).map { ch =>
      val rng = new java.util.Random(seed * 1000003L + ch)
      // narrow ranges around the reference morphology (a beat every ~6 s,
      // amplitude ~2200 over a ~1400 baseline), so that the work per call
      // hardly depends on the seed
      val period = 560 + rng.nextInt(81)
      val amplitude = 1900.0 + 400.0 * rng.nextDouble()
      val noise = 18.0 + 8.0 * rng.nextDouble()
      val driftAmp = 80.0 * rng.nextDouble()
      val driftPeriod = 10000.0 + 10000.0 * rng.nextDouble()
      val driftPhase = 2 * math.Pi * rng.nextDouble()
      val first = Margin + rng.nextInt(Samples - 2 * Margin - (Beats - 1) * period)
      val beats = Vector.tabulate(Beats)(first + _ * period)
      val ys = Array.tabulate(Samples) { i =>
        1400.0 + driftAmp * math.sin(2 * math.Pi * i / driftPeriod + driftPhase) +
          noise * rng.nextGaussian()
      }
      beats.foreach { c =>
        (math.max(0, c - 150) until math.min(Samples, c + 151)).foreach { i =>
          val d = (i - c).toDouble
          ys(i) += amplitude * math.exp(-(d * d) / (2.0 * 30.0 * 30.0))
        }
      }
      val rows = ys.indices.map(i => SignalRow("rec", ch, i.toLong, i / 100.0, ys(i)))
      (rows, ch -> beats.map(_.toLong))
    }
    Recording(perChannel.flatMap(_._1), perChannel.map(_._2).toMap)
  }
}

/** The paper's user path: raw signal to channel summary, through the
  * operators' public DataFrame functions only.
  */
final class Recordings(seed: Long, workDir: String) extends Workload {
  val name = "recordings"
  private val rec = Recording.generate(seed)
  private val path = s"$workDir/recording-$seed.parquet"
  private var expected: Option[Seq[Row]] = None

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    rec.rows.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Three analyses of the recording: a warm-up of one call left the
    * next calls still speeding up as the JIT caught up.
    */
  def pass(passIdx: Int): Seq[String] = Seq.fill(3)("recording")
  def nominalPassS: Double = 8.0
  def samples(callName: String): Long = rec.rows.size.toLong

  /** One analysis. Untraced it materializes enriched and detected once
    * each, as `SparkEntry`'s q9_summary does; traced it also materializes
    * the smoothing boundary so that each operator gets its own span.
    */
  def call(spark: SparkSession, callName: String, trace: Tracer): () => Boolean = {
    val sig = spark.read.parquet(path)
    val enriched =
      if (trace.on) {
        val smooth = trace.span("smoothing")(Smoothing.withSmooth(sig).localCheckpoint())
        trace.span("envelopes")(Envelopes.withEnvelopes(smooth).localCheckpoint())
      } else Envelopes.withEnvelopes(Smoothing.withSmooth(sig)).localCheckpoint()
    val detected = trace.span("peakdetect")(PeakDetect.detectPeaks(enriched).toDF().localCheckpoint())
    val summary = trace.span("beatmetrics")(
      BeatMetrics.summary(enriched, BeatMetrics.metrics(enriched, detected, markers = false))
        .orderBy("channel").collect().toSeq)
    () => check(detected, summary)
  }

  /** Drops the call's checkpoint blocks; nothing else is persisted here. */
  def cleanup(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Every planted beat has a detected peak within `minDistance`, the
    * summary has one row per channel, and every call reproduces the
    * first call's summary exactly.
    */
  private def check(detected: DataFrame, summary: Seq[Row]): Boolean = {
    val tol = PeakConfig().minDistance
    val peaks = detected.select("channel", "peak_idx").collect()
      .groupBy(_.getInt(0)).map { case (ch, rs) => ch -> rs.map(_.getLong(1)).sorted }
    val missed = rec.beats.toSeq.flatMap { case (ch, beats) =>
      val found = peaks.getOrElse(ch, Array.empty[Long])
      beats.filterNot(b => found.exists(p => math.abs(p - b) <= tol)).map(b => s"ch$ch@$b")
    }
    val channelsOk = summary.map(_.getAs[Int]("channel")) == (0 until Recording.Channels)
    val same = expected match {
      case None => expected = Some(summary); true
      case Some(first) => first == summary
    }
    if (missed.nonEmpty) System.err.println(s"[graftbench] recordings: planted beats not detected: ${missed.take(10).mkString(" ")}")
    if (!channelsOk) System.err.println(s"[graftbench] recordings: summary channels ${summary.map(_.getAs[Int]("channel"))}")
    if (!same) System.err.println("[graftbench] recordings: summary differs from the first call's")
    missed.isEmpty && channelsOk && same
  }
}
