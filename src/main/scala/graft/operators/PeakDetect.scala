package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}
import graft.PeakConfig
import graft.functions.FindPeaks
import graft.plans.{ChannelKernel, ChannelPlan, Rows}
import Smoothing.keyCols

/** O7/O8 — peak detection (SURVEY §2.5).
  *
  * Declarative parts (rule-1 candidates, amplitude gate) are window
  * expressions; the sequential parts of scipy's `find_peaks` (greedy
  * distance, wlen-clipped prominence, interpolated width) run as the
  * [[graft.functions.FindPeaks]] port inside a per-channel kernel of the
  * channel operator ([[graft.plans.ChannelPlan]]), which lays each
  * channel out by `sample_idx` and drops null-key rows. Its output keeps
  * the channel partitioning, so beat metrics over undisturbed peaks plan
  * no second Exchange for them — a channel is one bounded recording,
  * and 100 TB scale comes from millions of independent channels (no
  * driver-side work, no broadcast of signal data). A null `y_smooth`
  * reads as NaN, which scipy never takes for a peak and which stops the
  * prominence and width scans.
  */
object PeakDetect {

  private def keys: Seq[Column] = keyCols.map(col)

  /** `v` is above both neighbours within its channel (by sample_idx). */
  private def strictMax(v: Column): Column = {
    val wo = Window.partitionBy(keys: _*).orderBy("sample_idx")
    v > lag(v, 1).over(wo) && v > lead(v, 1).over(wo)
  }

  /** Rule-1 candidates as a declarative query: strict local maxima of
    * the smooth series (Q5). The exact plateau-midpoint rule lives in
    * [[graft.functions.FindPeaks.localMaxima]]; tied neighbours cannot
    * occur on continuous signals, where the two coincide.
    */
  def candidates(smoothed: DataFrame): DataFrame =
    smoothed
      .withColumn("_isMax", strictMax(col("y_smooth")))
      .filter(col("_isMax"))
      .drop("_isMax")

  /** Amplitude gate (Q6): keep a candidate unless
    * `smooth < (ceiling − baseline)·threshold + baseline`
    * (`/root/reference/peak_detection.py:255-260`). A NaN envelope makes
    * the Python comparison False — i.e. the peak is KEPT — so null
    * envelopes keep here too.
    */
  def gateCondition(cfg: PeakConfig = PeakConfig()): Column = {
    val b = col("baseline"); val c = col("ceiling"); val v = col("y_smooth")
    b.isNull || c.isNull || v >= (c - b) * lit(cfg.threshold) + b
  }

  def gated(enriched: DataFrame, cfg: PeakConfig = PeakConfig()): DataFrame =
    candidates(enriched).filter(gateCondition(cfg))

  /** Full O7: scipy-parity find_peaks + amplitude gate, one bounded
    * channel at a time. Emits one row per detected peak:
    * `experiment_id, channel, peak_idx, t, peak_value`.
    */
  def detectPeaks(
      enriched: DataFrame,
      cfg: PeakConfig = PeakConfig()
  ): DataFrame =
    ChannelPlan.perChannel(enriched, DetectKernel(cfg),
      Seq("sample_idx", "t", "y_smooth", "baseline", "ceiling"),
      Seq(peakIdx(enriched), enriched.schema("t"), StructField("peak_value", DoubleType)))

  /** The `detectPeaks` kernel. */
  private[graft] case class DetectKernel(cfg: PeakConfig) extends ChannelKernel {
    def apply(ch: Rows): Iterator[InternalRow] = {
      val Seq(x, b, c) = Seq(2, 3, 4).map(ch.doubles)
      FindPeaks
        .findPeaks(x, cfg.width, cfg.minDistance, cfg.relHeight,
          cfg.prominence, cfg.wlen)
        .iterator
        // gate with Python NaN-comparison parity: a null envelope keeps
        .filter(p => !(x(p) < (c(p) - b(p)) * cfg.threshold + b(p)))
        .map(p => Rows.of(ch.get(p, 0), ch.get(p, 1), x(p)))
    }
  }

  /** Q7a — prominence (wlen-clipped) of every rule-1 candidate, before
    * the distance filter. Pure per-channel computation, emitted as rows.
    */
  def candidateProminences(
      smoothed: DataFrame,
      cfg: PeakConfig = PeakConfig()
  ): DataFrame =
    ChannelPlan.perChannel(smoothed, ProminenceKernel(cfg), Seq("sample_idx", "y_smooth"),
      Seq(peakIdx(smoothed), StructField("prominence", DoubleType)))

  /** The `candidateProminences` kernel. */
  private[graft] case class ProminenceKernel(cfg: PeakConfig) extends ChannelKernel {
    def apply(ch: Rows): Iterator[InternalRow] = {
      val x = ch.doubles(1)
      val peaks = FindPeaks.localMaxima(x)
      val proms = FindPeaks.peakProminences(x, peaks, cfg.wlen)
      peaks.iterator.zip(proms.iterator).map { case (p, pr) => Rows.of(ch.get(p, 0), pr.value) }
    }
  }

  /** `sample_idx` renamed `peak_idx`. */
  private def peakIdx(df: DataFrame): StructField = df.schema("sample_idx").copy(name = "peak_idx")

  /** O2 — stim rescale: per-channel scale to the signal's amplitude,
    * `stim.y · (max(sig.y) / max(stim.y))`
    * (`/root/reference/peak_detection.py:27-29`; immutable output —
    * SURVEY §8 Q1).
    */
  def rescaleStim(sig: DataFrame, stim: DataFrame): DataFrame = {
    val wch = Window.partitionBy(keys: _*)
    val sigMax = sig.groupBy(keyCols.map(col): _*)
      .agg(max("y").as("_sigmax"))
    stim
      .withColumn("_stmax", max(col("y")).over(wch))
      .join(sigMax, keyCols)
      .withColumn("y_scaled", col("y") * (col("_sigmax") / col("_stmax")))
      .drop("_sigmax", "_stmax")
  }

  /** O8 — stim peaks: bare `find_peaks(stim)` = rule-1 local maxima
    * only (`/root/reference/peak_detection.py:296`; the six accepted
    * params are dead code).
    */
  def stimPeaks(rescaled: DataFrame): DataFrame =
    rescaled
      .withColumn("_isMax", strictMax(col("y_scaled")))
      .filter(col("_isMax"))
      .select(col("experiment_id"), col("channel"), col("sample_idx"),
        col("y_scaled"))
}
