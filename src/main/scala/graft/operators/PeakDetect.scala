package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.PeakConfig
import graft.functions.FindPeaks
import Smoothing.keyCols

/** O7/O8 — peak detection (SURVEY §2.5).
  *
  * Declarative parts (rule-1 candidates, amplitude gate) are window
  * expressions; the sequential parts of scipy's `find_peaks` (greedy
  * distance, wlen-clipped prominence, interpolated width) run as the
  * [[graft.functions.FindPeaks]] port inside one kernel per channel of
  * the shared harness [[Channels]] — a channel is one bounded recording,
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
  ): DataFrame = {
    val in = enriched.select(keys ++ Seq("sample_idx", "t", "y_smooth", "baseline",
      "ceiling").map(col): _*)
    Channels.flatMap(in, peakSchema(in, in.schema("t"), StructField("peak_value", DoubleType))) {
      (key, rows) =>
        val Seq(x, b, c) = Seq(4, 5, 6).map(Channels.doubles(rows, _))
        FindPeaks
          .findPeaks(x, cfg.width, cfg.minDistance, cfg.relHeight,
            cfg.prominence, cfg.wlen)
          .iterator
          // gate with Python NaN-comparison parity: a null envelope keeps
          .filter(p => !(x(p) < (c(p) - b(p)) * cfg.threshold + b(p)))
          .map(p => Row(key.get(0), key.get(1), rows(p).get(2), rows(p).get(3), x(p)))
    }
  }

  /** Q7a — prominence (wlen-clipped) of every rule-1 candidate, before
    * the distance filter. Pure per-channel computation, emitted as rows.
    */
  def candidateProminences(
      smoothed: DataFrame,
      cfg: PeakConfig = PeakConfig()
  ): DataFrame = {
    val in = smoothed.select(keys ++ Seq("sample_idx", "y_smooth").map(col): _*)
    Channels.flatMap(in, peakSchema(in, StructField("prominence", DoubleType))) { (key, rows) =>
      val x = Channels.doubles(rows, 3)
      val peaks = FindPeaks.localMaxima(x)
      val proms = FindPeaks.peakProminences(x, peaks, cfg.wlen)
      peaks.iterator.zip(proms.iterator).map { case (p, pr) =>
        Row(key.get(0), key.get(1), rows(p).get(2), pr.value)
      }
    }
  }

  /** The keys, `sample_idx` renamed `peak_idx`, then `more`. */
  private def peakSchema(in: DataFrame, more: StructField*): StructType =
    StructType(Seq(in.schema(0), in.schema(1), in.schema(2).copy(name = "peak_idx")) ++ more)

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
