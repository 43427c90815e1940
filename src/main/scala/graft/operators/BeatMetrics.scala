package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.PeakConfig
import Smoothing.keyCols

/** O9/O10 — per-beat metrics and channel summary
  * (`/root/reference/peak_analysis.py:46-136`, SURVEY §2.6/§2.7).
  *
  * The reference walks away from each peak until the above/below-
  * diastolic *state flips* relative to the state at the peak
  * (`peak_analysis.py:81-107`; note TTP tests `>=`, TTR tests `<=`, and
  * a null diastolic or y_smooth makes both comparisons false, as
  * `coalesce(cmp, false)` does). The walk is an as-of lookup: the
  * nearest index on that side whose state differs. `metrics` is one
  * kernel per channel of [[Channels]], which cogroups the channel's
  * enriched rows with its peaks: previous-flip and next-flip index
  * arrays in one O(n) pass each, then each peak's walk exits read off
  * them. No per-peak scanning, no driver loops, no join.
  *
  * Exact parity rules (SURVEY §8 Q7/Q8):
  *  - edge guard: peak_idx == 0 or >= n−2 ⇒ ttp/ttr/duration null;
  *  - TTP records a value even when the walk exhausts to the left edge
  *    without crossing (i = peak_idx);
  *  - TTR is null when the walk reaches the last sample — even if the
  *    state flips exactly there;
  *  - duration = ttr + ttp only when both present;
  *  - force = peak_value − baseline[peak] regardless of the guard;
  *  - a peak whose key is null or whose index is not a sample of its
  *    channel in `enriched` yields no row.
  */
object BeatMetrics {

  private def keys: Seq[Column] = keyCols.map(col)

  /** Per-beat metrics of every row of `peaks` (`experiment_id, channel,
    * peak_idx, t, peak_value`). `enriched` must carry
    * y_smooth/baseline/diastolic.
    *
    * `markers = false` skips the TTP/TTR marker-point columns
    * (`peak_analysis.py:95,113`): the walk-exit times, derived from the
    * PEAK's timestamp (t ∓ i/rate), and the y_smooth there.
    */
  def metrics(
      enriched: DataFrame,
      peaks: DataFrame,
      cfg: PeakConfig = PeakConfig(),
      markers: Boolean = true
  ): DataFrame = {
    val in = enriched.select(keys ++ Seq("sample_idx", "y_smooth", "baseline",
      "diastolic").map(col): _*)
    // the keys take enriched's types, as the inner join's coercion did
    val pk = peaks.select(keyCols.map(k => col(k).cast(in.schema(k).dataType).as(k)) ++
      Seq("peak_idx", "t", "peak_value").map(col): _*)
    val metricCols = Seq("baseline_value", "force", "time_to_peak",
      "time_to_relaxation", "duration") ++
      (if (markers) Seq("ttp_t", "ttp_y", "ttr_t", "ttr_y") else Nil)
    val out = StructType(pk.schema.fields ++ metricCols.map(StructField(_, DoubleType)))
    val rate = cfg.sampleRateHz
    def num(r: Row, at: Int) = if (r.isNullAt(at)) None else Some(r.getAs[Number](at).doubleValue)
    Channels.cogroup(in, pk, out) { (_, rows, peakRows) =>
      val n = rows.length
      def y(i: Int): Any = rows(i).get(3)
      // coalesce(y_smooth >= diastolic, false) for sign 1, `<=` for −1
      def state(sign: Int)(i: Int) = !rows(i).isNullAt(3) && !rows(i).isNullAt(5) &&
        sign * compareDoubles(rows(i).getDouble(3), rows(i).getDouble(5)) >= 0
      lazy val left = flips(n, state(1), forward = true)
      lazy val right = flips(n, state(-1), forward = false)
      peakRows.flatMap { pr =>
        val p = if (pr.isNullAt(2)) -1L else pr.getAs[Number](2).longValue
        Option.when(p >= 0 && p < n) {
          val i = p.toInt
          val edge = p == 0 || p >= n - 2
          // TTP: no flip (or a flip at 0) ⇒ the walk exhausts at index 0
          // and still records p/rate
          val ttpIdx = math.max(left(i), 0)
          val ttp = Option.when(!edge)((p - ttpIdx).toDouble / rate)
          // TTR: reaching (or flipping at) the last sample ⇒ null
          val exitIdx = if (right(i) < 0) n - 1 else right(i)
          val ttr = Option.when(!edge && exitIdx != n - 1)((exitIdx - p).toDouble / rate)
          val t = num(pr, 3)
          val base = num(rows(i), 4)
          val marks = if (!markers) Nil else Seq(
            for (_ <- ttp; tt <- t) yield tt - (p - ttpIdx).toDouble / rate,
            // an exhausted walk, or a null y_smooth at the flip, reads sample 0
            ttp.map(_ => if (left(i) >= 0 && !rows(left(i)).isNullAt(3)) y(left(i)) else y(0)),
            for (_ <- ttr; tt <- t) yield tt + (exitIdx - p).toDouble / rate,
            ttr.map(_ => y(exitIdx)))
          val force = for (v <- num(pr, 4); b <- base) yield v - b
          val duration = for (r <- ttr; q <- ttp) yield r + q
          Row.fromSeq(pr.toSeq ++ (Seq(base, force, ttp, ttr, duration) ++ marks).map(_.orNull))
        }
      }
    }
  }

  /** flips(i): the nearest j before i (`forward`) or after i whose state
    * differs from i's, −1 for none. One pass in walk order.
    */
  private def flips(n: Int, state: Int => Boolean, forward: Boolean): Array[Int] = {
    val out = new Array[Int](n)
    val last = Array(-1, -1) // the last index seen in state false / true
    for (k <- 0 until n) {
      val i = if (forward) k else n - 1 - k
      val s = if (state(i)) 1 else 0
      out(i) = last(1 - s)
      last(s) = i
    }
    out
  }

  /** O10 — channel summary: NaN-filtered means. Averages are computed
    * as exact DECIMAL sums divided by non-null counts so Spark's partial
    * aggregation order and DuckDB's serial sum produce the identical
    * double (double-sum order is not associative; decimal is exact).
    * Channels with no peaks get n_peaks=0 and null averages
    * (`np.mean([])` → NaN, SURVEY §8 Q13).
    */
  def summary(enriched: DataFrame, metricsDf: DataFrame): DataFrame = {
    def avgExact(c: String): Column =
      (sum(col(c).cast("decimal(20,6)")).cast("double") / count(col(c)))
        .as(s"avg_$c")
    val agg = metricsDf
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n_peaks"),
        avgExact("time_to_peak"),
        avgExact("time_to_relaxation"),
        avgExact("duration"),
        avgExact("force")
      )
    val chans = enriched.select(keys: _*).distinct()
    chans.join(agg, keyCols, "left")
      .select(keys :+ coalesce(col("n_peaks"), lit(0L)).as("n_peaks") :+
        col("avg_time_to_peak").as("avg_ttp") :+
        col("avg_time_to_relaxation").as("avg_ttr") :+
        col("avg_duration") :+ col("avg_force"): _*)
  }

  /** Q233 — baseline-drift (rundown) audit: per channel, the OLS
    * line of the O4 baseline envelope against sample index — slope,
    * per-minute drift, intercept, r². A preparation "running down"
    * shows as a steady negative baseline trend that per-beat metrics
    * never surface; a strong |r²| says the drift is systematic, not
    * noise. The QA gate before comparing forces across the recording.
    *
    * Exactness: the Q114 OLS discipline verbatim — x and y quantize
    * to DECIMAL(18,4) (products stay inside decimal precision), all
    * five moments are exact decimal sums cast to double once, and
    * slope/intercept/r² are pinned guarded expressions. Scale: one
    * channel-keyed aggregate over the already-computed envelope.
    */
  def baselineDrift(enriched: DataFrame,
                    sampleRateHz: Double = 100.0): DataFrame = {
    val xs = enriched.select(col("experiment_id"), col("channel"),
        col("sample_idx").cast("decimal(18,4)").as("x"),
        col("baseline").cast("decimal(18,4)").as("y"))
      .filter(col("y").isNotNull)
    val a = xs.groupBy(col("experiment_id"), col("channel"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val cv = col("n") * col("sxy") - col("sx") * col("sy")
    val slope = cv / when(dx =!= 0.0, dx)
    a.select(col("experiment_id"), col("channel"), col("n"),
      slope.as("slope_per_sample"),
      (slope * lit(sampleRateHz * 60.0)).as("drift_per_minute"),
      ((col("sy") - slope * col("sx")) / col("n")).as("intercept"),
      (cv * cv / when(dx * dy =!= 0.0, dx * dy)).as("r2"))
  }

  /** Q232 — force-alternans screen: per channel, the even/odd split
    * of beat forces in beat order — sustained ABAB alternation (the
    * mechanical analog of T-wave alternans, a proarrhythmia marker)
    * shows as a persistent gap between the two phase means that
    * per-beat averages (O10) wash out entirely. Reported as the
    * absolute phase-mean gap and its size relative to the overall
    * mean force.
    *
    * Exactness: phase assignment is a per-channel row_number parity;
    * forces sum as DECIMAL(20,6) (exact, any combine order); each
    * output is a pinned double with nullif guards (single-phase
    * channels yield nulls). Scale: one channel-partitioned rank
    * window and one partial-combining aggregate.
    */
  def alternans(metricsDf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("experiment_id"), col("channel"))
      .orderBy(col("peak_idx"))
    val phased = metricsDf
      .select(col("experiment_id"), col("channel"), col("peak_idx"),
        col("force"))
      .filter(col("force").isNotNull)
      .withColumn("phase", pmod(row_number().over(w).cast("long"), lit(2L)))
    val agg = phased.groupBy(col("experiment_id"), col("channel"))
      .agg(count(lit(1)).as("n_beats"),
        sum(when(col("phase") === 0L, 1L).otherwise(0L)).as("n_even"),
        sum(when(col("phase") === 0L, col("force").cast("decimal(20,6)")))
          .as("se"),
        sum(when(col("phase") === 1L, col("force").cast("decimal(20,6)")))
          .as("so"))
    val nOdd = col("n_beats") - col("n_even")
    val meanE = col("se").cast("double") /
      nullif(col("n_even"), lit(0L)).cast("double")
    val meanO = col("so").cast("double") / nullif(nOdd, lit(0L)).cast("double")
    val zero = lit(0).cast("decimal(20,6)")
    val meanAll = (coalesce(col("se"), zero) + coalesce(col("so"), zero))
      .cast("double") / col("n_beats").cast("double")
    agg.select(col("experiment_id"), col("channel"), col("n_beats"),
      meanE.as("mean_even"), meanO.as("mean_odd"),
      abs(meanE - meanO).as("alt_magnitude"),
      (abs(meanE - meanO) / nullif(meanAll, lit(0.0))).as("alt_relative"))
  }

  /** Q231 — mechanical restitution: per channel, the Pearson
    * correlation between each beat's PRECEDING RR interval and its
    * force, plus the regression slope in force-units per second —
    * the classic restitution readout (longer diastolic filling ⇒
    * stronger beat) that links O9's per-beat forces to the Q229
    * rhythm view. A flat or inverted slope on a paced preparation is
    * a finding, not noise.
    *
    * Exactness: RR is integer samples; force moments quantize to
    * DECIMAL (sums exact in any combine order — the Q169/Q114
    * discipline: y to (20,6), y² and x·y products to (28,10) after
    * one pinned double multiply); correlation and slope finish in
    * pinned double expressions with identical guards in the oracle.
    * Scale: one channel-partitioned lag window and one
    * partial-combining aggregate.
    */
  def restitution(metricsDf: DataFrame,
                  sampleRateHz: Double = 100.0): DataFrame = {
    val w = Window.partitionBy(col("experiment_id"), col("channel"))
      .orderBy(col("peak_idx"))
    val rr = metricsDf.select(col("experiment_id"), col("channel"),
        col("peak_idx"), col("force"))
      .withColumn("x", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("x").isNotNull && col("force").isNotNull)
    val agg = rr.groupBy(col("experiment_id"), col("channel"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("force").cast("decimal(20,6)")).as("sy"),
        sum((col("force") * col("force")).cast("decimal(28,10)")).as("syy"),
        sum((col("x").cast("double") * col("force")).cast("decimal(28,10)"))
          .as("sxy"))
    val n = col("n_pairs").cast("double")
    val mx = col("sx").cast("double") / n
    val my = col("sy").cast("double") / n
    val cov = col("sxy").cast("double") / n - mx * my
    val vx = col("sxx").cast("double") / n - mx * mx
    val vy = col("syy").cast("double") / n - my * my
    agg.select(col("experiment_id"), col("channel"), col("n_pairs"),
      (cov / nullif(sqrt(greatest(vx * vy, lit(0.0))), lit(0.0)))
        .as("rr_force_corr"),
      ((cov / nullif(vx, lit(0.0))) * lit(sampleRateHz))
        .as("restitution_slope_per_s"))
  }

  /** Q230 — excitation–contraction coupling latency: for every O8
    * stimulus peak, the distance (in samples) to the next detected
    * beat peak on the same channel, summarized per channel with a
    * capture ratio (stims answered within `horizon` samples). The
    * paced-preparation readout pairing O8 with O7: a healthy capture
    * ratio near 1 with a tight latency band is what "the tissue
    * follows pacing" means, and neither operator shows it alone.
    *
    * Shape: the next-beat lookup is the Q23-style union + tagged
    * forward window (min of beat indices over the following frame,
    * same-index beats included via the (idx, kind) order) — one
    * channel-partitioned sort, no range join, no explosion. Stats
    * are integer sums with pinned terminal divisions; channels whose
    * stims are never answered keep null latencies.
    */
  def stimLatency(stimPeaks: DataFrame, beatPeaks: DataFrame,
                  horizon: Long = 600L): DataFrame = {
    val st = stimPeaks.select(col("experiment_id"), col("channel"),
      col("sample_idx").as("idx"), lit(0).as("kind"))
    val bt = beatPeaks.select(col("experiment_id"), col("channel"),
      col("peak_idx").as("idx"), lit(1).as("kind"))
    // desc running frame ≡ asc [currentRow, following] row set over the
    // unique (idx, kind) order — O(n), not O(n²) (round 17; see dfdt)
    val w = Window.partitionBy(col("experiment_id"), col("channel"))
      .orderBy(col("idx").desc, col("kind").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lat = st.unionAll(bt)
      .withColumn("next_beat",
        min(when(col("kind") === 1, col("idx"))).over(w))
      .filter(col("kind") === 0)
      .select(col("experiment_id"), col("channel"),
        (col("next_beat") - col("idx")).as("lat"))
    val captured = when(col("lat") <= horizon, col("lat"))
    lat.groupBy(col("experiment_id"), col("channel"))
      .agg(count(lit(1)).as("n_stims"),
        sum(when(captured.isNotNull, 1L).otherwise(0L)).as("n_captured"),
        sum(captured).as("lat_sum"),
        min(captured).as("min_latency"),
        max(captured).as("max_latency"))
      .select(col("experiment_id"), col("channel"), col("n_stims"),
        col("n_captured"),
        (col("lat_sum").cast("double") /
          nullif(col("n_captured"), lit(0L)).cast("double"))
          .as("mean_latency"),
        col("min_latency"), col("max_latency"),
        (col("n_captured").cast("double") / col("n_stims").cast("double"))
          .as("capture_ratio"))
  }

  /** Q229 — beat-to-beat variability (the HRV panel) per channel off
    * the detected peak train: mean RR interval, SDNN (population SD
    * of RR), RMSSD (RMS of successive RR differences), and pNN50
    * (fraction of successive differences beyond 50 ms — 5 samples at
    * the reference's 100 Hz). The rhythm-variability readout a
    * cardiac-tissue screen reports NEXT to the per-beat force/timing
    * averages (O10): two preparations with identical mean force can
    * differ entirely in beat stability.
    *
    * Exactness/scale: RR intervals and their successive differences
    * are integer sample counts from per-channel lag windows; every
    * aggregate is an integer power sum (map-side combining); each
    * output is one pinned double expression (IEEE sqrt, a single
    * division by the literal sample rate). Nulls where a channel has
    * too few beats for the statistic, never a fabricated zero.
    */
  /** Q234 — Poincaré plot geometry per channel: SD1 (short-term
    * variability, the spread perpendicular to the RRₙ₊₁ = RRₙ
    * identity line) and SD2 (long-term, the spread along it), via the
    * exact algebraic identities SD1² = var(ΔRR)/2 and
    * SD2² = 2·var(RR) − SD1² — no plot, no rotation matrix, just the
    * second moments Q229 already defines. Adds the SD1/SD2 ratio
    * (sympathovagal-balance analog) and the fitted ellipse area
    * π·SD1·SD2. Complements Q229: RMSSD is the RMS of ΔRR about ZERO
    * while SD1 is the SD of ΔRR about its own mean, so a channel with
    * a steady RR trend (rundown) separates the two.
    *
    * Exactness/scale: identical shape to Q229 — integer power sums
    * (map-side combining) off per-channel lag windows, then one
    * pinned double expression per statistic (IEEE sqrt, division by
    * the literal rate, π as the shared IEEE literal). Explicit
    * n_sd > 0 guards rather than greatest-over-null: Spark's
    * greatest() SKIPS nulls while DuckDB's propagates differently, so
    * a channel with < 3 beats yields nulls, never a fabricated 0.
    */
  def poincare(peaks: DataFrame, sampleRateHz: Double = 100.0): DataFrame = {
    val w = Window.partitionBy(col("experiment_id"), col("channel"))
      .orderBy(col("peak_idx"))
    val rr = peaks.select(col("experiment_id"), col("channel"), col("peak_idx"))
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .withColumn("sd", col("d") - lag(col("d"), 1).over(w))
    val agg = rr.groupBy(col("experiment_id"), col("channel"))
      .agg(sum(when(col("d").isNotNull, 1L).otherwise(0L)).as("n_rr"),
        sum(col("d")).as("s1"), sum(col("d") * col("d")).as("s2"),
        sum(when(col("sd").isNotNull, 1L).otherwise(0L)).as("n_sd"),
        sum(col("sd")).as("sds1"), sum(col("sd") * col("sd")).as("ss2"))
    val rate = lit(sampleRateHz)
    val m = col("s1").cast("double") / col("n_rr").cast("double")
    val msd = col("sds1").cast("double") / col("n_sd").cast("double")
    val vd = greatest(col("s2").cast("double") / col("n_rr").cast("double")
      - m * m, lit(0.0))
    val vsd = greatest(col("ss2").cast("double") / col("n_sd").cast("double")
      - msd * msd, lit(0.0))
    val sd1 = when(col("n_sd") > 0L, sqrt(vsd / lit(2.0)) / rate)
    val sd2 = when(col("n_sd") > 0L,
      sqrt(greatest(lit(2.0) * vd - vsd / lit(2.0), lit(0.0))) / rate)
    agg.select(col("experiment_id"), col("channel"), col("n_rr"), col("n_sd"),
      sd1.as("sd1_s"), sd2.as("sd2_s"),
      (sd1 / nullif(sd2, lit(0.0))).as("sd_ratio"),
      (lit(math.Pi) * sd1 * sd2).as("ellipse_area_s2"))
  }

  /** Q235 — per-beat contraction/relaxation velocity (dF/dt panel):
    * for every detected beat, the maximum per-sample rise of y_smooth
    * over the beat's UPSTROKE window (the samples since the previous
    * peak, inclusive of the peak itself) and the steepest fall over
    * its DECAY window (the samples strictly after the peak, up to the
    * next one) — dF/dt_max and dF/dt_min in units/second, the
    * standard contractility/lusitropy readouts that O9's
    * time-to-peak/relaxation intervals summarize only as durations.
    *
    * Window assignment is the Q230 tagged-union trick, not a range
    * join: samples (kind 0, carrying dy) and beats (kind 1) interleave
    * in one per-channel (idx, kind) ordered pass; a running min over
    * [current, ∞) yields each sample's next-beat-at-or-after (its
    * upstroke owner — the sample AT a peak sorts before the beat row,
    * so dy into the peak counts as upstroke) and a running max over
    * (−∞, previous row] its strictly-previous beat (decay owner — the
    * same tie order keeps dy into a peak OUT of that peak's decay).
    * The first beat's upstroke extends to the channel start and the
    * last beat's decay to the channel end, mirroring how the
    * reference's walks exhaust at the edges.
    *
    * Exactness/scale: dy is a per-row double difference (no
    * summation anywhere); max/min are combine-order-free; the only
    * arithmetic finish is one multiply by the literal rate. Shape:
    * one per-channel lag window, one tagged-union window pass, two
    * map-side-combined groupBys joined back to the (small) beat
    * table. Beats whose window holds no defined dy (a peak at sample
    * 0) keep nulls via the left joins.
    */
  def dfdt(enriched: DataFrame, peaks: DataFrame,
           cfg: PeakConfig = PeakConfig()): DataFrame = {
    val wo = Window.partitionBy(keys: _*).orderBy(col("sample_idx"))
    val dy = enriched.select(keys :+ col("sample_idx") :+ col("y_smooth"): _*)
      .withColumn("dy", col("y_smooth") - lag(col("y_smooth"), 1).over(wo))
    val u = dy.select(keys :+ col("sample_idx").as("idx") :+
        lit(0).as("kind") :+ col("dy"): _*)
      .unionAll(peaks.select(keys :+ col("peak_idx").as("idx") :+
        lit(1).as("kind") :+ lit(null).cast("double").as("dy"): _*))
    val wu = Window.partitionBy(keys: _*).orderBy(col("idx"), col("kind"))
    // desc running frame ≡ the asc [currentRow, unboundedFollowing]
    // row set ((idx, kind) is a unique total order) — O(n) instead of
    // Spark's O(n²) unbounded-following recomputation (round 17)
    val wuD = Window.partitionBy(keys: _*)
      .orderBy(col("idx").desc, col("kind").desc)
    val tagged = u
      .withColumn("nb", min(when(col("kind") === 1, col("idx")))
        .over(wuD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pb", max(when(col("kind") === 1, col("idx")))
        .over(wu.rowsBetween(Window.unboundedPreceding, -1)))
    val samples = tagged.filter(col("kind") === 0 && col("dy").isNotNull)
    val ups = samples.filter(col("nb").isNotNull)
      .groupBy(keys :+ col("nb").as("peak_idx"): _*)
      .agg(count(lit(1)).as("n_up"), max(col("dy")).as("up_dy"))
    val downs = samples.filter(col("pb").isNotNull)
      .groupBy(keys :+ col("pb").as("peak_idx"): _*)
      .agg(count(lit(1)).as("n_down"), min(col("dy")).as("dn_dy"))
    val rate = lit(cfg.sampleRateHz)
    peaks.select(keys :+ col("peak_idx"): _*)
      .join(ups, keyCols :+ "peak_idx", "left")
      .join(downs, keyCols :+ "peak_idx", "left")
      .select(keys :+ col("peak_idx") :+ col("n_up") :+
        (col("up_dy") * rate).as("dfdt_max") :+ col("n_down") :+
        (col("dn_dy") * rate).as("dfdt_min"): _*)
  }

  /** Q237 — fractional relaxation times RT50/RT90 per beat: the time
    * from the peak to the first crossing of 50% and 90% force decay
    * (y_smooth falling to baseline + 0.5·force and baseline +
    * 0.1·force), linearly interpolated between the bracketing samples
    * exactly as O7 interpolates width edges. O9's time-to-relaxation
    * measures to the DIASTOLIC crossing — a config-dependent line;
    * RT50/RT90 are the beat's OWN normalized decay landmarks, the
    * standard lusitropy pair that stays comparable across channels
    * with different envelopes. A beat that never decays to the
    * threshold before the next beat reports null, never a clamp.
    *
    * Mechanics: each spine sample joins its strictly-previous beat
    * (the Q235 tagged-union window — dy ownership rules identical),
    * then per (beat, threshold) the FIRST below-threshold sample is a
    * combine-order-free min-struct; the bracketing y values ride the
    * struct, so interpolation is one pinned double expression. The
    * sample-to-beat join is equi-keyed on (channel, peak_idx) — NOT a
    * forced broadcast (the beat table grows with the corpus); Spark
    * picks the strategy. Per-row comparisons only — no float
    * summation anywhere.
    */
  def relaxationTimes(enriched: DataFrame, metricsDf: DataFrame,
                      cfg: PeakConfig = PeakConfig()): DataFrame = {
    val wo = Window.partitionBy(keys: _*).orderBy(col("sample_idx"))
    val beats = metricsDf.select(keys :+ col("peak_idx") :+
      col("baseline_value") :+ col("force"): _*)
    val spine = enriched.select(keys :+ col("sample_idx") :+ col("y_smooth"): _*)
      .withColumn("y_prev", lag(col("y_smooth"), 1).over(wo))
    val u = spine.select(keys :+ col("sample_idx").as("idx") :+
        lit(0).as("kind") :+ col("y_smooth") :+ col("y_prev"): _*)
      .unionAll(beats.select(keys :+ col("peak_idx").as("idx") :+
        lit(1).as("kind") :+ lit(null).cast("double").as("y_smooth") :+
        lit(null).cast("double").as("y_prev"): _*))
    val wu = Window.partitionBy(keys: _*).orderBy(col("idx"), col("kind"))
    val tagged = u.withColumn("pb",
      max(when(col("kind") === 1, col("idx")))
        .over(wu.rowsBetween(Window.unboundedPreceding, -1)))
    val samples = tagged.filter(col("kind") === 0 && col("pb").isNotNull)
      .select(keys :+ col("pb").as("peak_idx") :+ col("idx") :+
        col("y_smooth") :+ col("y_prev"): _*)
    val j = samples.join(beats, keyCols :+ "peak_idx")
      .filter(col("force") > 0.0)
    def th(frac: Double): Column =
      col("baseline_value") + lit(frac) * col("force")
    def firstBelow(frac: Double): Column =
      min(when(col("y_smooth") <= th(frac),
        struct(col("idx"), col("y_prev"), col("y_smooth"))))
    val a = j.groupBy(keys :+ col("peak_idx") :+ col("baseline_value") :+
        col("force"): _*)
      .agg(firstBelow(0.5).as("c50"), firstBelow(0.1).as("c90"))
    val rate = lit(cfg.sampleRateHz)
    def rt(c: Column, frac: Double): Column =
      when(c.isNotNull,
        ((c.getField("idx") - 1 - col("peak_idx")).cast("double") +
          (c.getField("y_prev") - th(frac)) /
            (c.getField("y_prev") - c.getField("y_smooth"))) / rate)
    a.select(keys :+ col("peak_idx") :+
      rt(col("c50"), 0.5).as("rt50_s") :+
      rt(col("c90"), 0.1).as("rt90_s"): _*)
  }

  /** Q236 — per-beat template correlation: every beat's fixed-lag
    * morphology window (y_smooth at offsets −`before`..+`after`
    * around the peak) is Pearson-correlated against its CHANNEL's
    * mean template over the same offsets — the ectopy/artifact screen
    * that catches a beat whose FORCE and TIMING are normal but whose
    * SHAPE is not (the one per-beat axis O9's scalar metrics cannot
    * see). Only complete windows participate (edge beats whose window
    * runs off the recording are excluded from both the template and
    * the scoring, keeping the two aligned).
    *
    * Exactness: the template mean is an exact DECIMAL sum over an
    * exact count; every per-beat moment (Σx, Σx², Σm, Σm², Σxm) is a
    * DECIMAL-quantized sum (combine-order-free), and r finishes in
    * one pinned double expression with a nullif-guarded denominator —
    * bitwise-mirrored by the oracle (whose GROUP-BY-and-join template
    * formulation computes the identical exact-decimal values). Scale:
    * offsets explode the BEAT table (×window-length), never the
    * spine; the spine join is the ONLY join — equi-keyed on
    * (channel, sample_idx). The complete-window gate and the template
    * are both WINDOW aggregates, not join-backs: the template is NOT
    * broadcast-joined because channels×window grows with the corpus
    * (an unbounded forced broadcast is exactly the 100 TB hazard);
    * each window partition is bounded — beats-per-channel rows for a
    * (channel, offset) template cell, window-length rows for a beat.
    */
  /** Complete fixed-lag beat windows — the shared morphology substrate
    * of Q236 (template correlation) and Q270 (class split): one row per
    * (beat, offset) carrying y_smooth, with edge beats whose window
    * runs off the recording excluded via a beat-partitioned count
    * (never a join-back). Offsets explode the BEAT table, not the
    * spine; the spine join is equi-keyed on (channel, sample_idx).
    */
  private def beatWindows(enriched: DataFrame, peaks: DataFrame,
                          before: Int, after: Int): DataFrame = {
    val winLen = before + after + 1
    val offs = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("off", explode(sequence(lit(-before.toLong), lit(after.toLong))))
      .withColumn("sample_idx", col("peak_idx") + col("off"))
    val win = offs.join(
      enriched.select(keys :+ col("sample_idx") :+ col("y_smooth"): _*),
      keyCols :+ "sample_idx")
    val wb = Window.partitionBy(keys :+ col("peak_idx"): _*)
    win.withColumn("_wn", count(lit(1)).over(wb))
      .filter(col("_wn") === winLen)
  }

  def beatTemplateCorr(enriched: DataFrame, peaks: DataFrame,
                       before: Int = 20, after: Int = 40): DataFrame = {
    val winc = beatWindows(enriched, peaks, before, after)
    val wt = Window.partitionBy(keys :+ col("off"): _*)
    val pairs = winc.withColumn("m",
      sum(col("y_smooth").cast("decimal(28,14)")).over(wt).cast("double") /
        count(lit(1)).over(wt).cast("double"))
    val a = pairs.groupBy(keys :+ col("peak_idx"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("y_smooth").cast("decimal(28,14)")).as("sx"),
        sum((col("y_smooth") * col("y_smooth")).cast("decimal(28,10)")).as("sxx"),
        sum(col("m").cast("decimal(28,14)")).as("sm"),
        sum((col("m") * col("m")).cast("decimal(28,10)")).as("smm"),
        sum((col("y_smooth") * col("m")).cast("decimal(28,10)")).as("sxy"))
    val nD = col("n").cast("double")
    val cov = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sm").cast("double")
    val vx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vm = nD * col("smm").cast("double") -
      col("sm").cast("double") * col("sm").cast("double")
    a.select(keys :+ col("peak_idx") :+ col("n") :+
      (cov / nullif(sqrt(greatest(vx * vm, lit(0.0))), lit(0.0)))
        .as("template_corr"): _*)
  }

  def hrv(peaks: DataFrame, sampleRateHz: Double = 100.0): DataFrame = {
    val w = Window.partitionBy(col("experiment_id"), col("channel"))
      .orderBy(col("peak_idx"))
    val rr = peaks.select(col("experiment_id"), col("channel"), col("peak_idx"))
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .withColumn("sd", col("d") - lag(col("d"), 1).over(w))
    val agg = rr.groupBy(col("experiment_id"), col("channel"))
      .agg(count(lit(1)).as("n_beats"),
        sum(when(col("d").isNotNull, 1L).otherwise(0L)).as("n_rr"),
        sum(col("d")).as("s1"), sum(col("d") * col("d")).as("s2"),
        sum(when(col("sd").isNotNull, 1L).otherwise(0L)).as("n_sd"),
        sum(col("sd") * col("sd")).as("ss2"),
        sum(when(abs(col("sd")) > 5L, 1L).otherwise(0L)).as("n_nn50"))
    val rate = lit(sampleRateHz)
    val meanD = col("s1").cast("double") /
      nullif(col("n_rr"), lit(0L)).cast("double")
    agg.select(col("experiment_id"), col("channel"), col("n_beats"),
      col("n_rr"),
      (meanD / rate).as("mean_rr_s"),
      // explicit n_rr guard: Spark's greatest() skips nulls, so the
      // empty-channel null would silently become 0.0 without it
      (when(col("n_rr") > 0L,
        sqrt(greatest(col("s2").cast("double") /
            col("n_rr").cast("double") - meanD * meanD,
          lit(0.0))) / rate)).as("sdnn_s"),
      (sqrt(col("ss2").cast("double") /
        nullif(col("n_sd"), lit(0L)).cast("double")) / rate).as("rmssd_s"),
      (col("n_nn50").cast("double") /
        nullif(col("n_sd"), lit(0L)).cast("double")).as("pnn50"))
  }

  /** Q238 — frequency-domain HRV: LF/HF band power of the per-channel
    * RR series. Complements Q229 (time-domain) and Q234 (geometry)
    * with the spectral sympathovagal panel: power in the
    * low-frequency (0.04–0.15 Hz) and high-frequency (0.15–0.4 Hz)
    * bands of the demeaned RR-interval sequence, plus their ratio.
    *
    * The spectrum is evaluated DIRECTLY as DFT projections — for a
    * Fourier bin j of an n-point series, X_j = Σₖ xₖ·cos(ωⱼk) −
    * i·Σₖ xₖ·sin(ωⱼk) with ωⱼ = 2πj/n — rather than via the Goertzel
    * recurrence: the recurrence is inherently sequential per bin
    * while the projection is a plain aggregate, parallel over both
    * samples and bins (same answer, associativity restored). The RR
    * series is beat-indexed (k = interval number), the standard
    * evenly-resampled simplification, with the physical frequency of
    * bin j being f_j = j·rate/s1 Hz (s1 = Σ RR samples = the train's
    * total duration); bins are kept where 0.04 ≤ f_j < 0.4 and split
    * at 0.15. Band power = Σ_{j∈band} cⱼ·(A_j² + B_j²)/n² (variance
    * units, s²) with the one-sided factor cⱼ = 2 for interior bins
    * and 1 for the self-conjugate Nyquist bin j = n/2 (even n), so
    * LF+HF+(excluded bins) ≤ var(RR) by Parseval holds exactly.
    *
    * Exactness: xₖ = (dₖ − s1/n)/rate and ωⱼk are pinned per-row
    * IEEE expressions off INTEGER window/group sums (combine-order-
    * free); each cos/sin projection term and each per-bin normalized
    * power is quantized to DECIMAL(28,14) before its sum, so no
    * float summation depends on shuffle order; band membership
    * compares IEEE-exact ratios of integers (cross-engine identical —
    * only cos/sin differ by ≤1 ulp, orders below the compare
    * tolerance). Channels with < 2 RR intervals or no in-band bins
    * keep their row with null powers — auditable, never a fabricated
    * zero.
    *
    * Scale shape: per-channel O(n·m) term explosion (n = RR count,
    * m = in-band bins ≤ n/2) where n is bounded by RECORDING LENGTH,
    * not corpus size — the corpus grows in channels, which partition
    * cleanly. Every join is equi-keyed on (experiment, channel);
    * nothing corpus-proportional is broadcast; both groupBys combine
    * map-side.
    */
  /** Q239 — per-beat force–time integral (FTI): the area under the
    * smoothed force above the per-sample BASELINE envelope across the
    * beat's span, in force·seconds — the standard contractile-effort
    * readout (peak force says how hard, FTI says how hard for how
    * long; two beats with equal force and different durations
    * separate here).
    *
    * Span assignment: every spine sample belongs to its NEAREST
    * detected peak (tagged-union windows, the Q235 trick — next beat
    * at-or-after vs strictly-previous beat; equidistant samples go to
    * the EARLIER beat, a pinned tie rule). Rectification uses the
    * per-sample floor envelope (the engine's own baseline
    * definition), so below-baseline samples contribute exactly 0 and
    * the sum is a left Riemann sum with Δt = 1/rate. Samples whose
    * y_smooth or baseline is null (envelope edge poisoning) are
    * excluded from both the sum and n_span — a beat whose whole span
    * is poisoned keeps its row with null FTI, never a fabricated 0.
    *
    * Exactness/scale: each rectified sample is quantized to
    * DECIMAL(28,14) before the per-beat sum (combine-order-free);
    * the finish is one double division by the literal rate. One
    * per-channel tagged-union window pass + one map-side-combined
    * groupBy + one equi-keyed left join back to the beat table —
    * nothing broadcast, nothing corpus-proportional on the driver.
    */
  /** Tags every row of `samples` (keys + `idx` + payload columns)
    * with its NEAREST detected peak as `owner` via one tagged-union
    * window pass: next beat at-or-after vs strictly-previous beat,
    * equidistant rows to the EARLIER beat (pinned tie rule — and a
    * row AT a peak's index is owned by that peak, since the beat row
    * sorts after it and distance 0 beats any previous peak). Shared
    * by Q239 and Q245.
    */
  private def nearestPeakOwner(samples: DataFrame,
                               peaks: DataFrame): DataFrame = {
    val payload = samples.schema.fields
      .filterNot(f => (keyCols :+ "idx").contains(f.name)).toSeq
    val u = samples.select(keys :+ col("idx") :+ lit(0).as("kind") :++
        payload.map(f => col(f.name)): _*)
      .unionAll(peaks.select(keys :+ col("peak_idx").as("idx") :+
        lit(1).as("kind") :++
        payload.map(f => lit(null).cast(f.dataType).as(f.name)): _*))
    val wu = Window.partitionBy(keys: _*).orderBy(col("idx"), col("kind"))
    val assigned = when(col("pb").isNull, col("nb"))
      .when(col("nb").isNull, col("pb"))
      .otherwise(when(col("idx") - col("pb") <= col("nb") - col("idx"),
        col("pb")).otherwise(col("nb")))
    // desc running frame ≡ asc [currentRow, following] row set over the
    // unique (idx, kind) order — O(n), not O(n²) (round 17; see dfdt)
    val wuD = Window.partitionBy(keys: _*)
      .orderBy(col("idx").desc, col("kind").desc)
    u.withColumn("nb", min(when(col("kind") === 1, col("idx")))
        .over(wuD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pb", max(when(col("kind") === 1, col("idx")))
        .over(wu.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("kind") === 0)
      .withColumn("owner", assigned)
      .drop("kind", "nb", "pb")
  }

  def forceTimeIntegral(enriched: DataFrame, peaks: DataFrame,
                        cfg: PeakConfig = PeakConfig()): DataFrame = {
    val sm = enriched.select(keys :+ col("sample_idx").as("idx") :+
      col("y_smooth") :+ col("baseline"): _*)
    // explicit null guard: Spark's greatest() SKIPS nulls, so a
    // poisoned sample would silently rectify to 0.0 instead of being
    // excluded — the guard pins null-in → null-out in both engines
    val contrib = when(
      col("y_smooth").isNotNull && col("baseline").isNotNull,
      greatest(col("y_smooth") - col("baseline"), lit(0.0)))
    val spans = nearestPeakOwner(sm, peaks)
      .withColumn("c", contrib.cast("decimal(28,14)"))
      .filter(col("owner").isNotNull && col("c").isNotNull)
      .groupBy(keys :+ col("owner").as("peak_idx"): _*)
      .agg(count(lit(1)).as("n_span"), sum(col("c")).as("sc"))
    val rate = lit(cfg.sampleRateHz)
    peaks.select(keys :+ col("peak_idx"): _*)
      .join(spans, keyCols :+ "peak_idx", "left")
      .select(keys :+ col("peak_idx") :+
        coalesce(col("n_span"), lit(0L)).as("n_span") :+
        (col("sc").cast("double") / rate).as("fti"): _*)
  }

  /** Q245 — per-beat force–velocity loop area: the signed shoelace
    * area of each beat's trajectory in (F, dF/dt) phase space, F =
    * y_smooth − baseline — the relational form of the
    * pressure-volume-loop analysis (loop area ~ cycle work; a beat
    * whose F–V loop collapses is mechanically inefficient even at
    * normal peak force, and the SIGN pins the traversal direction).
    * Complements Q239: FTI integrates force over TIME, the loop
    * integrates velocity over FORCE.
    *
    * Mechanics: per-sample F and v = ΔF·rate off one channel window;
    * samples owned by their nearest peak ([[nearestPeakOwner]], the
    * Q239 span rule); consecutive-sample shoelace terms
    * F_{i−1}·v_i − F_i·v_{i−1} via lags WITHIN the owner partition
    * (a pair crossing an owner boundary contributes to neither
    * beat — pinned), each term DECIMAL-quantized before the per-beat
    * sum; the finish is one halving. Null F (envelope poisoning)
    * nulls the adjacent terms rather than zeroing them. Beats with
    * no valid pair keep their row with null area.
    *
    * Scale: one channel window pass + the shared owner pass + one
    * owner-partitioned lag window + a map-side-combined groupBy —
    * all keyed on (channel[, owner]), nothing broadcast.
    */
  def forceVelocityLoop(enriched: DataFrame, peaks: DataFrame,
                        cfg: PeakConfig = PeakConfig()): DataFrame = {
    val wo = Window.partitionBy(keys: _*).orderBy(col("idx"))
    val rate = lit(cfg.sampleRateHz)
    val fExpr = when(col("y_smooth").isNotNull && col("baseline").isNotNull,
      col("y_smooth") - col("baseline"))
    val sp = enriched
      .select(keys :+ col("sample_idx").as("idx") :+
        col("y_smooth") :+ col("baseline"): _*)
      .withColumn("fv", fExpr)
      .withColumn("vv", (col("fv") - lag(col("fv"), 1).over(wo)) * rate)
      .select(keys :+ col("idx") :+ col("fv") :+ col("vv"): _*)
    val wop = Window.partitionBy(keys :+ col("owner"): _*)
      .orderBy(col("idx"))
    val paired = nearestPeakOwner(sp, peaks)
      .filter(col("owner").isNotNull)
      .withColumn("fp", lag(col("fv"), 1).over(wop))
      .withColumn("vp", lag(col("vv"), 1).over(wop))
      .withColumn("term",
        (col("fp") * col("vv") - col("fv") * col("vp"))
          .cast("decimal(28,10)"))
      .filter(col("term").isNotNull)
    val agg = paired.groupBy(keys :+ col("owner").as("peak_idx"): _*)
      .agg(count(lit(1)).as("n_pairs"), sum(col("term")).as("st"))
    peaks.select(keys :+ col("peak_idx"): _*)
      .join(agg, keyCols :+ "peak_idx", "left")
      .select(keys :+ col("peak_idx") :+
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs") :+
        (col("st").cast("double") / lit(2.0)).as("loop_area"): _*)
  }

  /** Q242 — cross-channel synchrony: Pearson correlation of the
    * smoothed traces for every channel pair within an experiment —
    * the mechanical-coupling audit (a myocardial prep's channels
    * should beat together; a decorrelated channel is a loose
    * electrode or an independent focus, and a curation pipeline
    * should segment it out BEFORE pooling per-experiment statistics).
    *
    * Exactness: the five moment sums are DECIMAL-quantized
    * (combine-order-free); r finishes in the Q236 pinned
    * n·Σxy − Σx·Σy form with a nullif-guarded denominator. Scale:
    * the pair fan-out is a SELF-JOIN equi-keyed on (experiment,
    * sample_idx) — co-partitioned, never broadcast; row volume is
    * samples × (channels−1) where channels-per-experiment is
    * HARDWARE-bounded (the reference rig has 9), so the blowup is a
    * constant factor, not corpus-quadratic; the corpus grows in
    * experiments, which partition cleanly.
    */
  def channelSynchrony(enriched: DataFrame): DataFrame = {
    val sp = enriched
      .select(col("experiment_id"), col("channel"), col("sample_idx"),
        col("y_smooth"))
      .filter(col("y_smooth").isNotNull)
    val a = sp.select(col("experiment_id"), col("channel").as("ch_a"),
      col("sample_idx"), col("y_smooth").as("xa"))
    val b = sp.select(col("experiment_id"), col("channel").as("ch_b"),
      col("sample_idx"), col("y_smooth").as("xb"))
    val agg = a.join(b, Seq("experiment_id", "sample_idx"))
      .filter(col("ch_a") < col("ch_b"))
      .groupBy(col("experiment_id"), col("ch_a"), col("ch_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("xa").cast("decimal(28,14)")).as("sx"),
        sum((col("xa") * col("xa")).cast("decimal(28,10)")).as("sxx"),
        sum(col("xb").cast("decimal(28,14)")).as("sy"),
        sum((col("xb") * col("xb")).cast("decimal(28,10)")).as("syy"),
        sum((col("xa") * col("xb")).cast("decimal(28,10)")).as("sxy"))
    val nD = col("n").cast("double")
    val cov = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    agg.select(col("experiment_id"), col("ch_a"), col("ch_b"), col("n"),
      (cov / nullif(sqrt(greatest(vx * vy, lit(0.0))), lit(0.0)))
        .as("sync_corr"))
  }

  /** Q243 — stimulus entrainment (vector strength): each beat's
    * PHASE within its bracketing stimulus interval,
    * φ = 2π·(beat − prev_stim)/(next_stim − prev_stim), summarized
    * per channel as the resultant length R = |Σe^{iφ}|/n (1 = perfect
    * phase-locking, 0 = uniform), the circular mean phase, and the
    * Rayleigh statistic z = n·R² — the standard electrophysiology
    * entrainment panel. Q230 measures the LATENCY of capture;
    * vector strength measures its CONSISTENCY, and catches a channel
    * that responds with jittering phase even when every stim
    * eventually captures.
    *
    * Mechanics: stims (kind 0) and beats (kind 1) interleave in one
    * per-channel tagged-union (idx, kind) pass — a stim AT a beat's
    * index sorts first, so it brackets as the at-or-before edge
    * (phase 0, pinned); beats outside any complete stim interval are
    * excluded. cos φ/sin φ terms are DECIMAL-quantized before the
    * per-channel sums (combine-order-free, the Q238 discipline);
    * R/atan2/z finish in pinned double expressions. One window pass,
    * one map-side-combined groupBy — no joins at all.
    */
  def entrainment(stimPeaks: DataFrame, beatPeaks: DataFrame): DataFrame = {
    val u = stimPeaks.select(keys :+ col("sample_idx").as("idx") :+
        lit(0).as("kind"): _*)
      .unionAll(beatPeaks.select(keys :+ col("peak_idx").as("idx") :+
        lit(1).as("kind"): _*))
    val wu = Window.partitionBy(keys: _*).orderBy(col("idx"), col("kind"))
    val tagged = u
      .withColumn("ps", max(when(col("kind") === 0, col("idx")))
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // desc running frame ≡ asc [1, following] row set over the unique
      // (idx, kind) order — O(n), not O(n²) (round 17; see dfdt)
      .withColumn("ns", min(when(col("kind") === 0, col("idx")))
        .over(Window.partitionBy(keys: _*)
          .orderBy(col("idx").desc, col("kind").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
    val phi = lit(2.0 * math.Pi) *
      (col("idx") - col("ps")).cast("double") /
      (col("ns") - col("ps")).cast("double")
    val agg = tagged
      .filter(col("kind") === 1 && col("ps").isNotNull &&
        col("ns").isNotNull && col("ns") > col("ps"))
      .select(keys :+ phi.as("phi"): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_beats"),
        sum(cos(col("phi")).cast("decimal(28,14)")).as("c"),
        sum(sin(col("phi")).cast("decimal(28,14)")).as("s"))
    val nD = col("n_beats").cast("double")
    val vs = sqrt(col("c").cast("double") * col("c").cast("double") +
      col("s").cast("double") * col("s").cast("double")) / nD
    agg.select(keys :+ col("n_beats") :+ vs.as("vector_strength") :+
      atan2(col("s").cast("double"), col("c").cast("double"))
        .as("mean_phase_rad") :+
      (nD * vs * vs).as("rayleigh_z"): _*)
  }

  /** Q240 — composite per-beat anomaly table: ONE auditable decision
    * row per beat joining the engine's per-beat readouts — force and
    * RR (O9/Q229), dF/dt max/min (Q235), template correlation
    * (Q236), RT50/RT90 (Q237) — plus channel-relative z-scores for
    * force and RR and a pinned boolean verdict
    * (|z| > `zThresh` or template_corr < `corrMin`). This is the O11
    * detection-plot marker set AS DATA: the row a curator audits
    * instead of a figure.
    *
    * Exactness: z-scores finish from decimal-exact channel window
    * moments in the n·Σx² − (Σx)² form (one pinned double
    * expression, explicit n > 1 and zero-variance guards → null,
    * never a fabricated 0); every component rides its own already-
    * pinned arithmetic. Missing components stay null (an edge beat
    * has no template window; a non-positive-force beat has no RTs)
    * and null comparisons resolve false in the verdict via explicit
    * coalesce — a beat is flagged only on evidence.
    *
    * Scale shape: every join is a LEFT equi-join on (experiment,
    * channel, peak_idx) — beat-dimension tables, co-keyed, never
    * broadcast (the beat table grows with the corpus); channel
    * stats are window aggregates over the channel partition, not a
    * join-back. Cost = the components' own passes + three co-keyed
    * joins.
    */
  def beatAnomaly(enriched: DataFrame, peaks: DataFrame,
                  metricsDf: DataFrame, cfg: PeakConfig = PeakConfig(),
                  zThresh: Double = 3.0,
                  corrMin: Double = 0.95): DataFrame = {
    val rate = lit(cfg.sampleRateHz)
    val wo = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val wc = Window.partitionBy(keys: _*)
    val base = metricsDf.select(keys :+ col("peak_idx") :+ col("force"): _*)
      .withColumn("rr_s",
        (col("peak_idx") - lag(col("peak_idx"), 1).over(wo))
          .cast("double") / rate)
    val st = base
      .withColumn("nf",
        sum(when(col("force").isNotNull, 1L).otherwise(0L)).over(wc))
      .withColumn("sf", sum(col("force").cast("decimal(28,14)")).over(wc))
      .withColumn("sff",
        sum((col("force") * col("force")).cast("decimal(28,10)")).over(wc))
      .withColumn("nr",
        sum(when(col("rr_s").isNotNull, 1L).otherwise(0L)).over(wc))
      .withColumn("sr", sum(col("rr_s").cast("decimal(28,14)")).over(wc))
      .withColumn("srr",
        sum((col("rr_s") * col("rr_s")).cast("decimal(28,10)")).over(wc))
    def z(v: Column, n: Column, s: Column, ss: Column): Column = {
      val nD = n.cast("double")
      val sd = sqrt(greatest(nD * ss.cast("double") -
        s.cast("double") * s.cast("double"), lit(0.0))) / nD
      when(n > 1L, (v - s.cast("double") / nD) / nullif(sd, lit(0.0)))
    }
    val az = st.select(keys :+ col("peak_idx") :+ col("rr_s") :+
      col("force") :+
      z(col("force"), col("nf"), col("sf"), col("sff")).as("z_force") :+
      z(col("rr_s"), col("nr"), col("sr"), col("srr")).as("z_rr"): _*)
    val d = dfdt(enriched, peaks, cfg)
      .select(keys :+ col("peak_idx") :+ col("dfdt_max") :+
        col("dfdt_min"): _*)
    val tc = beatTemplateCorr(enriched, peaks)
      .select(keys :+ col("peak_idx") :+ col("template_corr"): _*)
    val rt = relaxationTimes(enriched, metricsDf, cfg)
    az.join(d, keyCols :+ "peak_idx", "left")
      .join(tc, keyCols :+ "peak_idx", "left")
      .join(rt, keyCols :+ "peak_idx", "left")
      .select(keys :+ col("peak_idx") :+ col("rr_s") :+ col("force") :+
        col("dfdt_max") :+ col("dfdt_min") :+ col("template_corr") :+
        col("rt50_s") :+ col("rt90_s") :+ col("z_force") :+ col("z_rr") :+
        (coalesce(abs(col("z_force")) > lit(zThresh), lit(false)) ||
          coalesce(abs(col("z_rr")) > lit(zThresh), lit(false)) ||
          coalesce(col("template_corr") < lit(corrMin), lit(false)))
          .as("is_anomaly"): _*)
  }

  /** Q246 — sample entropy of the RR series (Richman & Moorman's
    * SampEn, m = 2, r = `rFrac`·SD): −ln(A/B) where B counts
    * template pairs whose length-2 RR vectors stay within r under
    * the Chebyshev distance and A the same at length 3 — the
    * standard nonlinear HRV irregularity index (low SampEn =
    * metronomic or periodic rhythm, high = disorder), orthogonal to
    * the moment panels (Q229/Q234/Q238): a perfectly periodic
    * bigeminy has large SDNN but near-zero SampEn.
    *
    * Exactness: RR values and their pairwise differences are
    * INTEGERS (sample counts), so every template comparison is an
    * exact integer-vs-double compare against r = rFrac·SD computed
    * from integer power sums in one pinned expression — identical in
    * both engines; match counts are integers; ln is the only
    * transcendental (≤1 ulp). A or B of 0, or under-length series,
    * report null, never ±Inf.
    *
    * Scale shape: the template match is a per-channel SELF-JOIN of
    * the RR table (equi-keyed on channel, k < j filter) — O(n²) in
    * BEATS-PER-RECORDING, which is bounded by recording length, not
    * corpus size (the Q242 argument); the corpus grows in channels,
    * which partition cleanly. No broadcast, map-side-combined counts.
    */
  def sampleEntropy(peaks: DataFrame, rFrac: Double = 0.2): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
      .withColumn("k", row_number().over(w) - lit(1))
      .withColumn("d1", lead(col("d"), 1).over(w))
      .withColumn("d2", lead(col("d"), 2).over(w))
    val st = rr.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s1"),
        sum(col("d") * col("d")).as("s2"))
    val nD = col("n").cast("double")
    val rThr = (lit(rFrac) *
      (sqrt(greatest(nD * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double"),
        lit(0.0))) / nD)).as("r_thresh")
    val a = rr.select(keys :+ col("k").as("ka") :+ col("d").as("da") :+
      col("d1").as("da1") :+ col("d2").as("da2"): _*)
    val b = rr.select(keys :+ col("k").as("kb") :+ col("d").as("db") :+
      col("d1").as("db1") :+ col("d2").as("db2"): _*)
    val pairs = a.join(b, keyCols).filter(col("ka") < col("kb"))
      .join(st.select(keys :+ rThr: _*), keyCols)
    // Richman-Moorman index discipline: BOTH counts range over the
    // same N-m template starts, i.e. only length-2 templates that
    // HAVE a length-3 extension enter B — otherwise A/B compares
    // mismatched populations and SampEn biases low on short series
    val chev2 = greatest(abs(col("da") - col("db")),
      abs(col("da1") - col("db1"))).cast("double")
    val extendable = col("da1").isNotNull && col("db1").isNotNull &&
      col("da2").isNotNull && col("db2").isNotNull
    val bMatch = extendable && chev2 <= col("r_thresh")
    val aMatch = bMatch &&
      abs(col("da2") - col("db2")).cast("double") <= col("r_thresh")
    val cnt = pairs.groupBy(keys: _*)
      .agg(sum(when(bMatch, 1L).otherwise(0L)).as("b_count"),
        sum(when(aMatch, 1L).otherwise(0L)).as("a_count"))
    st.select(keys :+ col("n").as("n_rr") :+ rThr: _*)
      .join(cnt, keyCols, "left")
      .select(keys :+ col("n_rr") :+ col("r_thresh") :+
        coalesce(col("b_count"), lit(0L)).as("b_count") :+
        coalesce(col("a_count"), lit(0L)).as("a_count") :+
        when(coalesce(col("a_count"), lit(0L)) > 0L &&
          coalesce(col("b_count"), lit(0L)) > 0L,
          -log(col("a_count").cast("double") /
            col("b_count").cast("double"))).as("sampen"): _*)
  }

  /** Q247 — multiscale entropy (Costa et al.): Q246's SampEn over
    * non-overlapping coarse-grained means of the RR series at scales
    * 1..`maxScale`, with r FIXED from the original series' SD (the
    * standard MSE convention, so scales are comparable). The
    * complexity PROFILE separates noise from structure: white noise
    * loses entropy as the scale grows, genuinely complex dynamics
    * hold it — a single-scale SampEn cannot tell them apart. Scale 1
    * reproduces Q246 exactly (internal consistency, spec-pinned).
    *
    * Exactness: coarse values are Σd/τ — one double division of an
    * integer sum, identical cross-engine — and every template
    * comparison compares those identical doubles against the pinned
    * r; ragged tail groups (count < τ) are DROPPED (standard
    * coarse-graining, pinned); −ln only at the finish. Scale shape:
    * the scale fan-out is a narrow explode (×maxScale); the match
    * pass is the Q246 self-join with `scale` joined into the key —
    * still O(n²) in beats-per-recording, more parallel by the scale
    * dimension.
    */
  def multiscaleEntropy(peaks: DataFrame, maxScale: Int = 3,
                        rFrac: Double = 0.2): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
      .withColumn("k", row_number().over(w) - lit(1))
    val st = rr.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s1"),
        sum(col("d") * col("d")).as("s2"))
    val nD = col("n").cast("double")
    val rThr = (lit(rFrac) *
      (sqrt(greatest(nD * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double"),
        lit(0.0))) / nD)).as("r_thresh")
    val coarse = rr
      .withColumn("scale",
        explode(sequence(lit(1), lit(maxScale))))
      .withColumn("g",
        floor(col("k").cast("double") / col("scale").cast("double"))
          .cast("long"))
      .groupBy(keys :+ col("scale") :+ col("g"): _*)
      .agg(sum(col("d")).as("su"), count(lit(1)).as("c"))
      .filter(col("c") === col("scale").cast("long"))
      .withColumn("u",
        col("su").cast("double") / col("scale").cast("double"))
    val ws = Window.partitionBy(keys :+ col("scale"): _*).orderBy(col("g"))
    val ser = coarse
      .withColumn("u1", lead(col("u"), 1).over(ws))
      .withColumn("u2", lead(col("u"), 2).over(ws))
      .select(keys :+ col("scale") :+ col("g") :+ col("u") :+
        col("u1") :+ col("u2"): _*)
    val a = ser.select(keys :+ col("scale") :+ col("g").as("ga") :+
      col("u").as("ua") :+ col("u1").as("ua1") :+ col("u2").as("ua2"): _*)
    val b = ser.select(keys :+ col("scale") :+ col("g").as("gb") :+
      col("u").as("ub") :+ col("u1").as("ub1") :+ col("u2").as("ub2"): _*)
    val pairs = a.join(b, keyCols :+ "scale").filter(col("ga") < col("gb"))
      .join(st.select(keys :+ rThr: _*), keyCols)
    val extendable = col("ua1").isNotNull && col("ub1").isNotNull &&
      col("ua2").isNotNull && col("ub2").isNotNull
    val chev2 = greatest(abs(col("ua") - col("ub")),
      abs(col("ua1") - col("ub1")))
    val bMatch = extendable && chev2 <= col("r_thresh")
    val aMatch = bMatch &&
      abs(col("ua2") - col("ub2")) <= col("r_thresh")
    val cnt = pairs.groupBy(keys :+ col("scale"): _*)
      .agg(sum(when(bMatch, 1L).otherwise(0L)).as("b_count"),
        sum(when(aMatch, 1L).otherwise(0L)).as("a_count"))
    val npts = coarse.groupBy(keys :+ col("scale"): _*)
      .agg(count(lit(1)).as("n_points"))
    npts.join(st.select(keys :+ rThr: _*), keyCols)
      .join(cnt, keyCols :+ "scale", "left")
      .select(keys :+ col("scale") :+ col("n_points") :+ col("r_thresh") :+
        coalesce(col("b_count"), lit(0L)).as("b_count") :+
        coalesce(col("a_count"), lit(0L)).as("a_count") :+
        when(coalesce(col("a_count"), lit(0L)) > 0L &&
          coalesce(col("b_count"), lit(0L)) > 0L,
          -log(col("a_count").cast("double") /
            col("b_count").cast("double"))).as("sampen"): _*)
  }

  /** Q248 — HRV triangular index (HTI): total RR count divided by
    * the height of the RR histogram's modal bin at the standard
    * 1/128 s binning — the GEOMETRIC HRV metric (a tall narrow
    * histogram = low variability, a flat wide one = high), famously
    * robust to outlier beats that inflate SDNN, and the last member
    * of the engine's HRV quartet: time (Q229), frequency (Q238),
    * nonlinear (Q246/Q247), geometry (this).
    *
    * Exactness: the bin index floor(d·128/rate) is one double
    * floor of an integer product — cross-engine identical; counts
    * are integers; HTI is one pinned division. Ties on the modal
    * bin resolve by max count alone (the value, not the bin, enters
    * HTI); the reported modal bin takes the SMALLEST index among
    * ties (struct-max on (count, −bin), pinned). Scale: two
    * map-side-combined groupBys per channel, nothing else.
    */
  def triangularIndex(peaks: DataFrame,
                      sampleRateHz: Double = 100.0): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
    val bin = floor((col("d") * lit(128L)).cast("double") /
      lit(sampleRateHz)).cast("long")
    val hist = rr.withColumn("bin", bin)
      .groupBy(keys :+ col("bin"): _*)
      .agg(count(lit(1)).as("c"))
    val agg = hist.groupBy(keys: _*)
      .agg(sum(col("c")).as("n_rr"),
        count(lit(1)).as("n_bins"),
        max(struct(col("c"), (-col("bin")).as("nb"))).as("best"))
    agg.select(keys :+ col("n_rr") :+ col("n_bins") :+
      (-col("best.nb")).as("modal_bin") :+
      col("best.c").as("modal_count") :+
      (col("n_rr").cast("double") / col("best.c").cast("double"))
        .as("hti"): _*)
  }

  /** Shared DFT band-power core over an RR-interval table: `rrRows`
    * carries the grouping columns `g`, an ordering column `ord`
    * (the interval's later peak index) and the interval `d`; each
    * group is an independent demeaned beat-indexed series projected
    * onto its in-band Fourier bins. [[bandPower]] groups per channel;
    * [[windowedBandPower]] per (channel, tumbling window).
    */
  private def bandPowerCore(rrRows: DataFrame, g: Seq[String],
                            sampleRateHz: Double, lfLo: Double,
                            lfHi: Double, hfHi: Double): DataFrame = {
    val gk = g.map(col)
    val w = Window.partitionBy(gk: _*).orderBy(col("ord"))
    val rr = rrRows.withColumn("k", row_number().over(w) - lit(1))
    val ch = rr.groupBy(gk: _*)
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s1"))
    val rate = lit(sampleRateHz)
    val fj = col("j").cast("double") * rate / col("s1").cast("double")
    val bins = ch.filter(col("n") >= 2L)
      .select(gk :+ col("n") :+ col("s1") :+
        explode(sequence(lit(1L),
          floor(col("n") / lit(2L)).cast("long"))).as("j"): _*)
      .withColumn("f", fj)
      .filter(col("f") >= lit(lfLo) && col("f") < lit(hfHi))
      .withColumn("band", when(col("f") < lit(lfHi), lit("lf"))
        .otherwise(lit("hf")))
    val joined = rr.join(
      bins.select(gk :+ col("j") :+ col("band") :+
        col("n") :+ col("s1"): _*), g)
    val xv = (col("d").cast("double") -
      col("s1").cast("double") / col("n").cast("double")) / rate
    val theta = lit(2.0 * math.Pi) * col("j").cast("double") *
      col("k").cast("double") / col("n").cast("double")
    val perBin = joined
      .groupBy(gk :+ col("j") :+ col("band") :+ col("n"): _*)
      .agg(sum((xv * cos(theta)).cast("decimal(28,14)")).as("a"),
        sum((xv * sin(theta)).cast("decimal(28,14)")).as("b"))
    // One-sided factor: 2 for interior bins, 1 for the self-conjugate
    // Nyquist bin j = n/2 when n is even — doubling it would overstate
    // the band power and break the LF+HF ≤ var(RR) Parseval bound
    // whenever the Nyquist frequency falls in-band (mean RR > 1.25 s at
    // 100 Hz). Integer-exact test: 2j == n.
    val oneSided = when(col("j") * lit(2L) === col("n"), lit(1.0))
      .otherwise(lit(2.0))
    val pnorm = (oneSided *
      (col("a").cast("double") * col("a").cast("double") +
        col("b").cast("double") * col("b").cast("double")) /
      (col("n").cast("double") * col("n").cast("double")))
      .cast("decimal(28,14)")
    val bandAgg = perBin.select(gk :+ col("band") :+ pnorm.as("p"): _*)
      .groupBy(gk: _*)
      .agg(sum(when(col("band") === "lf", lit(1L)).otherwise(lit(0L)))
        .as("n_lf_bins"),
        sum(when(col("band") === "hf", lit(1L)).otherwise(lit(0L)))
          .as("n_hf_bins"),
        sum(when(col("band") === "lf", col("p"))).as("lfp"),
        sum(when(col("band") === "hf", col("p"))).as("hfp"))
    ch.join(bandAgg, g, "left")
      .select(gk :+ col("n").as("n_rr") :+
        (col("s1").cast("double") / col("n").cast("double") / rate)
          .as("mean_rr_s") :+
        coalesce(col("n_lf_bins"), lit(0L)).as("n_lf_bins") :+
        coalesce(col("n_hf_bins"), lit(0L)).as("n_hf_bins") :+
        col("lfp").cast("double").as("lf_power_s2") :+
        col("hfp").cast("double").as("hf_power_s2") :+
        (col("lfp").cast("double") /
          nullif(col("hfp").cast("double"), lit(0.0)))
          .as("lf_hf_ratio"): _*)
  }

  /** RR intervals from the detected train: one row per interval with
    * the later peak's index as `ord`.
    */
  private def rrIntervals(peaks: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
      .select(keys :+ col("peak_idx").as("ord") :+ col("d"): _*)
  }

  def bandPower(peaks: DataFrame, sampleRateHz: Double = 100.0,
                lfLo: Double = 0.04, lfHi: Double = 0.15,
                hfHi: Double = 0.4): DataFrame =
    bandPowerCore(rrIntervals(peaks), keyCols, sampleRateHz,
      lfLo, lfHi, hfHi)

  /** Q244 — time-resolved LF/HF: the Q238 spectral panel per TUMBLING
    * window of `windowSamples` samples (intervals assigned to the
    * window of their LATER beat), the spectral counterpart of Q233's
    * rundown audit — a channel whose LF/HF ratio drifts across
    * windows is autonomically unstable even when the whole-recording
    * panel looks normal. Each window is its own demeaned series with
    * its own Fourier grid (window length sets the resolution — with
    * ~40 beats per fixture window the grid reaches down to
    * ~0.025 Hz). Same exactness story as Q238: integer/decimal sums,
    * IEEE-exact bin membership, cos/sin the only cross-engine
    * divergence (≤1 ulp). Scale: the group key gains a window
    * dimension — MORE parallelism, same per-group bound.
    */
  def windowedBandPower(peaks: DataFrame, windowSamples: Long = 800L,
                        sampleRateHz: Double = 100.0,
                        lfLo: Double = 0.04, lfHi: Double = 0.15,
                        hfHi: Double = 0.4): DataFrame = {
    val rr = rrIntervals(peaks)
      .withColumn("win",
        floor(col("ord").cast("double") / lit(windowSamples.toDouble))
          .cast("long"))
    bandPowerCore(rr, keyCols :+ "win", sampleRateHz, lfLo, lfHi, hfHi)
      .withColumn("win_start_s",
        col("win").cast("double") * lit(windowSamples.toDouble) /
          lit(sampleRateHz))
  }

  /** Q249 — detrended fluctuation analysis of the smoothed
    * contraction trace (scaling-exponent audit; on an RR series the
    * same estimator is the HRV α1). Per channel: mean-center the
    * series, integrate to the profile, split into non-overlapping
    * boxes of each scale s, least-squares-detrend each complete box,
    * and report F(s) = RMS residual; α = the log–log OLS slope of
    * F(s) over the scales — α ≈ 0.5 for white noise, ≈ 1 for 1/f,
    * ≈ 1.5 for Brownian drift. The fixture's beat trains (4 RR
    * intervals) are too short for the classic beat-domain α1, so the
    * engine applies the estimator to the recording itself; the
    * operator takes any (keys, ord, value) series.
    *
    * Exactness (the q114/q233 decimal-moment discipline end to end):
    * the profile is kept in its n-scaled integer-friendly form
    * Pᵢ = n·Σ_{k≤i} vq − i·Σvq off DECIMAL(28,14)-quantized values —
    * both window sums are decimal-exact, Pᵢ is one pinned double
    * expression, and the n² factor it carries cancels in the log–log
    * slope (and is divided back out of the reported fluctuation).
    * Box x-moments are closed-form integers (Σx = s(s+1)/2,
    * Σx² = s(s+1)(2s+1)/6); y-moments are per-row products quantized
    * to DECIMAL(38,·) before their sums, so no float summation
    * depends on shuffle order; each box RSS, F(s), and the final
    * slope are pinned double finishes (ln/sqrt differ ≤1 ulp
    * cross-engine, orders below the compare tolerance).
    *
    * Scale shape: one ordered window pass per channel (recording-
    * length bounded, the q246 discipline), then a ×|scales| fan-out
    * into (channel, scale, box) groupBys — map-side combinable,
    * box rows ≪ sample rows — and a |channels|-sized slope
    * aggregate. No joins beyond the per-channel stat broadcast, no
    * driver-side loops; 1000 channels of 100 TB recordings keep one
    * exchange per aggregate level.
    */
  def dfa(smooth: DataFrame, scales: Seq[Int] = Seq(16, 64, 256),
          valueCol: String = "y_smooth"): DataFrame = {
    require(scales.nonEmpty && scales.forall(_ >= 3),
      "DFA needs scales >= 3 (a line through 2 points has no residual)")
    val w = Window.partitionBy(keys: _*).orderBy(col("sample_idx"))
    val base = smooth
      .select(keys :+ col("sample_idx") :+
        col(valueCol).cast("decimal(28,14)").as("vq"): _*)
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cs", sum(col("vq"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val st = base.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("vq")).as("s1"))
    // n-scaled profile: P_i = n·cs_i − i·s1 (pinned double off exact
    // decimals; the n factor is slope-invariant)
    val p = (col("n").cast("double") * col("cs").cast("double") -
      col("i").cast("double") * col("s1").cast("double"))
    val prof = base.join(st, keyCols)
      .select(keys :+ col("i") :+ col("n") :+ p.as("p"): _*)
    val boxed = prof
      .withColumn("s", explode(array(scales.map(v => lit(v.toLong)): _*)))
      .filter(col("s") <= col("n")) // at least one complete box
      .withColumn("b", floor((col("i") - 1).cast("double") /
        col("s").cast("double")).cast("long"))
      .filter(col("b") < floor(col("n").cast("double") /
        col("s").cast("double")).cast("long")) // complete boxes only
      .withColumn("x", ((col("i") - 1) % col("s") + 1).cast("double"))
    val box = boxed.groupBy(keys :+ col("s") :+ col("b"): _*)
      .agg(sum(col("p").cast("decimal(38,8)")).as("sy"),
        sum((col("p") * col("p")).cast("decimal(38,6)")).as("syy"),
        sum((col("x") * col("p")).cast("decimal(38,8)")).as("sxy"))
    // closed-form integer x-moments of 1..s
    val sx = (col("s") * (col("s") + 1) / 2).cast("long")
    val sxx = (col("s") * (col("s") + 1) * (col("s") * 2 + 1) / 6).cast("long")
    val dD = (col("s") * sxx - sx * sx).cast("double")
    val aN = (col("s").cast("double") * col("sxy").cast("double") -
      sx.cast("double") * col("sy").cast("double"))
    val vN = (col("s").cast("double") * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double"))
    val rss = greatest((vN - aN * aN / dD) / col("s").cast("double"),
      lit(0.0))
    val perScale = box
      .select(keys :+ col("s") :+ rss.cast("decimal(38,10)").as("rssq"): _*)
      .groupBy(keys :+ col("s"): _*)
      .agg(count(lit(1)).as("n_boxes"), sum(col("rssq")).as("srss"))
      .join(st.select(keys :+ col("n"): _*), keyCols)
      .withColumn("f2", col("srss").cast("double") /
        (col("n_boxes") * col("s")).cast("double"))
      .withColumn("fluct",
        sqrt(col("f2")) / col("n").cast("double")) // unscale the n factor
    val lg = perScale.filter(col("f2") > 0.0)
      .withColumn("ls", log(col("s").cast("double")))
      .withColumn("lf", lit(0.5) * log(col("f2")))
    val sl = lg.groupBy(keys: _*)
      .agg(count(lit(1)).as("k"),
        sum(col("ls").cast("decimal(38,14)")).as("sls"),
        sum(col("lf").cast("decimal(38,14)")).as("slf"),
        sum((col("ls") * col("ls")).cast("decimal(38,14)")).as("slsls"),
        sum((col("ls") * col("lf")).cast("decimal(38,14)")).as("slslf"))
    val alpha = when(col("k") > 1L,
      (col("k").cast("double") * col("slslf").cast("double") -
        col("sls").cast("double") * col("slf").cast("double")) /
        (col("k").cast("double") * col("slsls").cast("double") -
          col("sls").cast("double") * col("sls").cast("double")))
    perScale
      .join(sl.select(keys :+ col("k") :+ col("sls") :+ col("slf") :+
        col("slsls") :+ col("slslf"): _*), keyCols, "left")
      .select(keys :+ col("s").as("scale") :+ col("n_boxes") :+
        col("fluct") :+ alpha.as("alpha"): _*)
  }

  /** Q250 — magnitude-squared coherence between the contraction
    * trace and the stimulus at the pacing frequency (the
    * frequency-domain counterpart of Q243's phase entrainment): the
    * recording is cut into segments one pacing period long (the
    * period = the channel's MODAL stim inter-spike interval, an
    * integer read off the data, ties to the smallest), each segment
    * of both series is demeaned and projected onto its fundamental
    * bin j=1 (exactly the pacing frequency), and the Welch-style
    * estimate Ĉ = |Σ_seg S_xy|² / (Σ S_xx · Σ S_yy) averages the
    * cross- and auto-spectra across segments — 1 means the beat
    * response tracks the stimulus in amplitude and phase, → 0 means
    * pacing and response are spectrally unrelated (a single
    * un-averaged segment is identically 1, which is why the segment
    * cut is the estimator, not an optimization).
    *
    * Exactness: the modal interval is an integer mode (count desc,
    * smallest-interval ties — struct-max, pinned); segment means come
    * from DECIMAL(28,14) window sums with one pinned division; each
    * projection term and each per-segment spectral product is
    * quantized to DECIMAL before its sum (combine-order-free); the
    * final ratio and atan2 phase are pinned double finishes (cos/sin
    * ≤1 ulp cross-engine, below the compare tolerance — the q238
    * precedent).
    *
    * Scale shape: one equi-join of the two sample streams on
    * (channel, sample_idx) — co-partitioned, media never involved —
    * then (channel, segment) groupBys that are map-side combinable
    * and a |channels|-sized finish. The modal-interval table is
    * |channels|-sized and broadcast. No driver loops, no windows
    * wider than one segment.
    */
  /** Shared front of Q250/Q258: modal pacing interval → complete
    * tumbling segments → per-segment demeaned fundamental-bin
    * projections (ax,bx = signal, ay,by = stim), one row per
    * (channel, segment). See [[stimCoherence]] for the gating and
    * exactness notes; extracted verbatim in round 9 so the
    * transfer-gain/PLV finish (Q258) reuses the identical
    * projections instead of restating them.
    */
  private def pacingProjections(smooth: DataFrame, stimScaled: DataFrame,
                                stimPks: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("sample_idx"))
    // Pacing markers = the PROMINENT stim maxima (≥ half the channel's
    // scaled-stim max): bare rule-1 find_peaks(stim) — the reference
    // semantic Q230/Q243 keep — also fires on every noise-floor wiggle,
    // whose alternating 2-sample intervals would otherwise be the mode
    // and turn "pacing frequency" into the noise rate. Half-max is the
    // standard spike/noise separator and is exact here (the spike:noise
    // ratio is ~60:1; any threshold in that gap picks the same set).
    val gated = stimPks
      .withColumn("mx", max(col("y_scaled")).over(Window.partitionBy(keys: _*)))
      .filter(col("y_scaled") >= lit(0.5) * col("mx"))
    val iv = gated.select(keys :+ col("sample_idx"): _*)
      .withColumn("d", col("sample_idx") - lag(col("sample_idx"), 1).over(w))
      .filter(col("d").isNotNull)
    val modal = iv.groupBy(keys :+ col("d"): _*)
      .agg(count(lit(1)).as("c"))
      .groupBy(keys: _*)
      .agg(max(struct(col("c"), (-col("d")).as("nd"))).as("best"))
      .select(keys :+ (-col("best.nd")).as("seg_len"): _*)
      .filter(col("seg_len") >= 2L)
    val joined = smooth
      .select(keys :+ col("sample_idx") :+ col("y_smooth").as("v"): _*)
      .join(stimScaled.select(keys :+ col("sample_idx") :+
        col("y_scaled").as("u"): _*), keyCols :+ "sample_idx")
      .join(broadcast(modal), keyCols)
    val nTab = joined.groupBy(keys: _*).agg(count(lit(1)).as("n"))
    val segd = joined.join(broadcast(nTab), keyCols)
      .withColumn("seg", floor(col("sample_idx").cast("double") /
        col("seg_len").cast("double")).cast("long"))
      .filter(col("seg") < floor(col("n").cast("double") /
        col("seg_len").cast("double")).cast("long")) // complete segments
      .withColumn("k", (col("sample_idx") % col("seg_len")).cast("double"))
    val wseg = Window.partitionBy(keys :+ col("seg"): _*)
    val withM = segd
      .withColumn("sv", sum(col("v").cast("decimal(28,14)")).over(wseg))
      .withColumn("su", sum(col("u").cast("decimal(28,14)")).over(wseg))
    val lD = col("seg_len").cast("double")
    val vd = col("v") - col("sv").cast("double") / lD
    val ud = col("u") - col("su").cast("double") / lD
    val theta = lit(2.0 * math.Pi) * col("k") / lD
    withM.groupBy(keys :+ col("seg_len") :+ col("seg"): _*)
      .agg(sum((vd * cos(theta)).cast("decimal(28,14)")).as("ax"),
        sum((vd * sin(theta)).cast("decimal(28,14)")).as("bx"),
        sum((ud * cos(theta)).cast("decimal(28,14)")).as("ay"),
        sum((ud * sin(theta)).cast("decimal(28,14)")).as("by"))
  }

  def stimCoherence(smooth: DataFrame, stimScaled: DataFrame,
                    stimPks: DataFrame,
                    sampleRateHz: Double = 100.0): DataFrame = {
    val proj = pacingProjections(smooth, stimScaled, stimPks)
    val (axd, bxd) = (col("ax").cast("double"), col("bx").cast("double"))
    val (ayd, byd) = (col("ay").cast("double"), col("by").cast("double"))
    val cross = proj.select(keys :+ col("seg_len") :+
      (axd * ayd + bxd * byd).cast("decimal(28,10)").as("rxy") :+
      (bxd * ayd - axd * byd).cast("decimal(28,10)").as("ixy") :+
      (axd * axd + bxd * bxd).cast("decimal(28,10)").as("pxx") :+
      (ayd * ayd + byd * byd).cast("decimal(28,10)").as("pyy"): _*)
    val fin = cross.groupBy(keys :+ col("seg_len"): _*)
      .agg(count(lit(1)).as("n_segments"),
        sum(col("rxy")).as("r"), sum(col("ixy")).as("im"),
        sum(col("pxx")).as("px"), sum(col("pyy")).as("py"))
    val (rD, iD) = (col("r").cast("double"), col("im").cast("double"))
    val (pxD, pyD) = (col("px").cast("double"), col("py").cast("double"))
    fin.select(keys :+ col("seg_len") :+ col("n_segments") :+
      (lit(sampleRateHz) / col("seg_len").cast("double"))
        .as("pacing_freq_hz") :+
      when(pxD > 0.0 && pyD > 0.0,
        (rD * rD + iD * iD) / (pxD * pyD)).as("coherence") :+
      when(pxD > 0.0 && pyD > 0.0, atan2(iD, rD))
        .as("cross_phase_rad"): _*)
  }

  /** Q251 — heart-rate fragmentation (Costa/Davis/Goldberger-style
    * indices over the RR difference series): how often the rhythm
    * FLIPS between accelerating and decelerating — elevated
    * fragmentation is a marker of degraded sinoatrial control that
    * SDNN/RMSSD miss because it lives in sign structure, not
    * magnitude. Per channel, over the deltas Δₖ = dₖ₊₁ − dₖ with
    * sign sₖ ∈ {−1, 0, +1} and maximal equal-sign runs:
    * PIP = (n_runs − 1)/m (fraction of consecutive-delta sign
    * changes), IALS = n_runs/m (inverse mean run length),
    * PSS = (deltas in runs shorter than 3)/m. Zero deltas form
    * their own runs (documented variant; the alternation-segment
    * index PAS is deliberately not carried — beat-scale alternation
    * is Q232's domain). Channels with fewer than 3 peaks have no
    * delta pair and emit no row (the Q231 convention).
    *
    * Exactness: every count is an integer off integer signs; the
    * three indices are single pinned divisions. Scale: two ordered
    * window passes and two map-side-combinable aggregates per
    * channel; run ids are per-channel prefix sums of change flags
    * (recording-length bounded, the q246 discipline).
    */
  def fragmentation(peaks: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
    val sgn = rr
      .withColumn("delta", col("d") - lag(col("d"), 1).over(w))
      .filter(col("delta").isNotNull)
      .withColumn("s", when(col("delta") > 0L, lit(1))
        .when(col("delta") < 0L, lit(-1)).otherwise(lit(0)))
      .withColumn("chg", when(lag(col("s"), 1).over(w).isNull, lit(1L))
        .when(col("s") =!= lag(col("s"), 1).over(w), lit(1L))
        .otherwise(lit(0L)))
      .withColumn("run", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = sgn.groupBy(keys :+ col("run"): _*)
      .agg(count(lit(1)).as("len"))
    val agg = runs.groupBy(keys: _*)
      .agg(sum(col("len")).as("m"), count(lit(1)).as("n_runs"),
        sum(when(col("len") < 3L, col("len")).otherwise(lit(0L)))
          .as("short_deltas"))
    val mD = col("m").cast("double")
    agg.select(keys :+ col("m").as("n_deltas") :+ col("n_runs") :+
      ((col("n_runs") - 1L).cast("double") / mD).as("pip") :+
      (col("n_runs").cast("double") / mD).as("ials") :+
      (col("short_deltas").cast("double") / mD).as("pss"): _*)
  }

  /** Q252 — lagged cross-channel correlation: for every ordered
    * channel pair (a < b) within an experiment and every lag ℓ in a
    * fixed grid, the Pearson correlation of (v_a(t), v_b(t + ℓ))
    * over the overlapping samples, reporting the best-aligned lag
    * (argmax r, ties to the smallest lag) alongside the zero-lag
    * reference — Q242's synchrony matrix generalized to conduction
    * DELAY estimation (which channel leads, and by how much).
    *
    * Exactness: the shifted join key t = sample_idx − ℓ is integer;
    * Pearson moments are per-row products quantized to DECIMAL
    * before their sums (combine-order-free), the finish is one
    * pinned expression, and the argmax is a struct-max on
    * (r, −ℓ) — zero-variance lags (null r) are dropped before the
    * argmax, so a tie is broken by the smallest lag among defined
    * correlations.
    *
    * Scale shape: one explode of a literal lag grid on the right
    * stream, one equi-join on (experiment, t) — co-partitioned,
    * never a cross join — and (pair, lag)-keyed map-side-combinable
    * aggregates. Work is bounded by channels² × |lags| × recording
    * length per experiment; channels-per-experiment is a fixture
    * constant (9 in the reference contract), so the pair fan-out
    * never follows corpus growth.
    */
  def laggedXcorr(smooth: DataFrame,
                  lags: Seq[Int] = Seq(-40, -30, -20, -10, 0,
                    10, 20, 30, 40)): DataFrame = {
    val base = smooth.select(col("experiment_id"), col("channel"),
      col("sample_idx"), col("y_smooth"))
    val a = base.select(col("experiment_id"), col("channel").as("ca"),
      col("sample_idx").as("t"), col("y_smooth").as("va"))
    val b = base
      .withColumn("l", explode(array(lags.map(v => lit(v.toLong)): _*)))
      .select(col("experiment_id"), col("channel").as("cb"),
        (col("sample_idx") - col("l")).as("t"), col("l"),
        col("y_smooth").as("vb"))
    val pairs = a.join(b, Seq("experiment_id", "t"))
      .filter(col("ca") < col("cb"))
    val mo = pairs.groupBy(col("experiment_id"), col("ca"), col("cb"),
        col("l"))
      .agg(count(lit(1)).as("n"),
        sum(col("va").cast("decimal(28,14)")).as("sx"),
        sum(col("vb").cast("decimal(28,14)")).as("sy"),
        sum((col("va") * col("va")).cast("decimal(38,8)")).as("sxx"),
        sum((col("vb") * col("vb")).cast("decimal(38,8)")).as("syy"),
        sum((col("va") * col("vb")).cast("decimal(38,8)")).as("sxy"))
    val nD = col("n").cast("double")
    val cov = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val perLag = mo.filter(col("n") > 1L)
      .withColumn("r", cov /
        nullif(sqrt(greatest(vx * vy, lit(0.0))), lit(0.0)))
    perLag.filter(col("r").isNotNull)
      .groupBy(col("experiment_id"), col("ca"), col("cb"))
      .agg(count(lit(1)).as("n_lags"),
        max(struct(col("r"), (-col("l")).as("nl"))).as("best"),
        max(when(col("l") === 0L, col("r"))).as("r_zero_lag"))
      .select(col("experiment_id"), col("ca"), col("cb"),
        col("n_lags"), (-col("best.nl")).as("best_lag"),
        col("best.r").as("best_r"), col("r_zero_lag"))
  }

  /** Q253 — beat-morphology variability band: the per-offset
    * standard deviation around Q236's ensemble template (mean beat
    * shape ± SD over the same fixed-lag complete windows) — the
    * "tube" that turns one template number into WHERE in the beat
    * cycle the variability lives (upstroke jitter vs relaxation
    * drift), and the per-offset complement of Q236's per-beat
    * correlation.
    *
    * Exactness: mean and SD per offset come from DECIMAL-quantized
    * sums in the n·Σx² − (Σx)² form with pinned double finishes
    * (one division, one guarded sqrt) — identical discipline to the
    * Q236 template moments. Scale: the offset fan-out rides the
    * beat table (≪ samples), values join back equi-keyed on
    * (channel, sample_idx), the complete-window gate is a window
    * count — one exchange per aggregate, media never involved.
    */
  def morphologyBand(enriched: DataFrame, peaks: DataFrame,
                     before: Int = 20, after: Int = 40): DataFrame = {
    val winLen = before + after + 1
    val offs = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("off",
        explode(sequence(lit(-before.toLong), lit(after.toLong))))
      .withColumn("sample_idx", col("peak_idx") + col("off"))
    val win = offs.join(
      enriched.select(keys :+ col("sample_idx") :+ col("y_smooth"): _*),
      keyCols :+ "sample_idx")
    val wb = Window.partitionBy(keys :+ col("peak_idx"): _*)
    val winc = win.withColumn("_wn", count(lit(1)).over(wb))
      .filter(col("_wn") === winLen)
    val agg = winc.groupBy(keys :+ col("off"): _*)
      .agg(count(lit(1)).as("n_beats"),
        sum(col("y_smooth").cast("decimal(28,14)")).as("sx"),
        sum((col("y_smooth") * col("y_smooth")).cast("decimal(28,10)"))
          .as("sxx"))
    val nD = col("n_beats").cast("double")
    agg.select(keys :+ col("off") :+ col("n_beats") :+
      (col("sx").cast("double") / nD).as("template_v") :+
      (sqrt(greatest(nD * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double"),
        lit(0.0))) / nD).as("sd_v"): _*)
  }

  /** Q254 — approximate entropy (Pincus ApEn, m=2, r=0.2·SD) of the
    * RR series: Φᵐ = mean over templates of ln(Cᵢᵐ/(N−m+1)) with
    * SELF-MATCHES INCLUDED (every Cᵢ ≥ 1, so no log-of-zero),
    * ApEn = Φ² − Φ³ — the biased-but-always-defined predecessor of
    * Q246's SampEn, kept alongside it because the two disagree
    * exactly where the bias matters (short trains), which is itself
    * a data-quality signal. Same Chebyshev tolerance and population-
    * SD threshold as Q246.
    *
    * Exactness: match counts are integers off integer-interval
    * comparisons against one pinned r; each per-template
    * ln(count/(N−m+1)) is one pinned double quantized to DECIMAL
    * before the template mean (combine-order-free); Φ and the final
    * difference are pinned finishes. Scale: the per-channel
    * template self-join is equi-keyed on the channel and bounded by
    * recording length squared (the q246 discipline), never by
    * corpus size.
    */
  def approximateEntropy(peaks: DataFrame, rFrac: Double = 0.2): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
      .withColumn("k", row_number().over(w) - lit(1))
      .withColumn("d1", lead(col("d"), 1).over(w))
      .withColumn("d2", lead(col("d"), 2).over(w))
    val st = rr.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s1"),
        sum(col("d") * col("d")).as("s2"))
    val nD = col("n").cast("double")
    val rThr = (lit(rFrac) *
      (sqrt(greatest(nD * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double"),
        lit(0.0))) / nD)).as("r_thresh")
    val a = rr.select(keys :+ col("k").as("ka") :+ col("d").as("da") :+
      col("d1").as("da1") :+ col("d2").as("da2"): _*)
    val b = rr.select(keys :+ col("k").as("kb") :+ col("d").as("db") :+
      col("d1").as("db1") :+ col("d2").as("db2"): _*)
    // full ordered pairs INCLUDING i = j (the ApEn self-match)
    val pairs = a.join(b, keyCols)
      .join(st.select(keys :+ rThr :+ col("n"): _*), keyCols)
    val m2Tpl = col("da1").isNotNull && col("db1").isNotNull
    val chev2 = greatest(abs(col("da") - col("db")),
      abs(col("da1") - col("db1"))).cast("double")
    val m3Tpl = m2Tpl && col("da2").isNotNull && col("db2").isNotNull
    val chev3 = greatest(abs(col("da") - col("db")),
      abs(col("da1") - col("db1")),
      abs(col("da2") - col("db2"))).cast("double")
    val cnt = pairs.groupBy(keys :+ col("ka") :+ col("n") :+
        col("r_thresh"): _*)
      .agg(sum(when(m2Tpl && chev2 <= col("r_thresh"), 1L)
        .otherwise(0L)).as("c2"),
        sum(when(m3Tpl && chev3 <= col("r_thresh"), 1L)
          .otherwise(0L)).as("c3"))
    val t2 = (col("n") - 1L).cast("double") // N - m + 1 for m = 2
    val t3 = (col("n") - 2L).cast("double")
    val phi = cnt.groupBy(keys :+ col("n") :+ col("r_thresh"): _*)
      .agg(sum(when(col("c2") > 0L,
        log(col("c2").cast("double") / t2).cast("decimal(38,14)")))
        .as("l2"),
        sum(when(col("c3") > 0L,
          log(col("c3").cast("double") / t3).cast("decimal(38,14)")))
          .as("l3"))
    val phi2 = when(col("n") >= 2L,
      col("l2").cast("double") / (col("n") - 1L).cast("double"))
    val phi3 = when(col("n") >= 3L,
      col("l3").cast("double") / (col("n") - 2L).cast("double"))
    phi.select(keys :+ col("n").as("n_rr") :+ col("r_thresh") :+
      phi2.as("phi2") :+ phi3.as("phi3") :+
      (phi2 - phi3).as("apen"): _*)
  }

  /** Q255 — residual signal-quality index: mean, SD, skewness, and
    * excess kurtosis of the smoothing residual (raw − smoothed) per
    * channel. A clean recording leaves near-Gaussian residuals
    * (skew ≈ 0, excess kurtosis ≈ 0); spikes/dropouts fatten the
    * tails LONG before they corrupt the beat metrics — this is the
    * per-channel gate a 100 TB ingest runs BEFORE paying the
    * detection pipeline.
    *
    * Exactness: raw power sums Σr..Σr⁴ are per-row pinned products
    * quantized to DECIMAL before their sums; the central-moment
    * formulas (m₂..m₄ via μ) and the skew/kurtosis finishes are
    * single pinned double expressions — the q114 discipline
    * extended to order 4. Scale: one map-side-combinable aggregate
    * per channel; nothing else.
    */
  def residualSqi(smoothed: DataFrame): DataFrame = {
    val r = col("y") - col("y_smooth")
    val base = smoothed
      .filter(col("y").isNotNull && col("y_smooth").isNotNull)
      .select(keys :+ r.as("r"): _*)
    val agg = base.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("r").cast("decimal(28,14)")).as("s1"),
        sum((col("r") * col("r")).cast("decimal(38,10)")).as("s2"),
        sum((col("r") * col("r") * col("r")).cast("decimal(38,8)"))
          .as("s3"),
        sum((col("r") * col("r") * col("r") * col("r"))
          .cast("decimal(38,6)")).as("s4"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mu * mu
    val m3 = col("s3").cast("double") / nD -
      lit(3.0) * mu * (col("s2").cast("double") / nD) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4").cast("double") / nD -
      lit(4.0) * mu * (col("s3").cast("double") / nD) +
      lit(6.0) * mu * mu * (col("s2").cast("double") / nD) -
      lit(3.0) * mu * mu * mu * mu
    agg.select(keys :+ col("n") :+ mu.as("resid_mean") :+
      sqrt(greatest(m2, lit(0.0))).as("resid_sd") :+
      when(col("n") > 2L && m2 > 0.0,
        m3 / sqrt(greatest(m2 * m2 * m2, lit(0.0)))).as("skewness") :+
      when(col("n") > 3L && m2 > 0.0,
        m4 / (m2 * m2) - lit(3.0)).as("excess_kurtosis"): _*)
  }

  /** Q256 — beat-force autocorrelation at lags 1..k: Pearson r of
    * (forceᵢ, forceᵢ₊ℓ) over the pairwise-complete beat pairs — the
    * beat-grain complement of Q137's sample-grain autocorrelation
    * and the memory-structure metric behind Q232's lag-1 alternans
    * (ACF(1) ≈ −1 IS alternans; slow decay is fatigue drift).
    *
    * Exactness: pair moments are per-row products quantized to
    * DECIMAL before their sums; each lag's Pearson is one pinned
    * finish over pair-specific means. Scale: one ordered window
    * pass per channel (lead columns share the sort), ×k literal lag
    * fan-out, map-side-combinable (channel, lag) aggregates.
    */
  def forceAutocorr(metricsDf: DataFrame, maxLag: Int = 3): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val leads = (1 to maxLag).foldLeft(
      metricsDf.select(keys :+ col("peak_idx") :+ col("force"): _*)) {
      case (df, l) => df.withColumn(s"f$l", lead(col("force"), l).over(w))
    }
    val lagged = leads.withColumn("l",
      explode(array((1 to maxLag).map(v => lit(v.toLong)): _*)))
    val fb = (1 to maxLag).foldLeft(lit(null).cast("double")) {
      case (acc, l) => when(col("l") === l.toLong, col(s"f$l")).otherwise(acc)
    }
    val pairs = lagged.withColumn("fb", fb)
      .filter(col("force").isNotNull && col("fb").isNotNull)
    val mo = pairs.groupBy(keys :+ col("l"): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("force").cast("decimal(28,14)")).as("sx"),
        sum(col("fb").cast("decimal(28,14)")).as("sy"),
        sum((col("force") * col("force")).cast("decimal(38,8)")).as("sxx"),
        sum((col("fb") * col("fb")).cast("decimal(38,8)")).as("syy"),
        sum((col("force") * col("fb")).cast("decimal(38,8)")).as("sxy"))
    val nD = col("n_pairs").cast("double")
    val cov = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    mo.select(keys :+ col("l").as("lag") :+ col("n_pairs") :+
      when(col("n_pairs") > 1L, cov /
        nullif(sqrt(greatest(vx * vy, lit(0.0))), lit(0.0))).as("acf"): _*)
  }

  /** Q257 — turning-point randomness test of the RR series: T =
    * #{interior intervals that are strict local extrema of the RR
    * sequence}, compared against the exact i.i.d. expectation
    * E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90 (Kendall) as a
    * z-score — the nonparametric "is this rhythm structured or
    * shuffled?" gate; |z| ≫ 0 on a paced or alternans train, ≈ 0 on
    * white jitter. Ties (equal neighbors) are NOT turning points
    * (strict inequalities, documented).
    *
    * Exactness: T is an integer off integer comparisons; E, Var,
    * and z are single pinned double expressions of n. Scale: one
    * ordered window pass and one map-side-combinable aggregate per
    * channel.
    */
  def turningPoints(peaks: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
    val tagged = rr
      .withColumn("pv", lag(col("d"), 1).over(w))
      .withColumn("nv", lead(col("d"), 1).over(w))
      .withColumn("tp", when(col("pv").isNotNull && col("nv").isNotNull &&
        ((col("d") > col("pv") && col("d") > col("nv")) ||
          (col("d") < col("pv") && col("d") < col("nv"))), 1L)
        .otherwise(0L))
    val agg = tagged.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("tp")).as("t"))
    val nD = col("n").cast("double")
    val e = lit(2.0) * (nD - lit(2.0)) / lit(3.0)
    val v = (lit(16.0) * nD - lit(29.0)) / lit(90.0)
    agg.filter(col("n") >= 3L)
      .select(keys :+ col("n").as("n_rr") :+ col("t").as("n_turning") :+
        e.as("expected_tp") :+
        when(v > 0.0, (col("t").cast("double") - e) / sqrt(v))
          .as("z"): _*)
  }

  /** Q258 — pacing transfer gain and phase-locking value: off the
    * same per-segment fundamental-bin projections as Q250, the
    * energy-ratio gain √(Σ|X_signal|²/Σ|X_stim|²) (how much
    * response amplitude one unit of stimulus buys at the pacing
    * frequency) and the amplitude-NORMALIZED phase consistency
    * PLV = |mean over segments of e^{iΔφ}| with mean phase — the
    * complement of Q250's coherence, which weights segments by
    * power: high coherence + low PLV means a few loud segments
    * dominate; high PLV + low gain means locked but weak response.
    *
    * Exactness: per-segment spectral products and unit-vector
    * components are pinned doubles quantized to DECIMAL before the
    * channel sums; gain/PLV/phase are pinned finishes; segments
    * with zero amplitude in either series drop from the PLV mean
    * (guarded, documented). Scale: identical shape to Q250 — the
    * projections are the only sample-scale pass.
    */
  def pacingTransfer(smooth: DataFrame, stimScaled: DataFrame,
                     stimPks: DataFrame,
                     sampleRateHz: Double = 100.0): DataFrame = {
    val proj = pacingProjections(smooth, stimScaled, stimPks)
    val (axd, bxd) = (col("ax").cast("double"), col("bx").cast("double"))
    val (ayd, byd) = (col("ay").cast("double"), col("by").cast("double"))
    val pxx = axd * axd + bxd * bxd
    val pyy = ayd * ayd + byd * byd
    val hx = sqrt(pxx * pyy)
    val cosd = (axd * ayd + bxd * byd) / hx
    val sind = (bxd * ayd - axd * byd) / hx
    val seg = proj.select(keys :+ col("seg_len") :+
      pxx.cast("decimal(28,10)").as("px") :+
      pyy.cast("decimal(28,10)").as("py") :+
      when(hx > 0.0, cosd.cast("decimal(28,14)")).as("cu") :+
      when(hx > 0.0, sind.cast("decimal(28,14)")).as("su"): _*)
    val fin = seg.groupBy(keys :+ col("seg_len"): _*)
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("cu").isNotNull, 1L).otherwise(0L)).as("n_locked"),
        sum(col("px")).as("spx"), sum(col("py")).as("spy"),
        sum(col("cu")).as("sc"), sum(col("su")).as("ss"))
    val (scD, ssD) = (col("sc").cast("double"), col("ss").cast("double"))
    val nL = col("n_locked").cast("double")
    fin.select(keys :+ col("seg_len") :+ col("n_segments") :+
      col("n_locked") :+
      (lit(sampleRateHz) / col("seg_len").cast("double"))
        .as("pacing_freq_hz") :+
      when(col("spy").cast("double") > 0.0,
        sqrt(col("spx").cast("double") / col("spy").cast("double")))
        .as("transfer_gain") :+
      when(col("n_locked") > 0L,
        sqrt(scD * scD + ssD * ssD) / nL).as("plv") :+
      when(col("n_locked") > 0L, atan2(ssD, scD))
        .as("mean_phase_rad"): _*)
  }

  /** Q259 — Hjorth parameters of the smoothed trace per channel:
    * activity = var(y), mobility = √(var(Δy)/var(y)), complexity =
    * √(var(Δ²y)/var(Δy)) / mobility — the three-number time-domain
    * "spectral shape" summary (variance, dominant-frequency proxy,
    * bandwidth proxy) a 100 TB pipeline can afford on EVERY
    * recording, where a full DFT (q238) is reserved for flagged
    * ones. Second difference via the closed form Δ²yᵢ =
    * yᵢ − 2yᵢ₋₁ + yᵢ₋₂ so one ordered window pass (lags 1 and 2)
    * feeds all three series.
    *
    * Exactness: population variances from decimal power sums
    * (n·Σx² − (Σx)² pinned finishes, the q255 discipline); the
    * difference series are pinned-double arithmetic off bitwise-
    * identical y_smooth in both engines. Scale: one window pass,
    * one map-side-combinable aggregate per channel.
    */
  def hjorth(smoothed: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("sample_idx"))
    val base = smoothed.filter(col("y_smooth").isNotNull)
      .select(keys :+ col("sample_idx") :+ col("y_smooth").as("v"): _*)
      .withColumn("l1", lag(col("v"), 1).over(w))
      .withColumn("l2", lag(col("v"), 2).over(w))
    val d1 = col("v") - col("l1")
    val d2 = col("v") - lit(2.0) * col("l1") + col("l2")
    val agg = base.groupBy(keys: _*).agg(
      count(lit(1)).as("n0"),
      sum(col("v").cast("decimal(28,14)")).as("s1_0"),
      sum((col("v") * col("v")).cast("decimal(38,10)")).as("s2_0"),
      sum(when(col("l1").isNotNull, 1L).otherwise(0L)).as("n1"),
      sum(when(col("l1").isNotNull, d1.cast("decimal(28,14)"))).as("s1_1"),
      sum(when(col("l1").isNotNull, (d1 * d1).cast("decimal(38,10)")))
        .as("s2_1"),
      sum(when(col("l2").isNotNull, 1L).otherwise(0L)).as("n2"),
      sum(when(col("l2").isNotNull, d2.cast("decimal(28,14)"))).as("s1_2"),
      sum(when(col("l2").isNotNull, (d2 * d2).cast("decimal(38,10)")))
        .as("s2_2"))
    def popVar(n: Column, s1: Column, s2: Column): Column = {
      val nD = n.cast("double")
      (nD * s2.cast("double") - s1.cast("double") * s1.cast("double")) /
        (nD * nD)
    }
    val v0 = popVar(col("n0"), col("s1_0"), col("s2_0"))
    val v1 = popVar(col("n1"), col("s1_1"), col("s2_1"))
    val v2 = popVar(col("n2"), col("s1_2"), col("s2_2"))
    val mob = when(col("n1") > 0L && v0 > 0.0, sqrt(greatest(v1 / v0,
      lit(0.0))))
    agg.filter(col("n0") > 0L)
      .select(keys :+ col("n0").as("n_samples") :+ v0.as("activity") :+
        mob.as("mobility") :+
        when(col("n2") > 0L && v1 > 0.0 && mob > 0.0,
          sqrt(greatest(v2 / v1, lit(0.0))) / mob).as("complexity"): _*)
  }

  /** Q260 — Mann–Kendall monotone-trend test on the beat-force
    * series: S = Σ_{i<j} sign(fⱼ − fᵢ), tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18, and the
    * continuity-corrected z — the NONPARAMETRIC complement of the
    * baseline-rundown OLS drift audit (q151 family): OLS asks "what
    * slope", Mann–Kendall asks "is the decline monotone at all"
    * without assuming linearity or Gaussian noise. Kendall's tau =
    * S / (n(n−1)/2) reported alongside.
    *
    * Exactness: S and the tie term are integers off sign
    * comparisons of bitwise-identical pinned-double forces; Var and
    * z are single pinned finishes. Scale: the per-channel pair
    * self-join is equi-keyed on channel and bounded by BEATS PER
    * RECORDING squared (the q246/q254 discipline), never corpus
    * size; the tie table is a per-channel grouped aggregate.
    */
  def mannKendall(metricsDf: DataFrame): DataFrame = {
    val f = metricsDf.filter(col("force").isNotNull)
      .select(keys :+ col("peak_idx") :+ col("force"): _*)
    val a = f.select(keys :+ col("peak_idx").as("ka") :+
      col("force").as("fa"): _*)
    val b = f.select(keys :+ col("peak_idx").as("kb") :+
      col("force").as("fb"): _*)
    val s = a.join(b, keyCols).filter(col("ka") < col("kb"))
      .groupBy(keys: _*)
      .agg(sum(when(col("fb") > col("fa"), 1L)
        .when(col("fb") < col("fa"), -1L).otherwise(0L)).as("s"))
    val ties = f.groupBy(keys :+ col("force"): _*)
      .agg(count(lit(1)).as("t"))
      .groupBy(keys: _*)
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
        .as("tie_term"))
    val n = f.groupBy(keys: _*).agg(count(lit(1)).as("n"))
    val nD = col("n").cast("double")
    val varS = (nD * (nD - 1.0) * (lit(2.0) * nD + 5.0) -
      col("tie_term").cast("double")) / lit(18.0)
    val sD = col("s").cast("double")
    n.join(s, keyCols).join(ties, keyCols)
      .filter(col("n") >= 3L)
      .select(keys :+ col("n").as("n_beats") :+ col("s") :+
        varS.as("var_s") :+
        when(varS > 0.0,
          when(col("s") > 0L, (sD - 1.0) / sqrt(varS))
            .when(col("s") < 0L, (sD + 1.0) / sqrt(varS))
            .otherwise(lit(0.0))).as("z") :+
        (sD / (nD * (nD - 1.0) / 2.0)).as("tau"): _*)
  }

  /** Q261 — Shannon entropy of the binned RR histogram: H =
    * −Σ_b p_b ln p_b over bins of width `binWidth` samples (8 =
    * 80 ms at 100 Hz, the q248 triangular-index binning), plus the
    * occupancy-normalized H/ln(#bins) — the distributional
    * complement of SDNN (same histogram, but sensitive to
    * multimodality: a bimodal alternans histogram and a uniform
    * jitter histogram with equal SDNN separate here).
    *
    * Exactness: bin ids and counts are integers (binWidth is a
    * power of two, so the float division is exact); each p·ln p
    * term is quantized to DECIMAL before the over-bins sum (the
    * q254 ln discipline); H and the normalization are pinned
    * finishes. Scale: two map-side-combinable aggregates
    * (channel,bin) → (channel); the histogram is bounded by the
    * RR range, not the corpus.
    */
  def rrEntropy(peaks: DataFrame, binWidth: Int = 8): DataFrame = {
    require((binWidth & (binWidth - 1)) == 0, "binWidth must be 2^k")
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
    val binned = rr.withColumn("bin",
      floor(col("d") / lit(binWidth.toDouble)).cast("long"))
    val counts = binned.groupBy(keys :+ col("bin"): _*)
      .agg(count(lit(1)).as("c"))
    val withN = counts.withColumn("n",
      sum(col("c")).over(Window.partitionBy(keys: _*)))
    val p = col("c").cast("double") / col("n").cast("double")
    val agg = withN
      .withColumn("term", (p * log(p)).cast("decimal(28,14)"))
      .groupBy(keys: _*)
      .agg(max(col("n")).as("n_rr"), count(lit(1)).as("n_bins"),
        sum(col("term")).as("st"))
    val h = -col("st").cast("double")
    agg.select(keys :+ col("n_rr") :+ col("n_bins") :+
      h.as("entropy_nats") :+
      when(col("n_bins") > 1L,
        h / log(col("n_bins").cast("double"))).as("entropy_norm"): _*)
  }

  /** Q262 — Porta symbolic dynamics of the RR series: quantize RR
    * into 6 equal-width levels over the channel's [min,max], slide
    * a 3-symbol word, and report the share of 0V (no variation),
    * 1V (one change), 2LV (two like changes), 2UV (two unlike
    * changes) words — the coarse-grained determinism screen that
    * separates sympathetic (0V-heavy) from vagal (2V-heavy) rhythm
    * signatures, and a paced train (0V ≈ 100%) from jitter.
    *
    * Exactness: the level is FULLY INTEGER — s = ((d−min)·6) div
    * (max−min+1) ∈ [0,5] exactly (documented variant: half-open
    * integer bins; max==min ⇒ all level 0) — so words, change
    * counts, and class tallies are integer in both engines;
    * percentages are pinned divisions. Scale: one channel-stat
    * broadcast (min/max), one ordered window pass, one aggregate.
    */
  def symbolicDynamics(peaks: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
    val st = rr.groupBy(keys: _*)
      .agg(min(col("d")).as("mn"), max(col("d")).as("mx"))
    val lvl = rr.join(broadcast(st), keyCols)
      .withColumn("s", when(col("mx") === col("mn"), lit(0L))
        .otherwise(expr("((d - mn) * 6) div (mx - mn + 1)")))
      .withColumn("s1", lead(col("s"), 1).over(w))
      .withColumn("s2", lead(col("s"), 2).over(w))
      .filter(col("s1").isNotNull && col("s2").isNotNull)
    val c1 = col("s1") =!= col("s")
    val c2 = col("s2") =!= col("s1")
    val cls = lvl.withColumn("cls",
      when(!c1 && !c2, lit("0V"))
        .when(c1 && c2,
          when((col("s1") > col("s") && col("s2") > col("s1")) ||
            (col("s1") < col("s") && col("s2") < col("s1")), lit("2LV"))
            .otherwise(lit("2UV")))
        .otherwise(lit("1V")))
    val agg = cls.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("cls") === "0V", 1L).otherwise(0L)).as("c0v"),
        sum(when(col("cls") === "1V", 1L).otherwise(0L)).as("c1v"),
        sum(when(col("cls") === "2LV", 1L).otherwise(0L)).as("c2lv"),
        sum(when(col("cls") === "2UV", 1L).otherwise(0L)).as("c2uv"))
    val nD = col("n_words").cast("double")
    agg.select(keys :+ col("n_words") :+
      (col("c0v").cast("double") / nD * 100.0).as("pct_0v") :+
      (col("c1v").cast("double") / nD * 100.0).as("pct_1v") :+
      (col("c2lv").cast("double") / nD * 100.0).as("pct_2lv") :+
      (col("c2uv").cast("double") / nD * 100.0).as("pct_2uv"): _*)
  }

  /** Q263 — phase-rectified signal averaging (Bauer): deceleration
    * capacity DC = [x̄(0) + x̄(1) − x̄(−1) − x̄(−2)]/4 averaged over
    * anchors where RRᵢ > RRᵢ₋₁, and the mirrored acceleration
    * capacity over RRᵢ < RRᵢ₋₁ anchors — the phase-coherent
    * average that survives noise an ordinary ensemble average
    * drowns in; anchors need a complete (−2..+1) neighborhood
    * (documented edge rule).
    *
    * Exactness: RR offsets are integers, so the anchor sums are
    * INTEGER-EXACT; DC/AC are single pinned divisions. Scale: one
    * ordered window pass (lags 1–2, lead 1 share the sort), one
    * map-side-combinable aggregate per channel with both anchor
    * classes as conditional sums.
    */
  def prsa(peaks: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
    val nb = rr
      .withColumn("dm1", lag(col("d"), 1).over(w))
      .withColumn("dm2", lag(col("d"), 2).over(w))
      .withColumn("dp1", lead(col("d"), 1).over(w))
      .filter(col("dm1").isNotNull && col("dm2").isNotNull &&
        col("dp1").isNotNull)
    val quad = col("d") + col("dp1") - col("dm1") - col("dm2")
    val dec = col("d") > col("dm1")
    val acc = col("d") < col("dm1")
    val agg = nb.groupBy(keys: _*).agg(
      sum(when(dec, 1L).otherwise(0L)).as("n_dec"),
      sum(when(dec, quad).otherwise(0L)).as("s_dec"),
      sum(when(acc, 1L).otherwise(0L)).as("n_acc"),
      sum(when(acc, quad).otherwise(0L)).as("s_acc"))
    agg.filter(col("n_dec") > 0L || col("n_acc") > 0L)
      .select(keys :+ col("n_dec") :+
        when(col("n_dec") > 0L, col("s_dec").cast("double") /
          (lit(4.0) * col("n_dec").cast("double"))).as("dc") :+
        col("n_acc") :+
        when(col("n_acc") > 0L, col("s_acc").cast("double") /
          (lit(4.0) * col("n_acc").cast("double"))).as("ac"): _*)
  }

  /** Q264 — Higuchi fractal dimension of the smoothed trace: for
    * each delay k ∈ {1,2,4,8} and phase m ∈ [0,k), the normalized
    * curve length L_m(k) = (Σᵢ|y(m+ik) − y(m+(i−1)k)|) · (N−1) /
    * (n_d·k²) with n_d the realized diff count (documented
    * normalization variant), L(k) = mean over phases, and FD =
    * −slope of the ln L(k) vs ln k OLS — the roughness exponent
    * that complements q249's DFA (DFA measures correlation decay
    * of the integrated series; Higuchi measures the raw curve's
    * space-filling). FD → 1 for a smooth paced train, → 2 for
    * noise.
    *
    * Exactness: positions/phases are integers off a dense
    * row_number; |diff|s are pinned doubles quantized to DECIMAL
    * before the (channel,k,m) sums; L_m and each OLS term are
    * quantized before their (≤k-term, 4-point) sums; slope is one
    * pinned finish. Scale: one ordered window pass per channel
    * (the four lag columns share the sort), a 4-way literal stack
    * (no join), then map-side-combinable aggregates — the OLS is
    * over 4 rows per channel.
    */
  def higuchiFd(smoothed: DataFrame,
                ks: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("sample_idx"))
    val base = smoothed.filter(col("y_smooth").isNotNull)
      .select(keys :+ col("sample_idx") :+ col("y_smooth").as("v"): _*)
      .withColumn("p", row_number().over(w).cast("long") - 1L)
      .withColumn("nn", count(lit(1)).over(Window.partitionBy(keys: _*)))
    val lagged = ks.foldLeft(base) { (df, k) =>
      df.withColumn(s"lk$k", lag(col("v"), k).over(w))
    }
    val stackExpr = "stack(" + ks.size + ", " +
      ks.map(k => s"CAST($k AS BIGINT), lk$k").mkString(", ") +
      ") AS (k, vprev)"
    val diffs = lagged.select(keys :+ col("p") :+ col("nn") :+ col("v") :+
      expr(stackExpr): _*)
      .filter(col("vprev").isNotNull)
      .withColumn("m", pmod(col("p"), col("k")))
      .withColumn("ad", abs(col("v") - col("vprev"))
        .cast("decimal(38,10)"))
    val perPhase = diffs.groupBy(keys :+ col("k") :+ col("m"): _*)
      .agg(count(lit(1)).as("n_d"), sum(col("ad")).as("sad"),
        max(col("nn")).as("nn"))
    val lm = (col("sad").cast("double") *
      (col("nn") - 1L).cast("double") /
      (col("n_d").cast("double") * col("k").cast("double") *
        col("k").cast("double"))).cast("decimal(28,10)")
    val perK = perPhase.select(keys :+ col("k") :+ lm.as("lm"): _*)
      .groupBy(keys :+ col("k"): _*)
      .agg(count(lit(1)).as("n_phase"), sum(col("lm")).as("slm"))
    val lk = col("slm").cast("double") / col("n_phase").cast("double")
    val pts = perK.filter(lk > 0.0)
      .select(keys :+ log(col("k").cast("double"))
        .cast("decimal(28,14)").as("u") :+
        log(lk).cast("decimal(28,14)").as("v"): _*)
    val (uD, vD) = (col("u").cast("double"), col("v").cast("double"))
    val ols = pts.groupBy(keys: _*)
      .agg(count(lit(1)).as("np"), sum(col("u")).as("su"),
        sum(col("v")).as("sv"),
        sum((uD * vD).cast("decimal(38,10)")).as("suv"),
        sum((uD * uD).cast("decimal(38,10)")).as("suu"))
    val npD = col("np").cast("double")
    val den = npD * col("suu").cast("double") -
      col("su").cast("double") * col("su").cast("double")
    ols.filter(col("np") >= 2L)
      .select(keys :+ col("np").as("n_scales") :+
        when(den =!= 0.0,
          -(npD * col("suv").cast("double") -
            col("su").cast("double") * col("sv").cast("double")) / den)
          .as("fd"): _*)
  }

  /** Q265 — recurrence quantification analysis of the RR return
    * map: embed the RR series in m=2 delay space, mark pairs within
    * Chebyshev radius r = 0.2·SD(RR) (the Q246 threshold) as
    * recurrent, and quantify their GEOMETRY: recurrence rate
    * (upper-triangle matrix density), determinism (share of
    * recurrent points on diagonal lines ≥ `lMin` — deterministic
    * dynamics revisit whole trajectory segments, noise revisits
    * isolated points), mean and max diagonal line length. SampEn
    * (Q246) counts matches; RQA reads their structure — a paced
    * train and white jitter can match-count alike yet sit at
    * opposite DET extremes.
    *
    * Exactness: RR offsets are integers so the Chebyshev distance
    * is INTEGER, compared once against the pinned double r (the
    * Q246 discipline); diagonals, run ids, line lengths, and every
    * count stay integer; rates are pinned divisions. Scale: the
    * pair fan-out is channel-equi-keyed and bounded by
    * beats-per-recording² (the Q246 bound, never corpus size); line
    * segmentation is one (channel, diagonal)-partitioned window
    * pass over recurrent pairs only — the sparse matrix, not the
    * full one.
    */
  def rqa(peaks: DataFrame, rFrac: Double = 0.2,
          lMin: Int = 2): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
      .withColumn("k", row_number().over(w) - lit(1))
      .withColumn("d1", lead(col("d"), 1).over(w))
    val st = rr.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s1"),
        sum(col("d") * col("d")).as("s2"),
        sum(when(col("d1").isNotNull, 1L).otherwise(0L)).as("n_vec"))
    val nD = col("n").cast("double")
    val rThr = (lit(rFrac) *
      (sqrt(greatest(nD * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double"),
        lit(0.0))) / nD)).as("r_thresh")
    val emb = rr.filter(col("d1").isNotNull)
    val a = emb.select(keys :+ col("k").as("ka") :+ col("d").as("da") :+
      col("d1").as("da1"): _*)
    val b = emb.select(keys :+ col("k").as("kb") :+ col("d").as("db") :+
      col("d1").as("db1"): _*)
    val rec = a.join(b, keyCols).filter(col("ka") < col("kb"))
      .join(st.select(keys :+ rThr: _*), keyCols)
      .filter(greatest(abs(col("da") - col("db")),
        abs(col("da1") - col("db1"))).cast("double") <= col("r_thresh"))
      .select(keys :+ col("ka") :+ (col("kb") - col("ka")).as("diag"): _*)
    val wd = Window.partitionBy(keys :+ col("diag"): _*).orderBy(col("ka"))
    val lines = rec
      .withColumn("run", col("ka") - row_number().over(wd))
      .groupBy(keys :+ col("diag") :+ col("run"): _*)
      .agg(count(lit(1)).as("len"))
    val lstats = lines.groupBy(keys: _*)
      .agg(sum(col("len")).as("rp"),
        sum(when(col("len") >= lit(lMin.toLong), col("len"))
          .otherwise(lit(0L))).as("det_points"),
        sum(when(col("len") >= lit(lMin.toLong), 1L).otherwise(0L))
          .as("n_lines"),
        max(col("len")).as("ml"))
    val nv = col("n_vec").cast("double")
    st.select(keys :+ col("n_vec") :+ rThr: _*)
      .join(lstats, keyCols, "left")
      .select(keys :+ col("n_vec") :+ col("r_thresh") :+
        coalesce(col("rp"), lit(0L)).as("rec_pairs") :+
        when(col("n_vec") >= 2L,
          lit(2.0) * coalesce(col("rp"), lit(0L)).cast("double") /
            (nv * (nv - lit(1.0)))).as("rec_rate") :+
        when(coalesce(col("rp"), lit(0L)) > 0L,
          col("det_points").cast("double") / col("rp").cast("double"))
          .as("determinism") :+
        when(coalesce(col("n_lines"), lit(0L)) > 0L,
          col("det_points").cast("double") / col("n_lines").cast("double"))
          .as("mean_line") :+
        coalesce(col("ml"), lit(0L)).as("max_line"): _*)
  }

  /** Q266 — spectral edge and median frequency of the RR
    * periodogram: the cumulative one-sided spectrum of the demeaned
    * beat-indexed RR series read at its 50% (median frequency) and
    * `edgeFrac` (spectral edge) crossings — the two-number "where
    * does the variance live" summary that tracks a spectral shift
    * without committing to Q238's fixed LF/HF boundaries, and the
    * cheap screen that decides which recordings earn the banded
    * analysis at 100 TB.
    *
    * Exactness: per-bin projections and powers are decimal-quantized
    * with the Q238 Nyquist factor; the cumulative sum is a DECIMAL
    * window sum (exact under DuckDB's segment-tree order); the
    * crossing thresholds are single pinned products of the decimal
    * total. Scale: the Q238 bin fan-out — parallel over samples and
    * bins, one aggregate, then one ordered window per channel over
    * ≤ n/2 bin rows.
    */
  def spectralEdge(peaks: DataFrame, sampleRateHz: Double = 100.0,
                   edgeFrac: Double = 0.95): DataFrame = {
    val rr0 = rrIntervals(peaks)
    val w = Window.partitionBy(keys: _*).orderBy(col("ord"))
    val rr = rr0.withColumn("k", row_number().over(w) - lit(1))
    val ch = rr.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s1"))
    val rate = lit(sampleRateHz)
    val bins = ch.filter(col("n") >= 2L)
      .select(keys :+ col("n") :+ col("s1") :+
        explode(sequence(lit(1L),
          floor(col("n") / lit(2L)).cast("long"))).as("j"): _*)
    val joined = rr.join(
      bins.select(keys :+ col("j") :+ col("n") :+ col("s1"): _*), keyCols)
    val xv = (col("d").cast("double") -
      col("s1").cast("double") / col("n").cast("double")) / rate
    val theta = lit(2.0 * math.Pi) * col("j").cast("double") *
      col("k").cast("double") / col("n").cast("double")
    val perBin = joined
      .groupBy(keys :+ col("j") :+ col("n") :+ col("s1"): _*)
      .agg(sum((xv * cos(theta)).cast("decimal(28,14)")).as("a"),
        sum((xv * sin(theta)).cast("decimal(28,14)")).as("b"))
    val oneSided = when(col("j") * lit(2L) === col("n"), lit(1.0))
      .otherwise(lit(2.0))
    val pnorm = (oneSided *
      (col("a").cast("double") * col("a").cast("double") +
        col("b").cast("double") * col("b").cast("double")) /
      (col("n").cast("double") * col("n").cast("double")))
      .cast("decimal(28,14)")
    val wj = Window.partitionBy(keys: _*).orderBy(col("j"))
    val wAll = Window.partitionBy(keys: _*)
    val withCum = perBin
      .select(keys :+ col("j") :+ col("n") :+ col("s1") :+
        pnorm.as("p"): _*)
      .withColumn("cum", sum(col("p")).over(wj))
      .withColumn("tot", sum(col("p")).over(wAll))
    val f = col("j").cast("double") * rate / col("s1").cast("double")
    val cumD = col("cum").cast("double")
    val totD = col("tot").cast("double")
    withCum.groupBy(keys: _*)
      .agg(max(col("n")).as("n_rr"),
        max(col("tot")).cast("double").as("total_power_s2"),
        min(when(cumD >= lit(0.5) * totD, f)).as("median_freq_hz"),
        min(when(cumD >= lit(edgeFrac) * totD, f)).as("sef_hz"))
  }

  /** Q267 — TINN (triangular interpolation of the NN histogram):
    * the base width of the least-squares best triangle fitted to
    * the binned RR histogram (Q261's power-of-two bins), the
    * geometric HRV measure that ignores outlier beats a raw
    * min–max range would swallow; reported with the modal bin and
    * the winning (m, n) feet. Complements Q248's HTI (height ratio)
    * with the WIDTH of the same histogram.
    *
    * Exactness: bins and counts are integer (power-of-two float
    * division is exact); each squared residual against the rational
    * triangle height is decimal-quantized before the per-candidate
    * sum, so the argmin scans EXACT decimal SSEs with an integer
    * tie-break (narrowest base, then smallest m — pinned). Scale:
    * the candidate grid is bounded by the HISTOGRAM width (≤ a few
    * hundred physiological bins — a constant, never corpus size),
    * so the per-channel fan-out is O(bins²) tiny rows against an
    * O(bins) dense histogram; everything is channel-equi-keyed.
    */
  def tinn(peaks: DataFrame, binWidth: Int = 8,
           sampleRateHz: Double = 100.0): DataFrame = {
    require((binWidth & (binWidth - 1)) == 0, "binWidth must be 2^k")
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
    val hist = rr.withColumn("b",
      floor(col("d") / lit(binWidth.toDouble)).cast("long"))
      .groupBy(keys :+ col("b"): _*)
      .agg(count(lit(1)).as("c"))
    val chst = hist.groupBy(keys: _*)
      .agg(sum(col("c")).as("n_rr"), min(col("b")).as("minb"),
        max(col("b")).as("maxb"),
        max(struct(col("c"), (-col("b")).as("nb"))).as("best"))
      .select(keys :+ col("n_rr") :+ col("minb") :+ col("maxb") :+
        (-col("best.nb")).as("peakb") :+ col("best.c").as("peakc"): _*)
    val dense = chst
      .select(keys :+ explode(sequence(col("minb"), col("maxb"))).as("b"): _*)
      .join(hist, keyCols :+ "b", "left")
      .select(keys :+ col("b") :+ coalesce(col("c"), lit(0L)).as("cb"): _*)
    val cand = chst
      .select(keys :+ col("peakb") :+ col("peakc") :+ col("maxb") :+
        explode(sequence(col("minb") - lit(1L), col("peakb") - lit(1L)))
          .as("m"): _*)
      .select(keys :+ col("peakb") :+ col("peakc") :+ col("m") :+
        explode(sequence(col("peakb") + lit(1L), col("maxb") + lit(1L)))
          .as("nn"): _*)
    val dD = col("peakc").cast("double")
    val tri = when(col("b") > col("m") && col("b") <= col("peakb"),
        dD * (col("b") - col("m")).cast("double") /
          (col("peakb") - col("m")).cast("double"))
      .when(col("b") > col("peakb") && col("b") < col("nn"),
        dD * (col("nn") - col("b")).cast("double") /
          (col("nn") - col("peakb")).cast("double"))
      .otherwise(lit(0.0))
    val err = col("cb").cast("double") - tri
    val sse = cand.join(dense, keyCols)
      .select(keys :+ col("m") :+ col("nn") :+
        (err * err).cast("decimal(38,10)").as("e2"): _*)
      .groupBy(keys :+ col("m") :+ col("nn"): _*)
      .agg(sum(col("e2")).as("sse"))
    val wr = Window.partitionBy(keys: _*)
      .orderBy(col("sse").asc, (col("nn") - col("m")).asc, col("m").asc)
    val bestFit = sse.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
    chst.join(bestFit, keyCols)
      .select(keys :+ col("n_rr") :+ col("peakb").as("modal_bin") :+
        col("peakc").as("modal_count") :+ col("m").as("m_bin") :+
        col("nn").as("n_bin") :+ col("sse").cast("double").as("sse") :+
        ((col("nn") - col("m")).cast("double") * lit(binWidth.toDouble) /
          lit(sampleRateHz)).as("tinn_s"): _*)
  }

  /** Q268 — mutual information of the RR return map: quantize RR
    * to Q262's fully-integer 6 levels, histogram consecutive pairs
    * (RRᵢ, RRᵢ₊₁), and report I(X;Y) in nats plus the marginal
    * entropy and the uncertainty coefficient I/H(X) — the
    * model-free dependence measure that catches the nonlinear
    * beat-to-beat coupling a linear autocorrelation (Q256) scores
    * as zero. A paced train concentrates mass on the diagonal cell
    * (high I/H); shuffled jitter factorizes (I ≈ 0).
    *
    * Exactness: levels, joint and marginal counts are INTEGER (the
    * Q262 quantizer); each p·ln term is decimal-quantized before
    * its ≤ 36-cell sum (the Q261 discipline); ln of integer ratios
    * agrees cross-engine at the compare precision. Scale: one
    * channel-stat broadcast, one ordered window pass, then window
    * sums over the TINY joint table (≤ 36 cells per channel).
    */
  def rrMutualInfo(peaks: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
    val st = rr.groupBy(keys: _*)
      .agg(min(col("d")).as("mn"), max(col("d")).as("mx"))
    val lvl = rr.join(broadcast(st), keyCols)
      .withColumn("s", when(col("mx") === col("mn"), lit(0L))
        .otherwise(expr("((d - mn) * 6) div (mx - mn + 1)")))
      .withColumn("s1", lead(col("s"), 1).over(w))
      .filter(col("s1").isNotNull)
    val joint = lvl.groupBy(keys :+ col("s") :+ col("s1"): _*)
      .agg(count(lit(1)).as("nxy"))
    val wAll = Window.partitionBy(keys: _*)
    val wx = Window.partitionBy(keys :+ col("s"): _*)
    val wy = Window.partitionBy(keys :+ col("s1"): _*)
    val withM = joint
      .withColumn("ntot", sum(col("nxy")).over(wAll))
      .withColumn("nx", sum(col("nxy")).over(wx))
      .withColumn("ny", sum(col("nxy")).over(wy))
    val nD = col("ntot").cast("double")
    val term = ((col("nxy").cast("double") / nD) *
      log(nD * col("nxy").cast("double") /
        (col("nx").cast("double") * col("ny").cast("double"))))
      .cast("decimal(28,14)")
    val agg = withM.withColumn("t", term)
      .groupBy(keys: _*)
      .agg(max(col("ntot")).as("n_pairs"), count(lit(1)).as("n_cells"),
        sum(col("t")).as("smi"))
    val px = col("nx").cast("double") / col("ntot").cast("double")
    val hx = withM
      .select(keys :+ col("s") :+ col("nx") :+ col("ntot"): _*)
      .distinct()
      .withColumn("t", (px * log(px)).cast("decimal(28,14)"))
      .groupBy(keys: _*)
      .agg(sum(col("t")).as("shx"))
    agg.join(hx, keyCols)
      .select(keys :+ col("n_pairs") :+ col("n_cells") :+
        col("smi").cast("double").as("mi_nats") :+
        (-col("shx").cast("double")).as("hx_nats") :+
        when(col("shx").cast("double") < 0.0,
          col("smi").cast("double") / -col("shx").cast("double"))
          .as("mi_norm"): _*)
  }

  /** Q269 — RR tachogram stationarity split: Welch's unequal-variance
    * t between the FIRST- and SECOND-half RR means of each channel —
    * the direct test of the stationarity assumption every summary HRV
    * statistic (Q229's SDNN, Q261's entropy) silently makes, which
    * Q233 (baseline drift) and Q260 (Mann–Kendall on force) imply but
    * never test on the BEAT TRAIN itself. A drifting pacing rate shows
    * up as |t| ≫ 0 long before the drift is visible in any pooled
    * moment. Split point: RR index i ≤ ⌊n/2⌋ (the odd middle interval
    * goes to the second half — pinned).
    *
    * Exactness: RR intervals are INTEGERS, so each half's (n, Σd, Σd²)
    * is an exact BIGINT triple — no float enters until the single
    * pinned double finish (mean/variance/t/Welch–Satterthwaite dof,
    * association mirrored token-for-token by the oracle; q174's
    * discipline). Zero pooled variance or a half with n < 2 yields
    * null via nullif guards, never an Inf/NaN divergence between
    * engines. Scale: one ordered window pass over the beat table and
    * one channel-keyed aggregate — beats-per-channel bounded, no
    * joins, no data-sized shuffle.
    */
  def rrStationaritySplit(peaks: DataFrame,
                          sampleRateHz: Double = 100.0): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
      .withColumn("i", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(keys: _*)))
    val arms = rr
      .withColumn("h", when(col("i") * 2 <= col("n"), 0).otherwise(1))
      .groupBy(keys :+ col("h"): _*)
      .agg(count(lit(1)).as("cn"), sum(col("d")).as("sx"),
        sum(col("d") * col("d")).as("sxx"))
    val a = arms.filter(col("h") === 0).select(keys :+
      col("cn").as("n_a") :+ col("sx").as("sx_a") :+ col("sxx").as("sxx_a"): _*)
    val b = arms.filter(col("h") === 1).select(keys :+
      col("cn").as("n_b") :+ col("sx").as("sx_b") :+ col("sxx").as("sxx_b"): _*)
    def meanOf(sfx: String): Column =
      col(s"sx_$sfx").cast("double") / col(s"n_$sfx").cast("double")
    def varOf(sfx: String): Column =
      (col(s"sxx_$sfx").cast("double") -
        col(s"sx_$sfx").cast("double") * col(s"sx_$sfx").cast("double") /
          col(s"n_$sfx").cast("double")) /
        nullif(col(s"n_$sfx") - 1L, lit(0L)).cast("double")
    val j = a.join(b, keyCols)
      .withColumn("mean_a", meanOf("a")).withColumn("mean_b", meanOf("b"))
      .withColumn("var_a", varOf("a")).withColumn("var_b", varOf("b"))
      .withColumn("se2",
        col("var_a") / col("n_a").cast("double") +
          col("var_b") / col("n_b").cast("double"))
    val rate = lit(sampleRateHz)
    j.select(keys :+ (col("n_a") + col("n_b")).as("n_rr") :+
      col("n_a") :+ col("n_b") :+
      (col("mean_a") / rate).as("mean_a_s") :+
      (col("mean_b") / rate).as("mean_b_s") :+
      ((col("mean_a") - col("mean_b")) /
        nullif(sqrt(col("se2")), lit(0.0))).as("t_stat") :+
      ((col("se2") * col("se2")) /
        nullif(
          (col("var_a") / col("n_a").cast("double")) *
            (col("var_a") / col("n_a").cast("double")) /
            nullif(col("n_a") - 1L, lit(0L)).cast("double") +
          (col("var_b") / col("n_b").cast("double")) *
            (col("var_b") / col("n_b").cast("double")) /
            nullif(col("n_b") - 1L, lit(0L)).cast("double"),
          lit(0.0))).as("dof"): _*)
  }

  /** Q270 — beat-cluster morphology classes: per-channel 2-means over
    * the Q236 fixed-lag beat windows (Lloyd, 2 synchronous iterations,
    * init = the channel's first two complete beats in peak order) —
    * the ectopic-vs-normal split every beat pipeline runs, collapsed
    * to the per-channel audit row a curation pass acts on: majority /
    * minority class sizes, the minority share, and the L2 separation
    * of the two final centroids (≈ 0 separation ⇒ the channel has ONE
    * morphology and the "classes" are noise; large separation + a
    * small minority ⇒ real ectopy). Q236 scores each beat against ONE
    * template; this is the complementary unsupervised axis — two
    * templates and the membership split between them.
    *
    * Exactness: assignment distances are Σ of per-sample squared
    * residuals each quantized to DECIMAL(28,10) BEFORE the sum
    * (combine-order-free), compared as exact decimals with a cid
    * tie-break — the argmin can never flip on association order.
    * Centroid means are exact-decimal sums over exact counts with one
    * double rounding, mirrored token-for-token by the oracle; the
    * majority/minority relabel orders by (count desc, cid asc) —
    * integer, engine-exact. Scale: the k=2 centroid table is
    * channels×2×window rows, joined CHANNEL-equi-keyed (never
    * broadcast — channels grow with the corpus, Q236's rule); every
    * window partition is beat- or channel-bounded; the corpus-sized
    * exchange is keyed by (channel, off) / (channel, beat) throughout.
    * Fixed iters ⇒ bounded cost (the q79/q110 unrolled discipline).
    */
  def beatMorphClasses(enriched: DataFrame, peaks: DataFrame,
                       before: Int = 20, after: Int = 40,
                       iters: Int = 2): DataFrame = {
    val winc = beatWindows(enriched, peaks, before, after)
      .select(keys :+ col("peak_idx") :+ col("off") :+ col("y_smooth"): _*)
      .localCheckpoint()
    // init: the channel's first two complete beats, cid ∈ {0, 1}
    val wch = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val firstTwo = winc.select(keys :+ col("peak_idx"): _*).distinct()
      .withColumn("rk", row_number().over(wch))
      .filter(col("rk") <= 2)
      .select(keys :+ col("peak_idx") :+ (col("rk") - 1).as("cid"): _*)
    val c0 = winc.join(firstTwo, keyCols :+ "peak_idx")
      .select(keys :+ col("cid") :+ col("off") :+
        col("y_smooth").as("ce"): _*)
    // one Lloyd step: channel-keyed assignment on exact-decimal
    // distances, then per-(channel, cid, off) decimal-mean centroids
    def assign(cent: DataFrame): DataFrame = {
      val d2 = (col("y_smooth") - col("ce")) * (col("y_smooth") - col("ce"))
      val wAssign = Window.partitionBy(keys :+ col("peak_idx"): _*)
        .orderBy(col("d"), col("cid"))
      winc.join(cent, keyCols :+ "off")
        .groupBy(keys :+ col("peak_idx") :+ col("cid"): _*)
        .agg(sum(d2.cast("decimal(28,10)")).as("d"))
        .withColumn("rk", row_number().over(wAssign))
        .filter(col("rk") === 1)
        .select(keys :+ col("peak_idx") :+ col("cid"): _*)
    }
    def recompute(assigned: DataFrame): DataFrame =
      winc.join(assigned, keyCols :+ "peak_idx")
        .groupBy(keys :+ col("cid") :+ col("off"): _*)
        .agg((sum(col("y_smooth").cast("decimal(28,14)")).cast("double") /
          count(lit(1)).cast("double")).as("ce"))
    val cent = (1 until iters).foldLeft(c0)((c, _) => recompute(assign(c)))
    val sizes = assign(cent)
      .groupBy(keys :+ col("cid"): _*)
      .agg(count(lit(1)).as("cn"))
    val wSize = Window.partitionBy(keys: _*)
      .orderBy(col("cn").desc, col("cid"))
    val split = sizes.withColumn("rk", row_number().over(wSize))
      .groupBy(keys: _*)
      .agg(sum(col("cn")).as("n_beats"),
        max(when(col("rk") === 1, col("cn"))).as("n_major"),
        coalesce(max(when(col("rk") === 2, col("cn"))), lit(0L))
          .as("n_minor"))
    // centroid separation: pair the two final centroids per (off),
    // decimal-quantized squared gap, one sqrt finish
    val gap = cent.filter(col("cid") === 0)
      .select(keys :+ col("off") :+ col("ce").as("ce0"): _*)
      .join(cent.filter(col("cid") === 1)
        .select(keys :+ col("off") :+ col("ce").as("ce1"): _*),
        keyCols :+ "off")
      .groupBy(keys: _*)
      .agg(sum(((col("ce0") - col("ce1")) * (col("ce0") - col("ce1")))
        .cast("decimal(28,10)")).as("g2"))
    split.join(gap, keyCols, "left")
      .select(keys :+ col("n_beats") :+ col("n_major") :+ col("n_minor") :+
        (col("n_minor").cast("double") / col("n_beats").cast("double"))
          .as("minor_share") :+
        coalesce(sqrt(col("g2").cast("double")), lit(0.0))
          .as("centroid_sep"): _*)
  }

  /** Q271 — Poincaré-plot asymmetry (Porta / Guzik indices): of the
    * (RRᵢ, RRᵢ₊₁) return-map points off the identity line, Porta's
    * index is the percentage BELOW it (accelerations) and Guzik's
    * the percentage of total distance-to-identity contributed by
    * points ABOVE it (decelerations) — the time-irreversibility
    * screen Q234's SD1/SD2 ellipse is blind to (the ellipse moments
    * are symmetric under i ↔ i+1 reversal; a relaxing preparation
    * decelerates in few large steps and accelerates in many small
    * ones, pushing PI below and GI above 50%). Point-to-identity
    * distance is |RRᵢ₊₁ − RRᵢ|/√2; the √2 cancels in GI's ratio, so
    * both indices are ratios of INTEGER sums — engine-exact up to
    * one pinned division each. A channel with no off-identity points
    * yields null (nullif), never 0/0. Scale: one ordered window pass
    * and one channel aggregate — no joins, no data-sized shuffle.
    */
  def poincareAsymmetry(peaks: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val pairs = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
      .withColumn("d1", lead(col("d"), 1).over(w))
      .filter(col("d1").isNotNull)
    val up = col("d1") > col("d")
    val dn = col("d1") < col("d")
    val ad = abs(col("d1") - col("d"))
    val agg = pairs.groupBy(keys: _*).agg(
      count(lit(1)).as("n_pairs"),
      sum(when(up, 1L).otherwise(0L)).as("n_above"),
      sum(when(dn, 1L).otherwise(0L)).as("n_below"),
      sum(when(up, ad).otherwise(0L)).as("s_above"),
      sum(ad).as("s_all"))
    agg.select(keys :+ col("n_pairs") :+ col("n_above") :+ col("n_below") :+
      (col("n_pairs") - col("n_above") - col("n_below")).as("n_on") :+
      (lit(100.0) * col("n_below").cast("double") /
        nullif(col("n_above") + col("n_below"), lit(0L)).cast("double"))
        .as("porta_pct") :+
      (lit(100.0) * col("s_above").cast("double") /
        nullif(col("s_all"), lit(0L)).cast("double")).as("guzik_pct"): _*)
  }

  /** Q272 — Katz fractal dimension of the smoothed trace:
    * FD = ln(m) / (ln(m) + ln(d/L)) with m the step count, L the
    * total curve length Σ√(1 + Δy²) over unit sample steps (the
    * documented x = sample-index convention), and d the maximum
    * euclidean distance from the FIRST point — the waveform-
    * complexity index that, unlike Q264's Higuchi slope, needs no
    * multi-scale fan-out or log–log regression: one pass, one
    * number, the cheap triage before Higuchi's 4-scale estimate.
    *
    * Exactness: each step length and each distance-from-origin is
    * ONE pinned sqrt of exact integer/double terms; step lengths are
    * quantized to DECIMAL(38,10) before the channel sum
    * (combine-order-free), d is a max (order-free by definition),
    * and the FD finish is pinned ln arithmetic with a nullif guard
    * where d = L (degenerate 2-point series) would zero the
    * denominator. Scale: one ordered window pass per channel plus
    * one map-side-combinable aggregate — recording-length bounded,
    * no joins.
    */
  def katzFd(smoothed: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("sample_idx"))
    val base = smoothed.filter(col("y_smooth").isNotNull)
      .select(keys :+ col("sample_idx") :+ col("y_smooth").as("v"): _*)
      .withColumn("i", row_number().over(w).cast("long") - 1L)
      .withColumn("v0", first(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("vp", lag(col("v"), 1).over(w))
    val step = sqrt(lit(1.0) + (col("v") - col("vp")) * (col("v") - col("vp")))
    val dist = sqrt(col("i").cast("double") * col("i").cast("double") +
      (col("v") - col("v0")) * (col("v") - col("v0")))
    val agg = base.groupBy(keys: _*).agg(
      count(lit(1)).as("n"),
      sum(when(col("vp").isNotNull, step.cast("decimal(38,10)")))
        .as("lsum"),
      max(dist).as("dmax"))
    val m = (col("n") - 1L).cast("double")
    val lD = col("lsum").cast("double")
    agg.filter(col("n") > 1L)
      .select(keys :+ col("n") :+ lD.as("l_sum") :+
        col("dmax").as("d_max") :+
        (log(m) / nullif(log(m) + log(col("dmax") / lD), lit(0.0)))
          .as("katz_fd"): _*)
  }

  /** Q273 — detrended fluctuation analysis of the RR TACHOGRAM (the
    * canonical HRV α1): Q249's estimator applied to the beat train
    * itself at the short-term scales 4/6/8 — the scaling exponent of
    * beat-to-beat correlations (α1 ≈ 0.5 white jitter, ≈ 1 for 1/f
    * pacing dynamics, ≈ 1.5 for drifting rate), which Q249's
    * trace-domain α cannot see (the 100 Hz waveform's roughness is
    * smoothing-dominated; the tachogram's is physiology). Reuses
    * [[dfa]] verbatim — same exact-decimal profile, closed-form box
    * x-moments, pinned slope — on the RR series keyed by peak
    * position; per-scale fluctuation rows plus the shared α, exactly
    * Q249's output contract. Scale: the series is beats-per-channel
    * bounded (the Q246 discipline); everything downstream inherits
    * Q249's shape.
    */
  def rrDfa(peaks: DataFrame, scales: Seq[Int] = Seq(4, 6, 8)): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
      .select(keys :+ col("peak_idx").as("sample_idx") :+
        col("d").cast("double").as("y_smooth"): _*)
    dfa(rr, scales)
  }

  /** Q274 — heart-rate turbulence (Schmidt): after each premature
    * beat (the anchor RRᵢ with 5·RRᵢ < 4·RRᵢ₋₁ and a compensatory
    * pause 5·RRᵢ₊₁ > 6·RRᵢ — the classic 0.8/1.2 gates as EXACT
    * integer comparisons), turbulence onset
    * TO = 100·[(RR₊₂+RR₊₃) − (RR₋₂+RR₋₁)]/(RR₋₂+RR₋₁) (early
    * post-pause acceleration, normally < 0) and turbulence slope
    * TS = max OLS slope over the 5-beat windows in the `postBeats`
    * post-pause RRs (the baroreflex recovery rate, normally > 2.5
    * ms/beat in humans) — the autonomic-integrity probe that needs
    * exactly the ectopy q270 classifies. Anchors require the full
    * (−2 .. +postBeats) neighborhood (documented edge rule,
    * mirrored); the classic Schmidt window is 15 post RRs, but the
    * engine defaults to the SHORT-RECORDING variant postBeats = 8
    * (3 slope windows) — a 16-beat tail would out-span these
    * preparations' trains and gate every anchor out (the parameter
    * restores the classic form on long recordings).
    *
    * Exactness: both gates and every 5-point slope NUMERATOR
    * (Σ(x−2)·y = 2y₄+y₃−y₁−2y₀ over x = 0..4) are INTEGER; TS's max
    * scans integer numerators (greatest over null-free columns)
    * and divides by 10 once; TO is one pinned ratio; the per-channel
    * means quantize each anchor's TO/TS to DECIMAL before the sum
    * (combine-order-free). Scale: all neighbors come off ONE
    * ordered window sort per channel (the q264 shared-sort
    * discipline), then one channel aggregate — no joins, no
    * data-sized shuffle, beats-per-channel bounded.
    */
  def heartRateTurbulence(peaks: DataFrame,
                          postBeats: Int = 8,
                          sampleRateHz: Double = 100.0): DataFrame = {
    // >= 7 ⇒ at least two slope windows (Spark's greatest needs 2 args)
    require(postBeats >= 7, "TS needs two 5-beat windows past dp2")
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr0 = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
    val rr = (Seq(-2, -1) ++ (1 to postBeats)).foldLeft(rr0) { (df, k) =>
      df.withColumn(s"d$k",
        (if (k < 0) lag(col("d"), -k) else lead(col("d"), k)).over(w))
    }
    def dk(k: Int): Column = col(s"d$k")
    val neighborhood = (Seq(-2, -1) ++ (1 to postBeats))
      .map(k => dk(k).isNotNull).reduce(_ && _)
    val anchor = (col("d") * 5 < dk(-1) * 4) && (dk(1) * 5 > col("d") * 6)
    // 5-point OLS slope numerators over post-pause starts 2..postBeats-4
    val slopeNums = (2 to (postBeats - 4)).map(s =>
      dk(s + 4) * 2 + dk(s + 3) - dk(s + 1) - dk(s) * 2)
    val tsNum = greatest(slopeNums: _*)
    val pre = (dk(-2) + dk(-1)).cast("double")
    val to = lit(100.0) * ((dk(2) + dk(3)).cast("double") - pre) / pre
    val anchors = rr.filter(neighborhood && anchor)
      .select(keys :+ to.cast("decimal(28,14)").as("toq") :+
        (tsNum.cast("double") / lit(10.0) / lit(sampleRateHz))
          .cast("decimal(28,14)").as("tsq"): _*)
    anchors.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_anchors"),
        (sum(col("toq")).cast("double") / count(lit(1)).cast("double"))
          .as("to_pct"),
        (sum(col("tsq")).cast("double") / count(lit(1)).cast("double"))
          .as("ts_s_per_beat"))
  }

  /** Q275 — cross-channel RR correlation matrix: for each ordered
    * channel pair (a < b) of an experiment, the Pearson correlation
    * of the two RR series ALIGNED BY BEAT INDEX — the tachogram-level
    * synchrony audit complementing q242 (sample-level trace
    * synchrony) and q252 (lagged trace xcorr): co-paced channels
    * vary their beat timing together even when their waveforms
    * differ, so high RR-correlation with low trace-synchrony flags
    * shared pacing with independent mechanics. Unequal train lengths
    * contribute only their common prefix (inner join on beat index —
    * the documented alignment rule).
    *
    * Exactness: RR values are integers, so all five Pearson moments
    * (n, Σa, Σb, Σa², Σb², Σab) are exact integer sums; r is one
    * pinned double finish with a nullif-guarded denominator (a
    * constant train nulls out, never NaN). Scale: the pair fan-out is
    * an equi-join on (experiment, beat index) — channels per
    * experiment is a hardware constant (≤ 9), so rows grow as
    * beats × channels², never corpus²; one aggregate per pair.
    */
  def rrCrossCorrelation(peaks: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
      .withColumn("i", row_number().over(w))
    val a = rr.select(col("experiment_id"), col("channel").as("cha"),
      col("i"), col("d").as("da"))
    val b = rr.select(col("experiment_id"), col("channel").as("chb"),
      col("i"), col("d").as("db"))
    val pairs = a.join(b, Seq("experiment_id", "i"))
      .filter(col("cha") < col("chb"))
    val agg = pairs.groupBy(col("experiment_id"), col("cha"), col("chb"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("da")).as("sa"), sum(col("db")).as("sb"),
        sum(col("da") * col("da")).as("saa"),
        sum(col("db") * col("db")).as("sbb"),
        sum(col("da") * col("db")).as("sab"))
    val nD = col("n_common").cast("double")
    val cov = nD * col("sab").cast("double") -
      col("sa").cast("double") * col("sb").cast("double")
    val va = nD * col("saa").cast("double") -
      col("sa").cast("double") * col("sa").cast("double")
    val vb = nD * col("sbb").cast("double") -
      col("sb").cast("double") * col("sb").cast("double")
    agg.select(col("experiment_id"), col("cha"), col("chb"),
      col("n_common"),
      (cov / nullif(sqrt(greatest(va * vb, lit(0.0))), lit(0.0))).as("rr_corr"))
  }

  /** Q276 — segmental HRV (the SDANN/SDNNI pair, beat-count
    * segments): split each channel's RR train into consecutive
    * complete `segLen`-beat segments; SDANN = the SD of the segment
    * MEANS (slow, between-segment variability — rate drift), SDNNI =
    * the mean of the segment SDs (fast, within-segment variability —
    * beat-to-beat jitter). The two-number decomposition that tells
    * drift from jitter when q229's pooled SDNN conflates them
    * (q269's Welch split tests the former; this QUANTIFIES both).
    * Incomplete tail segments are dropped (documented rule).
    *
    * Exactness: segment ids are integer divisions of a dense
    * row_number; per-segment (n, Σd, Σd²) are exact integer sums;
    * each segment mean/SD is a pinned double quantized to DECIMAL
    * before the channel-level sums (combine-order-free), and the
    * channel finishes are pinned population-variance forms with
    * nullif guards (< 2 segments ⇒ SDANN null). Scale: one window
    * pass + two nested aggregates, both map-side combinable —
    * beats-per-channel bounded, no joins.
    */
  def segmentalHrv(peaks: DataFrame, segLen: Int = 8,
                   sampleRateHz: Double = 100.0): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col("peak_idx"))
    val rr = peaks.select(keys :+ col("peak_idx"): _*)
      .withColumn("d", col("peak_idx") - lag(col("peak_idx"), 1).over(w))
      .filter(col("d").isNotNull)
      .withColumn("g", floor((row_number().over(w) - 1).cast("double") /
        lit(segLen.toDouble)).cast("long"))
    val seg = rr.groupBy(keys :+ col("g"): _*)
      .agg(count(lit(1)).as("sn"), sum(col("d")).as("s1"),
        sum(col("d") * col("d")).as("s2"))
      .filter(col("sn") === segLen)
    val snD = col("sn").cast("double")
    val segMean = col("s1").cast("double") / snD
    val segSd = sqrt(greatest(
      col("s2").cast("double") / snD - segMean * segMean, lit(0.0)))
    val perSeg = seg.select(keys :+
      segMean.cast("decimal(28,14)").as("mq") :+
      (segMean * segMean).cast("decimal(28,10)").as("mmq") :+
      segSd.cast("decimal(28,14)").as("sdq"): _*)
    val agg = perSeg.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_segments"),
        sum(col("mq")).as("sm"), sum(col("mmq")).as("smm"),
        sum(col("sdq")).as("ssd"))
    val kD = col("n_segments").cast("double")
    val rate = lit(sampleRateHz)
    agg.select(keys :+ col("n_segments") :+
      when(col("n_segments") > 1L,
        sqrt(greatest(col("smm").cast("double") / kD -
          (col("sm").cast("double") / kD) * (col("sm").cast("double") / kD),
          lit(0.0))) / rate).as("sdann_s") :+
      (col("ssd").cast("double") / kD / rate).as("sdnni_s"): _*)
  }
}
