package graft

import org.apache.spark.sql.functions._
import graft.operators.BeatMetrics

class BeatMetricsSpec extends SparkSpec {
  import spark.implicits._

  // Hand-built enriched frame: smooth crosses a flat diastolic at known
  // indices. diastolic = 10; smooth above in [4..8], peak at 6.
  private def enriched(n: Int, above: Range, dia: Double = 10.0) =
    (0 until n).map { i =>
      val y = if (above.contains(i)) 20.0 + (5 - math.abs(i - above.head - above.size / 2)) else 5.0
      ("e", 0, i.toLong, i / 100.0, y, y, Option(5.0), Option(30.0), Option(dia))
    }.toDF("experiment_id", "channel", "sample_idx", "t", "y", "y_smooth",
      "baseline", "ceiling", "diastolic")

  private def peakAt(idx: Long, v: Double) =
    Seq(("e", 0, idx, idx / 100.0, v))
      .toDF("experiment_id", "channel", "peak_idx", "t", "peak_value")

  test("interior peak: ttp/ttr measured to the state flips, duration sums") {
    val e = enriched(20, 4 to 8)
    val m = BeatMetrics.metrics(e, peakAt(6, 25.0)).collect()(0)
    // state at peak: above. nearest below on the left = idx 3 -> ttp = 3/100
    assert(m.getAs[Double]("time_to_peak") === 0.03)
    // nearest below right = idx 9 -> ttr = 3/100
    assert(m.getAs[Double]("time_to_relaxation") === 0.03)
    assert(m.getAs[Double]("duration") === 0.06)
    assert(m.getAs[Double]("force") === 20.0) // 25 - baseline 5
  }

  test("edge guard: peak at 0 and at n-2 give null ttp/ttr/duration") {
    val e = enriched(20, 0 to 3)
    for (p <- Seq(0L, 18L, 19L)) {
      val m = BeatMetrics.metrics(e, peakAt(p, 25.0)).collect()(0)
      assert(m.isNullAt(m.fieldIndex("time_to_peak")), s"ttp at $p")
      assert(m.isNullAt(m.fieldIndex("time_to_relaxation")), s"ttr at $p")
      assert(m.isNullAt(m.fieldIndex("duration")), s"duration at $p")
      assert(m.getAs[Double]("force") === 20.0) // force survives the guard
    }
  }

  test("left-edge quirk: no crossing to the left records ttp = p/rate") {
    // above-state from 0: walk exhausts at idx 0 without flip
    val e = enriched(20, 0 to 8)
    val m = BeatMetrics.metrics(e, peakAt(6, 25.0)).collect()(0)
    assert(m.getAs[Double]("time_to_peak") === 0.06)
  }

  test("ttr null when the flip happens exactly at the last sample") {
    // above until n-2, below exactly at n-1 -> exit at n-1 -> null
    val e = enriched(10, 4 to 8)
    val m = BeatMetrics.metrics(e, peakAt(6, 25.0)).collect()(0)
    assert(m.isNullAt(m.fieldIndex("time_to_relaxation")))
    assert(m.getAs[Double]("time_to_peak") === 0.03)
    assert(m.isNullAt(m.fieldIndex("duration")))
  }

  test("null diastolic region: comparisons are false, walk passes through") {
    // diastolic null everywhere: state at peak = (y>=null)=false; walk
    // left stops at first j with state true -> none -> ttp = p/rate
    val rows = (0 until 12).map { i =>
      ("e", 0, i.toLong, i / 100.0, 5.0, 5.0, Option(1.0), Option(9.0),
        None: Option[Double])
    }.toDF("experiment_id", "channel", "sample_idx", "t", "y", "y_smooth",
      "baseline", "ceiling", "diastolic")
    val m = BeatMetrics.metrics(rows, peakAt(5, 5.0)).collect()(0)
    assert(m.getAs[Double]("time_to_peak") === 0.05)
    // right walk: state never flips -> exit at n-1 -> null
    assert(m.isNullAt(m.fieldIndex("time_to_relaxation")))
  }

  test("marker points: (t, y_smooth) at the walk-exit indices, peak-derived times") {
    val e = enriched(20, 4 to 8)
    val m = BeatMetrics.metrics(e, peakAt(6, 25.0)).collect()(0)
    // ttp walk exits at idx 3 (first below-state left of the peak):
    // time = peak t - i/rate, value = y_smooth[3] = 5.0
    assert(m.getAs[Double]("ttp_t") === 0.06 - 0.03)
    assert(m.getAs[Double]("ttp_y") === 5.0)
    // ttr walk exits at idx 9: time = peak t + i/rate, value = y_smooth[9]
    assert(m.getAs[Double]("ttr_t") === 0.06 + 0.03)
    assert(m.getAs[Double]("ttr_y") === 5.0)
  }

  test("marker points are null exactly when their metric is null") {
    // edge peak: everything null
    val eEdge = enriched(20, 0 to 3)
    val mEdge = BeatMetrics.metrics(eEdge, peakAt(0, 25.0)).collect()(0)
    for (c <- Seq("ttp_t", "ttp_y", "ttr_t", "ttr_y"))
      assert(mEdge.isNullAt(mEdge.fieldIndex(c)), c)
    // flip at the last sample: ttr null -> ttr markers null, ttp present
    val eLate = enriched(10, 4 to 8)
    val mLate = BeatMetrics.metrics(eLate, peakAt(6, 25.0)).collect()(0)
    assert(mLate.isNullAt(mLate.fieldIndex("ttr_t")))
    assert(mLate.isNullAt(mLate.fieldIndex("ttr_y")))
    assert(mLate.getAs[Double]("ttp_y") === 5.0)
    // left-edge exhaustion: marker records y_smooth[0] even without a flip
    val eEx = enriched(20, 0 to 8)
    val mEx = BeatMetrics.metrics(eEx, peakAt(6, 25.0)).collect()(0)
    assert(mEx.getAs[Double]("ttp_t") === 0.0)
    assert(mEx.getAs[Double]("ttp_y") ===
      eEx.filter($"sample_idx" === 0).head().getAs[Double]("y_smooth"))
  }

  test("markers=false skips the marker columns; markers add no joins") {
    val e = enriched(20, 4 to 8)
    val lean = BeatMetrics.metrics(e, peakAt(6, 25.0), markers = false)
    assert(!lean.columns.contains("ttp_y") && !lean.columns.contains("ttr_t"))
    // metric values identical to the markers=true plan
    val full = BeatMetrics.metrics(e, peakAt(6, 25.0))
    assert(lean.collect()(0).toSeq ===
      full.select(lean.columns.map(org.apache.spark.sql.functions.col): _*)
        .collect()(0).toSeq)
    // marker values come out of the same per-channel kernel: neither
    // plan has a join or a window — markers must never reintroduce a
    // lookup join against the full spine
    Seq(lean, full).foreach { df =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    }
  }

  test("summary: exact averages, zero-peak channels present with nulls") {
    val e = enriched(20, 4 to 8)
      .unionByName(enriched(20, 4 to 8).withColumn("channel", lit(1)))
    val peaks = peakAt(6, 25.0) // only channel 0
    val s = BeatMetrics.summary(e, BeatMetrics.metrics(e, peaks))
      .orderBy("channel").collect()
    assert(s.length === 2)
    assert(s(0).getAs[Long]("n_peaks") === 1)
    assert(s(0).getAs[Double]("avg_ttp") === 0.03)
    assert(s(1).getAs[Long]("n_peaks") === 0)
    assert(s(1).isNullAt(s(1).fieldIndex("avg_force")))
  }

  test("baselineDrift: exact line recovers slope/intercept with r2=1; flat channel r2 null") {
    import spark.implicits._
    val rows = (0 to 3).map(x => ("e", 0, x.toLong, Some(10.0 + 0.5 * x))) ++
      Seq(("e", 0, 4L, Option.empty[Double])) ++ // edge null must be filtered
      (0 to 3).map(x => ("e", 1, x.toLong, Some(7.0)))
    val enr = rows.toDF("experiment_id", "channel", "sample_idx", "baseline")
    val out = BeatMetrics.baselineDrift(enr).collect()
      .map(r => r.getAs[Int]("channel") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("slope_per_sample"),
          r.getAs[Double]("drift_per_minute"), r.getAs[Double]("intercept"),
          Option(r.get(r.fieldIndex("r2"))).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out(0) === ((4L, 0.5, 3000.0, 10.0, Some(1.0))))
    val (n1, s1, d1, i1, r21) = out(1)
    assert(n1 === 4L && s1 === 0.0 && d1 === 0.0 && i1 === 7.0 && r21.isEmpty)
  }

  test("alternans: planted ABAB split is the phase-mean gap; single beat yields nulls") {
    import spark.implicits._
    // ch0 forces in beat order: 2,1,2,1 -> odd-phase beats (1st,3rd)
    // mean 2, even-phase (2nd,4th) mean 1
    val m = Seq(
      ("e", 0, 10L, 2.0), ("e", 0, 20L, 1.0),
      ("e", 0, 30L, 2.0), ("e", 0, 40L, 1.0),
      ("e", 1, 10L, 5.0))
      .toDF("experiment_id", "channel", "peak_idx", "force")
    val out = BeatMetrics.alternans(m).collect()
      .map(r => r.getAs[Int]("channel") ->
        ((r.getAs[Long]("n_beats"),
          Option(r.get(r.fieldIndex("mean_even"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("mean_odd"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("alt_magnitude"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("alt_relative"))).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out(0) === ((4L, Some(1.0), Some(2.0), Some(1.0),
      Some(1.0 / 1.5))))
    // single beat: phase 1 only -> even mean null, everything downstream null
    assert(out(1) === ((1L, None, Some(5.0), None, None)))
  }

  test("restitution: hand-computed RR-force correlation and slope; single-beat channel drops") {
    import spark.implicits._
    val m = Seq(
      ("e", 0, 0L, 1.0), ("e", 0, 100L, 2.0),
      ("e", 0, 150L, 1.5), ("e", 0, 250L, 2.5),
      ("e", 1, 40L, 9.0))
      .toDF("experiment_id", "channel", "peak_idx", "force")
    val out = BeatMetrics.restitution(m).collect()
    assert(out.length === 1 && out.head.getAs[Int]("channel") === 0)
    val r = out.head
    assert(r.getAs[Long]("n_pairs") === 3L)
    // pairs (x, force): (100,2.0) (50,1.5) (100,2.5) — all moments exact
    val n = 3.0
    val mx = 250.0 / n; val my = 6.0 / n
    val cov = 525.0 / n - mx * my
    val vx = 22500.0 / n - mx * mx
    val vy = 12.5 / n - my * my
    assert(r.getAs[Double]("rr_force_corr") ===
      cov / math.sqrt(math.max(vx * vy, 0.0)))
    assert(r.getAs[Double]("restitution_slope_per_s") === (cov / vx) * 100.0)
  }

  test("stimLatency: forward capture with horizon; same-index beat counts at latency 0") {
    import spark.implicits._
    val stims = Seq(("e", 0, 10L), ("e", 0, 100L), ("e", 0, 500L),
        ("e", 1, 10L))
      .toDF("experiment_id", "channel", "sample_idx")
    val beats = Seq(("e", 0, 40L), ("e", 0, 130L), ("e", 1, 10L))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.stimLatency(stims, beats).collect()
      .map(r => r.getAs[Int]("channel") ->
        ((r.getAs[Long]("n_stims"), r.getAs[Long]("n_captured"),
          Option(r.get(r.fieldIndex("mean_latency"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("min_latency"))).map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("max_latency"))).map(_.asInstanceOf[Long]),
          r.getAs[Double]("capture_ratio")))).toMap
    // ch0: 10->40 (30), 100->130 (30), 500->none (uncaptured)
    assert(out(0) === ((3L, 2L, Some(30.0), Some(30L), Some(30L), 2.0 / 3.0)))
    // ch1: beat at the stim's own index -> latency 0
    assert(out(1) === ((1L, 1L, Some(0.0), Some(0L), Some(0L), 1.0)))
  }

  test("hrv: hand-computed SDNN/RMSSD/pNN50 from a 4-beat train; 1-beat channel all null") {
    import spark.implicits._
    val peaks = Seq(
      ("e", 0, 0L), ("e", 0, 100L), ("e", 0, 210L), ("e", 0, 300L),
      ("e", 1, 50L))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.hrv(peaks).collect()
      .map(r => r.getAs[Int]("channel") ->
        ((r.getAs[Long]("n_beats"), r.getAs[Long]("n_rr"),
          Option(r.get(r.fieldIndex("mean_rr_s"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("sdnn_s"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("rmssd_s"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("pnn50"))).map(_.asInstanceOf[Double]))))
      .toMap
    // RR = {100, 110, 90}; diffs = {10, -20}
    val (nb, nrr, mean, sdnn, rmssd, pnn) = out(0)
    assert(nb === 4L && nrr === 3L)
    assert(mean === Some(300.0 / 3.0 / 100.0))
    assert(sdnn === Some(
      math.sqrt(30200.0 / 3.0 - (300.0 / 3.0) * (300.0 / 3.0)) / 100.0))
    assert(rmssd === Some(math.sqrt(500.0 / 2.0) / 100.0))
    assert(pnn === Some(1.0))
    assert(out(1) === ((1L, 0L, None, None, None, None)))
  }

  test("poincare: hand-computed SD1/SD2 identities from the 4-beat train; <3 beats all null") {
    val peaks = Seq(
      ("e", 0, 0L), ("e", 0, 100L), ("e", 0, 210L), ("e", 0, 300L),
      ("e", 1, 50L), ("e", 1, 150L))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.poincare(peaks).collect()
      .map(r => r.getAs[Int]("channel") ->
        ((r.getAs[Long]("n_rr"), r.getAs[Long]("n_sd"),
          Option(r.get(r.fieldIndex("sd1_s"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("sd2_s"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("ellipse_area_s2")))
            .map(_.asInstanceOf[Double]))))
      .toMap
    // RR = {100, 110, 90}: var = 30200/3 - 100²; ΔRR = {10, -20}:
    // mean -5, var = 500/2 - 25 = 225. SD1² = 225/2; SD2² = 2var-SD1².
    val varD = 30200.0 / 3.0 - 100.0 * 100.0
    val sd1 = math.sqrt(225.0 / 2.0) / 100.0
    val sd2 = math.sqrt(2.0 * varD - 225.0 / 2.0) / 100.0
    val (nrr, nsd, s1, s2, area) = out(0)
    assert(nrr === 3L && nsd === 2L)
    assert(s1 === Some(sd1) && s2 === Some(sd2))
    assert(area === Some(math.Pi * sd1 * sd2))
    // 2-beat channel: one RR, zero ΔRR -> every statistic null
    assert(out(1) === ((1L, 0L, None, None, None)))
  }

  test("dfdt: window ownership — dy into a peak is upstroke, strictly-after is decay; peak at 0 has no upstroke") {
    val sig = Seq(
      ("e", 0, 0L, 0.0), ("e", 0, 1L, 1.0), ("e", 0, 2L, 3.0),
      ("e", 0, 3L, 2.0), ("e", 0, 4L, 0.0), ("e", 0, 5L, 5.0),
      ("e", 0, 6L, 1.0),
      ("e", 1, 0L, 5.0), ("e", 1, 1L, 1.0))
      .toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val peaks = Seq(("e", 0, 2L), ("e", 0, 5L), ("e", 1, 0L))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.dfdt(sig, peaks).collect()
      .map(r => (r.getAs[Int]("channel"), r.getAs[Long]("peak_idx")) ->
        ((Option(r.get(r.fieldIndex("n_up"))).map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("dfdt_max"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("n_down"))).map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("dfdt_min"))).map(_.asInstanceOf[Double]))))
      .toMap
    // dy = {-, 1, 2, -1, -2, 5, -4}. Beat 2: upstroke {1,2} max 2,
    // decay {-1,-2,5} (samples 3..5 — dy INTO beat 5 belongs to beat
    // 5's upstroke but sample 5 still sits in beat 2's strict-after
    // span) min -2. Beat 5: upstroke {-1,-2,5} max 5, decay {-4}.
    assert(out((0, 2L)) === ((Some(2L), Some(200.0), Some(3L), Some(-200.0))))
    assert(out((0, 5L)) === ((Some(3L), Some(500.0), Some(1L), Some(-400.0))))
    // peak at sample 0: no dy at or before it -> upstroke nulls survive
    // the left join; decay sees dy(1) = -4
    assert(out((1, 0L)) === ((None, None, Some(1L), Some(-400.0))))
  }

  test("relaxationTimes: interpolated RT50/RT90, no-crossing nulls, non-positive force dropped") {
    val y0 = Seq(0.0, 10.0, 6.0, 4.0, 1.0, 0.5, 0.0) // decays through both
    val y1 = Seq(0.0, 10.0, 6.0, 6.0, 6.0)           // plateaus above th50
    val sig = (y0.zipWithIndex.map { case (v, i) => ("e", 0, i.toLong, v) } ++
      y1.zipWithIndex.map { case (v, i) => ("e", 1, i.toLong, v) } ++
      Seq(("e", 2, 0L, 1.0), ("e", 2, 1L, 0.5)))
      .toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val beats = Seq(("e", 0, 1L, 0.0, 10.0), ("e", 1, 1L, 0.0, 10.0),
      ("e", 2, 0L, 2.0, -1.0))
      .toDF("experiment_id", "channel", "peak_idx", "baseline_value", "force")
    val out = BeatMetrics.relaxationTimes(sig, beats).collect()
      .map(r => r.getAs[Int]("channel") ->
        ((Option(r.get(r.fieldIndex("rt50_s"))).map(_.asInstanceOf[Double]),
          Option(r.get(r.fieldIndex("rt90_s"))).map(_.asInstanceOf[Double]))))
      .toMap
    // th50 = 5: first below at idx 3 (y 4, prev 6) ->
    //   ((3-1-1) + (6-5)/(6-4)) / 100 = 1.5/100
    // th90 = 1: first below at idx 4 (y 1, prev 4) ->
    //   ((4-1-1) + (4-1)/(4-1)) / 100 = 3/100
    assert(out(0) === ((Some(0.015), Some(0.03))))
    // plateau never reaches either threshold: both null, row kept
    assert(out(1) === ((None, None)))
    // force <= 0: the beat is dropped entirely, not nulled
    assert(!out.contains(2))
  }

  test("beatTemplateCorr: identical beats correlate 1.0 with the template; edge window excluded") {
    val y = Seq(9.0, 1.0, 5.0, 1.0, 0.0, 1.0, 5.0, 1.0, 0.0, 0.0)
    val sig = y.zipWithIndex.map { case (v, i) => ("e", 0, i.toLong, v) }
      .toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val peaks = Seq(("e", 0, 0L), ("e", 0, 2L), ("e", 0, 6L))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics
      .beatTemplateCorr(sig, peaks, before = 1, after = 1).collect()
      .map(r => r.getAs[Long]("peak_idx") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("template_corr")))).toMap
    // the beat at 0 has no sample at offset -1: dropped from template
    // AND scoring, so the two complete [1,5,1] windows define the
    // template and each correlates exactly 1
    assert(out.keySet === Set(2L, 6L))
    assert(out(2L) === ((3L, 1.0)))
    assert(out(6L) === ((3L, 1.0)))
  }

  test("forceTimeIntegral: nearest-peak ownership with earlier-beat ties; poisoned samples excluded") {
    import spark.implicits._
    // ch 0: peaks at 3 and 9; baseline 5. Sample 0 poisoned (null y).
    // idx6 is equidistant (3 from each peak) -> earlier beat 3.
    val ys = Seq(None, Some(4.0), Some(8.0), Some(15.0), Some(8.0),
      Some(4.0), Some(6.0), Some(9.0), Some(12.0), Some(20.0), Some(10.0))
    val e = (ys.zipWithIndex.map { case (y, i) =>
      ("e", 0, i.toLong, y, Option(5.0)) } ++
      Seq(("e", 1, 0L, None: Option[Double], Option(5.0)),
        ("e", 1, 1L, None: Option[Double], Option(5.0))))
      .toDF("experiment_id", "channel", "sample_idx", "y_smooth", "baseline")
    val peaks = Seq(("e", 0, 3L), ("e", 0, 9L), ("e", 1, 0L))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.forceTimeIntegral(e, peaks).collect()
      .map(r => (r.getAs[Int]("channel"), r.getAs[Long]("peak_idx")) ->
        ((r.getAs[Long]("n_span"),
          Option(r.get(r.fieldIndex("fti"))).map(_.asInstanceOf[Double]))))
      .toMap
    // beat 3 owns idx 0..6 (idx0 excluded as null): rectified
    // contributions 0+3+10+3+0+1 = 17 over 6 samples
    assert(out((0, 3L)) === ((6L, Some(0.17))))
    // beat 9 owns idx 7..10: 4+7+15+5 = 31 over 4 samples
    assert(out((0, 9L)) === ((4L, Some(0.31))))
    // fully-poisoned channel: row kept, 0 samples, null FTI
    assert(out((1, 0L)) === ((0L, None)))
  }

  test("beatAnomaly: channel z-scores off exact moments, null components never flag, outlier force flags") {
    import spark.implicits._
    // 30-sample channel, flat 5.0 with triangular bumps at 5/15/25
    // (8,15,8). Template windows (-20..+40) never complete -> corr
    // null; RR is constant -> z_rr null (zero variance).
    val bump = Map(4L -> 8.0, 5L -> 15.0, 6L -> 8.0, 14L -> 8.0,
      15L -> 15.0, 16L -> 8.0, 24L -> 8.0, 25L -> 15.0, 26L -> 8.0)
    val e = (0L until 30L).map { i =>
      ("e", 0, i, Option(bump.getOrElse(i, 5.0)), Option(5.0))
    }.toDF("experiment_id", "channel", "sample_idx", "y_smooth", "baseline")
    val peaks = Seq(("e", 0, 5L), ("e", 0, 15L), ("e", 0, 25L))
      .toDF("experiment_id", "channel", "peak_idx")
    // fabricated metrics: forces 10,10,16 -> mean 12, sd = sqrt(72)/3
    val m = Seq(("e", 0, 5L, 10.0, 5.0), ("e", 0, 15L, 10.0, 5.0),
      ("e", 0, 25L, 16.0, 5.0))
      .toDF("experiment_id", "channel", "peak_idx", "force",
        "baseline_value")
    val out = BeatMetrics.beatAnomaly(e, peaks, m, zThresh = 1.0)
      .collect().map(r => r.getAs[Long]("peak_idx") -> r).toMap
    val sd = math.sqrt(72.0) / 3.0
    assert(math.abs(out(5L).getAs[Double]("z_force") - (-2.0 / sd)) < 1e-12)
    assert(math.abs(out(25L).getAs[Double]("z_force") - 4.0 / sd) < 1e-12)
    // constant RR -> zero variance -> null z, not a fabricated 0
    assert(out(15L).isNullAt(out(15L).fieldIndex("z_rr")))
    assert(out(5L).isNullAt(out(5L).fieldIndex("template_corr")))
    // steepest rise into each peak: dy=7 at the peak sample -> 700/s
    assert(out(15L).getAs[Double]("dfdt_max") === 700.0)
    // verdict: only the force outlier trips at zThresh=1 (|z|=1.414);
    // the null template/rr components never contribute
    assert(out(25L).getAs[Boolean]("is_anomaly") === true)
    assert(out(5L).getAs[Boolean]("is_anomaly") === false)
    assert(out(15L).getAs[Boolean]("is_anomaly") === false)
    // positive-force beats carry their RT components
    assert(!out(15L).isNullAt(out(15L).fieldIndex("rt50_s")))
  }

  test("channelSynchrony: perfectly correlated and anti-correlated pairs; null samples dropped") {
    import spark.implicits._
    // ch0 = [1,2,3], ch1 = 2*ch0 (corr 1), ch2 = reversed (corr -1);
    // a null sample in ch0 only thins the pairs it touches
    val e = Seq(
      ("e", 0, 0L, Option(1.0)), ("e", 0, 1L, Option(2.0)),
      ("e", 0, 2L, Option(3.0)), ("e", 0, 3L, None: Option[Double]),
      ("e", 1, 0L, Option(2.0)), ("e", 1, 1L, Option(4.0)),
      ("e", 1, 2L, Option(6.0)), ("e", 1, 3L, Option(1.0)),
      ("e", 2, 0L, Option(3.0)), ("e", 2, 1L, Option(2.0)),
      ("e", 2, 2L, Option(1.0)), ("e", 2, 3L, Option(9.0)))
      .toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val out = BeatMetrics.channelSynchrony(e).collect()
      .map(r => (r.getAs[Int]("ch_a"), r.getAs[Int]("ch_b")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("sync_corr")))).toMap
    assert(out.keySet === Set((0, 1), (0, 2), (1, 2)))
    assert(out((0, 1))._1 === 3L)
    assert(math.abs(out((0, 1))._2 - 1.0) < 1e-12)
    assert(math.abs(out((0, 2))._2 - (-1.0)) < 1e-12)
    // ch1-ch2 includes sample 3: corr of [2,4,6,1] vs [3,2,1,9]
    assert(out((1, 2))._1 === 4L)
    assert(out((1, 2))._2 < 0.0)
  }

  test("entrainment: hand-computed vector strength with coincident-stim phase 0 and edge exclusion") {
    import spark.implicits._
    // stims at 0,100,200; beats at 50,150 (phase pi), 100 (phase 0,
    // coincident with a stim), 250 (after the last stim -> excluded)
    val stims = Seq(("e", 0, 0L), ("e", 0, 100L), ("e", 0, 200L))
      .toDF("experiment_id", "channel", "sample_idx")
    val beats = Seq(("e", 0, 50L), ("e", 0, 100L), ("e", 0, 150L),
      ("e", 0, 250L))
      .toDF("experiment_id", "channel", "peak_idx")
    val r = BeatMetrics.entrainment(stims, beats).collect()(0)
    assert(r.getAs[Long]("n_beats") === 3L)
    // C = cos(pi)+cos(0)+cos(pi) = -1, S = 0 (quantized): R = 1/3
    assert(math.abs(r.getAs[Double]("vector_strength") - 1.0 / 3) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_phase_rad") - math.Pi) < 1e-12)
    assert(math.abs(r.getAs[Double]("rayleigh_z") - 1.0 / 3) < 1e-12)
  }

  test("windowedBandPower: each tumbling window is its own series; matches the serial oracle per window") {
    import spark.implicits._
    // windowSamples=500: intervals assigned by their LATER beat —
    // win 0 gets ords 100..495 (d = 100,90,110,100,95), win 1 gets
    // ords 600..900 (d = 105,100,85,115; the 600-ord interval crosses
    // the boundary and belongs to win 1 by the later-beat rule), and
    // the ord-1000 interval lands alone in win 2 (too short for any
    // bin -> null powers).
    val idxs = Seq(0L, 100L, 190L, 300L, 400L, 495L, 600L, 700L, 785L,
      900L, 1000L)
    val peaks = idxs.map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.windowedBandPower(peaks, windowSamples = 500L)
      .collect().map(r => r.getAs[Long]("win") -> r).toMap
    def power(ds: Seq[Long], j: Int): Double = {
      val n = ds.size
      val mean = ds.sum.toDouble / n
      val xs = ds.map(d => (d - mean) / 100.0)
      val a = xs.zipWithIndex.map { case (x, k) =>
        x * math.cos(2.0 * math.Pi * j * k / n) }.sum
      val b = xs.zipWithIndex.map { case (x, k) =>
        x * math.sin(2.0 * math.Pi * j * k / n) }.sum
      2.0 * (a * a + b * b) / (n.toDouble * n)
    }
    val w0 = Seq(100L, 90L, 110L, 100L, 95L)
    val w1 = Seq(105L, 100L, 85L, 115L)
    // win 0: s1=495 -> f1=0.202 (HF), f2=0.404 excluded
    val r0 = out(0L)
    assert(r0.getAs[Long]("n_rr") === 5L)
    assert(r0.getAs[Long]("n_hf_bins") === 1L &&
      r0.getAs[Long]("n_lf_bins") === 0L)
    assert(math.abs(r0.getAs[Double]("hf_power_s2") - power(w0, 1)) < 1e-9)
    assert(r0.getAs[Double]("win_start_s") === 0.0)
    // win 1: s1=405 -> f1=0.247 (HF), f2=0.494 excluded
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_rr") === 4L)
    assert(r1.getAs[Long]("n_hf_bins") === 1L)
    assert(math.abs(r1.getAs[Double]("hf_power_s2") - power(w1, 1)) < 1e-9)
    assert(r1.getAs[Double]("win_start_s") === 5.0)
    // win 2: a single interval -> no bins, null powers, row kept
    val r2 = out(2L)
    assert(r2.getAs[Long]("n_rr") === 1L)
    assert(r2.isNullAt(r2.fieldIndex("hf_power_s2")))
    assert(r2.getAs[Double]("win_start_s") === 10.0)
  }

  test("forceVelocityLoop: hand-computed shoelace terms; null F voids adjacent pairs") {
    import spark.implicits._
    // ch0: baseline 0, y = [0,1,2,1,0], peak at 2. F = y;
    // v = [null,100,100,-100,-100]. Terms (F_{i-1}v_i - F_i v_{i-1}):
    // i=2: 1*100-2*100 = -100; i=3: 2*(-100)-1*100 = -300;
    // i=4: 1*(-100)-0*(-100) = -100. Sum -500 -> area -250, 3 pairs.
    // ch1: a null sample voids every pair -> null area, row kept.
    val e = (Seq(0.0, 1.0, 2.0, 1.0, 0.0).zipWithIndex.map { case (y, i) =>
      ("e", 0, i.toLong, Option(y), Option(0.0)) } ++
      Seq(("e", 1, 0L, Option(5.0), Option(0.0)),
        ("e", 1, 1L, None: Option[Double], Option(0.0)),
        ("e", 1, 2L, Option(5.0), Option(0.0))))
      .toDF("experiment_id", "channel", "sample_idx", "y_smooth", "baseline")
    val peaks = Seq(("e", 0, 2L), ("e", 1, 0L))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.forceVelocityLoop(e, peaks).collect()
      .map(r => r.getAs[Int]("channel") ->
        ((r.getAs[Long]("n_pairs"),
          Option(r.get(r.fieldIndex("loop_area")))
            .map(_.asInstanceOf[Double])))).toMap
    assert(out(0) === ((3L, Some(-250.0))))
    assert(out(1) === ((0L, None)))
  }

  test("sampleEntropy: hand-computed A/B template counts; constant series scores 0") {
    import spark.implicits._
    // ch0: constant RR -> sd 0, r 0, every extendable pair matches at
    // both lengths -> A=B=3, sampen = -ln(1) = 0.
    // ch1: d = [100,200,100,200,100,105]: extendable templates
    // k0..k3; 2-comp matches (0,2) and (1,3); only (0,2) extends
    // within r -> B=2, A=1, sampen = ln 2.
    val ch0 = Seq(0L, 100L, 200L, 300L, 400L, 500L).map(("e", 0, _))
    val ch1 = Seq(0L, 100L, 300L, 400L, 600L, 700L, 805L).map(("e", 1, _))
    val peaks = (ch0 ++ ch1)
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.sampleEntropy(peaks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n_rr") === 5L)
    assert(r0.getAs[Double]("r_thresh") === 0.0)
    assert(r0.getAs[Long]("b_count") === 3L &&
      r0.getAs[Long]("a_count") === 3L)
    assert(r0.getAs[Double]("sampen") === 0.0)
    val r1 = out(1)
    assert(r1.getAs[Long]("n_rr") === 6L)
    assert(r1.getAs[Long]("b_count") === 2L &&
      r1.getAs[Long]("a_count") === 1L)
    assert(math.abs(r1.getAs[Double]("sampen") - math.log(2.0)) < 1e-12)
  }

  test("multiscaleEntropy: scale 1 reproduces sampleEntropy; coarse scales hand-computed") {
    import spark.implicits._
    // 12 alternating intervals [100,200]x6: original sd=50 -> r=10.
    // scale 1: parity-matching templates -> B=A=20 -> sampen 0.
    // scale 2: six coarse points all 150 -> B=A=6 -> sampen 0.
    // scale 3: four points alternating 400/3, 500/3 (diff 33.3 > r)
    //   -> B=0 -> null.
    val ds = Seq.fill(6)(Seq(100L, 200L)).flatten
    val idxs = ds.scanLeft(0L)(_ + _)
    val peaks = idxs.map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.multiscaleEntropy(peaks).collect()
      .map(r => r.getAs[Int]("scale") -> r).toMap
    assert(out.keySet === Set(1, 2, 3))
    val s1 = out(1)
    assert(s1.getAs[Long]("n_points") === 12L)
    assert(s1.getAs[Double]("r_thresh") === 10.0)
    assert(s1.getAs[Long]("b_count") === 20L &&
      s1.getAs[Long]("a_count") === 20L)
    assert(s1.getAs[Double]("sampen") === 0.0)
    // internal consistency: scale 1 == q246 on the same train
    val se = BeatMetrics.sampleEntropy(peaks).collect()(0)
    assert(se.getAs[Long]("b_count") === 20L &&
      se.getAs[Long]("a_count") === 20L)
    val s2 = out(2)
    assert(s2.getAs[Long]("n_points") === 6L)
    assert(s2.getAs[Long]("b_count") === 6L &&
      s2.getAs[Long]("a_count") === 6L)
    assert(s2.getAs[Double]("sampen") === 0.0)
    val s3 = out(3)
    assert(s3.getAs[Long]("n_points") === 4L)
    assert(s3.getAs[Long]("b_count") === 0L)
    assert(s3.isNullAt(s3.fieldIndex("sampen")))
  }

  test("triangularIndex: hand-computed histogram, smallest modal bin on ties") {
    import spark.implicits._
    // d = [100,100,102,200,200,300]: bins floor(d*1.28) =
    // [128,128,130,256,256,384] -> counts {128:2, 130:1, 256:2,
    // 384:1}. Modal count 2 ties between bins 128 and 256 -> the
    // SMALLEST bin (128) is reported; HTI = 6/2 = 3.
    val ds = Seq(100L, 100L, 102L, 200L, 200L, 300L)
    val idxs = ds.scanLeft(0L)(_ + _)
    val peaks = idxs.map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val r = BeatMetrics.triangularIndex(peaks).collect()(0)
    assert(r.getAs[Long]("n_rr") === 6L)
    assert(r.getAs[Long]("n_bins") === 4L)
    assert(r.getAs[Long]("modal_bin") === 128L)
    assert(r.getAs[Long]("modal_count") === 2L)
    assert(r.getAs[Double]("hti") === 3.0)
  }

  test("bandPower: DFT band sums match an independent serial oracle; 1-interval channel keeps nulls") {
    import spark.implicits._
    // ch 0: 10 intervals summing to 1000 samples -> f_j = 0.1*j Hz:
    // bin 1 is LF, bins 2-3 HF, bin 4 (0.4 Hz) excluded at the open
    // upper edge. ch 1: a single interval -> no bins, null powers.
    val ds = Seq(100L, 90L, 110L, 100L, 95L, 105L, 100L, 85L, 115L, 100L)
    val idxs = ds.scanLeft(0L)(_ + _)
    val peaks = (idxs.map(("e", 0, _)) ++ Seq(("e", 1, 0L), ("e", 1, 80L)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.bandPower(peaks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    // independent serial replication (plain doubles, no quantization)
    def power(j: Int): Double = {
      val n = ds.size
      val mean = ds.sum.toDouble / n
      val xs = ds.map(d => (d - mean) / 100.0)
      val a = xs.zipWithIndex.map { case (x, k) =>
        x * math.cos(2.0 * math.Pi * j * k / n) }.sum
      val b = xs.zipWithIndex.map { case (x, k) =>
        x * math.sin(2.0 * math.Pi * j * k / n) }.sum
      2.0 * (a * a + b * b) / (n.toDouble * n)
    }
    val r0 = out(0)
    assert(r0.getAs[Long]("n_rr") === 10L)
    assert(r0.getAs[Double]("mean_rr_s") === 1.0)
    assert(r0.getAs[Long]("n_lf_bins") === 1L)
    assert(r0.getAs[Long]("n_hf_bins") === 2L)
    assert(math.abs(r0.getAs[Double]("lf_power_s2") - power(1)) < 1e-9)
    assert(math.abs(r0.getAs[Double]("hf_power_s2") -
      (power(2) + power(3))) < 1e-9)
    assert(math.abs(r0.getAs[Double]("lf_hf_ratio") -
      power(1) / (power(2) + power(3))) < 1e-9)
    val r1 = out(1)
    assert(r1.getAs[Long]("n_rr") === 1L)
    assert(r1.getAs[Long]("n_lf_bins") === 0L &&
      r1.getAs[Long]("n_hf_bins") === 0L)
    assert(r1.isNullAt(r1.fieldIndex("lf_power_s2")) &&
      r1.isNullAt(r1.fieldIndex("hf_power_s2")) &&
      r1.isNullAt(r1.fieldIndex("lf_hf_ratio")))
  }

  test("bandPower: in-band Nyquist bin gets one-sided factor 1, Parseval bound holds") {
    import spark.implicits._
    // 4 intervals of ~150 samples -> s1 = 600, f_j = j/6 Hz:
    // j=1 -> 0.1667 (HF), j=2 = n/2 (Nyquist) -> 0.3333 (HF, in-band).
    // With factor 2 on the Nyquist bin the round-8 ADVICE showed
    // HF > var(RR); factor 1 restores the Parseval inequality.
    val ds = Seq(140L, 160L, 150L, 150L)
    val idxs = ds.scanLeft(0L)(_ + _)
    val peaks = idxs.map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val r = BeatMetrics.bandPower(peaks).collect()(0)
    def power(j: Int): Double = {
      val n = ds.size
      val mean = ds.sum.toDouble / n
      val xs = ds.map(d => (d - mean) / 100.0)
      val a = xs.zipWithIndex.map { case (x, k) =>
        x * math.cos(2.0 * math.Pi * j * k / n) }.sum
      val b = xs.zipWithIndex.map { case (x, k) =>
        x * math.sin(2.0 * math.Pi * j * k / n) }.sum
      val c = if (2 * j == n) 1.0 else 2.0
      c * (a * a + b * b) / (n.toDouble * n)
    }
    assert(r.getAs[Long]("n_lf_bins") === 0L)
    assert(r.getAs[Long]("n_hf_bins") === 2L)
    val hf = r.getAs[Double]("hf_power_s2")
    assert(math.abs(hf - (power(1) + power(2))) < 1e-9)
    // Parseval: total in-band power cannot exceed var(RR) in s²
    val mean = ds.sum.toDouble / ds.size
    val varRr = ds.map(d => math.pow((d - mean) / 100.0, 2)).sum / ds.size
    assert(hf <= varRr + 1e-12)
  }

  test("dfa: matches an independent serial replication; constant series has zero fluctuation and null alpha") {
    import spark.implicits._
    // seeded rough series with a trend: DFA must detrend each box
    val rng = new scala.util.Random(7)
    val n = 64
    val vs = (0 until n).map(i => 10.0 + 0.5 * i + 3.0 * rng.nextGaussian())
    val rows = vs.zipWithIndex.map { case (v, i) => ("e", 0, i.toLong, v) } ++
      (0 until 16).map(i => ("e", 1, i.toLong, 42.0)) // constant channel
    val df = rows.toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val scales = Seq(4, 8)
    val out = BeatMetrics.dfa(df, scales).collect()
      .map(r => (r.getAs[Int]("channel"), r.getAs[Long]("scale")) -> r).toMap
    // independent serial replication (plain doubles, true profile)
    val mean = vs.sum / n
    val prof = vs.map(_ - mean).scanLeft(0.0)(_ + _).tail
    def fs(s: Int): Double = {
      val boxes = prof.grouped(s).filter(_.size == s).toSeq
      val rss = boxes.map { ys =>
        val xs = (1 to s).map(_.toDouble)
        val (sx, sy) = (xs.sum, ys.sum)
        val sxx = xs.map(x => x * x).sum
        val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
        val b = (s * sxy - sx * sy) / (s * sxx - sx * sx)
        val a = (sy - b * sx) / s
        xs.zip(ys).map { case (x, y) => math.pow(y - (a + b * x), 2) }.sum
      }
      math.sqrt(rss.sum / (rss.size * s))
    }
    for (s <- scales) {
      val r = out((0, s.toLong))
      assert(r.getAs[Long]("n_boxes") === (n / s).toLong)
      assert(math.abs(r.getAs[Double]("fluct") - fs(s)) < 1e-6 * fs(s),
        s"scale $s: ${r.getAs[Double]("fluct")} vs ${fs(s)}")
    }
    val alphaExp = (math.log(fs(8)) - math.log(fs(4))) /
      (math.log(8.0) - math.log(4.0))
    assert(math.abs(out((0, 4L)).getAs[Double]("alpha") - alphaExp) < 1e-6)
    assert(out((0, 4L)).getAs[Double]("alpha") ===
      out((0, 8L)).getAs[Double]("alpha")) // per-channel constant
    // constant channel: exact zero residuals, alpha undefined (ln 0)
    val c4 = out((1, 4L))
    assert(c4.getAs[Double]("fluct") === 0.0)
    assert(c4.isNullAt(c4.fieldIndex("alpha")))
  }

  test("stimCoherence: periodic lock-in scores 1, per-segment phase flips cancel to 0; noise spikes gated out") {
    import spark.implicits._
    val L = 8
    val nSeg = 4
    val n = L * nSeg
    // ch 0: cosine locked to the spike train -> coherence 1
    // ch 1: cosine sign-flipped per segment -> cross terms cancel -> 0
    val sm = (0 until n).flatMap { i =>
      val base = math.cos(2.0 * math.Pi * (i % L) / L)
      val flip = if ((i / L) % 2 == 0) 1.0 else -1.0
      Seq(("e", 0, i.toLong, base), ("e", 1, i.toLong, base * flip))
    }.toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val stim = (0 until n).flatMap { i =>
      val u = if (i % L == 0) 5.0 else 0.0
      Seq(("e", 0, i.toLong, u), ("e", 1, i.toLong, u))
    }.toDF("experiment_id", "channel", "sample_idx", "y_scaled")
    // spike markers every L, plus sub-threshold noise maxima 1 apart
    // on ch 0 that the half-max gate must ignore (else modal d = 1)
    val pks = (0 until nSeg).flatMap { b =>
      Seq(("e", 0, (b * L).toLong, 5.0), ("e", 1, (b * L).toLong, 5.0)) ++
        Seq(("e", 0, (b * L + 2).toLong, 0.01),
          ("e", 0, (b * L + 3).toLong, 0.01),
          ("e", 0, (b * L + 4).toLong, 0.01))
    }.toDF("experiment_id", "channel", "sample_idx", "y_scaled")
    val out = BeatMetrics.stimCoherence(sm, stim, pks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    for (ch <- Seq(0, 1)) {
      assert(out(ch).getAs[Long]("seg_len") === L.toLong)
      assert(out(ch).getAs[Long]("n_segments") === nSeg.toLong)
      assert(out(ch).getAs[Double]("pacing_freq_hz") === 100.0 / L)
    }
    assert(math.abs(out(0).getAs[Double]("coherence") - 1.0) < 1e-9)
    assert(math.abs(out(1).getAs[Double]("coherence")) < 1e-9)
  }

  test("fragmentation: hand-computed sign runs; channels without a delta pair emit no row") {
    import spark.implicits._
    // d = [100,110,120,130,125,120,115,115] -> deltas
    // [10,10,10,-5,-5,-5,0], signs [1,1,1,-1,-1,-1,0], runs of
    // lengths 3,3,1 -> m=7, n_runs=3, PIP=2/7, IALS=3/7, PSS=1/7
    val ds = Seq(100L, 110L, 120L, 130L, 125L, 120L, 115L, 115L)
    val idxs = ds.scanLeft(0L)(_ + _)
    val peaks = (idxs.map(("e", 0, _)) ++ Seq(("e", 1, 0L), ("e", 1, 90L)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.fragmentation(peaks).collect()
    assert(out.length === 1) // ch 1 has one RR interval, no delta
    val r = out(0)
    assert(r.getAs[Int]("channel") === 0)
    assert(r.getAs[Long]("n_deltas") === 7L)
    assert(r.getAs[Long]("n_runs") === 3L)
    assert(r.getAs[Double]("pip") === 2.0 / 7.0)
    assert(r.getAs[Double]("ials") === 3.0 / 7.0)
    assert(r.getAs[Double]("pss") === 1.0 / 7.0)
  }

  test("laggedXcorr: recovers a known 20-sample delay; zero-variance channels drop out") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val n = 200
    val f = Iterator.iterate(0.0)(_ + rng.nextGaussian()).take(n + 60).toSeq
    // ch 1 is ch 0 delayed by 20 samples: v1(t) = f(t - 20 + 30)
    val rows = (0 until n).flatMap { t =>
      Seq(("e", 0, t.toLong, f(t + 30)), ("e", 1, t.toLong, f(t + 10)),
        ("e", 2, t.toLong, 5.0)) // constant -> r undefined at every lag
    }.toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val out = BeatMetrics.laggedXcorr(rows).collect()
      .map(r => (r.getAs[Int]("ca"), r.getAs[Int]("cb")) -> r).toMap
    // pairs with the constant channel have no defined correlation
    assert(out.keySet === Set((0, 1)))
    val r01 = out((0, 1))
    // v1(t + l) = f(t + l + 10) matches v0(t) = f(t + 30) at l = 20
    assert(r01.getAs[Long]("best_lag") === 20L)
    assert(math.abs(r01.getAs[Double]("best_r") - 1.0) < 1e-9)
    assert(r01.getAs[Double]("r_zero_lag") < r01.getAs[Double]("best_r"))
  }

  test("morphologyBand: per-offset mean/SD match a serial replication; incomplete windows excluded") {
    import spark.implicits._
    // 3 beats at 100/200/300 over a 0..340 ramp-with-bumps series,
    // plus a beat at 10 whose window falls off the left edge
    val vs = (0 to 340).map(i => (i % 37).toDouble + 0.01 * i)
    val sigDf = vs.zipWithIndex.map { case (v, i) => ("e", 0, i.toLong, v) }
      .toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val peaks = Seq(10L, 100L, 200L, 300L).map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.morphologyBand(sigDf, peaks, before = 20, after = 40)
      .collect().map(r => r.getAs[Long]("off") -> r).toMap
    assert(out.size === 61)
    val centers = Seq(100, 200, 300) // beat 10 is incomplete (10-20 < 0)
    for (off <- Seq(-20L, 0L, 40L)) {
      val xs = centers.map(c => vs((c + off).toInt))
      val m = xs.sum / 3.0
      val sd = math.sqrt(xs.map(x => (x - m) * (x - m)).sum / 3.0)
      val r = out(off)
      assert(r.getAs[Long]("n_beats") === 3L)
      assert(math.abs(r.getAs[Double]("template_v") - m) < 1e-9)
      assert(math.abs(r.getAs[Double]("sd_v") - sd) < 1e-9)
    }
  }

  test("approximateEntropy: matches a serial replication with self-matches; constant train gives apen 0") {
    import spark.implicits._
    def serial(ds: Seq[Long], rFrac: Double = 0.2): (Double, Double) = {
      val n = ds.size
      val mean = ds.sum.toDouble / n
      val r = rFrac * math.sqrt(ds.map(d => (d - mean) * (d - mean)).sum / n)
      def phi(m: Int): Double = {
        val tpl = (0 to n - m).map(i => ds.slice(i, i + m))
        val logs = tpl.map { x =>
          val c = tpl.count(y =>
            x.zip(y).map { case (a, b) => math.abs(a - b).toDouble }.max <= r)
          math.log(c.toDouble / tpl.size)
        }
        logs.sum / tpl.size
      }
      (phi(2), phi(3))
    }
    val ds0 = Seq(100L, 200L, 100L, 200L, 100L)
    val ds1 = Seq(100L, 100L, 100L, 100L)
    val peaks = (ds0.scanLeft(0L)(_ + _).map(("e", 0, _)) ++
      ds1.scanLeft(0L)(_ + _).map(("e", 1, _)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.approximateEntropy(peaks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val (p2, p3) = serial(ds0)
    val r0 = out(0)
    assert(r0.getAs[Long]("n_rr") === 5L)
    assert(math.abs(r0.getAs[Double]("phi2") - p2) < 1e-9)
    assert(math.abs(r0.getAs[Double]("phi3") - p3) < 1e-9)
    assert(math.abs(r0.getAs[Double]("apen") - (p2 - p3)) < 1e-9)
    // constant train: r = 0, every template self-identical -> phi = 0
    val r1 = out(1)
    assert(r1.getAs[Double]("phi2") === 0.0 &&
      r1.getAs[Double]("phi3") === 0.0 &&
      r1.getAs[Double]("apen") === 0.0)
  }

  test("residualSqi: symmetric residuals pin skew 0 and hand-computed kurtosis") {
    import spark.implicits._
    // residuals [3,-3,1,-1,2,-2]: mean 0, m2 = 28/6, m3 = 0,
    // m4 = 196/6 -> skew 0, excess kurtosis 1176/784 - 3 = -1.5
    val es = Seq(3.0, -3.0, 1.0, -1.0, 2.0, -2.0)
    val rows = es.zipWithIndex.map { case (e, i) =>
      ("e", 0, i.toLong, 100.0 + e, 100.0) }
    val df = rows.toDF("experiment_id", "channel", "sample_idx",
      "y", "y_smooth")
    val r = BeatMetrics.residualSqi(df).collect()(0)
    assert(r.getAs[Long]("n") === 6L)
    assert(r.getAs[Double]("resid_mean") === 0.0)
    assert(math.abs(r.getAs[Double]("resid_sd") -
      math.sqrt(28.0 / 6.0)) < 1e-12)
    assert(r.getAs[Double]("skewness") === 0.0)
    assert(math.abs(r.getAs[Double]("excess_kurtosis") - (-1.5)) < 1e-12)
  }

  test("forceAutocorr: perfect alternation scores -1/+1/-1; null forces drop pairwise") {
    import spark.implicits._
    val f0 = Seq[java.lang.Double](1.0, 2.0, 1.0, 2.0, 1.0, 2.0)
    val f1 = Seq[java.lang.Double](1.0, 2.0, null, 2.0, 1.0)
    val rows =
      f0.zipWithIndex.map { case (f, i) => ("e", 0, i * 100L, f) } ++
        f1.zipWithIndex.map { case (f, i) => ("e", 1, i * 100L, f) }
    val df = rows.toDF("experiment_id", "channel", "peak_idx", "force")
    val out = BeatMetrics.forceAutocorr(df).collect()
      .map(r => (r.getAs[Int]("channel"), r.getAs[Long]("lag")) -> r).toMap
    assert(out((0, 1L)).getAs[Long]("n_pairs") === 5L)
    assert(math.abs(out((0, 1L)).getAs[Double]("acf") - (-1.0)) < 1e-12)
    assert(out((0, 2L)).getAs[Long]("n_pairs") === 4L)
    assert(math.abs(out((0, 2L)).getAs[Double]("acf") - 1.0) < 1e-12)
    assert(out((0, 3L)).getAs[Long]("n_pairs") === 3L)
    assert(math.abs(out((0, 3L)).getAs[Double]("acf") - (-1.0)) < 1e-12)
    // ch 1 lag 1: only (1,2) and (2,1) are pairwise complete -> r = -1
    assert(out((1, 1L)).getAs[Long]("n_pairs") === 2L)
    assert(math.abs(out((1, 1L)).getAs[Double]("acf") - (-1.0)) < 1e-12)
  }

  test("turningPoints: strict extrema counted, ties excluded, Kendall z pinned") {
    import spark.implicits._
    // ch 0: d = [100,110,105,115,110] -> interior 110,105,115 are all
    // strict extrema -> T = 3, n = 5, E = 2, Var = 51/90
    // ch 1: d = [100,110,110,105] -> the tie kills both interior
    // candidates -> T = 0
    val d0 = Seq(100L, 110L, 105L, 115L, 110L)
    val d1 = Seq(100L, 110L, 110L, 105L)
    val peaks = (d0.scanLeft(0L)(_ + _).map(("e", 0, _)) ++
      d1.scanLeft(0L)(_ + _).map(("e", 1, _)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.turningPoints(peaks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n_rr") === 5L)
    assert(r0.getAs[Long]("n_turning") === 3L)
    assert(r0.getAs[Double]("expected_tp") === 2.0)
    assert(math.abs(r0.getAs[Double]("z") -
      1.0 / math.sqrt(51.0 / 90.0)) < 1e-12)
    assert(out(1).getAs[Long]("n_turning") === 0L)
  }

  test("pacingTransfer: impulse-train stim vs unit cosine pins gain 0.8; phase flips zero the PLV") {
    import spark.implicits._
    // same fixture family as the stimCoherence spec: L=8, 4 segments;
    // per segment the demeaned cosine projects to (ax,bx) = (4,0) and
    // the demeaned 5.0-impulse train to (ay,by) = (5,0), so
    // gain = sqrt(sum(16)/sum(25)) = 0.8 for both channels; ch 0 is
    // phase-locked (plv 1, phase 0), ch 1 sign-flips per segment so
    // the unit vectors cancel (plv 0)
    val L = 8
    val nSeg = 4
    val n = L * nSeg
    val sm = (0 until n).flatMap { i =>
      val base = math.cos(2.0 * math.Pi * (i % L) / L)
      val flip = if ((i / L) % 2 == 0) 1.0 else -1.0
      Seq(("e", 0, i.toLong, base), ("e", 1, i.toLong, base * flip))
    }.toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val stim = (0 until n).flatMap { i =>
      val u = if (i % L == 0) 5.0 else 0.0
      Seq(("e", 0, i.toLong, u), ("e", 1, i.toLong, u))
    }.toDF("experiment_id", "channel", "sample_idx", "y_scaled")
    val pks = (0 until nSeg).flatMap { b =>
      Seq(("e", 0, (b * L).toLong, 5.0), ("e", 1, (b * L).toLong, 5.0))
    }.toDF("experiment_id", "channel", "sample_idx", "y_scaled")
    val out = BeatMetrics.pacingTransfer(sm, stim, pks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    for (ch <- Seq(0, 1)) {
      assert(out(ch).getAs[Long]("n_segments") === nSeg.toLong)
      assert(out(ch).getAs[Long]("n_locked") === nSeg.toLong)
      assert(math.abs(out(ch).getAs[Double]("transfer_gain") - 0.8) < 1e-9)
    }
    assert(math.abs(out(0).getAs[Double]("plv") - 1.0) < 1e-9)
    assert(math.abs(out(0).getAs[Double]("mean_phase_rad")) < 1e-9)
    assert(math.abs(out(1).getAs[Double]("plv")) < 1e-9)
  }

  test("hjorth: alternating trace pins all three parameters; flat trace nulls mobility") {
    import spark.implicits._
    // ch 0: y = 0,1,0,1,0,1 -> var(y) = 1/4; d1 = ±1 (n=5,
    // mean 1/5, var 1 - 1/25 = 24/25); d2 = ∓2,±2 (n=4, var 4)
    // ch 1: constant -> activity 0, mobility/complexity null
    val rows = (0 until 6).map(i => ("e", 0, i.toLong, (i % 2).toDouble)) ++
      (0 until 6).map(i => ("e", 1, i.toLong, 7.0))
    val sm = rows.toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val out = BeatMetrics.hjorth(sm).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n_samples") === 6L)
    assert(math.abs(r0.getAs[Double]("activity") - 0.25) < 1e-12)
    val mob = math.sqrt((24.0 / 25.0) / 0.25)
    assert(math.abs(r0.getAs[Double]("mobility") - mob) < 1e-12)
    assert(math.abs(r0.getAs[Double]("complexity") -
      math.sqrt(4.0 / (24.0 / 25.0)) / mob) < 1e-12)
    val r1 = out(1)
    assert(math.abs(r1.getAs[Double]("activity")) < 1e-12)
    assert(r1.isNullAt(r1.fieldIndex("mobility")))
    assert(r1.isNullAt(r1.fieldIndex("complexity")))
  }

  test("mannKendall: monotone run pins S/z/tau; all-ties zero the variance") {
    import spark.implicits._
    // ch 0: forces 1,2,3,4 -> S = 6, no ties, Var = 4*3*13/18,
    // z = 5/sqrt(Var), tau = 1
    // ch 1: 1,1,2 -> S = 2, tie group t=2 -> Var = (66-18)/18 = 8/3
    // ch 2: 5,5,5 -> S = 0, Var = 0 -> z null, tau 0
    val rows = Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex
      .map { case (f, i) => ("e", 0, i.toLong, f) } ++
      Seq(1.0, 1.0, 2.0).zipWithIndex
        .map { case (f, i) => ("e", 1, i.toLong, f) } ++
      Seq(5.0, 5.0, 5.0).zipWithIndex
        .map { case (f, i) => ("e", 2, i.toLong, f) }
    val m = rows.toDF("experiment_id", "channel", "peak_idx", "force")
    val out = BeatMetrics.mannKendall(m).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("s") === 6L)
    val var0 = 4.0 * 3.0 * 13.0 / 18.0
    assert(math.abs(r0.getAs[Double]("var_s") - var0) < 1e-12)
    assert(math.abs(r0.getAs[Double]("z") - 5.0 / math.sqrt(var0)) < 1e-12)
    assert(math.abs(r0.getAs[Double]("tau") - 1.0) < 1e-12)
    val r1 = out(1)
    assert(r1.getAs[Long]("s") === 2L)
    assert(math.abs(r1.getAs[Double]("var_s") - 8.0 / 3.0) < 1e-12)
    assert(math.abs(r1.getAs[Double]("z") -
      1.0 / math.sqrt(8.0 / 3.0)) < 1e-12)
    val r2 = out(2)
    assert(r2.getAs[Long]("s") === 0L)
    assert(math.abs(r2.getAs[Double]("var_s")) < 1e-12)
    assert(r2.isNullAt(r2.fieldIndex("z")))
    assert(math.abs(r2.getAs[Double]("tau")) < 1e-12)
  }

  test("rrEntropy: binned histogram pins H = (3/2)ln2 and its ln3 normalization") {
    import spark.implicits._
    // RR = 8,9,16,24 -> bins 1,1,2,3 -> p = 1/2,1/4,1/4
    // H = -(0.5 ln 0.5 + 2*0.25 ln 0.25) = 1.5 ln 2
    val peaks = Seq(8L, 9L, 16L, 24L).scanLeft(0L)(_ + _)
      .map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val r = BeatMetrics.rrEntropy(peaks).collect()(0)
    assert(r.getAs[Long]("n_rr") === 4L)
    assert(r.getAs[Long]("n_bins") === 3L)
    val h = 1.5 * math.log(2.0)
    assert(math.abs(r.getAs[Double]("entropy_nats") - h) < 1e-9)
    assert(math.abs(r.getAs[Double]("entropy_norm") -
      h / math.log(3.0)) < 1e-9)
  }

  test("symbolicDynamics: integer 6-level words classify 0V/1V/2LV/2UV") {
    import spark.implicits._
    // ch 0: d = 10,10,10,16,10,16 -> mn 10, mx 16, width 7 ->
    // levels 0,0,0,5,0,5 -> words (0,0,0)=0V, (0,0,5)=1V,
    // (0,5,0)=2UV, (5,0,5)=2UV
    // ch 1: d = 10,12,14 -> levels 0,2,4 -> one word, both rises = 2LV
    val peaks = (Seq(10L, 10L, 10L, 16L, 10L, 16L).scanLeft(0L)(_ + _)
      .map(("e", 0, _)) ++
      Seq(10L, 12L, 14L).scanLeft(0L)(_ + _).map(("e", 1, _)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.symbolicDynamics(peaks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n_words") === 4L)
    assert(math.abs(r0.getAs[Double]("pct_0v") - 25.0) < 1e-12)
    assert(math.abs(r0.getAs[Double]("pct_1v") - 25.0) < 1e-12)
    assert(math.abs(r0.getAs[Double]("pct_2lv")) < 1e-12)
    assert(math.abs(r0.getAs[Double]("pct_2uv") - 50.0) < 1e-12)
    val r1 = out(1)
    assert(r1.getAs[Long]("n_words") === 1L)
    assert(math.abs(r1.getAs[Double]("pct_2lv") - 100.0) < 1e-12)
  }

  test("prsa: complete-neighborhood anchors pin DC and AC at 2.5") {
    import spark.implicits._
    // d = 100,110,105,115,110,120; complete interior i=2..4:
    // i=2 acc (105<110) quad 10; i=3 dec (115>105) quad 10;
    // i=4 acc (110<115) quad 10 -> DC = 10/4, AC = 20/8
    val peaks = Seq(100L, 110L, 105L, 115L, 110L, 120L)
      .scanLeft(0L)(_ + _).map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val r = BeatMetrics.prsa(peaks).collect()(0)
    assert(r.getAs[Long]("n_dec") === 1L)
    assert(math.abs(r.getAs[Double]("dc") - 2.5) < 1e-12)
    assert(r.getAs[Long]("n_acc") === 2L)
    assert(math.abs(r.getAs[Double]("ac") - 2.5) < 1e-12)
  }

  test("higuchiFd: a linear ramp has fractal dimension exactly 1") {
    import spark.implicits._
    // y = p on 0..16: every k-diff is k, so L(k) = 16/k for all
    // phases and the ln L vs ln k slope is exactly -1 -> FD = 1
    val sm = (0 until 17).map(i => ("e", 0, i.toLong, i.toDouble))
      .toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val r = BeatMetrics.higuchiFd(sm).collect()(0)
    assert(r.getAs[Long]("n_scales") === 4L)
    assert(math.abs(r.getAs[Double]("fd") - 1.0) < 1e-9)
  }

  test("rqa: isolated recurrences score DET 0; a period-2 train lines up DET 0.75") {
    import spark.implicits._
    // ch 0: d = 100,100,100,200,100,100 -> SD = sqrt(50000/36),
    // r ~ 7.45; vectors k0,k1,k4 equal -> pairs (0,1),(0,4),(1,4)
    // on diagonals 1,4,3 -> three length-1 lines -> DET 0
    // ch 1: d = 100,200,100,200,100,200 -> r = 10; equal-vector
    // pairs (0,2),(1,3),(2,4) share diagonal 2 (ka 0,1,2 = ONE
    // 3-line) plus (0,4) on diagonal 4 -> DET 3/4, mean/max line 3
    val peaks = (Seq(100L, 100L, 100L, 200L, 100L, 100L)
      .scanLeft(0L)(_ + _).map(("e", 0, _)) ++
      Seq(100L, 200L, 100L, 200L, 100L, 200L)
        .scanLeft(0L)(_ + _).map(("e", 1, _)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.rqa(peaks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n_vec") === 5L)
    assert(r0.getAs[Long]("rec_pairs") === 3L)
    assert(math.abs(r0.getAs[Double]("rec_rate") - 0.3) < 1e-12)
    assert(math.abs(r0.getAs[Double]("determinism")) < 1e-12)
    assert(r0.isNullAt(r0.fieldIndex("mean_line")))
    assert(r0.getAs[Long]("max_line") === 1L)
    val r1 = out(1)
    assert(r1.getAs[Long]("rec_pairs") === 4L)
    assert(math.abs(r1.getAs[Double]("rec_rate") - 0.4) < 1e-12)
    assert(math.abs(r1.getAs[Double]("determinism") - 0.75) < 1e-12)
    assert(math.abs(r1.getAs[Double]("mean_line") - 3.0) < 1e-12)
    assert(r1.getAs[Long]("max_line") === 3L)
  }

  test("spectralEdge: a pure Nyquist alternation puts both crossings on the last bin") {
    import spark.implicits._
    // d = 10,12 alternating x8 -> all variance at j = n/2 = 4 (the
    // Nyquist bin, one-sided factor 1); bins 1..3 are exact zeros
    // after decimal quantization -> median and 95% edge both read
    // f(4) = 4*100/88; total = (8*0.01)^2/64 = 1e-4
    val peaks = Seq(10L, 12L, 10L, 12L, 10L, 12L, 10L, 12L)
      .scanLeft(0L)(_ + _).map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val r = BeatMetrics.spectralEdge(peaks).collect()(0)
    assert(r.getAs[Long]("n_rr") === 8L)
    assert(math.abs(r.getAs[Double]("total_power_s2") - 1e-4) < 1e-9)
    val f4 = 4.0 * 100.0 / 88.0
    assert(math.abs(r.getAs[Double]("median_freq_hz") - f4) < 1e-12)
    assert(math.abs(r.getAs[Double]("sef_hz") - f4) < 1e-12)
  }

  test("tinn: the wider triangle absorbing the shoulder bin wins with SSE 0") {
    import spark.implicits._
    // bins: 1 x4, 2 x2 -> peak bin 1 (height 4); candidates
    // m=0, nn in {2,3}: nn=2 leaves the shoulder (err 2^2=4),
    // nn=3 puts T(2)=2 exactly on it (SSE 0) -> TINN = 3*8/100
    val peaks = (Seq.fill(4)(8L) ++ Seq(16L, 16L))
      .scanLeft(0L)(_ + _).map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val r = BeatMetrics.tinn(peaks).collect()(0)
    assert(r.getAs[Long]("n_rr") === 6L)
    assert(r.getAs[Long]("modal_bin") === 1L)
    assert(r.getAs[Long]("modal_count") === 4L)
    assert(r.getAs[Long]("m_bin") === 0L)
    assert(r.getAs[Long]("n_bin") === 3L)
    assert(math.abs(r.getAs[Double]("sse")) < 1e-12)
    assert(math.abs(r.getAs[Double]("tinn_s") - 0.24) < 1e-12)
  }

  test("rrMutualInfo: perfect alternation pins MI = H = ln 2; constant train zeros both") {
    import spark.implicits._
    // ch 0: d = 10,16,10,16,10 -> levels 0,5,0,5,0 -> 4 pairs in 2
    // cells (0,5)x2 and (5,0)x2 -> MI = ln 2 = H(X) -> norm 1
    // ch 1: constant d -> one cell -> MI 0, H 0, norm null
    val peaks = (Seq(10L, 16L, 10L, 16L, 10L)
      .scanLeft(0L)(_ + _).map(("e", 0, _)) ++
      Seq(10L, 10L, 10L).scanLeft(0L)(_ + _).map(("e", 1, _)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.rrMutualInfo(peaks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n_pairs") === 4L)
    assert(r0.getAs[Long]("n_cells") === 2L)
    val ln2 = math.log(2.0)
    assert(math.abs(r0.getAs[Double]("mi_nats") - ln2) < 1e-9)
    assert(math.abs(r0.getAs[Double]("hx_nats") - ln2) < 1e-9)
    assert(math.abs(r0.getAs[Double]("mi_norm") - 1.0) < 1e-9)
    val r1 = out(1)
    assert(r1.getAs[Long]("n_pairs") === 2L)
    assert(r1.getAs[Long]("n_cells") === 1L)
    assert(math.abs(r1.getAs[Double]("mi_nats")) < 1e-12)
    assert(math.abs(r1.getAs[Double]("hx_nats")) < 1e-12)
    assert(r1.isNullAt(r1.fieldIndex("mi_norm")))
  }

  test("rrStationaritySplit: Welch t on a shifted train; zero variance and n=1 arms null out") {
    import spark.implicits._
    // ch 0: d = 10,12 | 20,26 -> means 11/23, vars 2/18, se2 = 10,
    //   t = -12/sqrt(10), dof = 100/82
    // ch 1: d = 10,10,10 | 20,20,20 -> both vars 0 -> se2 0 -> t/dof null
    // ch 2: d = 10 | 10,20 (odd n: floor(3/2)=1 in the first arm)
    //   -> n_a = 1 -> var_a null -> t/dof null; means still reported
    val peaks = (Seq(10L, 12L, 20L, 26L)
      .scanLeft(0L)(_ + _).map(("e", 0, _)) ++
      Seq(10L, 10L, 10L, 20L, 20L, 20L)
        .scanLeft(0L)(_ + _).map(("e", 1, _)) ++
      Seq(10L, 10L, 20L).scanLeft(0L)(_ + _).map(("e", 2, _)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.rrStationaritySplit(peaks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n_rr") === 4L)
    assert(r0.getAs[Long]("n_a") === 2L && r0.getAs[Long]("n_b") === 2L)
    assert(math.abs(r0.getAs[Double]("mean_a_s") - 0.11) < 1e-12)
    assert(math.abs(r0.getAs[Double]("mean_b_s") - 0.23) < 1e-12)
    assert(math.abs(r0.getAs[Double]("t_stat") - (-12.0 / math.sqrt(10.0))) < 1e-12)
    assert(math.abs(r0.getAs[Double]("dof") - 100.0 / 82.0) < 1e-12)
    val r1 = out(1)
    assert(r1.getAs[Long]("n_a") === 3L && r1.getAs[Long]("n_b") === 3L)
    assert(math.abs(r1.getAs[Double]("mean_a_s") - 0.1) < 1e-12)
    assert(math.abs(r1.getAs[Double]("mean_b_s") - 0.2) < 1e-12)
    assert(r1.isNullAt(r1.fieldIndex("t_stat")))
    assert(r1.isNullAt(r1.fieldIndex("dof")))
    val r2 = out(2)
    assert(r2.getAs[Long]("n_a") === 1L && r2.getAs[Long]("n_b") === 2L)
    assert(math.abs(r2.getAs[Double]("mean_a_s") - 0.1) < 1e-12)
    assert(math.abs(r2.getAs[Double]("mean_b_s") - 0.15) < 1e-12)
    assert(r2.isNullAt(r2.fieldIndex("t_stat")))
    assert(r2.isNullAt(r2.fieldIndex("dof")))
  }

  test("beatMorphClasses: 2-means splits tall/short beats; a one-morph channel degenerates cleanly") {
    import spark.implicits._
    // ch 0: beat apexes 10,4,9,5,10 at idx 10..50 step 10, window
    //   [-1..1] = [0, apex, 0]; init = beats 1/2 (apex 10 vs 4).
    //   iter-1 assignment {10,9,10}->cid0, {4,5}->cid1; recompute
    //   c0 apex = 29/3, c1 apex = 4.5; iter-2 assignment unchanged
    //   -> major 3, minor 2, share 0.4, sep = 29/3 - 4.5.
    //   An extra beat at idx 0 has an incomplete window -> excluded.
    // ch 1: three identical beats -> init centroids equal, ties all
    //   to cid 0, cluster 1 empties -> minor 0, sep 0.
    val apex = Map(10L -> 10.0, 20L -> 4.0, 30L -> 9.0, 40L -> 5.0,
      50L -> 10.0)
    val e = ((0L until 60L).map(i =>
      ("e", 0, i, apex.getOrElse(i, 0.0))) ++
      (0L until 40L).map(i =>
        ("e", 1, i, if (i % 10 == 5 && i > 0) 7.0 else 0.0)))
      .toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val peaks = ((Seq(0L) ++ apex.keys.toSeq.sorted).map(("e", 0, _)) ++
      Seq(5L, 15L, 25L).map(("e", 1, _)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.beatMorphClasses(e, peaks, before = 1, after = 1)
      .collect().map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n_beats") === 5L)
    assert(r0.getAs[Long]("n_major") === 3L)
    assert(r0.getAs[Long]("n_minor") === 2L)
    assert(math.abs(r0.getAs[Double]("minor_share") - 0.4) < 1e-12)
    assert(math.abs(r0.getAs[Double]("centroid_sep") - (29.0 / 3 - 4.5)) < 1e-9)
    val r1 = out(1)
    assert(r1.getAs[Long]("n_beats") === 3L)
    assert(r1.getAs[Long]("n_major") === 3L)
    assert(r1.getAs[Long]("n_minor") === 0L)
    assert(math.abs(r1.getAs[Double]("minor_share")) < 1e-12)
    assert(math.abs(r1.getAs[Double]("centroid_sep")) < 1e-12)
  }

  test("poincareAsymmetry: balanced alternation scores 50/50; pure deceleration 0/100; constant nulls") {
    import spark.implicits._
    // ch 0: d = 10,12,10,14,10,10 -> pairs +2,-2,+4,-4,0:
    //   above 2, below 2, on 1 -> PI = 50, GI = (2+4)/(2+2+4+4) = 50
    // ch 1: d = 10,12,16 -> both pairs above -> PI 0, GI 100
    // ch 2: constant d -> all on-identity -> PI/GI null
    val peaks = (Seq(10L, 12L, 10L, 14L, 10L, 10L)
      .scanLeft(0L)(_ + _).map(("e", 0, _)) ++
      Seq(10L, 12L, 16L).scanLeft(0L)(_ + _).map(("e", 1, _)) ++
      Seq(10L, 10L, 10L).scanLeft(0L)(_ + _).map(("e", 2, _)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.poincareAsymmetry(peaks).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n_pairs") === 5L)
    assert(r0.getAs[Long]("n_above") === 2L)
    assert(r0.getAs[Long]("n_below") === 2L)
    assert(r0.getAs[Long]("n_on") === 1L)
    assert(math.abs(r0.getAs[Double]("porta_pct") - 50.0) < 1e-12)
    assert(math.abs(r0.getAs[Double]("guzik_pct") - 50.0) < 1e-12)
    val r1 = out(1)
    assert(r1.getAs[Long]("n_pairs") === 2L)
    assert(math.abs(r1.getAs[Double]("porta_pct")) < 1e-12)
    assert(math.abs(r1.getAs[Double]("guzik_pct") - 100.0) < 1e-12)
    val r2 = out(2)
    assert(r2.getAs[Long]("n_on") === 2L)
    assert(r2.isNullAt(r2.fieldIndex("porta_pct")))
    assert(r2.isNullAt(r2.fieldIndex("guzik_pct")))
  }

  test("katzFd: a sawtooth pins L = 3*sqrt(2), d = sqrt(10); a 2-step line degenerates to null") {
    import spark.implicits._
    // ch 0: y = 0,1,0,1 -> L = 3*sqrt2, d = max(sqrt2, 2, sqrt10)
    //   = sqrt10, m = 3 -> FD = ln3/(ln3 + ln(sqrt10/(3*sqrt2)))
    // ch 1: FLAT y = 0,0 -> step/L/d are EXACTLY 1 (integer-exact
    //   through the decimal quantization), so ln(m) = ln(d/L) = 0
    //   -> denominator exactly 0 -> null in both engines. (A sloped
    //   2-point series does NOT null: its quantized L differs from d
    //   in the last decimal place, so FD = 0/-eps = -0.0.)
    val sm = (Seq(0.0, 1.0, 0.0, 1.0).zipWithIndex.map { case (v, i) =>
      ("e", 0, i.toLong, v) } ++
      Seq(0.0, 0.0).zipWithIndex.map { case (v, i) =>
        ("e", 1, i.toLong, v) })
      .toDF("experiment_id", "channel", "sample_idx", "y_smooth")
    val out = BeatMetrics.katzFd(sm).collect()
      .map(r => r.getAs[Int]("channel") -> r).toMap
    val r0 = out(0)
    assert(r0.getAs[Long]("n") === 4L)
    assert(math.abs(r0.getAs[Double]("l_sum") - 3.0 * math.sqrt(2.0)) < 1e-9)
    assert(math.abs(r0.getAs[Double]("d_max") - math.sqrt(10.0)) < 1e-12)
    val fd = math.log(3.0) /
      (math.log(3.0) + math.log(math.sqrt(10.0) / (3.0 * math.sqrt(2.0))))
    assert(math.abs(r0.getAs[Double]("katz_fd") - fd) < 1e-9)
    val r1 = out(1)
    assert(r1.getAs[Long]("n") === 2L)
    assert(r1.isNullAt(r1.fieldIndex("katz_fd")))
  }

  test("rrDfa: a linear RR ramp detrends to zero fluctuation at every scale (no slope rows)") {
    import spark.implicits._
    // d = 10,11,..,21 (12 RRs): the profile of a linear series is
    // quadratic, but within each detrended box the RESIDUAL of the
    // integrated mean-centered ramp is tiny yet nonzero; instead pin
    // the structural contract on a CONSTANT train: profile is exactly
    // linear in i -> every box RSS is 0 -> f2 = 0 rows are filtered
    // from the slope and alpha is null (k = 0 scale points survive)
    val peaks = Seq.fill(12)(10L)
      .scanLeft(0L)(_ + _).map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.rrDfa(peaks, scales = Seq(4, 6)).collect()
    assert(out.length === 2) // one row per scale with complete boxes
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("fluct")) < 1e-9)
      assert(r.isNullAt(r.fieldIndex("alpha")))
    }
    // and a jittered train yields a finite alpha over the two scales
    val jit = Seq(10L, 14L, 9L, 15L, 11L, 13L, 8L, 16L, 10L, 14L, 9L, 15L)
      .scanLeft(0L)(_ + _).map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val o2 = BeatMetrics.rrDfa(jit, scales = Seq(4, 6)).collect()
    assert(o2.length === 2)
    o2.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("alpha")))
      assert(r.getAs[Double]("fluct") > 0.0)
    }
  }

  test("heartRateTurbulence: one gated anchor, ramp recovery pins TS = 0.01 s/beat") {
    import spark.implicits._
    // ch 0: d = 30,30,20,30,24,25,...,38 (19 RRs). Anchor at RR#3:
    //   5*20 < 4*30 (premature) and 5*30 > 6*20 (pause); full
    //   (-2..+16) neighborhood. TO = 100*((24+25)-60)/60 = -55/3;
    //   every post-pause 5-window has slope exactly 1 -> numerator 10
    //   -> TS = 10/10/100 = 0.01. No other RR passes the gates.
    // ch 1: constant train -> no anchors -> no row
    val d0 = Seq(30L, 30L, 20L, 30L) ++ (24L to 38L)
    val peaks = (d0.scanLeft(0L)(_ + _).map(("e", 0, _)) ++
      Seq.fill(19)(30L).scanLeft(0L)(_ + _).map(("e", 1, _)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.heartRateTurbulence(peaks).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[Int]("channel") === 0)
    assert(r.getAs[Long]("n_anchors") === 1L)
    assert(math.abs(r.getAs[Double]("to_pct") - (-55.0 / 3.0)) < 1e-9)
    assert(math.abs(r.getAs[Double]("ts_s_per_beat") - 0.01) < 1e-12)
  }

  test("rrCrossCorrelation: identical trains pin r = 1, mirrored r = -1, constant nulls") {
    import spark.implicits._
    // ch0 = ch1 = 10,20,10,20; ch2 = 20,10,20,10; ch3 constant
    def tr(c: Int, d: Seq[Long]) =
      d.scanLeft(0L)(_ + _).map(("e", c, _))
    val peaks = (tr(0, Seq(10L, 20L, 10L, 20L)) ++
      tr(1, Seq(10L, 20L, 10L, 20L)) ++
      tr(2, Seq(20L, 10L, 20L, 10L)) ++
      tr(3, Seq(10L, 10L, 10L, 10L)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.rrCrossCorrelation(peaks).collect()
      .map(r => (r.getAs[Int]("cha"), r.getAs[Int]("chb")) -> r).toMap
    assert(out.size === 6)
    assert(out.values.forall(_.getAs[Long]("n_common") === 4L))
    assert(math.abs(out((0, 1)).getAs[Double]("rr_corr") - 1.0) < 1e-12)
    assert(math.abs(out((0, 2)).getAs[Double]("rr_corr") + 1.0) < 1e-12)
    assert(math.abs(out((1, 2)).getAs[Double]("rr_corr") + 1.0) < 1e-12)
    for (p <- Seq((0, 3), (1, 3), (2, 3)))
      assert(out(p).isNullAt(out(p).fieldIndex("rr_corr")), s"$p")
  }

  test("poincareAsymmetry: time reversal swaps above/below and complements both indices") {
    import spark.implicits._
    // the defining property of a time-irreversibility index: reversing
    // the RR sequence turns every (d_i, d_i+1) pair into its mirror,
    // so n_above <-> n_below, PI -> 100 - PI, GI -> 100 - GI (the
    // on-identity count is preserved). Seeded pseudo-random train.
    val rng = new scala.util.Random(42)
    val ds = Seq.fill(40)(10L + rng.nextInt(20))
    def df(d: Seq[Long]) = d.scanLeft(0L)(_ + _).map(("e", 0, _))
      .toDF("experiment_id", "channel", "peak_idx")
    val f = BeatMetrics.poincareAsymmetry(df(ds)).collect()(0)
    val r = BeatMetrics.poincareAsymmetry(df(ds.reverse)).collect()(0)
    assert(f.getAs[Long]("n_pairs") === r.getAs[Long]("n_pairs"))
    assert(f.getAs[Long]("n_above") === r.getAs[Long]("n_below"))
    assert(f.getAs[Long]("n_below") === r.getAs[Long]("n_above"))
    assert(f.getAs[Long]("n_on") === r.getAs[Long]("n_on"))
    assert(math.abs(f.getAs[Double]("porta_pct") +
      r.getAs[Double]("porta_pct") - 100.0) < 1e-9)
    assert(math.abs(f.getAs[Double]("guzik_pct") +
      r.getAs[Double]("guzik_pct") - 100.0) < 1e-9)
  }

  test("segmentalHrv: drift lands in SDANN, jitter in SDNNI, tails drop") {
    import spark.implicits._
    // segLen 4: d = 10x4 | 18,22,18,22 | 30,30(dropped tail)
    //   segment means 10/20 -> SDANN = 5/100; segment SDs 0/2
    //   -> SDNNI = 1/100. A 3-RR channel has no complete segment.
    val peaks = ((Seq(10L, 10L, 10L, 10L, 18L, 22L, 18L, 22L, 30L, 30L)
      .scanLeft(0L)(_ + _).map(("e", 0, _))) ++
      Seq(10L, 10L, 10L).scanLeft(0L)(_ + _).map(("e", 1, _)))
      .toDF("experiment_id", "channel", "peak_idx")
    val out = BeatMetrics.segmentalHrv(peaks, segLen = 4).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[Int]("channel") === 0)
    assert(r.getAs[Long]("n_segments") === 2L)
    assert(math.abs(r.getAs[Double]("sdann_s") - 0.05) < 1e-12)
    assert(math.abs(r.getAs[Double]("sdnni_s") - 0.01) < 1e-12)
  }
}
