package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{BeatMetrics, Envelopes, PeakDetect, Smoothing}
import TestSignals.recording

/** Bit-level, order-insensitive fingerprints ([[Fingerprints]]) of the
  * BeatMetrics functions that read the RR series (the q229–q276
  * peak-train family) or finish a moment-form Pearson r. They pin each
  * function's schema, row count and values, so a refactor of how the
  * family derives its RR series or shares its formulas must reproduce
  * them exactly.
  *
  * The seeded recording gives ~30 peaks per channel; the synthetic
  * trains give ~200 jittered beats per channel with premature-beat and
  * pause pairs (heart-rate turbulence anchors), two experiments that
  * share channel ids, channels with 1, 2 and 3 peaks and one duplicated
  * `peak_idx`.
  */
class PeakTrainEdgeSpec extends SparkSpec {
  import spark.implicits._
  import Fingerprints.print

  /** The functions that read only a peak train, by name. */
  private def trainFamily(p: DataFrame): Seq[(String, DataFrame)] = Seq(
    "hrv" -> BeatMetrics.hrv(p),
    "poincare" -> BeatMetrics.poincare(p),
    "bandPower" -> BeatMetrics.bandPower(p),
    "windowedBandPower" -> BeatMetrics.windowedBandPower(p),
    "sampleEntropy" -> BeatMetrics.sampleEntropy(p),
    "multiscaleEntropy" -> BeatMetrics.multiscaleEntropy(p),
    "triangularIndex" -> BeatMetrics.triangularIndex(p),
    "fragmentation" -> BeatMetrics.fragmentation(p),
    "approximateEntropy" -> BeatMetrics.approximateEntropy(p),
    "turningPoints" -> BeatMetrics.turningPoints(p),
    "rrEntropy" -> BeatMetrics.rrEntropy(p),
    "rrEntropy(1)" -> BeatMetrics.rrEntropy(p, binWidth = 1),
    "symbolicDynamics" -> BeatMetrics.symbolicDynamics(p),
    "prsa" -> BeatMetrics.prsa(p),
    "rqa" -> BeatMetrics.rqa(p),
    "spectralEdge" -> BeatMetrics.spectralEdge(p),
    "tinn" -> BeatMetrics.tinn(p),
    "rrMutualInfo" -> BeatMetrics.rrMutualInfo(p),
    "rrStationaritySplit" -> BeatMetrics.rrStationaritySplit(p),
    "poincareAsymmetry" -> BeatMetrics.poincareAsymmetry(p),
    "rrDfa" -> BeatMetrics.rrDfa(p),
    "heartRateTurbulence" -> BeatMetrics.heartRateTurbulence(p),
    "heartRateTurbulence(7)" -> BeatMetrics.heartRateTurbulence(p, postBeats = 7),
    "rrCrossCorrelation" -> BeatMetrics.rrCrossCorrelation(p),
    "segmentalHrv" -> BeatMetrics.segmentalHrv(p))

  /** The functions that read per-beat forces, by name. */
  private def forceFamily(m: DataFrame): Seq[(String, DataFrame)] = Seq(
    "restitution" -> BeatMetrics.restitution(m),
    "alternans" -> BeatMetrics.alternans(m),
    "forceAutocorr" -> BeatMetrics.forceAutocorr(m))

  private def fingerprints(fs: Seq[(String, DataFrame)]): Seq[(String, (String, Int, Long))] =
    fs.map { case (name, df) => name -> print(df) }

  /** Asserts `got` equals `want`; on a mismatch the clue lists `got` as
    * source lines.
    */
  private def pinned(got: Seq[(String, (String, Int, Long))],
      want: Seq[(String, (String, Int, Long))]): Unit =
    assert(got === want, got.map { case (n, (s, c, h)) =>
      s"""      "$n" -> ("$s", $c, ${h}L),"""
    }.mkString("\n", "\n", "\n"))

  test("seeded 9 x 3,000 recording plus a flat channel: peak-train family and Pearson sites") {
    val sig = recording(1L).union(flat("rec", 9, 3000))
    val smooth = Smoothing.withSmooth(sig)
    val e = Envelopes.withEnvelopes(smooth)
    val peaks = PeakDetect.detectPeaks(e)
    val m = BeatMetrics.metrics(e, peaks)
    assert(peaks.filter($"channel" === 9).count() === 0)
    val got = fingerprints(trainFamily(peaks) ++ forceFamily(m) ++ Seq(
      "beatTemplateCorr" -> BeatMetrics.beatTemplateCorr(e, peaks),
      "channelSynchrony" -> BeatMetrics.channelSynchrony(e),
      "laggedXcorr" -> BeatMetrics.laggedXcorr(smooth),
      "beatAnomaly" -> BeatMetrics.beatAnomaly(e, peaks, m),
      "beatMorphClasses" -> BeatMetrics.beatMorphClasses(e, peaks)))
    pinned(got, Seq(
      "hrv" -> ("struct<experiment_id:string,channel:int,n_beats:bigint,n_rr:bigint,mean_rr_s:double,sdnn_s:double,rmssd_s:double,pnn50:double>", 9, -6912559498113885987L),
      "poincare" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_sd:bigint,sd1_s:double,sd2_s:double,sd_ratio:double,ellipse_area_s2:double>", 9, 3324425759514627108L),
      "bandPower" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,mean_rr_s:double,n_lf_bins:bigint,n_hf_bins:bigint,lf_power_s2:double,hf_power_s2:double,lf_hf_ratio:double>", 9, -3382459817093208134L),
      "windowedBandPower" -> ("struct<experiment_id:string,channel:int,win:bigint,n_rr:bigint,mean_rr_s:double,n_lf_bins:bigint,n_hf_bins:bigint,lf_power_s2:double,hf_power_s2:double,lf_hf_ratio:double,win_start_s:double>", 36, -5049860762814974970L),
      "sampleEntropy" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,r_thresh:double,b_count:bigint,a_count:bigint,sampen:double>", 9, 6538699391001500321L),
      "multiscaleEntropy" -> ("struct<experiment_id:string,channel:int,scale:int,n_points:bigint,r_thresh:double,b_count:bigint,a_count:bigint,sampen:double>", 27, -2003843792535117175L),
      "triangularIndex" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_bins:bigint,modal_bin:bigint,modal_count:bigint,hti:double>", 9, 6067210050402579618L),
      "fragmentation" -> ("struct<experiment_id:string,channel:int,n_deltas:bigint,n_runs:bigint,pip:double,ials:double,pss:double>", 9, -6699413461934005602L),
      "approximateEntropy" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,r_thresh:double,phi2:double,phi3:double,apen:double>", 9, -7384456676665184578L),
      "turningPoints" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_turning:bigint,expected_tp:double,z:double>", 9, -2466970560791981572L),
      "rrEntropy" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_bins:bigint,entropy_nats:double,entropy_norm:double>", 9, 4519229733684380533L),
      "rrEntropy(1)" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_bins:bigint,entropy_nats:double,entropy_norm:double>", 9, -6798580389056178068L),
      "symbolicDynamics" -> ("struct<experiment_id:string,channel:int,n_words:bigint,pct_0v:double,pct_1v:double,pct_2lv:double,pct_2uv:double>", 9, 5374415004208435385L),
      "prsa" -> ("struct<experiment_id:string,channel:int,n_dec:bigint,dc:double,n_acc:bigint,ac:double>", 9, -408885093752693240L),
      "rqa" -> ("struct<experiment_id:string,channel:int,n_vec:bigint,r_thresh:double,rec_pairs:bigint,rec_rate:double,determinism:double,mean_line:double,max_line:bigint>", 9, -8818938031577029071L),
      "spectralEdge" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,total_power_s2:double,median_freq_hz:double,sef_hz:double>", 9, -1479263732129178898L),
      "tinn" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,modal_bin:bigint,modal_count:bigint,m_bin:bigint,n_bin:bigint,sse:double,tinn_s:double>", 9, 498997908657511905L),
      "rrMutualInfo" -> ("struct<experiment_id:string,channel:int,n_pairs:bigint,n_cells:bigint,mi_nats:double,hx_nats:double,mi_norm:double>", 9, -6348064672804005255L),
      "rrStationaritySplit" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_a:bigint,n_b:bigint,mean_a_s:double,mean_b_s:double,t_stat:double,dof:double>", 9, -2973491792569677406L),
      "poincareAsymmetry" -> ("struct<experiment_id:string,channel:int,n_pairs:bigint,n_above:bigint,n_below:bigint,n_on:bigint,porta_pct:double,guzik_pct:double>", 9, -2043352551085420158L),
      "rrDfa" -> ("struct<experiment_id:string,channel:int,scale:bigint,n_boxes:bigint,fluct:double,alpha:double>", 27, -7083809469771478520L),
      "heartRateTurbulence" -> ("struct<experiment_id:string,channel:int,n_anchors:bigint,to_pct:double,ts_s_per_beat:double>", 9, -7687140667598512980L),
      "heartRateTurbulence(7)" -> ("struct<experiment_id:string,channel:int,n_anchors:bigint,to_pct:double,ts_s_per_beat:double>", 9, 3331027694482984947L),
      "rrCrossCorrelation" -> ("struct<experiment_id:string,cha:int,chb:int,n_common:bigint,rr_corr:double>", 36, 6013005321250140897L),
      "segmentalHrv" -> ("struct<experiment_id:string,channel:int,n_segments:bigint,sdann_s:double,sdnni_s:double>", 9, -5829835335180380634L),
      "restitution" -> ("struct<experiment_id:string,channel:int,n_pairs:bigint,rr_force_corr:double,restitution_slope_per_s:double>", 9, -7963124703678481900L),
      "alternans" -> ("struct<experiment_id:string,channel:int,n_beats:bigint,mean_even:double,mean_odd:double,alt_magnitude:double,alt_relative:double>", 9, -6984530805986046617L),
      "forceAutocorr" -> ("struct<experiment_id:string,channel:int,lag:bigint,n_pairs:bigint,acf:double>", 27, 3418497288446546908L),
      "beatTemplateCorr" -> ("struct<experiment_id:string,channel:int,peak_idx:bigint,n:bigint,template_corr:double>", 252, 186843246047575816L),
      "channelSynchrony" -> ("struct<experiment_id:string,ch_a:int,ch_b:int,n:bigint,sync_corr:double>", 45, 4142243205170997800L),
      "laggedXcorr" -> ("struct<experiment_id:string,ca:int,cb:int,n_lags:bigint,best_lag:bigint,best_r:double,r_zero_lag:double>", 36, 3152712885883059472L),
      "beatAnomaly" -> ("struct<experiment_id:string,channel:int,peak_idx:bigint,rr_s:double,force:double,dfdt_max:double,dfdt_min:double,template_corr:double,rt50_s:double,rt90_s:double,z_force:double,z_rr:double,is_anomaly:boolean>", 258, 1542633816270268338L),
      "beatMorphClasses" -> ("struct<experiment_id:string,channel:int,n_beats:bigint,n_major:bigint,n_minor:bigint,minor_share:double,centroid_sep:double>", 9, 5666614016861398605L)))
  }

  test("synthetic trains: HRT anchors, shared channel ids, 1-3 peak channels, a duplicated peak") {
    val peaks = trains
    // the edges the trains are built to reach
    assert(BeatMetrics.heartRateTurbulence(peaks).filter($"n_anchors" > 0L)
      .select("experiment_id").distinct().count() === 2)
    assert(BeatMetrics.rrCrossCorrelation(peaks)
      .select("experiment_id").distinct().count() === 2)
    assert(peaks.groupBy("experiment_id", "channel", "peak_idx").count()
      .filter($"count" > 1L).count() === 1)
    val forces = peaks.withColumn("force",
      when($"peak_idx" % 17L === 3L, lit(null).cast("double"))
        .otherwise(($"peak_idx" % 53L).cast("double") * 1.5 + 200.0))
    val got = fingerprints(trainFamily(peaks) ++ forceFamily(forces))
    pinned(got, Seq(
      "hrv" -> ("struct<experiment_id:string,channel:int,n_beats:bigint,n_rr:bigint,mean_rr_s:double,sdnn_s:double,rmssd_s:double,pnn50:double>", 9, -6982632618300187246L),
      "poincare" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_sd:bigint,sd1_s:double,sd2_s:double,sd_ratio:double,ellipse_area_s2:double>", 9, -7194906421667556487L),
      "bandPower" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,mean_rr_s:double,n_lf_bins:bigint,n_hf_bins:bigint,lf_power_s2:double,hf_power_s2:double,lf_hf_ratio:double>", 8, 7388539622683802752L),
      "windowedBandPower" -> ("struct<experiment_id:string,channel:int,win:bigint,n_rr:bigint,mean_rr_s:double,n_lf_bins:bigint,n_hf_bins:bigint,lf_power_s2:double,hf_power_s2:double,lf_hf_ratio:double,win_start_s:double>", 112, -5603346825899567116L),
      "sampleEntropy" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,r_thresh:double,b_count:bigint,a_count:bigint,sampen:double>", 8, 3847624928307423993L),
      "multiscaleEntropy" -> ("struct<experiment_id:string,channel:int,scale:int,n_points:bigint,r_thresh:double,b_count:bigint,a_count:bigint,sampen:double>", 21, -3850658964205995737L),
      "triangularIndex" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_bins:bigint,modal_bin:bigint,modal_count:bigint,hti:double>", 8, -7468012159243166563L),
      "fragmentation" -> ("struct<experiment_id:string,channel:int,n_deltas:bigint,n_runs:bigint,pip:double,ials:double,pss:double>", 7, 6019440882307402143L),
      "approximateEntropy" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,r_thresh:double,phi2:double,phi3:double,apen:double>", 8, -7705599851755146401L),
      "turningPoints" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_turning:bigint,expected_tp:double,z:double>", 6, 2429824529788029582L),
      "rrEntropy" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_bins:bigint,entropy_nats:double,entropy_norm:double>", 8, -2541170957460067156L),
      "rrEntropy(1)" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_bins:bigint,entropy_nats:double,entropy_norm:double>", 8, -5137731535816898731L),
      "symbolicDynamics" -> ("struct<experiment_id:string,channel:int,n_words:bigint,pct_0v:double,pct_1v:double,pct_2lv:double,pct_2uv:double>", 6, -8056336070042568438L),
      "prsa" -> ("struct<experiment_id:string,channel:int,n_dec:bigint,dc:double,n_acc:bigint,ac:double>", 6, 5866758076428404722L),
      "rqa" -> ("struct<experiment_id:string,channel:int,n_vec:bigint,r_thresh:double,rec_pairs:bigint,rec_rate:double,determinism:double,mean_line:double,max_line:bigint>", 8, -6131224584924764407L),
      "spectralEdge" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,total_power_s2:double,median_freq_hz:double,sef_hz:double>", 7, 5611594854799781379L),
      "tinn" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,modal_bin:bigint,modal_count:bigint,m_bin:bigint,n_bin:bigint,sse:double,tinn_s:double>", 8, 3148629958947149757L),
      "rrMutualInfo" -> ("struct<experiment_id:string,channel:int,n_pairs:bigint,n_cells:bigint,mi_nats:double,hx_nats:double,mi_norm:double>", 7, 2652908304636911794L),
      "rrStationaritySplit" -> ("struct<experiment_id:string,channel:int,n_rr:bigint,n_a:bigint,n_b:bigint,mean_a_s:double,mean_b_s:double,t_stat:double,dof:double>", 7, 4777732016157105489L),
      "poincareAsymmetry" -> ("struct<experiment_id:string,channel:int,n_pairs:bigint,n_above:bigint,n_below:bigint,n_on:bigint,porta_pct:double,guzik_pct:double>", 7, -2371739823076802985L),
      "rrDfa" -> ("struct<experiment_id:string,channel:int,scale:bigint,n_boxes:bigint,fluct:double,alpha:double>", 18, 5005879780684503143L),
      "heartRateTurbulence" -> ("struct<experiment_id:string,channel:int,n_anchors:bigint,to_pct:double,ts_s_per_beat:double>", 6, -3971229545965740251L),
      "heartRateTurbulence(7)" -> ("struct<experiment_id:string,channel:int,n_anchors:bigint,to_pct:double,ts_s_per_beat:double>", 6, -519226440396700541L),
      "rrCrossCorrelation" -> ("struct<experiment_id:string,cha:int,chb:int,n_common:bigint,rr_corr:double>", 13, 1205910678125838531L),
      "segmentalHrv" -> ("struct<experiment_id:string,channel:int,n_segments:bigint,sdann_s:double,sdnni_s:double>", 6, -7477150652958303416L),
      "restitution" -> ("struct<experiment_id:string,channel:int,n_pairs:bigint,rr_force_corr:double,restitution_slope_per_s:double>", 8, 8165653393962839856L),
      "alternans" -> ("struct<experiment_id:string,channel:int,n_beats:bigint,mean_even:double,mean_odd:double,alt_magnitude:double,alt_relative:double>", 9, -4622706802380132336L),
      "forceAutocorr" -> ("struct<experiment_id:string,channel:int,lag:bigint,n_pairs:bigint,acf:double>", 20, -7766098092025335478L)))
  }

  /** `n` beats from sample 100 + ch at jittered intervals around `rr`
    * samples; every 25 intervals a premature beat (0.7·rr, so
    * 5·RRᵢ < 4·RRᵢ₋₁) is followed by a compensatory pause (1.5·rr, so
    * 5·RRᵢ₊₁ > 6·RRᵢ).
    */
  private def train(e: String, ch: Int, n: Int, rr: Int): Seq[(String, Int, Long, Double, Double)] = {
    val rng = new java.util.Random(31L * rr + ch)
    val gaps = (0 until n - 1).map { k =>
      k % 25 match {
        case 10 => rr * 7 / 10
        case 11 => rr * 3 / 2
        case _ => rr + rng.nextInt(9) - 4
      }
    }
    gaps.scanLeft(100L + ch)(_ + _)
      .map(i => (e, ch, i, i / 100.0, 1000.0 + rng.nextInt(50)))
  }

  /** Two experiments sharing channel ids 0..2 (~200 beats each, one
    * shorter train), channels 3/4/5 of the second with 1/2/3 peaks, and
    * one peak of ("p", 1) listed twice.
    */
  private def trains: DataFrame = {
    val p = Seq(train("p", 0, 200, 70), train("p", 1, 200, 64), train("p", 2, 200, 90))
    val q = Seq(train("q", 0, 200, 72), train("q", 1, 200, 66), train("q", 2, 150, 80),
      train("q", 3, 1, 70), train("q", 4, 2, 70), train("q", 5, 3, 70))
    val dup = p(1)(50)
    (p.flatten ++ q.flatten :+ dup)
      .toDF("experiment_id", "channel", "peak_idx", "t", "peak_value")
  }

  private def flat(e: String, ch: Int, n: Int) =
    (0 until n).map(i => SignalRow(e, ch, i.toLong, i / 100.0, 1000.0)).toDS().toDF()
}
