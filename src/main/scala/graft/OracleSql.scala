package graft

import graft.functions.SavitzkyGolay

/** Generates the DuckDB oracle SQL (driver t2 contract, SURVEY §2.9).
  *
  * Every fragment mirrors the Spark plan's arithmetic *association
  * order* (left-assoc FIR sums starting at 0.0) so both engines produce
  * bitwise-identical doubles — hash-matching then survives any rounding
  * the driver applies. Double literals use `Double.toString`, which
  * round-trips exactly.
  */
object OracleSql {
  val signalGlob = s"${graft.sources.SignalFixture.signalPath}/*.parquet"
  val stimGlob = s"${graft.sources.SignalFixture.stimPath}/*.parquet"

  def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains("E") || s.contains("e")) s.toLowerCase.replace("e", "e") else s
  }

  /** FIR over a window named `w`, chunked exactly like
    * `FirDotExpr.dotChunkedAt`, the fold of the smoothing and envelope
    * kernels:
    * (0.0 + c₀·lag(v,k) + … ≤100 terms) + (0.0 + …) + … — same chunk
    * boundaries, same left-assoc order, bitwise-identical to the Spark
    * plan. (Also keeps each chain under DuckDB's 128-deep binder limit.)
    */
  def sgTerms(valueCol: String, coeffs: Array[Double], win: String = "w"): String = {
    val k = coeffs.length / 2
    val terms = coeffs.zipWithIndex.map { case (c, j) =>
      val off = j - k
      val tap =
        if (off < 0) s"lag($valueCol, ${-off}) OVER $win"
        else if (off == 0) valueCol
        else s"lead($valueCol, $off) OVER $win"
      s"(${dlit(c)}) * $tap"
    }
    terms.grouped(graft.operators.Smoothing.dotChunk)
      .map(g => "(0.0 + " + g.mkString(" + ") + ")")
      .mkString(" + ")
  }

  /** CTEs: `sig` (the committed fixture) and `cnt` (per-channel length).
    *
    * Spine CTEs here and below are `AS MATERIALIZED`: DuckDB re-inlines a
    * plain CTE at every reference, and the beat-metric oracles reference
    * the smooth/enriched/detected spine up to 16 times per statement
    * (q240) — measured at 72% of the driver's whole 265-query compare
    * before materialization (round-8 verdict). Same technique the file
    * already used for q16c lists and the q178 rounds. Results are
    * unchanged — materialization only pins evaluate-once semantics.
    */
  def sigCtes: String =
    s"""sig AS MATERIALIZED (SELECT experiment_id, channel, sample_idx, t, y FROM read_parquet('$signalGlob')),
       |cnt AS MATERIALIZED (SELECT experiment_id, channel, count(*) AS n FROM sig GROUP BY 1, 2)""".stripMargin

  /** CTE chain: smooth series as `smooth(experiment_id, channel,
    * sample_idx, v)` — mirrors Smoothing.withSmooth (block-repeat pad 25,
    * 51-tap SG, strip).
    */
  def smoothCtes(window: Int = 51, polyorder: Int = 7): String = {
    val k = window / 2
    val c = SavitzkyGolay.coeffs(window, polyorder)
    s"""sp AS (
       |  SELECT experiment_id, channel, sample_idx AS pos, y FROM sig WHERE sample_idx < $k
       |  UNION ALL
       |  SELECT experiment_id, channel, sample_idx + $k AS pos, y FROM sig
       |  UNION ALL
       |  SELECT s.experiment_id, s.channel, s.sample_idx + ${2 * k} AS pos, s.y
       |  FROM sig s JOIN cnt c USING (experiment_id, channel)
       |  WHERE s.sample_idx >= c.n - $k
       |),
       |sm AS (
       |  SELECT experiment_id, channel, pos, ${sgTerms("y", c, "w_sm")} AS v
       |  FROM sp
       |  WINDOW w_sm AS (PARTITION BY experiment_id, channel ORDER BY pos)
       |),
       |smooth AS MATERIALIZED (
       |  SELECT s.experiment_id, s.channel, s.pos - $k AS sample_idx, s.v
       |  FROM sm s JOIN cnt c USING (experiment_id, channel)
       |  WHERE s.pos >= $k AND s.pos < c.n + $k
       |)""".stripMargin
  }

  /** CTE chain: envelopes + diastolic, ending in
    * `enriched(experiment_id, channel, sample_idx, t, y, y_smooth,
    * baseline, ceiling, diastolic, n)` — mirrors Envelopes.withEnvelopes
    * (strict-neighbor extremum marking, forward-frame interior min/max,
    * block-repeat pad 175, SG 301/3 with nearest-edge extension).
    */
  def enrichedCtes(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val bigW = cfg.auxWindowSize // 350
    val sw = cfg.auxSmoothingWindow // 301
    val pad = math.max(bigW, sw) / 2 // 175
    val k = sw / 2 // 150
    val c = SavitzkyGolay.coeffs(sw, cfg.auxPolyorder)
    s"""$sigCtes,
       |${smoothCtes(cfg.smoothWindow, cfg.smoothPolyorder)},
       |mark AS (
       |  SELECT s.experiment_id, s.channel, s.sample_idx, s.v, c.n,
       |    CASE WHEN s.v < lag(s.v, 1) OVER w_mk AND s.v < lead(s.v, 1) OVER w_mk THEN s.v END AS valley_v,
       |    CASE WHEN s.v > lag(s.v, 1) OVER w_mk AND s.v > lead(s.v, 1) OVER w_mk THEN s.v END AS peak_v
       |  FROM smooth s JOIN cnt c USING (experiment_id, channel)
       |  WINDOW w_mk AS (PARTITION BY experiment_id, channel ORDER BY sample_idx)
       |),
       |fr AS (
       |  SELECT experiment_id, channel, sample_idx, n,
       |    min(valley_v) OVER wf AS fv,
       |    max(peak_v) OVER wf AS cv
       |  FROM mark
       |  WINDOW wf AS (PARTITION BY experiment_id, channel ORDER BY sample_idx
       |                ROWS BETWEEN 1 FOLLOWING AND ${bigW - 2} FOLLOWING)
       |),
       |dom AS MATERIALIZED (
       |  SELECT experiment_id, channel, sample_idx AS fi, fv, cv, n, n - $bigW AS m
       |  FROM fr WHERE sample_idx < n - $bigW AND n - $bigW >= $pad
       |),
       |ep AS MATERIALIZED (
       |  SELECT experiment_id, channel, fi AS pos, fv, cv, n FROM dom WHERE fi < $pad
       |  UNION ALL
       |  SELECT experiment_id, channel, fi + $pad AS pos, fv, cv, n FROM dom
       |  UNION ALL
       |  SELECT experiment_id, channel, fi + ${2 * pad} AS pos, fv, cv, n FROM dom WHERE fi >= m - $pad
       |),
       |ee AS (
       |  SELECT * FROM ep
       |  UNION ALL
       |  SELECT p.experiment_id, p.channel, g.gs AS pos, p.fv, p.cv, p.n
       |  FROM ep p, generate_series(-$k, -1) AS g(gs) WHERE p.pos = 0
       |  UNION ALL
       |  SELECT p.experiment_id, p.channel, p.n + g.gs AS pos, p.fv, p.cv, p.n
       |  FROM ep p, generate_series(0, ${k - 1}) AS g(gs) WHERE p.pos = p.n - 1
       |),
       |env AS (
       |  SELECT experiment_id, channel, pos AS sample_idx,
       |    ${sgTerms("fv", c, "w_env")} AS baseline,
       |    ${sgTerms("cv", c, "w_env")} AS ceiling
       |  FROM ee
       |  WINDOW w_env AS (PARTITION BY experiment_id, channel ORDER BY pos)
       |  QUALIFY pos >= 0 AND pos < n
       |),
       |enriched AS MATERIALIZED (
       |  SELECT s.experiment_id, s.channel, s.sample_idx, s.t, s.y,
       |    sm2.v AS y_smooth, e.baseline, e.ceiling,
       |    e.baseline + ${dlit(cfg.relativeToBaseline)} * (e.ceiling - e.baseline) AS diastolic,
       |    c.n
       |  FROM sig s
       |  JOIN smooth sm2 USING (experiment_id, channel, sample_idx)
       |  LEFT JOIN env e USING (experiment_id, channel, sample_idx)
       |  JOIN cnt c USING (experiment_id, channel)
       |)""".stripMargin
  }

  /** Q1 — O3 smooth: block-repeat pad by 25, 51-tap SG, strip. */
  def q1Smooth(window: Int = 51, polyorder: Int = 7): String =
    s"""WITH $sigCtes,
       |${smoothCtes(window, polyorder)}
       |SELECT experiment_id, channel, sample_idx, v AS y_smooth FROM smooth""".stripMargin

  /** Q2/Q3/Q4 — envelope column projections off the enriched chain. */
  def qEnriched(outCol: String): String =
    s"""WITH ${enrichedCtes()}
       |SELECT experiment_id, channel, sample_idx, $outCol FROM enriched""".stripMargin

  /** Rule-1 candidates of the smooth series (strict local maxima):
    * `cand(experiment_id, channel, p, h, n)`.
    */
  def candCtes: String =
    s"""cand AS MATERIALIZED (
       |  SELECT experiment_id, channel, sample_idx AS p, v AS h, n
       |  FROM (
       |    SELECT s.*, c.n, lag(s.v, 1) OVER w_cand AS pv, lead(s.v, 1) OVER w_cand AS nv
       |    FROM smooth s JOIN cnt c USING (experiment_id, channel)
       |    WINDOW w_cand AS (PARTITION BY s.experiment_id, s.channel ORDER BY s.sample_idx)
       |  ) WHERE v > pv AND v > nv
       |)""".stripMargin

  /** Prominence CTEs over a source CTE `src(experiment_id, channel, p,
    * h, n)`: emits `promf(..., prominence, lbase, rbase, lmin, rmin)`.
    * Mirrors FindPeaks.peakProminences: scan stops at the first strictly
    * higher sample within the wlen-clipped window; min includes the peak.
    */
  def promCtes(src: String, wlen: Int): String = {
    val half = (if (wlen % 2 == 0) wlen + 1 else wlen) / 2
    s"""win AS (
       |  SELECT c2.*, greatest(p - $half, 0) AS lo, least(p + $half, n - 1) AS hi FROM $src c2
       |),
       |stops AS (
       |  SELECT w.experiment_id, w.channel, w.p, w.h, w.n, w.lo, w.hi,
       |    max(s.sample_idx) FILTER (WHERE s.sample_idx < w.p AND s.v > w.h) AS lstop,
       |    min(s.sample_idx) FILTER (WHERE s.sample_idx > w.p AND s.v > w.h) AS rstop
       |  FROM win w JOIN smooth s
       |    ON s.experiment_id = w.experiment_id AND s.channel = w.channel
       |    AND s.sample_idx BETWEEN w.lo AND w.hi
       |  GROUP BY ALL
       |),
       |proms AS (
       |  SELECT st.experiment_id, st.channel, st.p, st.h, st.n, st.lo, st.hi, st.lstop, st.rstop,
       |    min(s.v) FILTER (WHERE s.sample_idx BETWEEN coalesce(st.lstop + 1, st.lo) AND st.p) AS lmin,
       |    arg_min(s.sample_idx, s.v) FILTER (WHERE s.sample_idx BETWEEN coalesce(st.lstop + 1, st.lo) AND st.p) AS lbase,
       |    min(s.v) FILTER (WHERE s.sample_idx BETWEEN st.p AND coalesce(st.rstop - 1, st.hi)) AS rmin,
       |    arg_min(s.sample_idx, s.v) FILTER (WHERE s.sample_idx BETWEEN st.p AND coalesce(st.rstop - 1, st.hi)) AS rbase
       |  FROM stops st JOIN smooth s
       |    ON s.experiment_id = st.experiment_id AND s.channel = st.channel
       |    AND s.sample_idx BETWEEN st.lo AND st.hi
       |  GROUP BY ALL
       |),
       |promf AS MATERIALIZED (
       |  SELECT *, h - greatest(lmin, rmin) AS prominence FROM proms
       |)""".stripMargin
  }

  /** Q5 — rule-1 candidate maxima of the smooth series. */
  def q5Candidates: String =
    s"""WITH $sigCtes,
       |${smoothCtes()},
       |$candCtes
       |SELECT experiment_id, channel, p AS sample_idx FROM cand""".stripMargin

  /** Q6 — candidates surviving the amplitude gate (null envelope keeps,
    * mirroring Python NaN comparisons).
    */
  def q6Gate(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH ${enrichedCtes(cfg)},
       |$candCtes
       |SELECT c2.experiment_id, c2.channel, c2.p AS sample_idx
       |FROM cand c2 JOIN enriched e
       |  ON e.experiment_id = c2.experiment_id AND e.channel = c2.channel
       |  AND e.sample_idx = c2.p
       |WHERE e.baseline IS NULL OR e.ceiling IS NULL
       |   OR c2.h >= (e.ceiling - e.baseline) * ${dlit(cfg.threshold)} + e.baseline""".stripMargin

  /** Q7a — wlen-clipped prominence of every candidate. */
  def q7aProminence(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH $sigCtes,
       |${smoothCtes()},
       |$candCtes,
       |${promCtes("cand", cfg.wlen)}
       |SELECT experiment_id, channel, p AS peak_idx, prominence FROM promf""".stripMargin

  /** Full detect_peaks chain ending in `detected(experiment_id,
    * channel, peak_idx, t, peak_value)`: greedy distance (recursive CTE,
    * priority = height desc then index desc), prominence >= min,
    * interpolated width >= min, amplitude gate. Mirrors
    * PeakDetect.detectPeaks. Must be used under `WITH RECURSIVE`.
    */
  def detectCtes(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val dist = cfg.minDistance
    s"""${enrichedCtes(cfg)},
       |$candCtes,
       |ord AS MATERIALIZED (
       |  SELECT *, row_number() OVER (PARTITION BY experiment_id, channel ORDER BY h DESC, p DESC) AS rn
       |  FROM cand
       |),
       |maxrn AS (SELECT experiment_id, channel, max(rn) AS mx FROM ord GROUP BY 1, 2),
       |greedy AS (
       |  SELECT experiment_id, channel, rn, [p] AS kept FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.experiment_id, o.channel, o.rn,
       |    CASE WHEN len(list_filter(g.kept, k -> abs(o.p - k) < $dist)) > 0
       |         THEN g.kept ELSE list_append(g.kept, o.p) END
       |  FROM greedy g JOIN ord o
       |    ON o.experiment_id = g.experiment_id AND o.channel = g.channel AND o.rn = g.rn + 1
       |),
       |keptp AS (
       |  SELECT g.experiment_id, g.channel, unnest(g.kept) AS p
       |  FROM greedy g JOIN maxrn m
       |    ON g.experiment_id = m.experiment_id AND g.channel = m.channel AND g.rn = m.mx
       |),
       |keptc AS MATERIALIZED (
       |  SELECT c2.experiment_id, c2.channel, c2.p, c2.h, c2.n
       |  FROM cand c2 JOIN keptp k
       |    ON k.experiment_id = c2.experiment_id AND k.channel = c2.channel AND k.p = c2.p
       |),
       |${promCtes("keptc", cfg.wlen)},
       |pk AS (
       |  SELECT *, h - prominence * ${dlit(cfg.relHeight)} AS eh FROM promf
       |  WHERE prominence >= ${dlit(cfg.prominence)}
       |),
       |wstops AS (
       |  SELECT w.experiment_id, w.channel, w.p, w.h, w.eh, w.lbase, w.rbase,
       |    max(s.sample_idx) FILTER (WHERE s.sample_idx BETWEEN w.lbase AND w.p AND s.v <= w.eh) AS li,
       |    min(s.sample_idx) FILTER (WHERE s.sample_idx BETWEEN w.p AND w.rbase AND s.v <= w.eh) AS ri
       |  FROM pk w JOIN smooth s
       |    ON s.experiment_id = w.experiment_id AND s.channel = w.channel
       |    AND s.sample_idx BETWEEN w.lbase AND w.rbase
       |  GROUP BY ALL
       |),
       |winterp AS (
       |  SELECT ws.*, coalesce(ws.li, ws.lbase) AS lidx, coalesce(ws.ri, ws.rbase) AS ridx FROM wstops ws
       |),
       |wvals AS (
       |  SELECT wi.*, sl.v AS xl, sl1.v AS xl1, sr.v AS xr, sr1.v AS xr1
       |  FROM winterp wi
       |  JOIN smooth sl  ON sl.experiment_id  = wi.experiment_id AND sl.channel  = wi.channel AND sl.sample_idx  = wi.lidx
       |  JOIN smooth sl1 ON sl1.experiment_id = wi.experiment_id AND sl1.channel = wi.channel AND sl1.sample_idx = wi.lidx + 1
       |  JOIN smooth sr  ON sr.experiment_id  = wi.experiment_id AND sr.channel  = wi.channel AND sr.sample_idx  = wi.ridx
       |  JOIN smooth sr1 ON sr1.experiment_id = wi.experiment_id AND sr1.channel = wi.channel AND sr1.sample_idx = wi.ridx - 1
       |),
       |wfinal AS (
       |  SELECT *,
       |    (CASE WHEN xl < eh THEN lidx + (eh - xl) / (xl1 - xl) ELSE CAST(lidx AS DOUBLE) END) AS lip,
       |    (CASE WHEN xr < eh THEN ridx - (eh - xr) / (xr1 - xr) ELSE CAST(ridx AS DOUBLE) END) AS rip
       |  FROM wvals
       |),
       |detected AS MATERIALIZED (
       |  SELECT wf.experiment_id, wf.channel, wf.p AS peak_idx, e.t, wf.h AS peak_value
       |  FROM wfinal wf JOIN enriched e
       |    ON e.experiment_id = wf.experiment_id AND e.channel = wf.channel AND e.sample_idx = wf.p
       |  WHERE wf.rip - wf.lip >= ${dlit(cfg.width)}
       |    AND (e.baseline IS NULL OR e.ceiling IS NULL
       |         OR NOT (wf.h < (e.ceiling - e.baseline) * ${dlit(cfg.threshold)} + e.baseline))
       |)""".stripMargin
  }

  /** Q7b — the detected peaks themselves. */
  def q7bPeaks(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)}
       |SELECT experiment_id, channel, peak_idx, t, peak_value FROM detected""".stripMargin

  /** Q233 — baseline-drift audit (mirrors BeatMetrics.baselineDrift):
    * the q114 OLS arithmetic over the enriched baseline envelope.
    */
  def q233BaselineDrift(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val perMin = dlit(cfg.sampleRateHz * 60.0)
    s"""WITH ${enrichedCtes()},
       |xs AS (
       |  SELECT experiment_id, channel,
       |    CAST(sample_idx AS DECIMAL(18,4)) AS x,
       |    CAST(baseline AS DECIMAL(18,4)) AS y
       |  FROM enriched WHERE baseline IS NOT NULL
       |),
       |a AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
       |    CAST(sum(x * x) AS DOUBLE) AS sxx,
       |    CAST(sum(y * y) AS DOUBLE) AS syy,
       |    CAST(sum(x * y) AS DOUBLE) AS sxy
       |  FROM xs GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n,
       |  (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)
       |    AS slope_per_sample,
       |  ((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)) * $perMin
       |    AS drift_per_minute,
       |  (sy - ((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)) * sx)
       |    / n AS intercept,
       |  (n * sxy - sx * sy) * (n * sxy - sx * sy)
       |    / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0) AS r2
       |FROM a""".stripMargin
  }

  /** Q232 — force alternans (mirrors BeatMetrics.alternans): parity
    * phases off the beat order, exact decimal phase sums, pinned
    * guarded finishes.
    */
  def q232Alternans(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val meanE = "CAST(se AS DOUBLE) / CAST(nullif(n_even, 0) AS DOUBLE)"
    val meanO =
      "CAST(so AS DOUBLE) / CAST(nullif(n_beats - n_even, 0) AS DOUBLE)"
    val meanAll = "CAST(coalesce(se, CAST(0 AS DECIMAL(20,6))) " +
      "+ coalesce(so, CAST(0 AS DECIMAL(20,6))) AS DOUBLE) " +
      "/ CAST(n_beats AS DOUBLE)"
    s"""WITH RECURSIVE ${metricCtes(cfg)},
       |ph AS (
       |  SELECT experiment_id, channel, force,
       |    CAST(row_number() OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS BIGINT) % 2 AS phase
       |  FROM m WHERE force IS NOT NULL
       |),
       |a AS (
       |  SELECT experiment_id, channel,
       |    CAST(count(*) AS BIGINT) AS n_beats,
       |    CAST(sum(CASE WHEN phase = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_even,
       |    sum(CASE WHEN phase = 0
       |        THEN CAST(force AS DECIMAL(20,6)) END) AS se,
       |    sum(CASE WHEN phase = 1
       |        THEN CAST(force AS DECIMAL(20,6)) END) AS so
       |  FROM ph GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_beats,
       |  $meanE AS mean_even, $meanO AS mean_odd,
       |  abs(($meanE) - ($meanO)) AS alt_magnitude,
       |  abs(($meanE) - ($meanO)) / nullif($meanAll, 0.0) AS alt_relative
       |FROM a""".stripMargin
  }

  /** Q231 — mechanical restitution (mirrors BeatMetrics.restitution):
    * decimal-quantized RR/force moments off the metric CTEs, pinned
    * correlation and slope with identical guards.
    */
  def q231Restitution(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val rate = dlit(cfg.sampleRateHz)
    val n = "CAST(n_pairs AS DOUBLE)"
    val mx = s"CAST(sx AS DOUBLE) / $n"
    val my = s"CAST(sy AS DOUBLE) / $n"
    val cov = s"CAST(sxy AS DOUBLE) / $n - ($mx) * ($my)"
    val vx = s"CAST(sxx AS DOUBLE) / $n - ($mx) * ($mx)"
    val vy = s"CAST(syy AS DOUBLE) / $n - ($my) * ($my)"
    s"""WITH RECURSIVE ${metricCtes(cfg)},
       |rr AS (
       |  SELECT experiment_id, channel, force,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS x
       |  FROM m
       |),
       |f AS (SELECT * FROM rr WHERE x IS NOT NULL AND force IS NOT NULL),
       |a AS (
       |  SELECT experiment_id, channel,
       |    CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    sum(CAST(force AS DECIMAL(20,6))) AS sy,
       |    sum(CAST(force * force AS DECIMAL(28,10))) AS syy,
       |    sum(CAST(CAST(x AS DOUBLE) * force AS DECIMAL(28,10))) AS sxy
       |  FROM f GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_pairs,
       |  ($cov) / nullif(sqrt(greatest(($vx) * ($vy), 0.0)), 0.0)
       |    AS rr_force_corr,
       |  (($cov) / nullif($vx, 0.0)) * $rate AS restitution_slope_per_s
       |FROM a""".stripMargin
  }

  /** Q230 — stim-to-beat coupling latency (mirrors
    * BeatMetrics.stimLatency): q10's rescaled stim maxima, the
    * detected train, tagged forward-window next-beat lookup.
    */
  /** Q230's rescaled-stim peak CTE chain, ending in
    * `spk(experiment_id, channel, sample_idx)` — q10's O2 rescale +
    * O8 bare local maxima. Shared by Q230 and Q243; requires `sig`
    * upstream.
    */
  private def stimPeakCtes: String =
    s"""stm AS (SELECT experiment_id, channel, sample_idx, y
       |        FROM read_parquet('$stimGlob')),
       |smax AS (SELECT experiment_id, channel, max(y) AS sx
       |         FROM sig GROUP BY 1, 2),
       |tmax AS (SELECT experiment_id, channel, max(y) AS tx
       |         FROM stm GROUP BY 1, 2),
       |scaled AS (
       |  SELECT st.experiment_id, st.channel, st.sample_idx,
       |    st.y * (sm.sx / tm.tx) AS y_scaled
       |  FROM stm st
       |  JOIN smax sm USING (experiment_id, channel)
       |  JOIN tmax tm USING (experiment_id, channel)
       |),
       |mxs AS (
       |  SELECT *, lag(y_scaled, 1) OVER ws AS pv,
       |    lead(y_scaled, 1) OVER ws AS nv
       |  FROM scaled
       |  WINDOW ws AS (PARTITION BY experiment_id, channel ORDER BY sample_idx)
       |),
       |spk AS MATERIALIZED (
       |  SELECT experiment_id, channel, sample_idx, y_scaled FROM mxs
       |  WHERE y_scaled > pv AND y_scaled > nv
       |)""".stripMargin

  def q230StimLatency(cfg: graft.PeakConfig = graft.PeakConfig(),
                      horizon: Long = 600L): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |$stimPeakCtes,
       |u AS (
       |  SELECT experiment_id, channel, sample_idx AS idx, 0 AS kind FROM spk
       |  UNION ALL
       |  SELECT experiment_id, channel, peak_idx AS idx, 1 AS kind
       |  FROM detected
       |),
       |nx AS (
       |  SELECT *, min(CASE WHEN kind = 1 THEN idx END) OVER (
       |    PARTITION BY experiment_id, channel ORDER BY idx, kind
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_beat
       |  FROM u
       |),
       |lat AS (
       |  SELECT experiment_id, channel, next_beat - idx AS lat
       |  FROM nx WHERE kind = 0
       |),
       |a AS (
       |  SELECT experiment_id, channel,
       |    CAST(count(*) AS BIGINT) AS n_stims,
       |    CAST(sum(CASE WHEN lat <= $horizon THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_captured,
       |    CAST(sum(CASE WHEN lat <= $horizon THEN lat END) AS BIGINT)
       |      AS lat_sum,
       |    min(CASE WHEN lat <= $horizon THEN lat END) AS min_latency,
       |    max(CASE WHEN lat <= $horizon THEN lat END) AS max_latency
       |  FROM lat GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_stims, n_captured,
       |  CAST(lat_sum AS DOUBLE) / CAST(nullif(n_captured, 0) AS DOUBLE)
       |    AS mean_latency,
       |  min_latency, max_latency,
       |  CAST(n_captured AS DOUBLE) / CAST(n_stims AS DOUBLE)
       |    AS capture_ratio
       |FROM a""".stripMargin

  /** Q229 — HRV panel (mirrors BeatMetrics.hrv): integer RR/diff
    * power sums off the detected train, pinned sqrt/divide finishes.
    */
  def q229Hrv(cfg: graft.PeakConfig = graft.PeakConfig(),
              thrSamples: Long = 5L): String = {
    val rate = dlit(cfg.sampleRateHz)
    val mean = "CAST(s1 AS DOUBLE) / CAST(nullif(n_rr, 0) AS DOUBLE)"
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |r1 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS d
       |  FROM detected
       |),
       |r2 AS (
       |  SELECT *, d - lag(d) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS sd
       |  FROM r1
       |),
       |a AS (
       |  SELECT experiment_id, channel,
       |    CAST(count(*) AS BIGINT) AS n_beats,
       |    CAST(sum(CASE WHEN d IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rr,
       |    CAST(sum(d) AS BIGINT) AS s1,
       |    CAST(sum(d * d) AS BIGINT) AS s2,
       |    CAST(sum(CASE WHEN sd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_sd,
       |    CAST(sum(sd * sd) AS BIGINT) AS ss2,
       |    CAST(sum(CASE WHEN abs(sd) > $thrSamples THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_nn50
       |  FROM r2 GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_beats, n_rr,
       |  ($mean) / $rate AS mean_rr_s,
       |  CASE WHEN n_rr > 0 THEN
       |    sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_rr AS DOUBLE)
       |      - ($mean) * ($mean), 0.0)) / $rate END AS sdnn_s,
       |  sqrt(CAST(ss2 AS DOUBLE) / CAST(nullif(n_sd, 0) AS DOUBLE))
       |    / $rate AS rmssd_s,
       |  CAST(n_nn50 AS DOUBLE) / CAST(nullif(n_sd, 0) AS DOUBLE) AS pnn50
       |FROM a""".stripMargin
  }

  /** Q234 — Poincaré SD1/SD2 (mirrors BeatMetrics.poincare): the
    * Q229 integer power sums plus the ΔRR first moment, finished via
    * SD1² = var(ΔRR)/2 and SD2² = 2·var(RR) − SD1² with the same
    * guard/association order as the Spark expressions.
    */
  def q234Poincare(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val rate = dlit(cfg.sampleRateHz)
    val m = "CAST(s1 AS DOUBLE) / CAST(n_rr AS DOUBLE)"
    val msd = "CAST(sds1 AS DOUBLE) / CAST(n_sd AS DOUBLE)"
    val vd =
      s"greatest(CAST(s2 AS DOUBLE) / CAST(n_rr AS DOUBLE) - ($m) * ($m), 0.0)"
    val vsd =
      s"greatest(CAST(ss2 AS DOUBLE) / CAST(n_sd AS DOUBLE) - ($msd) * ($msd), 0.0)"
    val sd1 = s"CASE WHEN n_sd > 0 THEN sqrt(($vsd) / 2.0) / $rate END"
    val sd2 = s"CASE WHEN n_sd > 0 THEN " +
      s"sqrt(greatest(2.0 * ($vd) - ($vsd) / 2.0, 0.0)) / $rate END"
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |r1 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS d
       |  FROM detected
       |),
       |r2 AS (
       |  SELECT *, d - lag(d) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS sd
       |  FROM r1
       |),
       |a AS (
       |  SELECT experiment_id, channel,
       |    CAST(sum(CASE WHEN d IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rr,
       |    CAST(sum(d) AS BIGINT) AS s1,
       |    CAST(sum(d * d) AS BIGINT) AS s2,
       |    CAST(sum(CASE WHEN sd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_sd,
       |    CAST(sum(sd) AS BIGINT) AS sds1,
       |    CAST(sum(sd * sd) AS BIGINT) AS ss2
       |  FROM r2 GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_rr, n_sd,
       |  $sd1 AS sd1_s,
       |  $sd2 AS sd2_s,
       |  ($sd1) / nullif($sd2, 0.0) AS sd_ratio,
       |  pi() * ($sd1) * ($sd2) AS ellipse_area_s2
       |FROM a""".stripMargin
  }

  /** Q235 — per-beat dF/dt extrema (mirrors BeatMetrics.dfdt): the
    * Q230 tagged-union window assignment over per-sample smooth
    * differences; max/min are combine-order-free, one rate multiply.
    */
  /** Q235's tagged-union dF/dt CTE chain, ending in
    * `dfsel(experiment_id, channel, peak_idx, n_up, dfdt_max,
    * n_down, dfdt_min)`. Shared by Q235 and Q240; requires `smooth`
    * and `detected` upstream.
    */
  private def dfdtCtes(cfg: graft.PeakConfig): String = {
    val rate = dlit(cfg.sampleRateHz)
    s"""dyt AS (
       |  SELECT experiment_id, channel, sample_idx,
       |    v - lag(v, 1) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY sample_idx) AS dy
       |  FROM smooth
       |),
       |u AS (
       |  SELECT experiment_id, channel, sample_idx AS idx, 0 AS kind, dy
       |  FROM dyt
       |  UNION ALL
       |  SELECT experiment_id, channel, peak_idx AS idx, 1 AS kind,
       |    CAST(NULL AS DOUBLE) AS dy
       |  FROM detected
       |),
       |nx AS (
       |  SELECT *,
       |    min(CASE WHEN kind = 1 THEN idx END) OVER (
       |      PARTITION BY experiment_id, channel ORDER BY idx, kind
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb,
       |    max(CASE WHEN kind = 1 THEN idx END) OVER (
       |      PARTITION BY experiment_id, channel ORDER BY idx, kind
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb
       |  FROM u
       |),
       |ups AS (
       |  SELECT experiment_id, channel, nb AS peak_idx,
       |    CAST(count(*) AS BIGINT) AS n_up, max(dy) AS up_dy
       |  FROM nx WHERE kind = 0 AND dy IS NOT NULL AND nb IS NOT NULL
       |  GROUP BY 1, 2, 3
       |),
       |downs AS (
       |  SELECT experiment_id, channel, pb AS peak_idx,
       |    CAST(count(*) AS BIGINT) AS n_down, min(dy) AS dn_dy
       |  FROM nx WHERE kind = 0 AND dy IS NOT NULL AND pb IS NOT NULL
       |  GROUP BY 1, 2, 3
       |),
       |dfsel AS MATERIALIZED (
       |  SELECT d.experiment_id, d.channel, d.peak_idx,
       |    u2.n_up, u2.up_dy * $rate AS dfdt_max,
       |    w2.n_down, w2.dn_dy * $rate AS dfdt_min
       |  FROM detected d
       |  LEFT JOIN ups u2 ON u2.experiment_id = d.experiment_id
       |    AND u2.channel = d.channel AND u2.peak_idx = d.peak_idx
       |  LEFT JOIN downs w2 ON w2.experiment_id = d.experiment_id
       |    AND w2.channel = d.channel AND w2.peak_idx = d.peak_idx
       |)""".stripMargin
  }

  def q235Dfdt(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |${dfdtCtes(cfg)}
       |SELECT experiment_id, channel, peak_idx, n_up, dfdt_max,
       |  n_down, dfdt_min
       |FROM dfsel""".stripMargin

  /** Q236 — beat-template correlation (mirrors
    * BeatMetrics.beatTemplateCorr): fixed-lag windows off the beat
    * table, complete-window gate, decimal-exact template and moments,
    * one pinned Pearson finish.
    */
  /** Q236's fixed-lag morphology CTE chain, ending in
    * `btcorr(experiment_id, channel, peak_idx, n, template_corr)`.
    * Shared by Q236 and Q240; requires `smooth` and `detected`
    * upstream.
    */
  private def btCtes(before: Int = 20, after: Int = 40): String = {
    val winLen = before + after + 1
    val cov = "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sm AS DOUBLE)"
    val vx = "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    val vm = "CAST(n AS DOUBLE) * CAST(smm AS DOUBLE) " +
      "- CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)"
    s"""btoff AS (
       |  SELECT d.experiment_id, d.channel, d.peak_idx, g.gs AS off,
       |    d.peak_idx + g.gs AS sample_idx
       |  FROM detected d, generate_series(-$before, $after) AS g(gs)
       |),
       |btwin AS (
       |  SELECT o.experiment_id, o.channel, o.peak_idx, o.off, s.v
       |  FROM btoff o JOIN smooth s ON s.experiment_id = o.experiment_id
       |    AND s.channel = o.channel AND s.sample_idx = o.sample_idx
       |),
       |btcmp AS (
       |  SELECT experiment_id, channel, peak_idx FROM btwin
       |  GROUP BY 1, 2, 3 HAVING count(*) = $winLen
       |),
       |btwc AS (
       |  SELECT w.* FROM btwin w JOIN btcmp c ON c.experiment_id = w.experiment_id
       |    AND c.channel = w.channel AND c.peak_idx = w.peak_idx
       |),
       |bttm AS (
       |  SELECT experiment_id, channel, off,
       |    CAST(sum(CAST(v AS DECIMAL(28,14))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS m
       |  FROM btwc GROUP BY 1, 2, 3
       |),
       |btpr AS (
       |  SELECT w.experiment_id, w.channel, w.peak_idx, w.v, t.m
       |  FROM btwc w JOIN bttm t ON t.experiment_id = w.experiment_id
       |    AND t.channel = w.channel AND t.off = w.off
       |),
       |bta AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(v AS DECIMAL(28,14))) AS sx,
       |    sum(CAST(v * v AS DECIMAL(28,10))) AS sxx,
       |    sum(CAST(m AS DECIMAL(28,14))) AS sm,
       |    sum(CAST(m * m AS DECIMAL(28,10))) AS smm,
       |    sum(CAST(v * m AS DECIMAL(28,10))) AS sxy
       |  FROM btpr GROUP BY 1, 2, 3
       |),
       |btcorr AS MATERIALIZED (
       |  SELECT experiment_id, channel, peak_idx, n,
       |    ($cov) / nullif(sqrt(greatest(($vx) * ($vm), 0.0)), 0.0)
       |      AS template_corr
       |  FROM bta
       |)""".stripMargin
  }

  def q236BeatTemplate(cfg: graft.PeakConfig = graft.PeakConfig(),
                       before: Int = 20, after: Int = 40): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |${btCtes(before, after)}
       |SELECT experiment_id, channel, peak_idx, n, template_corr
       |FROM btcorr""".stripMargin

  /** Q237 — RT50/RT90 (mirrors BeatMetrics.relaxationTimes): the Q235
    * tagged-union decay-span assignment over the enriched spine, the
    * first below-threshold sample per (beat, threshold) via
    * min/min_by, one pinned interpolation finish.
    */
  /** Q237's decay-crossing CTE chain, ending in
    * `rtsel(experiment_id, channel, peak_idx, rt50_s, rt90_s)` —
    * only beats with force > 0 appear. Shared by Q237 and Q240;
    * requires `enriched` and `m` (metricCtes) upstream.
    */
  private def relaxCtes(cfg: graft.PeakConfig): String = {
    val rate = dlit(cfg.sampleRateHz)
    def th(f: String) = s"(baseline_value + $f * force)"
    s"""rsp AS (
       |  SELECT experiment_id, channel, sample_idx, y_smooth,
       |    lag(y_smooth, 1) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY sample_idx) AS y_prev
       |  FROM enriched
       |),
       |ru AS (
       |  SELECT experiment_id, channel, sample_idx AS idx, 0 AS kind,
       |    y_smooth, y_prev
       |  FROM rsp
       |  UNION ALL
       |  SELECT experiment_id, channel, peak_idx AS idx, 1 AS kind,
       |    CAST(NULL AS DOUBLE) AS y_smooth, CAST(NULL AS DOUBLE) AS y_prev
       |  FROM m
       |),
       |rtg AS (
       |  SELECT *, max(CASE WHEN kind = 1 THEN idx END) OVER (
       |    PARTITION BY experiment_id, channel ORDER BY idx, kind
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb
       |  FROM ru
       |),
       |rj AS (
       |  SELECT t.experiment_id, t.channel, t.idx, t.y_smooth, t.y_prev,
       |    mm.peak_idx, mm.baseline_value, mm.force
       |  FROM rtg t JOIN m mm ON mm.experiment_id = t.experiment_id
       |    AND mm.channel = t.channel AND mm.peak_idx = t.pb
       |  WHERE t.kind = 0 AND mm.force > 0.0
       |),
       |ra AS (
       |  SELECT experiment_id, channel, peak_idx, baseline_value, force,
       |    min(idx) FILTER (WHERE y_smooth <= ${th("0.5")}) AS i50,
       |    min_by(y_prev, idx) FILTER (WHERE y_smooth <= ${th("0.5")}) AS p50,
       |    min_by(y_smooth, idx) FILTER (WHERE y_smooth <= ${th("0.5")}) AS v50,
       |    min(idx) FILTER (WHERE y_smooth <= ${th("0.1")}) AS i90,
       |    min_by(y_prev, idx) FILTER (WHERE y_smooth <= ${th("0.1")}) AS p90,
       |    min_by(y_smooth, idx) FILTER (WHERE y_smooth <= ${th("0.1")}) AS v90
       |  FROM rj GROUP BY 1, 2, 3, 4, 5
       |),
       |rtsel AS MATERIALIZED (
       |  SELECT experiment_id, channel, peak_idx,
       |    CASE WHEN i50 IS NOT NULL THEN
       |      (CAST(i50 - 1 - peak_idx AS DOUBLE)
       |        + (p50 - ${th("0.5")}) / (p50 - v50)) / $rate END AS rt50_s,
       |    CASE WHEN i90 IS NOT NULL THEN
       |      (CAST(i90 - 1 - peak_idx AS DOUBLE)
       |        + (p90 - ${th("0.1")}) / (p90 - v90)) / $rate END AS rt90_s
       |  FROM ra
       |)""".stripMargin
  }

  def q237Relaxation(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${metricCtes(cfg)},
       |${relaxCtes(cfg)}
       |SELECT experiment_id, channel, peak_idx, rt50_s, rt90_s
       |FROM rtsel""".stripMargin

  /** Q238 — LF/HF band power (mirrors BeatMetrics.bandPower): DFT
    * projections of the demeaned beat-indexed RR series at its
    * in-band Fourier bins, each projection term and per-bin power
    * decimal-quantized, pinned double finishes. Only cos/sin differ
    * cross-engine (≤1 ulp, below the compare tolerance); every other
    * expression is IEEE-identical off integer sums.
    */
  def q238BandPower(cfg: graft.PeakConfig = graft.PeakConfig(),
                    lfLo: Double = 0.04, lfHi: Double = 0.15,
                    hfHi: Double = 0.4): String = {
    val rate = dlit(cfg.sampleRateHz)
    val xv = s"((CAST(r.d AS DOUBLE) - CAST(b.s1 AS DOUBLE) " +
      s"/ CAST(b.n AS DOUBLE)) / $rate)"
    val theta = "(2.0 * pi() * CAST(b.j AS DOUBLE) " +
      "* CAST(r.k AS DOUBLE) / CAST(b.n AS DOUBLE))"
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |bp0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS d
       |  FROM detected
       |),
       |bpr AS (
       |  SELECT experiment_id, channel, d,
       |    row_number() OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) - 1 AS k
       |  FROM bp0 WHERE d IS NOT NULL
       |),
       |bpch AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d) AS BIGINT) AS s1
       |  FROM bpr GROUP BY 1, 2
       |),
       |bpbin AS (
       |  -- unnest(range(...)) instead of generate_series: DuckDB's
       |  -- table function can't take lateral column bounds
       |  SELECT experiment_id, channel, n, s1,
       |    unnest(range(1, n // 2 + 1)) AS j
       |  FROM bpch WHERE n >= 2
       |),
       |bpb AS (
       |  SELECT * FROM (
       |    SELECT experiment_id, channel, n, s1, j,
       |      CAST(j AS DOUBLE) * $rate / CAST(s1 AS DOUBLE) AS f
       |    FROM bpbin
       |  ) WHERE f >= ${dlit(lfLo)} AND f < ${dlit(hfHi)}
       |),
       |bpt AS (
       |  SELECT r.experiment_id, r.channel, b.j,
       |    CASE WHEN b.f < ${dlit(lfHi)} THEN 'lf' ELSE 'hf' END AS band,
       |    b.n,
       |    CAST($xv * cos($theta) AS DECIMAL(28,14)) AS ac,
       |    CAST($xv * sin($theta) AS DECIMAL(28,14)) AS bs
       |  FROM bpr r JOIN bpb b ON b.experiment_id = r.experiment_id
       |    AND b.channel = r.channel
       |),
       |bpp AS (
       |  SELECT experiment_id, channel, j, band, n,
       |    sum(ac) AS a, sum(bs) AS b
       |  FROM bpt GROUP BY 1, 2, 3, 4, 5
       |),
       |bpn AS (
       |  SELECT experiment_id, channel, band,
       |    CAST((CASE WHEN j * 2 = n THEN 1.0 ELSE 2.0 END)
       |      * (CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
       |        + CAST(b AS DOUBLE) * CAST(b AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
       |      AS DECIMAL(28,14)) AS p
       |  FROM bpp
       |),
       |bpa AS (
       |  SELECT experiment_id, channel,
       |    CAST(sum(CASE WHEN band = 'lf' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_lf_bins,
       |    CAST(sum(CASE WHEN band = 'hf' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hf_bins,
       |    sum(CASE WHEN band = 'lf' THEN p END) AS lfp,
       |    sum(CASE WHEN band = 'hf' THEN p END) AS hfp
       |  FROM bpn GROUP BY 1, 2
       |)
       |SELECT c.experiment_id, c.channel, c.n AS n_rr,
       |  CAST(c.s1 AS DOUBLE) / CAST(c.n AS DOUBLE) / $rate AS mean_rr_s,
       |  coalesce(a.n_lf_bins, CAST(0 AS BIGINT)) AS n_lf_bins,
       |  coalesce(a.n_hf_bins, CAST(0 AS BIGINT)) AS n_hf_bins,
       |  CAST(a.lfp AS DOUBLE) AS lf_power_s2,
       |  CAST(a.hfp AS DOUBLE) AS hf_power_s2,
       |  CAST(a.lfp AS DOUBLE) / nullif(CAST(a.hfp AS DOUBLE), 0.0)
       |    AS lf_hf_ratio
       |FROM bpch c LEFT JOIN bpa a ON a.experiment_id = c.experiment_id
       |  AND a.channel = c.channel""".stripMargin
  }

  /** Q239 — force–time integral (mirrors
    * BeatMetrics.forceTimeIntegral): nearest-peak span assignment via
    * the Q235 tagged-union windows (equidistant → earlier beat),
    * per-sample rectification against the baseline envelope with an
    * explicit null guard, decimal-exact Riemann sum, one pinned
    * double division by the rate.
    */
  def q239Fti(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val rate = dlit(cfg.sampleRateHz)
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |fu AS (
       |  SELECT experiment_id, channel, sample_idx AS idx, 0 AS kind,
       |    y_smooth, baseline
       |  FROM enriched
       |  UNION ALL
       |  SELECT experiment_id, channel, peak_idx AS idx, 1 AS kind,
       |    CAST(NULL AS DOUBLE) AS y_smooth, CAST(NULL AS DOUBLE) AS baseline
       |  FROM detected
       |),
       |ftg AS (
       |  SELECT *,
       |    min(CASE WHEN kind = 1 THEN idx END) OVER (
       |      PARTITION BY experiment_id, channel ORDER BY idx, kind
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb,
       |    max(CASE WHEN kind = 1 THEN idx END) OVER (
       |      PARTITION BY experiment_id, channel ORDER BY idx, kind
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb
       |  FROM fu
       |),
       |fo AS (
       |  SELECT experiment_id, channel,
       |    CASE WHEN pb IS NULL THEN nb WHEN nb IS NULL THEN pb
       |      WHEN idx - pb <= nb - idx THEN pb ELSE nb END AS owner,
       |    CASE WHEN y_smooth IS NOT NULL AND baseline IS NOT NULL THEN
       |      CAST(greatest(y_smooth - baseline, 0.0) AS DECIMAL(28,14))
       |    END AS c
       |  FROM ftg WHERE kind = 0
       |),
       |fa AS (
       |  SELECT experiment_id, channel, owner AS peak_idx,
       |    CAST(count(*) AS BIGINT) AS n_span, sum(c) AS sc
       |  FROM fo WHERE owner IS NOT NULL AND c IS NOT NULL
       |  GROUP BY 1, 2, 3
       |)
       |SELECT d.experiment_id, d.channel, d.peak_idx,
       |  coalesce(a.n_span, CAST(0 AS BIGINT)) AS n_span,
       |  CAST(a.sc AS DOUBLE) / $rate AS fti
       |FROM detected d LEFT JOIN fa a ON a.experiment_id = d.experiment_id
       |  AND a.channel = d.channel AND a.peak_idx = d.peak_idx""".stripMargin
  }

  /** Q240 — composite per-beat anomaly table (mirrors
    * BeatMetrics.beatAnomaly): the Q235/Q236/Q237 CTE chains
    * composed over the shared metric spine, channel z-scores off
    * decimal-exact window moments, one pinned boolean verdict.
    */
  def q240BeatAnomaly(cfg: graft.PeakConfig = graft.PeakConfig(),
                      zThresh: Double = 3.0,
                      corrMin: Double = 0.95): String = {
    val rate = dlit(cfg.sampleRateHz)
    val zt = dlit(zThresh)
    val cm = dlit(corrMin)
    s"""WITH RECURSIVE ${metricCtes(cfg)},
       |${dfdtCtes(cfg)},
       |${btCtes()},
       |${relaxCtes(cfg)},
       |ab AS (
       |  SELECT experiment_id, channel, peak_idx, force,
       |    CAST(peak_idx - lag(peak_idx) OVER (
       |      PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |      AS DOUBLE) / $rate AS rr_s
       |  FROM m
       |),
       |ast AS (
       |  SELECT *,
       |    CAST(sum(CASE WHEN force IS NOT NULL THEN 1 ELSE 0 END)
       |      OVER wc AS BIGINT) AS nf,
       |    sum(CAST(force AS DECIMAL(28,14))) OVER wc AS sf,
       |    sum(CAST(force * force AS DECIMAL(28,10))) OVER wc AS sff,
       |    CAST(sum(CASE WHEN rr_s IS NOT NULL THEN 1 ELSE 0 END)
       |      OVER wc AS BIGINT) AS nr,
       |    sum(CAST(rr_s AS DECIMAL(28,14))) OVER wc AS sr,
       |    sum(CAST(rr_s * rr_s AS DECIMAL(28,10))) OVER wc AS srr
       |  FROM ab
       |  WINDOW wc AS (PARTITION BY experiment_id, channel)
       |),
       |az AS (
       |  SELECT experiment_id, channel, peak_idx, rr_s, force,
       |    CASE WHEN nf > 1 THEN
       |      (force - CAST(sf AS DOUBLE) / CAST(nf AS DOUBLE))
       |        / nullif(sqrt(greatest(CAST(nf AS DOUBLE) * CAST(sff AS DOUBLE)
       |            - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE), 0.0))
       |          / CAST(nf AS DOUBLE), 0.0)
       |    END AS z_force,
       |    CASE WHEN nr > 1 THEN
       |      (rr_s - CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE))
       |        / nullif(sqrt(greatest(CAST(nr AS DOUBLE) * CAST(srr AS DOUBLE)
       |            - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE), 0.0))
       |          / CAST(nr AS DOUBLE), 0.0)
       |    END AS z_rr
       |  FROM ast
       |)
       |SELECT z.experiment_id, z.channel, z.peak_idx, z.rr_s, z.force,
       |  df.dfdt_max, df.dfdt_min, c.template_corr, r.rt50_s, r.rt90_s,
       |  z.z_force, z.z_rr,
       |  (coalesce(abs(z.z_force) > $zt, false)
       |    OR coalesce(abs(z.z_rr) > $zt, false)
       |    OR coalesce(c.template_corr < $cm, false)) AS is_anomaly
       |FROM az z
       |LEFT JOIN dfsel df ON df.experiment_id = z.experiment_id
       |  AND df.channel = z.channel AND df.peak_idx = z.peak_idx
       |LEFT JOIN btcorr c ON c.experiment_id = z.experiment_id
       |  AND c.channel = z.channel AND c.peak_idx = z.peak_idx
       |LEFT JOIN rtsel r ON r.experiment_id = z.experiment_id
       |  AND r.channel = z.channel AND r.peak_idx = z.peak_idx""".stripMargin
  }

  /** Q241 — smoothing SNR audit (mirrors Smoothing.smoothingSnr):
    * decimal moment sums of the smoothed trace and the residual,
    * n·Σx² − (Σx)² variances, pinned 10·log10 finish with explicit
    * n>1 / positive-variance guards.
    */
  def q241SmoothSnr(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val vS = "(CAST(n AS DOUBLE) * CAST(sss AS DOUBLE) " +
      "- CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) " +
      "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
    val vR = "(CAST(n AS DOUBLE) * CAST(srr AS DOUBLE) " +
      "- CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)) " +
      "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
    s"""WITH RECURSIVE $sigCtes,
       |${smoothCtes(cfg.smoothWindow, cfg.smoothPolyorder)},
       |sj AS (
       |  SELECT s.experiment_id, s.channel, s.v, g.y - s.v AS r
       |  FROM smooth s JOIN sig g ON g.experiment_id = s.experiment_id
       |    AND g.channel = s.channel AND g.sample_idx = s.sample_idx
       |  WHERE g.y IS NOT NULL AND s.v IS NOT NULL
       |),
       |sa AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(v AS DECIMAL(28,14))) AS ss,
       |    sum(CAST(v * v AS DECIMAL(28,10))) AS sss,
       |    sum(CAST(r AS DECIMAL(28,14))) AS sr,
       |    sum(CAST(r * r AS DECIMAL(28,10))) AS srr
       |  FROM sj GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n AS n_samples,
       |  CASE WHEN n > 1 THEN $vS END AS signal_var,
       |  CASE WHEN n > 1 THEN $vR END AS noise_var,
       |  CASE WHEN n > 1 AND ($vR) > 0.0 AND ($vS) > 0.0
       |    THEN 10.0 * log10(($vS) / ($vR)) END AS snr_db
       |FROM sa""".stripMargin
  }

  /** Q242 — cross-channel synchrony (mirrors
    * BeatMetrics.channelSynchrony): smooth-trace self-join per
    * experiment/sample, decimal moment sums, Q236 pinned Pearson
    * finish.
    */
  def q242Synchrony(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val cov = "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    val vx = "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    val vy = "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) " +
      "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    s"""WITH RECURSIVE $sigCtes,
       |${smoothCtes(cfg.smoothWindow, cfg.smoothPolyorder)},
       |yp AS (
       |  SELECT experiment_id, channel, sample_idx, v
       |  FROM smooth WHERE v IS NOT NULL
       |),
       |pj AS (
       |  SELECT a.experiment_id, a.channel AS ch_a, b.channel AS ch_b,
       |    a.v AS xa, b.v AS xb
       |  FROM yp a JOIN yp b ON b.experiment_id = a.experiment_id
       |    AND b.sample_idx = a.sample_idx AND a.channel < b.channel
       |),
       |pa AS (
       |  SELECT experiment_id, ch_a, ch_b, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(xa AS DECIMAL(28,14))) AS sx,
       |    sum(CAST(xa * xa AS DECIMAL(28,10))) AS sxx,
       |    sum(CAST(xb AS DECIMAL(28,14))) AS sy,
       |    sum(CAST(xb * xb AS DECIMAL(28,10))) AS syy,
       |    sum(CAST(xa * xb AS DECIMAL(28,10))) AS sxy
       |  FROM pj GROUP BY 1, 2, 3
       |)
       |SELECT experiment_id, ch_a, ch_b, n,
       |  ($cov) / nullif(sqrt(greatest(($vx) * ($vy), 0.0)), 0.0)
       |    AS sync_corr
       |FROM pa""".stripMargin
  }

  /** Q243 — stimulus entrainment (mirrors BeatMetrics.entrainment):
    * the Q230 stim-peak chain + the detected train in one
    * tagged-union pass (stim kind 0 sorts before a coincident beat →
    * at-or-before bracket, phase 0), decimal-quantized cos/sin sums,
    * pinned R/atan2/Rayleigh finishes.
    */
  def q243Entrainment(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val vs = "sqrt(CAST(c AS DOUBLE) * CAST(c AS DOUBLE) " +
      "+ CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n_beats AS DOUBLE)"
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |$stimPeakCtes,
       |eu AS (
       |  SELECT experiment_id, channel, sample_idx AS idx, 0 AS kind FROM spk
       |  UNION ALL
       |  SELECT experiment_id, channel, peak_idx AS idx, 1 AS kind
       |  FROM detected
       |),
       |etg AS (
       |  SELECT *,
       |    max(CASE WHEN kind = 0 THEN idx END) OVER (
       |      PARTITION BY experiment_id, channel ORDER BY idx, kind
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
       |    min(CASE WHEN kind = 0 THEN idx END) OVER (
       |      PARTITION BY experiment_id, channel ORDER BY idx, kind
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ns
       |  FROM eu
       |),
       |eph AS (
       |  SELECT experiment_id, channel,
       |    2.0 * pi() * CAST(idx - ps AS DOUBLE) / CAST(ns - ps AS DOUBLE)
       |      AS phi
       |  FROM etg WHERE kind = 1 AND ps IS NOT NULL AND ns IS NOT NULL
       |    AND ns > ps
       |),
       |ea AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n_beats,
       |    sum(CAST(cos(phi) AS DECIMAL(28,14))) AS c,
       |    sum(CAST(sin(phi) AS DECIMAL(28,14))) AS s
       |  FROM eph GROUP BY 1, 2
       |),
       |ev AS (
       |  SELECT experiment_id, channel, n_beats, $vs AS vs,
       |    atan2(CAST(s AS DOUBLE), CAST(c AS DOUBLE)) AS mean_phase_rad
       |  FROM ea
       |)
       |SELECT experiment_id, channel, n_beats, vs AS vector_strength,
       |  mean_phase_rad,
       |  CAST(n_beats AS DOUBLE) * vs * vs AS rayleigh_z
       |FROM ev""".stripMargin
  }

  /** Q244 — time-resolved LF/HF (mirrors
    * BeatMetrics.windowedBandPower): the Q238 DFT-projection panel
    * per (channel, tumbling window), intervals assigned to the window
    * of their later beat; identical decimal/finish arithmetic with
    * the window in every group key.
    */
  def q244WindowedBandPower(cfg: graft.PeakConfig = graft.PeakConfig(),
                            windowSamples: Long = 800L,
                            lfLo: Double = 0.04, lfHi: Double = 0.15,
                            hfHi: Double = 0.4): String = {
    val rate = dlit(cfg.sampleRateHz)
    val ws = dlit(windowSamples.toDouble)
    val xv = s"((CAST(r.d AS DOUBLE) - CAST(b.s1 AS DOUBLE) " +
      s"/ CAST(b.n AS DOUBLE)) / $rate)"
    val theta = "(2.0 * pi() * CAST(b.j AS DOUBLE) " +
      "* CAST(r.k AS DOUBLE) / CAST(b.n AS DOUBLE))"
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |wb0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS d
       |  FROM detected
       |),
       |wbr AS (
       |  SELECT experiment_id, channel, win, d,
       |    row_number() OVER (PARTITION BY experiment_id, channel, win
       |      ORDER BY ord) - 1 AS k
       |  FROM (
       |    SELECT experiment_id, channel, peak_idx AS ord, d,
       |      CAST(floor(CAST(peak_idx AS DOUBLE) / $ws) AS BIGINT) AS win
       |    FROM wb0 WHERE d IS NOT NULL
       |  )
       |),
       |wbch AS (
       |  SELECT experiment_id, channel, win, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d) AS BIGINT) AS s1
       |  FROM wbr GROUP BY 1, 2, 3
       |),
       |wbbin AS (
       |  SELECT experiment_id, channel, win, n, s1,
       |    unnest(range(1, n // 2 + 1)) AS j
       |  FROM wbch WHERE n >= 2
       |),
       |wbb AS (
       |  SELECT * FROM (
       |    SELECT experiment_id, channel, win, n, s1, j,
       |      CAST(j AS DOUBLE) * $rate / CAST(s1 AS DOUBLE) AS f
       |    FROM wbbin
       |  ) WHERE f >= ${dlit(lfLo)} AND f < ${dlit(hfHi)}
       |),
       |wbt AS (
       |  SELECT r.experiment_id, r.channel, r.win, b.j,
       |    CASE WHEN b.f < ${dlit(lfHi)} THEN 'lf' ELSE 'hf' END AS band,
       |    b.n,
       |    CAST($xv * cos($theta) AS DECIMAL(28,14)) AS ac,
       |    CAST($xv * sin($theta) AS DECIMAL(28,14)) AS bs
       |  FROM wbr r JOIN wbb b ON b.experiment_id = r.experiment_id
       |    AND b.channel = r.channel AND b.win = r.win
       |),
       |wbp AS (
       |  SELECT experiment_id, channel, win, j, band, n,
       |    sum(ac) AS a, sum(bs) AS b
       |  FROM wbt GROUP BY 1, 2, 3, 4, 5, 6
       |),
       |wbn AS (
       |  SELECT experiment_id, channel, win, band,
       |    CAST((CASE WHEN j * 2 = n THEN 1.0 ELSE 2.0 END)
       |      * (CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
       |        + CAST(b AS DOUBLE) * CAST(b AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
       |      AS DECIMAL(28,14)) AS p
       |  FROM wbp
       |),
       |wba AS (
       |  SELECT experiment_id, channel, win,
       |    CAST(sum(CASE WHEN band = 'lf' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_lf_bins,
       |    CAST(sum(CASE WHEN band = 'hf' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hf_bins,
       |    sum(CASE WHEN band = 'lf' THEN p END) AS lfp,
       |    sum(CASE WHEN band = 'hf' THEN p END) AS hfp
       |  FROM wbn GROUP BY 1, 2, 3
       |)
       |SELECT c.experiment_id, c.channel, c.win, c.n AS n_rr,
       |  CAST(c.s1 AS DOUBLE) / CAST(c.n AS DOUBLE) / $rate AS mean_rr_s,
       |  coalesce(a.n_lf_bins, CAST(0 AS BIGINT)) AS n_lf_bins,
       |  coalesce(a.n_hf_bins, CAST(0 AS BIGINT)) AS n_hf_bins,
       |  CAST(a.lfp AS DOUBLE) AS lf_power_s2,
       |  CAST(a.hfp AS DOUBLE) AS hf_power_s2,
       |  CAST(a.lfp AS DOUBLE) / nullif(CAST(a.hfp AS DOUBLE), 0.0)
       |    AS lf_hf_ratio,
       |  CAST(c.win AS DOUBLE) * $ws / $rate AS win_start_s
       |FROM wbch c LEFT JOIN wba a ON a.experiment_id = c.experiment_id
       |  AND a.channel = c.channel AND a.win = c.win""".stripMargin
  }

  /** Q245 — force–velocity loop area (mirrors
    * BeatMetrics.forceVelocityLoop): per-sample F and ΔF·rate,
    * nearest-peak ownership (the Q239 tagged-union rule),
    * owner-partitioned shoelace lags, decimal term sums, one halving
    * finish.
    */
  def q245FvLoop(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val rate = dlit(cfg.sampleRateHz)
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |gv0 AS (
       |  SELECT experiment_id, channel, sample_idx AS idx,
       |    CASE WHEN y_smooth IS NOT NULL AND baseline IS NOT NULL
       |      THEN y_smooth - baseline END AS fv
       |  FROM enriched
       |),
       |gv1 AS (
       |  SELECT *, (fv - lag(fv, 1) OVER (PARTITION BY experiment_id, channel
       |    ORDER BY idx)) * $rate AS vv
       |  FROM gv0
       |),
       |gu AS (
       |  SELECT experiment_id, channel, idx, 0 AS kind, fv, vv FROM gv1
       |  UNION ALL
       |  SELECT experiment_id, channel, peak_idx AS idx, 1 AS kind,
       |    CAST(NULL AS DOUBLE) AS fv, CAST(NULL AS DOUBLE) AS vv
       |  FROM detected
       |),
       |gt AS (
       |  SELECT *,
       |    min(CASE WHEN kind = 1 THEN idx END) OVER (
       |      PARTITION BY experiment_id, channel ORDER BY idx, kind
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb,
       |    max(CASE WHEN kind = 1 THEN idx END) OVER (
       |      PARTITION BY experiment_id, channel ORDER BY idx, kind
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb
       |  FROM gu
       |),
       |go AS (
       |  SELECT experiment_id, channel, idx, fv, vv,
       |    CASE WHEN pb IS NULL THEN nb WHEN nb IS NULL THEN pb
       |      WHEN idx - pb <= nb - idx THEN pb ELSE nb END AS owner
       |  FROM gt WHERE kind = 0
       |),
       |gp AS (
       |  SELECT experiment_id, channel, owner,
       |    CAST(lag(fv, 1) OVER wo * vv - fv * lag(vv, 1) OVER wo
       |      AS DECIMAL(28,10)) AS term
       |  FROM go WHERE owner IS NOT NULL
       |  WINDOW wo AS (PARTITION BY experiment_id, channel, owner
       |                ORDER BY idx)
       |),
       |ga AS (
       |  SELECT experiment_id, channel, owner AS peak_idx,
       |    CAST(count(*) AS BIGINT) AS n_pairs, sum(term) AS st
       |  FROM gp WHERE term IS NOT NULL GROUP BY 1, 2, 3
       |)
       |SELECT d.experiment_id, d.channel, d.peak_idx,
       |  coalesce(a.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
       |  CAST(a.st AS DOUBLE) / 2.0 AS loop_area
       |FROM detected d LEFT JOIN ga a ON a.experiment_id = d.experiment_id
       |  AND a.channel = d.channel AND a.peak_idx = d.peak_idx""".stripMargin
  }

  /** Q246 — RR sample entropy (mirrors BeatMetrics.sampleEntropy):
    * integer Chebyshev template matching against r = 0.2·SD from
    * integer power sums, Richman-Moorman same-population A/B counts,
    * one pinned −ln finish.
    */
  def q246SampleEntropy(cfg: graft.PeakConfig = graft.PeakConfig(),
                        rFrac: Double = 0.2): String = {
    val rThr = s"${dlit(rFrac)} * (sqrt(greatest(CAST(n AS DOUBLE) " +
      "* CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), " +
      "0.0)) / CAST(n AS DOUBLE))"
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |se0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS d
       |  FROM detected
       |),
       |ser AS (
       |  SELECT experiment_id, channel, d,
       |    row_number() OVER w - 1 AS k,
       |    lead(d, 1) OVER w AS d1, lead(d, 2) OVER w AS d2
       |  FROM se0 WHERE d IS NOT NULL
       |  WINDOW w AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |sest AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d) AS BIGINT) AS s1, CAST(sum(d * d) AS BIGINT) AS s2
       |  FROM ser GROUP BY 1, 2
       |),
       |serr AS (SELECT *, $rThr AS r_thresh FROM sest),
       |sep AS (
       |  SELECT a.experiment_id, a.channel, t.r_thresh,
       |    (a.d1 IS NOT NULL AND b.d1 IS NOT NULL
       |      AND a.d2 IS NOT NULL AND b.d2 IS NOT NULL
       |      AND CAST(greatest(abs(a.d - b.d), abs(a.d1 - b.d1)) AS DOUBLE)
       |        <= t.r_thresh) AS bm,
       |    CAST(abs(a.d2 - b.d2) AS DOUBLE) <= t.r_thresh AS m3
       |  FROM ser a JOIN ser b ON b.experiment_id = a.experiment_id
       |    AND b.channel = a.channel AND a.k < b.k
       |  JOIN serr t ON t.experiment_id = a.experiment_id
       |    AND t.channel = a.channel
       |),
       |sec AS (
       |  SELECT experiment_id, channel,
       |    CAST(sum(CASE WHEN bm THEN 1 ELSE 0 END) AS BIGINT) AS b_count,
       |    CAST(sum(CASE WHEN bm AND m3 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS a_count
       |  FROM sep GROUP BY 1, 2
       |)
       |SELECT t.experiment_id, t.channel, t.n AS n_rr, t.r_thresh,
       |  coalesce(c.b_count, CAST(0 AS BIGINT)) AS b_count,
       |  coalesce(c.a_count, CAST(0 AS BIGINT)) AS a_count,
       |  CASE WHEN coalesce(c.a_count, CAST(0 AS BIGINT)) > 0
       |    AND coalesce(c.b_count, CAST(0 AS BIGINT)) > 0 THEN
       |    -ln(CAST(c.a_count AS DOUBLE) / CAST(c.b_count AS DOUBLE))
       |  END AS sampen
       |FROM serr t LEFT JOIN sec c ON c.experiment_id = t.experiment_id
       |  AND c.channel = t.channel""".stripMargin
  }

  /** Q247 — multiscale entropy (mirrors BeatMetrics.multiscaleEntropy):
    * coarse-grained means Σd/τ at scales 1..max (ragged tails
    * dropped), template matching against the ORIGINAL series' pinned
    * r, Richman-Moorman counts per (channel, scale), −ln finish.
    */
  def q247MultiscaleEntropy(cfg: graft.PeakConfig = graft.PeakConfig(),
                            maxScale: Int = 3,
                            rFrac: Double = 0.2): String = {
    val rThr = s"${dlit(rFrac)} * (sqrt(greatest(CAST(n AS DOUBLE) " +
      "* CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), " +
      "0.0)) / CAST(n AS DOUBLE))"
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |me0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS d
       |  FROM detected
       |),
       |mer AS (
       |  SELECT experiment_id, channel, d,
       |    row_number() OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) - 1 AS k
       |  FROM me0 WHERE d IS NOT NULL
       |),
       |mest AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d) AS BIGINT) AS s1, CAST(sum(d * d) AS BIGINT) AS s2
       |  FROM mer GROUP BY 1, 2
       |),
       |merr AS (SELECT *, $rThr AS r_thresh FROM mest),
       |mec AS (
       |  SELECT experiment_id, channel, scale,
       |    CAST(floor(CAST(k AS DOUBLE) / CAST(scale AS DOUBLE)) AS BIGINT)
       |      AS g,
       |    d
       |  FROM (SELECT *, unnest(range(1, $maxScale + 1)) AS scale FROM mer)
       |),
       |meg AS (
       |  SELECT experiment_id, channel, scale, g,
       |    CAST(sum(d) AS BIGINT) AS su, CAST(count(*) AS BIGINT) AS c
       |  FROM mec GROUP BY 1, 2, 3, 4
       |),
       |meu AS (
       |  SELECT experiment_id, channel, scale, g,
       |    CAST(su AS DOUBLE) / CAST(scale AS DOUBLE) AS u
       |  FROM meg WHERE c = scale
       |),
       |mes AS (
       |  SELECT *, lead(u, 1) OVER wm AS u1, lead(u, 2) OVER wm AS u2
       |  FROM meu
       |  WINDOW wm AS (PARTITION BY experiment_id, channel, scale ORDER BY g)
       |),
       |mep AS (
       |  SELECT a.experiment_id, a.channel, a.scale,
       |    (a.u1 IS NOT NULL AND b.u1 IS NOT NULL
       |      AND a.u2 IS NOT NULL AND b.u2 IS NOT NULL
       |      AND greatest(abs(a.u - b.u), abs(a.u1 - b.u1)) <= t.r_thresh)
       |      AS bm,
       |    abs(a.u2 - b.u2) <= t.r_thresh AS m3
       |  FROM mes a JOIN mes b ON b.experiment_id = a.experiment_id
       |    AND b.channel = a.channel AND b.scale = a.scale AND a.g < b.g
       |  JOIN merr t ON t.experiment_id = a.experiment_id
       |    AND t.channel = a.channel
       |),
       |men AS (
       |  SELECT experiment_id, channel, scale,
       |    CAST(count(*) AS BIGINT) AS n_points
       |  FROM meu GROUP BY 1, 2, 3
       |),
       |meo AS (
       |  SELECT experiment_id, channel, scale,
       |    CAST(sum(CASE WHEN bm THEN 1 ELSE 0 END) AS BIGINT) AS b_count,
       |    CAST(sum(CASE WHEN bm AND m3 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS a_count
       |  FROM mep GROUP BY 1, 2, 3
       |)
       |SELECT p.experiment_id, p.channel, p.scale, p.n_points, t.r_thresh,
       |  coalesce(o.b_count, CAST(0 AS BIGINT)) AS b_count,
       |  coalesce(o.a_count, CAST(0 AS BIGINT)) AS a_count,
       |  CASE WHEN coalesce(o.a_count, CAST(0 AS BIGINT)) > 0
       |    AND coalesce(o.b_count, CAST(0 AS BIGINT)) > 0 THEN
       |    -ln(CAST(o.a_count AS DOUBLE) / CAST(o.b_count AS DOUBLE))
       |  END AS sampen
       |FROM men p
       |JOIN merr t ON t.experiment_id = p.experiment_id
       |  AND t.channel = p.channel
       |LEFT JOIN meo o ON o.experiment_id = p.experiment_id
       |  AND o.channel = p.channel AND o.scale = p.scale""".stripMargin
  }

  /** Q248 — HRV triangular index (mirrors
    * BeatMetrics.triangularIndex): 1/128 s histogram bins off
    * integer products, struct-max modal bin with smallest-index tie
    * rule, one pinned division.
    */
  def q248Hti(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val rate = dlit(cfg.sampleRateHz)
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |ht0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS d
       |  FROM detected
       |),
       |hth AS (
       |  SELECT experiment_id, channel,
       |    CAST(floor(CAST(d * 128 AS DOUBLE) / $rate) AS BIGINT) AS bin,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM ht0 WHERE d IS NOT NULL
       |  GROUP BY 1, 2, 3
       |),
       |hta AS (
       |  SELECT experiment_id, channel,
       |    CAST(sum(c) AS BIGINT) AS n_rr,
       |    CAST(count(*) AS BIGINT) AS n_bins,
       |    -- field-wise struct max mirrors the Spark struct-max on
       |    -- (count, -bin): modal count first, smallest bin on ties —
       |    -- NEVER a packed-integer key (the q113 orientation lesson)
       |    max({'c': c, 'nb': -bin}) AS best
       |  FROM hth GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_rr, n_bins,
       |  -best.nb AS modal_bin, best.c AS modal_count,
       |  CAST(n_rr AS DOUBLE) / CAST(best.c AS DOUBLE) AS hti
       |FROM hta""".stripMargin
  }

  /** Q249 — detrended fluctuation analysis of the smoothed trace
    * (mirrors BeatMetrics.dfa): DECIMAL-exact cumulative sums, the
    * n-scaled profile Pᵢ = n·csᵢ − i·s1 as one pinned double,
    * closed-form integer x-moments per box, decimal-quantized
    * y-moment sums, pinned RSS/F(s)/log-log-slope finishes.
    */
  /** The DFA CTE chain shared by Q249 (trace domain) and Q273 (RR
    * tachogram): expects an upstream CTE `dsrc(experiment_id,
    * channel, sample_idx, v)` and emits everything from the
    * quantized profile through the final per-scale + α SELECT.
    * Mirrors BeatMetrics.dfa token-for-token.
    */
  private def dfaChainSql(scales: Seq[Int]): String = {
    // closed-form box x-moments, identical to the Spark column math
    val scaleRows = scales.map { s =>
      val sx = s.toLong * (s + 1) / 2
      val sxx = s.toLong * (s + 1) * (2L * s + 1) / 6
      val dd = s * sxx - sx * sx
      s"(CAST($s AS BIGINT), CAST($sx AS BIGINT), CAST($dd AS BIGINT))"
    }.mkString(", ")
    s"""db AS MATERIALIZED (
       |  SELECT experiment_id, channel,
       |    CAST(v AS DECIMAL(28,14)) AS vq,
       |    CAST(row_number() OVER wo AS BIGINT) AS i,
       |    sum(CAST(v AS DECIMAL(28,14))) OVER wc AS cs
       |  FROM dsrc
       |  WINDOW wo AS (PARTITION BY experiment_id, channel ORDER BY sample_idx),
       |         wc AS (PARTITION BY experiment_id, channel ORDER BY sample_idx
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |),
       |dst AS MATERIALIZED (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    sum(vq) AS s1
       |  FROM db GROUP BY 1, 2
       |),
       |dprof AS MATERIALIZED (
       |  SELECT b.experiment_id, b.channel, b.i, t.n,
       |    CAST(t.n AS DOUBLE) * CAST(b.cs AS DOUBLE)
       |      - CAST(b.i AS DOUBLE) * CAST(t.s1 AS DOUBLE) AS p
       |  FROM db b JOIN dst t USING (experiment_id, channel)
       |),
       |dsc(s, sx, dd) AS (VALUES $scaleRows),
       |dbox AS (
       |  SELECT experiment_id, channel, s, sx, dd, p,
       |    CAST(floor(CAST(i - 1 AS DOUBLE) / CAST(s AS DOUBLE)) AS BIGINT) AS b,
       |    CAST((i - 1) % s + 1 AS DOUBLE) AS x
       |  FROM dprof, dsc
       |  WHERE s <= n
       |    AND CAST(floor(CAST(i - 1 AS DOUBLE) / CAST(s AS DOUBLE)) AS BIGINT)
       |      < CAST(floor(CAST(n AS DOUBLE) / CAST(s AS DOUBLE)) AS BIGINT)
       |),
       |dba AS (
       |  SELECT experiment_id, channel, s, sx, dd, b,
       |    sum(CAST(p AS DECIMAL(38,8))) AS sy,
       |    sum(CAST(p * p AS DECIMAL(38,6))) AS syy,
       |    sum(CAST(x * p AS DECIMAL(38,8))) AS sxy
       |  FROM dbox GROUP BY 1, 2, 3, 4, 5, 6
       |),
       |drss AS (
       |  SELECT experiment_id, channel, s,
       |    CAST(greatest(
       |      ((CAST(s AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
       |        - (CAST(s AS DOUBLE) * CAST(sxy AS DOUBLE)
       |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |          * (CAST(s AS DOUBLE) * CAST(sxy AS DOUBLE)
       |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |          / CAST(dd AS DOUBLE))
       |      / CAST(s AS DOUBLE), 0.0) AS DECIMAL(38,10)) AS rssq
       |  FROM dba
       |),
       |dps AS MATERIALIZED (
       |  SELECT r.experiment_id, r.channel, r.s,
       |    CAST(count(*) AS BIGINT) AS n_boxes, sum(r.rssq) AS srss
       |  FROM drss r GROUP BY 1, 2, 3
       |),
       |dpf AS MATERIALIZED (
       |  SELECT p.experiment_id, p.channel, p.s, p.n_boxes,
       |    CAST(p.srss AS DOUBLE) / CAST(p.n_boxes * p.s AS DOUBLE) AS f2,
       |    sqrt(CAST(p.srss AS DOUBLE) / CAST(p.n_boxes * p.s AS DOUBLE))
       |      / CAST(t.n AS DOUBLE) AS fluct
       |  FROM dps p JOIN dst t USING (experiment_id, channel)
       |),
       |dsl AS MATERIALIZED (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS k,
       |    sum(CAST(ln(CAST(s AS DOUBLE)) AS DECIMAL(38,14))) AS sls,
       |    sum(CAST(0.5 * ln(f2) AS DECIMAL(38,14))) AS slf,
       |    sum(CAST(ln(CAST(s AS DOUBLE)) * ln(CAST(s AS DOUBLE))
       |      AS DECIMAL(38,14))) AS slsls,
       |    sum(CAST(ln(CAST(s AS DOUBLE)) * (0.5 * ln(f2))
       |      AS DECIMAL(38,14))) AS slslf
       |  FROM dpf WHERE f2 > 0.0 GROUP BY 1, 2
       |)
       |SELECT f.experiment_id, f.channel, f.s AS scale, f.n_boxes, f.fluct,
       |  CASE WHEN l.k > 1 THEN
       |    (CAST(l.k AS DOUBLE) * CAST(l.slslf AS DOUBLE)
       |      - CAST(l.sls AS DOUBLE) * CAST(l.slf AS DOUBLE))
       |    / (CAST(l.k AS DOUBLE) * CAST(l.slsls AS DOUBLE)
       |      - CAST(l.sls AS DOUBLE) * CAST(l.sls AS DOUBLE)) END AS alpha
       |FROM dpf f LEFT JOIN dsl l USING (experiment_id, channel)""".stripMargin
  }

  def q249Dfa(cfg: graft.PeakConfig = graft.PeakConfig(),
              scales: Seq[Int] = Seq(16, 64, 256)): String =
    s"""WITH $sigCtes,
       |${smoothCtes(cfg.smoothWindow, cfg.smoothPolyorder)},
       |dsrc AS (SELECT experiment_id, channel, sample_idx, v FROM smooth),
       |${dfaChainSql(scales)}""".stripMargin

  /** Q250 — stim–signal magnitude-squared coherence at the pacing
    * frequency (mirrors BeatMetrics.stimCoherence): modal stim
    * inter-spike interval as the segment length, per-segment decimal
    * demeaning, fundamental-bin projections with decimal-quantized
    * terms, Welch-averaged cross/auto spectra, pinned ratio and
    * atan2 finishes.
    */
  /** Shared Q250/Q258 CTE chain: gated stim spikes -> modal pacing
    * interval -> complete tumbling segments -> per-segment demeaned
    * fundamental-bin projections, ending in `cproj(experiment_id,
    * channel, seg_len, seg, ax, bx, ay, by)`. Mirrors
    * BeatMetrics.pacingProjections.
    */
  def pacingProjCtes(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val twoPi = dlit(2.0 * math.Pi)
    s"""$sigCtes,
       |${smoothCtes(cfg.smoothWindow, cfg.smoothPolyorder)},
       |$stimPeakCtes,
       |cgate AS (
       |  -- prominent spikes only (>= half the channel max): bare
       |  -- rule-1 maxima also fire on the noise floor, whose 2-sample
       |  -- alternation would otherwise be the modal interval
       |  SELECT * FROM (
       |    SELECT experiment_id, channel, sample_idx, y_scaled,
       |      max(y_scaled) OVER (PARTITION BY experiment_id, channel) AS mx
       |    FROM spk
       |  ) WHERE y_scaled >= 0.5 * mx
       |),
       |civ AS (
       |  SELECT experiment_id, channel,
       |    sample_idx - lag(sample_idx) OVER (
       |      PARTITION BY experiment_id, channel ORDER BY sample_idx) AS d
       |  FROM cgate
       |),
       |cmd AS MATERIALIZED (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS c, d
       |  FROM civ WHERE d IS NOT NULL GROUP BY 1, 2, 4
       |),
       |cmodal AS MATERIALIZED (
       |  SELECT experiment_id, channel, -best.nd AS seg_len
       |  FROM (
       |    SELECT experiment_id, channel, max({'c': c, 'nd': -d}) AS best
       |    FROM cmd GROUP BY 1, 2
       |  ) WHERE -best.nd >= 2
       |),
       |cj AS MATERIALIZED (
       |  SELECT s.experiment_id, s.channel, s.sample_idx, s.v,
       |    sc.y_scaled AS u, md.seg_len
       |  FROM smooth s
       |  JOIN scaled sc USING (experiment_id, channel, sample_idx)
       |  JOIN cmodal md USING (experiment_id, channel)
       |),
       |cn AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n
       |  FROM cj GROUP BY 1, 2
       |),
       |cseg AS (
       |  SELECT j.*,
       |    CAST(floor(CAST(j.sample_idx AS DOUBLE)
       |      / CAST(j.seg_len AS DOUBLE)) AS BIGINT) AS seg,
       |    CAST(j.sample_idx % j.seg_len AS DOUBLE) AS k
       |  FROM cj j JOIN cn USING (experiment_id, channel)
       |  WHERE CAST(floor(CAST(j.sample_idx AS DOUBLE)
       |      / CAST(j.seg_len AS DOUBLE)) AS BIGINT)
       |    < CAST(floor(CAST(cn.n AS DOUBLE)
       |      / CAST(j.seg_len AS DOUBLE)) AS BIGINT)
       |),
       |cm2 AS (
       |  SELECT *,
       |    sum(CAST(v AS DECIMAL(28,14))) OVER ws AS sv,
       |    sum(CAST(u AS DECIMAL(28,14))) OVER ws AS su
       |  FROM cseg
       |  WINDOW ws AS (PARTITION BY experiment_id, channel, seg)
       |),
       |cproj AS MATERIALIZED (
       |  SELECT experiment_id, channel, seg_len, seg,
       |    sum(CAST((v - CAST(sv AS DOUBLE) / CAST(seg_len AS DOUBLE))
       |      * cos($twoPi * k / CAST(seg_len AS DOUBLE))
       |      AS DECIMAL(28,14))) AS ax,
       |    sum(CAST((v - CAST(sv AS DOUBLE) / CAST(seg_len AS DOUBLE))
       |      * sin($twoPi * k / CAST(seg_len AS DOUBLE))
       |      AS DECIMAL(28,14))) AS bx,
       |    sum(CAST((u - CAST(su AS DOUBLE) / CAST(seg_len AS DOUBLE))
       |      * cos($twoPi * k / CAST(seg_len AS DOUBLE))
       |      AS DECIMAL(28,14))) AS ay,
       |    sum(CAST((u - CAST(su AS DOUBLE) / CAST(seg_len AS DOUBLE))
       |      * sin($twoPi * k / CAST(seg_len AS DOUBLE))
       |      AS DECIMAL(28,14))) AS by
       |  FROM cm2 GROUP BY 1, 2, 3, 4
       |)""".stripMargin
  }

  def q250Coherence(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val rate = dlit(cfg.sampleRateHz)
    s"""WITH ${pacingProjCtes(cfg)},
       |ccr AS (
       |  SELECT experiment_id, channel, seg_len,
       |    CAST(CAST(ax AS DOUBLE) * CAST(ay AS DOUBLE)
       |      + CAST(bx AS DOUBLE) * CAST(by AS DOUBLE)
       |      AS DECIMAL(28,10)) AS rxy,
       |    CAST(CAST(bx AS DOUBLE) * CAST(ay AS DOUBLE)
       |      - CAST(ax AS DOUBLE) * CAST(by AS DOUBLE)
       |      AS DECIMAL(28,10)) AS ixy,
       |    CAST(CAST(ax AS DOUBLE) * CAST(ax AS DOUBLE)
       |      + CAST(bx AS DOUBLE) * CAST(bx AS DOUBLE)
       |      AS DECIMAL(28,10)) AS pxx,
       |    CAST(CAST(ay AS DOUBLE) * CAST(ay AS DOUBLE)
       |      + CAST(by AS DOUBLE) * CAST(by AS DOUBLE)
       |      AS DECIMAL(28,10)) AS pyy
       |  FROM cproj
       |),
       |cfin AS (
       |  SELECT experiment_id, channel, seg_len,
       |    CAST(count(*) AS BIGINT) AS n_segments,
       |    sum(rxy) AS r, sum(ixy) AS im, sum(pxx) AS px, sum(pyy) AS py
       |  FROM ccr GROUP BY 1, 2, 3
       |)
       |SELECT experiment_id, channel, seg_len, n_segments,
       |  $rate / CAST(seg_len AS DOUBLE) AS pacing_freq_hz,
       |  CASE WHEN CAST(px AS DOUBLE) > 0.0 AND CAST(py AS DOUBLE) > 0.0 THEN
       |    (CAST(r AS DOUBLE) * CAST(r AS DOUBLE)
       |      + CAST(im AS DOUBLE) * CAST(im AS DOUBLE))
       |    / (CAST(px AS DOUBLE) * CAST(py AS DOUBLE)) END AS coherence,
       |  CASE WHEN CAST(px AS DOUBLE) > 0.0 AND CAST(py AS DOUBLE) > 0.0 THEN
       |    atan2(CAST(im AS DOUBLE), CAST(r AS DOUBLE)) END AS cross_phase_rad
       |FROM cfin""".stripMargin
  }

  /** Q257 — turning-point randomness test (mirrors
    * BeatMetrics.turningPoints): integer strict-extremum count vs
    * the Kendall i.i.d. expectation, pinned z finish.
    */
  def q257TurningPoints(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |tp0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_tp0 AS d
       |  FROM detected
       |  WINDOW w_tp0 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |tp1 AS (
       |  SELECT experiment_id, channel, d,
       |    lag(d, 1) OVER w_tp1 AS pv, lead(d, 1) OVER w_tp1 AS nv
       |  FROM tp0 WHERE d IS NOT NULL
       |  WINDOW w_tp1 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |tpa AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
       |      AND ((d > pv AND d > nv) OR (d < pv AND d < nv))
       |      THEN 1 ELSE 0 END) AS BIGINT) AS t
       |  FROM tp1 GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n AS n_rr, t AS n_turning,
       |  2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0 AS expected_tp,
       |  CASE WHEN (16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0 > 0.0 THEN
       |    (CAST(t AS DOUBLE) - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
       |    / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0) END AS z
       |FROM tpa WHERE n >= 3""".stripMargin

  /** Q258 — pacing transfer gain + phase-locking value (mirrors
    * BeatMetrics.pacingTransfer): Q250's projection chain, energy-
    * ratio gain, amplitude-normalized unit-vector mean.
    */
  def q258PacingTransfer(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val rate = dlit(cfg.sampleRateHz)
    s"""WITH ${pacingProjCtes(cfg)},
       |ptseg AS (
       |  SELECT experiment_id, channel, seg_len,
       |    CAST(CAST(ax AS DOUBLE) * CAST(ax AS DOUBLE)
       |      + CAST(bx AS DOUBLE) * CAST(bx AS DOUBLE)
       |      AS DECIMAL(28,10)) AS px,
       |    CAST(CAST(ay AS DOUBLE) * CAST(ay AS DOUBLE)
       |      + CAST(by AS DOUBLE) * CAST(by AS DOUBLE)
       |      AS DECIMAL(28,10)) AS py,
       |    CASE WHEN sqrt((CAST(ax AS DOUBLE) * CAST(ax AS DOUBLE)
       |        + CAST(bx AS DOUBLE) * CAST(bx AS DOUBLE))
       |      * (CAST(ay AS DOUBLE) * CAST(ay AS DOUBLE)
       |        + CAST(by AS DOUBLE) * CAST(by AS DOUBLE))) > 0.0 THEN
       |      CAST((CAST(ax AS DOUBLE) * CAST(ay AS DOUBLE)
       |        + CAST(bx AS DOUBLE) * CAST(by AS DOUBLE))
       |      / sqrt((CAST(ax AS DOUBLE) * CAST(ax AS DOUBLE)
       |          + CAST(bx AS DOUBLE) * CAST(bx AS DOUBLE))
       |        * (CAST(ay AS DOUBLE) * CAST(ay AS DOUBLE)
       |          + CAST(by AS DOUBLE) * CAST(by AS DOUBLE)))
       |      AS DECIMAL(28,14)) END AS cu,
       |    CASE WHEN sqrt((CAST(ax AS DOUBLE) * CAST(ax AS DOUBLE)
       |        + CAST(bx AS DOUBLE) * CAST(bx AS DOUBLE))
       |      * (CAST(ay AS DOUBLE) * CAST(ay AS DOUBLE)
       |        + CAST(by AS DOUBLE) * CAST(by AS DOUBLE))) > 0.0 THEN
       |      CAST((CAST(bx AS DOUBLE) * CAST(ay AS DOUBLE)
       |        - CAST(ax AS DOUBLE) * CAST(by AS DOUBLE))
       |      / sqrt((CAST(ax AS DOUBLE) * CAST(ax AS DOUBLE)
       |          + CAST(bx AS DOUBLE) * CAST(bx AS DOUBLE))
       |        * (CAST(ay AS DOUBLE) * CAST(ay AS DOUBLE)
       |          + CAST(by AS DOUBLE) * CAST(by AS DOUBLE)))
       |      AS DECIMAL(28,14)) END AS su
       |  FROM cproj
       |),
       |ptfin AS (
       |  SELECT experiment_id, channel, seg_len,
       |    CAST(count(*) AS BIGINT) AS n_segments,
       |    CAST(sum(CASE WHEN cu IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_locked,
       |    sum(px) AS spx, sum(py) AS spy, sum(cu) AS sc, sum(su) AS ss
       |  FROM ptseg GROUP BY 1, 2, 3
       |)
       |SELECT experiment_id, channel, seg_len, n_segments, n_locked,
       |  $rate / CAST(seg_len AS DOUBLE) AS pacing_freq_hz,
       |  CASE WHEN CAST(spy AS DOUBLE) > 0.0 THEN
       |    sqrt(CAST(spx AS DOUBLE) / CAST(spy AS DOUBLE)) END
       |    AS transfer_gain,
       |  CASE WHEN n_locked > 0 THEN
       |    sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
       |      + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
       |    / CAST(n_locked AS DOUBLE) END AS plv,
       |  CASE WHEN n_locked > 0 THEN
       |    atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE)) END
       |    AS mean_phase_rad
       |FROM ptfin""".stripMargin
  }

  /** Q251 — heart-rate fragmentation (mirrors
    * BeatMetrics.fragmentation): integer sign runs over the RR
    * difference series, PIP/IALS/PSS as pinned divisions of integer
    * counts.
    */
  def q251Fragmentation(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |fr0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_fr0 AS d
       |  FROM detected
       |  WINDOW w_fr0 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |fr1 AS (
       |  SELECT experiment_id, channel, peak_idx, d,
       |    d - lag(d) OVER w_fr1 AS delta
       |  FROM fr0 WHERE d IS NOT NULL
       |  WINDOW w_fr1 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |fr2 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    CASE WHEN delta > 0 THEN 1 WHEN delta < 0 THEN -1 ELSE 0 END AS s
       |  FROM fr1 WHERE delta IS NOT NULL
       |),
       |fr3 AS (
       |  SELECT *,
       |    CASE WHEN lag(s) OVER w_fr3 IS NULL THEN 1
       |         WHEN s != lag(s) OVER w_fr3 THEN 1 ELSE 0 END AS chg
       |  FROM fr2
       |  WINDOW w_fr3 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |fr4 AS (
       |  SELECT *, sum(chg) OVER (
       |    PARTITION BY experiment_id, channel ORDER BY peak_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM fr3
       |),
       |frr AS (
       |  SELECT experiment_id, channel, run, CAST(count(*) AS BIGINT) AS len
       |  FROM fr4 GROUP BY 1, 2, 3
       |),
       |fra AS (
       |  SELECT experiment_id, channel, CAST(sum(len) AS BIGINT) AS m,
       |    CAST(count(*) AS BIGINT) AS n_runs,
       |    CAST(sum(CASE WHEN len < 3 THEN len ELSE 0 END) AS BIGINT)
       |      AS short_deltas
       |  FROM frr GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, m AS n_deltas, n_runs,
       |  CAST(n_runs - 1 AS DOUBLE) / CAST(m AS DOUBLE) AS pip,
       |  CAST(n_runs AS DOUBLE) / CAST(m AS DOUBLE) AS ials,
       |  CAST(short_deltas AS DOUBLE) / CAST(m AS DOUBLE) AS pss
       |FROM fra""".stripMargin

  /** Q252 — lagged cross-channel correlation (mirrors
    * BeatMetrics.laggedXcorr): literal lag grid, shifted equi-join,
    * decimal Pearson moments, struct-argmax on (r, −lag).
    */
  def q252LaggedXcorr(cfg: graft.PeakConfig = graft.PeakConfig(),
                      lags: Seq[Int] = Seq(-40, -30, -20, -10, 0,
                        10, 20, 30, 40)): String = {
    val lagRows = lags.map(l => s"(CAST($l AS BIGINT))").mkString(", ")
    s"""WITH $sigCtes,
       |${smoothCtes(cfg.smoothWindow, cfg.smoothPolyorder)},
       |xl(l) AS (VALUES $lagRows),
       |xj AS (
       |  SELECT a.experiment_id, a.channel AS ca, b.channel AS cb, bl.l,
       |    a.v AS va, b.v AS vb
       |  FROM smooth a
       |  JOIN xl bl ON true
       |  JOIN smooth b ON b.experiment_id = a.experiment_id
       |    AND b.sample_idx - bl.l = a.sample_idx
       |  WHERE a.channel < b.channel
       |),
       |xm AS (
       |  SELECT experiment_id, ca, cb, l, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(va AS DECIMAL(28,14))) AS sx,
       |    sum(CAST(vb AS DECIMAL(28,14))) AS sy,
       |    sum(CAST(va * va AS DECIMAL(38,8))) AS sxx,
       |    sum(CAST(vb * vb AS DECIMAL(38,8))) AS syy,
       |    sum(CAST(va * vb AS DECIMAL(38,8))) AS sxy
       |  FROM xj GROUP BY 1, 2, 3, 4
       |),
       |xr AS (
       |  SELECT experiment_id, ca, cb, l,
       |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / nullif(sqrt(greatest(
       |        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0)), 0.0)
       |      AS r
       |  FROM xm WHERE n > 1
       |)
       |SELECT experiment_id, ca, cb, CAST(count(*) AS BIGINT) AS n_lags,
       |  -(max({'r': r, 'nl': -l})).nl AS best_lag,
       |  (max({'r': r, 'nl': -l})).r AS best_r,
       |  max(CASE WHEN l = 0 THEN r END) AS r_zero_lag
       |FROM xr WHERE r IS NOT NULL GROUP BY 1, 2, 3""".stripMargin
  }

  /** Q253 — beat-morphology variability band (mirrors
    * BeatMetrics.morphologyBand): Q236's fixed-lag complete windows,
    * per-offset decimal mean and n·Σx²−(Σx)² SD with pinned
    * finishes.
    */
  def q253MorphologyBand(cfg: graft.PeakConfig = graft.PeakConfig(),
                         before: Int = 20, after: Int = 40): String = {
    val winLen = before + after + 1
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |mb0 AS (
       |  SELECT d.experiment_id, d.channel, d.peak_idx, g.gs AS off,
       |    d.peak_idx + g.gs AS sample_idx
       |  FROM detected d, generate_series(-$before, $after) AS g(gs)
       |),
       |mb1 AS (
       |  SELECT o.experiment_id, o.channel, o.peak_idx, o.off, s.v
       |  FROM mb0 o JOIN smooth s ON s.experiment_id = o.experiment_id
       |    AND s.channel = o.channel AND s.sample_idx = o.sample_idx
       |),
       |mb2 AS (
       |  SELECT experiment_id, channel, peak_idx FROM mb1
       |  GROUP BY 1, 2, 3 HAVING count(*) = $winLen
       |),
       |mb3 AS (
       |  SELECT w.* FROM mb1 w JOIN mb2 c ON c.experiment_id = w.experiment_id
       |    AND c.channel = w.channel AND c.peak_idx = w.peak_idx
       |),
       |mba AS (
       |  SELECT experiment_id, channel, off,
       |    CAST(count(*) AS BIGINT) AS n_beats,
       |    sum(CAST(v AS DECIMAL(28,14))) AS sx,
       |    sum(CAST(v * v AS DECIMAL(28,10))) AS sxx
       |  FROM mb3 GROUP BY 1, 2, 3
       |)
       |SELECT experiment_id, channel, off, n_beats,
       |  CAST(sx AS DOUBLE) / CAST(n_beats AS DOUBLE) AS template_v,
       |  sqrt(greatest(CAST(n_beats AS DOUBLE) * CAST(sxx AS DOUBLE)
       |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
       |    / CAST(n_beats AS DOUBLE) AS sd_v
       |FROM mba""".stripMargin
  }

  /** Q254 — approximate entropy (mirrors
    * BeatMetrics.approximateEntropy): self-match-inclusive template
    * counts, per-template ln quantized before the mean, pinned
    * Φ²−Φ³ finish.
    */
  def q254Apen(cfg: graft.PeakConfig = graft.PeakConfig(),
               rFrac: Double = 0.2): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |ae0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_ae0 AS d
       |  FROM detected
       |  WINDOW w_ae0 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |ae1 AS MATERIALIZED (
       |  SELECT experiment_id, channel, d,
       |    row_number() OVER w_ae1 - 1 AS k,
       |    lead(d, 1) OVER w_ae1 AS d1,
       |    lead(d, 2) OVER w_ae1 AS d2
       |  FROM ae0 WHERE d IS NOT NULL
       |  WINDOW w_ae1 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |aest AS MATERIALIZED (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d) AS BIGINT) AS s1, CAST(sum(d * d) AS BIGINT) AS s2
       |  FROM ae1 GROUP BY 1, 2
       |),
       |aethr AS MATERIALIZED (
       |  SELECT experiment_id, channel, n,
       |    ${dlit(rFrac)} * (sqrt(greatest(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
       |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0))
       |      / CAST(n AS DOUBLE)) AS r_thresh
       |  FROM aest
       |),
       |aec AS (
       |  SELECT a.experiment_id, a.channel, a.k AS ka, t.n, t.r_thresh,
       |    CAST(sum(CASE WHEN a.d1 IS NOT NULL AND b.d1 IS NOT NULL
       |      AND CAST(greatest(abs(a.d - b.d), abs(a.d1 - b.d1)) AS DOUBLE)
       |        <= t.r_thresh THEN 1 ELSE 0 END) AS BIGINT) AS c2,
       |    CAST(sum(CASE WHEN a.d1 IS NOT NULL AND b.d1 IS NOT NULL
       |      AND a.d2 IS NOT NULL AND b.d2 IS NOT NULL
       |      AND CAST(greatest(abs(a.d - b.d), abs(a.d1 - b.d1),
       |        abs(a.d2 - b.d2)) AS DOUBLE) <= t.r_thresh
       |      THEN 1 ELSE 0 END) AS BIGINT) AS c3
       |  FROM ae1 a
       |  JOIN ae1 b ON b.experiment_id = a.experiment_id
       |    AND b.channel = a.channel
       |  JOIN aethr t ON t.experiment_id = a.experiment_id
       |    AND t.channel = a.channel
       |  GROUP BY 1, 2, 3, 4, 5
       |),
       |aephi AS (
       |  SELECT experiment_id, channel, n, r_thresh,
       |    sum(CASE WHEN c2 > 0 THEN CAST(ln(CAST(c2 AS DOUBLE)
       |      / CAST(n - 1 AS DOUBLE)) AS DECIMAL(38,14)) END) AS l2,
       |    sum(CASE WHEN c3 > 0 THEN CAST(ln(CAST(c3 AS DOUBLE)
       |      / CAST(n - 2 AS DOUBLE)) AS DECIMAL(38,14)) END) AS l3
       |  FROM aec GROUP BY 1, 2, 3, 4
       |)
       |SELECT experiment_id, channel, n AS n_rr, r_thresh,
       |  CASE WHEN n >= 2 THEN CAST(l2 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS phi2,
       |  CASE WHEN n >= 3 THEN CAST(l3 AS DOUBLE) / CAST(n - 2 AS DOUBLE) END AS phi3,
       |  (CASE WHEN n >= 2 THEN CAST(l2 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END)
       |    - (CASE WHEN n >= 3 THEN CAST(l3 AS DOUBLE) / CAST(n - 2 AS DOUBLE) END)
       |    AS apen
       |FROM aephi""".stripMargin

  /** Q255 — residual signal-quality index (mirrors
    * BeatMetrics.residualSqi): decimal power sums to order 4,
    * central-moment and skew/kurtosis pinned finishes.
    */
  def q255ResidualSqi(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH $sigCtes,
       |${smoothCtes(cfg.smoothWindow, cfg.smoothPolyorder)},
       |sq0 AS (
       |  SELECT s.experiment_id, s.channel, g.y - s.v AS r
       |  FROM smooth s JOIN sig g ON g.experiment_id = s.experiment_id
       |    AND g.channel = s.channel AND g.sample_idx = s.sample_idx
       |  WHERE g.y IS NOT NULL AND s.v IS NOT NULL
       |),
       |sqa AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(r AS DECIMAL(28,14))) AS s1,
       |    sum(CAST(r * r AS DECIMAL(38,10))) AS s2,
       |    sum(CAST(r * r * r AS DECIMAL(38,8))) AS s3,
       |    sum(CAST(r * r * r * r AS DECIMAL(38,6))) AS s4
       |  FROM sq0 GROUP BY 1, 2
       |),
       |sqm AS (
       |  SELECT *,
       |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
       |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m2
       |  FROM sqa
       |),
       |sqf AS (
       |  SELECT *,
       |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
       |      - 3.0 * mu * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
       |      + 2.0 * mu * mu * mu AS m3,
       |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
       |      - 4.0 * mu * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
       |      + 6.0 * mu * mu * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
       |      - 3.0 * mu * mu * mu * mu AS m4
       |  FROM sqm
       |)
       |SELECT experiment_id, channel, n, mu AS resid_mean,
       |  sqrt(greatest(m2, 0.0)) AS resid_sd,
       |  CASE WHEN n > 2 AND m2 > 0.0 THEN
       |    m3 / sqrt(greatest(m2 * m2 * m2, 0.0)) END AS skewness,
       |  CASE WHEN n > 3 AND m2 > 0.0 THEN
       |    m4 / (m2 * m2) - 3.0 END AS excess_kurtosis
       |FROM sqf""".stripMargin

  /** Q256 — beat-force autocorrelation (mirrors
    * BeatMetrics.forceAutocorr): shared lead window, literal lag
    * fan-out, decimal Pearson moments, pinned finish.
    */
  def q256ForceAutocorr(cfg: graft.PeakConfig = graft.PeakConfig(),
                        maxLag: Int = 3): String = {
    val lagRows = (1 to maxLag).map(l => s"(CAST($l AS BIGINT))").mkString(", ")
    val fbCase = (maxLag to 1 by -1)
      .map(l => s"WHEN fl.l = $l THEN f.f$l").mkString(" ")
    val leadCols = (1 to maxLag)
      .map(l => s"lead(force, $l) OVER w_fa AS f$l").mkString(",\n       |    ")
    s"""WITH RECURSIVE ${metricCtes(cfg)},
       |fa0 AS (
       |  SELECT experiment_id, channel, peak_idx, force,
       |    $leadCols
       |  FROM m
       |  WINDOW w_fa AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |fal(l) AS (VALUES $lagRows),
       |fa1 AS (
       |  SELECT f.experiment_id, f.channel, fl.l, f.force,
       |    CASE $fbCase END AS fb
       |  FROM fa0 f, fal fl
       |),
       |fam AS (
       |  SELECT experiment_id, channel, l,
       |    CAST(count(*) AS BIGINT) AS n_pairs,
       |    sum(CAST(force AS DECIMAL(28,14))) AS sx,
       |    sum(CAST(fb AS DECIMAL(28,14))) AS sy,
       |    sum(CAST(force * force AS DECIMAL(38,8))) AS sxx,
       |    sum(CAST(fb * fb AS DECIMAL(38,8))) AS syy,
       |    sum(CAST(force * fb AS DECIMAL(38,8))) AS sxy
       |  FROM fa1 WHERE force IS NOT NULL AND fb IS NOT NULL
       |  GROUP BY 1, 2, 3
       |)
       |SELECT experiment_id, channel, l AS lag, n_pairs,
       |  CASE WHEN n_pairs > 1 THEN
       |    (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / nullif(sqrt(greatest(
       |        (CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |        * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0)), 0.0)
       |  END AS acf
       |FROM fam""".stripMargin
  }

  /** Per-beat metric CTEs ending in `m(experiment_id, channel,
    * peak_idx, t, peak_value, baseline_value, force, time_to_peak,
    * time_to_relaxation, duration)`. Mirrors BeatMetrics.metrics:
    * state-flip as-of lookups with the reference's edge rules.
    */
  def metricCtes(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val rate = dlit(cfg.sampleRateHz)
    s"""${detectCtes(cfg)},
       |stt AS (
       |  SELECT e.*,
       |    coalesce(e.y_smooth >= e.diastolic, false) AS s_t,
       |    coalesce(e.y_smooth <= e.diastolic, false) AS s_r
       |  FROM enriched e
       |),
       |cr AS (
       |  SELECT *,
       |    max(CASE WHEN s_t THEN sample_idx END) OVER wp AS last_t,
       |    max(CASE WHEN NOT s_t THEN sample_idx END) OVER wp AS last_f,
       |    min(CASE WHEN s_r THEN sample_idx END) OVER wn AS next_t,
       |    min(CASE WHEN NOT s_r THEN sample_idx END) OVER wn AS next_f
       |  FROM stt
       |  WINDOW wp AS (PARTITION BY experiment_id, channel ORDER BY sample_idx
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |         wn AS (PARTITION BY experiment_id, channel ORDER BY sample_idx
       |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
       |),
       |m0 AS (
       |  SELECT d.experiment_id, d.channel, d.peak_idx, d.t, d.peak_value,
       |    c2.baseline AS baseline_value,
       |    d.peak_value - c2.baseline AS force,
       |    (d.peak_idx = 0 OR d.peak_idx >= c2.n - 2) AS edge,
       |    d.peak_idx - coalesce(CASE WHEN c2.s_t THEN c2.last_f ELSE c2.last_t END, 0) AS ttp_i,
       |    coalesce(CASE WHEN c2.s_t THEN c2.last_f ELSE c2.last_t END, 0) AS ttp_idx,
       |    least(coalesce(CASE WHEN c2.s_r THEN c2.next_f ELSE c2.next_t END, c2.n - 1), c2.n - 1) AS exit_idx,
       |    c2.n
       |  FROM detected d JOIN cr c2
       |    ON c2.experiment_id = d.experiment_id AND c2.channel = d.channel
       |    AND c2.sample_idx = d.peak_idx
       |),
       |m1 AS (
       |  SELECT *,
       |    CASE WHEN edge THEN NULL ELSE CAST(ttp_i AS DOUBLE) / $rate END AS time_to_peak,
       |    CASE WHEN edge OR exit_idx = n - 1 THEN NULL
       |         ELSE CAST(exit_idx - peak_idx AS DOUBLE) / $rate END AS time_to_relaxation
       |  FROM m0
       |),
       |m AS MATERIALIZED (
       |  SELECT m1.experiment_id, m1.channel, m1.peak_idx, m1.t, m1.peak_value,
       |    m1.baseline_value, m1.force,
       |    time_to_peak, time_to_relaxation,
       |    CASE WHEN time_to_peak IS NOT NULL AND time_to_relaxation IS NOT NULL
       |         THEN time_to_relaxation + time_to_peak END AS duration,
       |    CASE WHEN time_to_peak IS NOT NULL
       |         THEN m1.t - CAST(m1.peak_idx - m1.ttp_idx AS DOUBLE) / $rate END AS ttp_t,
       |    CASE WHEN time_to_peak IS NOT NULL THEN sl.v END AS ttp_y,
       |    CASE WHEN time_to_relaxation IS NOT NULL
       |         THEN m1.t + CAST(m1.exit_idx - m1.peak_idx AS DOUBLE) / $rate END AS ttr_t,
       |    CASE WHEN time_to_relaxation IS NOT NULL THEN sr.v END AS ttr_y
       |  FROM m1
       |  LEFT JOIN smooth sl ON sl.experiment_id = m1.experiment_id
       |    AND sl.channel = m1.channel AND sl.sample_idx = m1.ttp_idx
       |  LEFT JOIN smooth sr ON sr.experiment_id = m1.experiment_id
       |    AND sr.channel = m1.channel AND sr.sample_idx = m1.exit_idx
       |)""".stripMargin
  }

  /** Q8b — per-beat TTP/TTR marker points (reference
    * `peak_analysis.py:95,113`): the (timestamp, smooth-value) pair at
    * the state-flip index each walk exits at.
    */
  def q8bMarkers(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${metricCtes(cfg)}
       |SELECT experiment_id, channel, peak_idx, time_to_peak, ttp_t, ttp_y,
       |  time_to_relaxation, ttr_t, ttr_y FROM m""".stripMargin

  /** Q8 — per-beat metrics. */
  def q8Metrics(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${metricCtes(cfg)}
       |SELECT experiment_id, channel, peak_idx, force, time_to_peak,
       |  time_to_relaxation, duration FROM m""".stripMargin

  /** Q9 — channel summary with exact DECIMAL-sum averages (identical
    * doubles in both engines regardless of summation order).
    */
  def q9Summary(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    def avg(c: String, as: String) =
      s"CAST(sum(CAST($c AS DECIMAL(20,6))) AS DOUBLE) / count($c) AS $as"
    s"""WITH RECURSIVE ${metricCtes(cfg)},
       |agg AS (
       |  SELECT experiment_id, channel, count(*) AS n_peaks,
       |    ${avg("time_to_peak", "avg_ttp")},
       |    ${avg("time_to_relaxation", "avg_ttr")},
       |    ${avg("duration", "avg_duration")},
       |    ${avg("force", "avg_force")}
       |  FROM m GROUP BY 1, 2
       |),
       |chans AS (SELECT DISTINCT experiment_id, channel FROM sig)
       |SELECT c.experiment_id, c.channel, coalesce(a.n_peaks, 0) AS n_peaks,
       |  a.avg_ttp, a.avg_ttr, a.avg_duration, a.avg_force
       |FROM chans c LEFT JOIN agg a USING (experiment_id, channel)""".stripMargin
  }

  /** Q11 — revenue by nation (exact DECIMAL money sums). */
  def q11Revenue: String =
    s"""SELECT n.n_name,
       |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = 'ASIA'
       |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY n.n_name""".stripMargin

  /** Q11b — shipped revenue + supplier count by supplier nation. */
  def q11bSupplierRevenue: String =
    s"""SELECT n.n_name,
       |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue,
       |  count(DISTINCT s.s_suppkey) AS n_suppliers
       |FROM lineitem l
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |GROUP BY n.n_name""".stripMargin

  /** Q12 — top-3 parts by revenue per brand. */
  def q12TopParts(k: Int = 3): String =
    s"""WITH rev AS (
       |  SELECT p.p_brand, p.p_partkey,
       |    CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  GROUP BY p.p_brand, p.p_partkey
       |),
       |rnked AS (
       |  SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rnk
       |  FROM rev
       |)
       |SELECT p_brand, p_partkey, revenue, rnk FROM rnked WHERE rnk <= $k""".stripMargin

  /** Q13 — per-user daily rollup with JSON-extracted measure. */
  def q13EventsDaily: String =
    s"""SELECT user_id, strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value,
       |  CAST(sum(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k
       |FROM events
       |GROUP BY 1, 2""".stripMargin

  /** Q14 — token statistics. */
  def q14Tokens: String =
    s"""SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
       |FROM (
       |  SELECT d.doc_id, unnest(string_split_regex(lower(d.text), '\\s+')) AS token
       |  FROM documents d
       |)
       |WHERE token <> ''
       |GROUP BY token""".stripMargin

  /** Q14b — TF-IDF top terms (mirrors TextAnalysis.tfIdfTopTerms:
    * log-free idf N/df so the double arithmetic is engine-portable;
    * identical association `tf * (N / df)`).
    */
  def q14bTfIdf(k: Int = 3): String =
    s"""WITH tf AS (
       |  SELECT doc_id, token, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($tokensSql) AS token FROM documents)
       |  GROUP BY doc_id, token
       |),
       |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
       |    CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS score
       |  FROM tf JOIN dfreq USING (token), n
       |),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
       |  FROM scored
       |)
       |SELECT doc_id, token, tf, df, score, rnk FROM rk WHERE rnk <= $k""".stripMargin

  /** Q15 — exact dedup survivors. */
  def q15Dedup: String =
    s"""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
       |FROM documents GROUP BY text""".stripMargin

  /** Q15b — near-dup candidate pairs by (length, prefix) blocking. */
  def q15bNearDup: String =
    s"""WITH b AS (
       |  SELECT doc_id, n_chars, substr(lower(text), 1, 32) AS pfx FROM documents
       |)
       |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
       |FROM b a JOIN b c
       |  ON a.n_chars = c.n_chars AND a.pfx = c.pfx AND a.doc_id < c.doc_id""".stripMargin

  /** Q16 — brute-force cosine top-k for probes vec_id < 3. The dot and
    * norm sums are written in ascending element order from 0.0, exactly
    * like Similarity.dot's fold.
    */
  /** Ascending-order dot product a·b over dim elements, left-assoc
    * from 0.0 — mirrors Similarity.dot's fold bitwise.
    */
  def sumTerms(a: String, b: String, dim: Int = 64): String =
    "(0.0 + " + (1 to dim).map(i => s"$a[$i] * $b[$i]").mkString(" + ") + ")"

  /** cosine(a, b) with the same association order as Similarity.cosine. */
  def cosSql(a: String, b: String, dim: Int = 64): String =
    s"${sumTerms(a, b, dim)} / sqrt(${sumTerms(a, a, dim)} * ${sumTerms(b, b, dim)})"

  /** Squared L2 distance with SqDistExpr's association order:
    * ascending (a[i]-b[i])² terms summed left-assoc from 0.0.
    */
  def sqDistTerms(a: String, b: String, dim: Int = 64): String =
    "(0.0 + " +
      (1 to dim).map(i => s"($a[$i] - $b[$i]) * ($a[$i] - $b[$i])")
        .mkString(" + ") + ")"

  def q16CosineTopK(dim: Int = 64, k: Int = 10): String = {
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |p AS (SELECT vec_id AS probe_id, de AS pe FROM e WHERE vec_id < 3),
       |sims AS (
       |  SELECT p.probe_id, e.vec_id,
       |    ${cosSql("pe", "de", dim)} AS sim
       |  FROM p, e WHERE e.vec_id <> p.probe_id
       |),
       |rnked AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rnk
       |  FROM sims
       |)
       |SELECT probe_id, vec_id, sim, rnk FROM rnked WHERE rnk <= $k""".stripMargin
  }

  /** Q16b — LSH-bucketed near-dup pairs (mirrors Similarity.lshNearDup:
    * 12 deterministic hyperplanes → sign bucket → 1-bit multi-probe
    * candidate rule → exact cosine gate). The candidate set "buckets
    * differ in ≤ 1 bit" is written directly as a Hamming predicate —
    * the oracle brute-forces what the engine reaches via the
    * probe-key join.
    */
  def q16bLshNearDup(minSim: Double = 0.35, dim: Int = 64): String = {
    val planes = graft.operators.Similarity.hyperplanes(dim = dim)
    def planeDot(pl: Array[Double]): String =
      "(0.0 + " + pl.zipWithIndex
        .map { case (c, d) => s"(${dlit(c)}) * de[${d + 1}]" }
        .mkString(" + ") + ")"
    val bucket = planes.zipWithIndex
      .map { case (pl, i) =>
        s"(CASE WHEN ${planeDot(pl)} >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)" }
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |eb AS (SELECT vec_id, de, $bucket AS bucket FROM e),
       |pairs AS (
       |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       |    ${cosSql("x.de", "y.de", dim)} AS sim
       |  FROM eb x JOIN eb y
       |    ON bit_count(xor(x.bucket, y.bucket)) <= 1 AND x.vec_id < y.vec_id
       |)
       |SELECT vec_a, vec_b, sim FROM pairs WHERE sim >= ${dlit(minSim)}""".stripMargin
  }

  /** Q16c — IVF-style ANN (mirrors Similarity.ivfTopK: fixed coarse
    * quantizer = vec_id < nCentroids, nProbe inverted lists, top-k).
    */
  def q16cIvfTopK(nCentroids: Int = 8, nProbe: Int = 2, k: Int = 5,
                  dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |cent AS (SELECT vec_id AS cid, de AS ce FROM e WHERE vec_id < $nCentroids),
       |sims AS (
       |  SELECT e.vec_id, e.de, c.cid, ${cosSql("e.de", "c.ce", dim)} AS csim
       |  FROM e CROSS JOIN cent c
       |),
       |asg AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crk
       |  FROM sims
       |),
       |lists AS (SELECT vec_id, de, cid AS list_id FROM asg WHERE crk = 1),
       |pl AS (
       |  SELECT vec_id AS probe_id, de AS pe, cid AS list_id
       |  FROM asg WHERE vec_id < 3 AND crk <= $nProbe
       |),
       |cs AS (
       |  SELECT p.probe_id, l.vec_id, ${cosSql("p.pe", "l.de", dim)} AS sim
       |  FROM pl p JOIN lists l USING (list_id) WHERE l.vec_id <> p.probe_id
       |),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rnk
       |  FROM cs
       |)
       |SELECT probe_id, vec_id, sim, rnk FROM rk WHERE rnk <= $k""".stripMargin

  /** Q228 — 1-NN label coherence over the q16c lists (mirrors
    * Similarity.knnLabelEval): same assignment, rank-1 neighbor with
    * (sim desc, id) order, isolated vectors kept in the denominator
    * accounting.
    */
  def q228KnnLabelEval(nCentroids: Int = 8, dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |cent AS (SELECT vec_id AS cid, de AS ce FROM e WHERE vec_id < $nCentroids),
       |sims AS (
       |  SELECT e.vec_id, e.label, e.de, c.cid,
       |    ${cosSql("e.de", "c.ce", dim)} AS csim
       |  FROM e CROSS JOIN cent c
       |),
       |asg AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY csim DESC, cid) AS crk
       |  FROM sims
       |),
       |lists AS MATERIALIZED (
       |  SELECT vec_id, label, de, cid AS list_id FROM asg WHERE crk = 1
       |),
       |cs AS (
       |  SELECT x.vec_id, x.label, y.label AS nlabel,
       |    ${cosSql("x.de", "y.de", dim)} AS sim, y.vec_id AS nid
       |  FROM lists x JOIN lists y
       |    ON y.list_id = x.list_id AND y.vec_id <> x.vec_id
       |),
       |nn AS (
       |  SELECT vec_id, label, nlabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, nid) AS rnk
       |    FROM cs) t WHERE rnk = 1
       |),
       |agg AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |    CAST(sum(CASE WHEN nlabel = label THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_matched
       |  FROM nn GROUP BY 1
       |),
       |tot AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n_total
       |  FROM lists GROUP BY 1
       |)
       |SELECT t.label, coalesce(a.n_vecs, 0) AS n_vecs,
       |  t.n_total - coalesce(a.n_vecs, 0) AS n_isolated,
       |  coalesce(a.n_matched, 0) AS n_matched,
       |  CAST(coalesce(a.n_matched, 0) AS DOUBLE)
       |    / CAST(nullif(coalesce(a.n_vecs, 0), 0) AS DOUBLE) AS nn_accuracy
       |FROM tot t LEFT JOIN agg a ON a.label = t.label""".stripMargin

  // ---- LLM-pipeline dedup family (operators/Dedup.scala) ----

  /** Polynomial fold over character codes, identical to
    * TextHash.polyHash: acc = (acc*base + ascii(c)) % mod, from 0.
    */
  def polyHashSql(s: String, base: Long = 31L, mod: Long = 1000000007L): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, x) -> (a * $base + x) % $mod)"

  /** CTEs `toks(doc_id, tk)` and `thc(doc_id, th)` — per-token
    * polynomial hashes, the shared front of every word-shingle/span
    * oracle (mirrors ShingleHashesExpr's tokenize+hash pass).
    */
  def tokenHashCtes: String =
    s"""toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
       |  FROM documents
       |),
       |thc AS (
       |  SELECT doc_id, list_transform(tk, t -> ${polyHashSql("t")}) AS th
       |  FROM toks
       |)""".stripMargin

  /** The left-assoc w-token window combine over `th[i..i+w-1]`,
    * unrolled — identical arithmetic to ShingleHashesExpr's fold.
    */
  def spanFoldSql(w: Int, mod: Long = 1000000007L): String =
    (1 until w).foldLeft("th[i]")((acc, j) => s"($acc * 31 + th[i+$j]) % $mod")

  /** CTEs `toks(doc_id, tk)`, `th(doc_id, th)` and `shq(doc_id, h)` —
    * distinct 3-word shingle hashes, mirroring Dedup.shingleHashes
    * (per-token char hash, arithmetic shingle combine).
    */
  def shingleCtes: String =
    s"""$tokenHashCtes,
       |shq AS (
       |  SELECT DISTINCT doc_id, unnest(
       |    CASE WHEN len(th) >= 3
       |         THEN list_transform(range(1, len(th) - 1), i -> ${spanFoldSql(3)})
       |         ELSE [] END) AS h
       |  FROM thc
       |)""".stripMargin

  /** Q15c — MinHash+LSH candidate pairs with estimated Jaccard. */
  /** Shared CTE chain `params → sig → bands → cand` for the MinHash
    * family (Q15c, Q38) — prefix with `WITH [RECURSIVE] $shingleCtes,`.
    */
  def minhashCtes: String = {
    val params = graft.functions.TextHash.minhashParams()
    val p = graft.functions.TextHash.P
    // Columnar signature: 16 min() aggregates in ONE pass over shq —
    // mirrors Dedup.scala's single-aggregate signature and avoids the
    // 16x CROSS JOIN row blow-up that OOM'd DuckDB in round 3.
    val mins = params
      .map { case (i, _, a, b) => s"min(($a * h + $b) % $p) AS mh$i" }
      .mkString(",\n       |    ")
    val bandSelects = params.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (band, rows) =>
        val fold = rows.map(_._1).sorted
          .foldLeft("CAST(0 AS BIGINT)")((acc, i) => s"(($acc) * 31 + mh$i) % $p")
        s"SELECT doc_id, $band AS band, $fold AS bh FROM sig"
      }
      .mkString("\n       |  UNION ALL\n       |  ")
    s"""sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM shq GROUP BY doc_id
       |),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
       |)""".stripMargin
  }

  /** Sum of the 16 per-hash agreement indicators between sig rows
    * aliased `sa` and `sb` — the columnar MinHash match count.
    */
  private def minhashMatchSql: String =
    graft.functions.TextHash.minhashParams()
      .map { case (i, _, _, _) => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)" }
      .mkString(" + ")

  def q15cMinhash: String =
    s"""WITH $shingleCtes,
       |$minhashCtes
       |SELECT c.doc_a, c.doc_b,
       |  CAST($minhashMatchSql AS DOUBLE) / 16.0 AS est_jaccard
       |FROM cand c
       |JOIN sig sa ON sa.doc_id = c.doc_a
       |JOIN sig sb ON sb.doc_id = c.doc_b""".stripMargin

  /** Q208 — sorted-neighborhood blocking (mirrors
    * Dedup.sortedNeighborhood): same normalized prefix key, same
    * (bkey, doc_id) total order, rank-window pairing, MinHash
    * agreement scoring. The bands/cand CTEs from minhashCtes are
    * present but unreferenced (DuckDB only evaluates referenced CTEs).
    */
  def q208SortedNeighborhood(w: Int = 4, prefixLen: Int = 12): String =
    s"""WITH $shingleCtes,
       |$minhashCtes,
       |keyed AS (
       |  SELECT doc_id,
       |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
       |      1, $prefixLen) AS bkey
       |  FROM documents
       |),
       |rk AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY bkey, doc_id) AS rnk
       |  FROM keyed
       |),
       |sn AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap
       |  FROM rk a JOIN rk b ON b.rnk > a.rnk AND b.rnk <= a.rnk + $w
       |)
       |SELECT c.doc_a, c.doc_b, c.rank_gap,
       |  CAST($minhashMatchSql AS BIGINT) AS n_match,
       |  CAST($minhashMatchSql AS DOUBLE) / 16.0 AS est_jaccard
       |FROM sn c
       |JOIN sig sa ON sa.doc_id = c.doc_a
       |JOIN sig sb ON sb.doc_id = c.doc_b""".stripMargin

  /** Q214 — blocking-recall audit (mirrors Dedup.blockingRecall):
    * Q15e df-capped Jaccard truth, Q15c band candidates, Q208
    * sorted-neighborhood candidates, canonicalized pair membership.
    */
  def q214BlockingRecall(minJaccard: Double = 0.5, maxDf: Long = 100L,
                         w: Int = 4, prefixLen: Int = 12): String =
    s"""WITH $shingleCtes,
       |$minhashCtes,
       |hot AS (SELECT h FROM shq GROUP BY h HAVING count(*) > $maxDf),
       |shc AS (SELECT * FROM shq WHERE h NOT IN (SELECT h FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM shc x JOIN shc y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |),
       |truth AS (
       |  SELECT i.doc_a, i.doc_b
       |  FROM inter i
       |  JOIN sizes za ON za.doc_id = i.doc_a
       |  JOIN sizes zb ON zb.doc_id = i.doc_b
       |  WHERE CAST(i.inter AS DOUBLE)
       |    / CAST(za.sz + zb.sz - i.inter AS DOUBLE) >= ${dlit(minJaccard)}
       |),
       |keyed AS (
       |  SELECT doc_id,
       |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
       |      1, $prefixLen) AS bkey
       |  FROM documents
       |),
       |rk AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY bkey, doc_id) AS rnk
       |  FROM keyed
       |),
       |snq AS (
       |  SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |    greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM rk a JOIN rk b ON b.rnk > a.rnk AND b.rnk <= a.rnk + $w
       |  JOIN sig sa ON sa.doc_id = a.doc_id
       |  JOIN sig sb ON sb.doc_id = b.doc_id
       |),
       |tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
       |lcn AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
       |lhn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM cand c
       |    WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
       |),
       |scn AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM snq),
       |shn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM snq c
       |    WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
       |)
       |SELECT 'lsh_bands' AS scheme, tn.n_truth, lcn.n_candidates,
       |  lhn.n_hits,
       |  CAST(lhn.n_hits AS DOUBLE)
       |    / CAST(nullif(tn.n_truth, 0) AS DOUBLE) AS recall
       |FROM tn, lcn, lhn
       |UNION ALL
       |SELECT 'sorted_neighborhood' AS scheme, tn.n_truth,
       |  scn.n_candidates, shn.n_hits,
       |  CAST(shn.n_hits AS DOUBLE)
       |    / CAST(nullif(tn.n_truth, 0) AS DOUBLE) AS recall
       |FROM tn, scn, shn""".stripMargin

  /** Q204 — incremental near-dup ingest (mirrors
    * Dedup.incrementalDedup): same signature CTEs, same scramble
    * membership, asymmetric incoming⋈existing band join, integer
    * agreement floor, (n_match desc, ex_id) best-match order.
    */
  def q204IncrementalDedup(modN: Int = 5, tau: Double = 0.5): String = {
    val params = graft.functions.TextHash.minhashParams()
    val p = graft.functions.TextHash.P
    val mins = params
      .map { case (i, _, a, b) => s"min(($a * h + $b) % $p) AS mh$i" }
      .mkString(",\n       |    ")
    val bandSelects = (src: String) => params.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (band, rows) =>
        val fold = rows.map(_._1).sorted
          .foldLeft("CAST(0 AS BIGINT)")((acc, i) => s"(($acc) * 31 + mh$i) % $p")
        s"SELECT doc_id, $band AS band, $fold AS bh FROM $src"
      }
      .mkString("\n       |  UNION ALL\n       |  ")
    val hSql = polyHashSql("('inc:' || CAST(doc_id AS VARCHAR))")
    val minMatch = math.ceil(tau * 16).toInt
    s"""WITH $shingleCtes,
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM shq GROUP BY doc_id
       |),
       |u0 AS (SELECT doc_id, $hSql AS u FROM documents),
       |u1 AS (SELECT *, (u * u + 12345) % $p AS v1 FROM u0),
       |u2 AS (SELECT *, (v1 * 31 + u) % $p AS v2 FROM u1),
       |fl AS (SELECT doc_id, ((v2 * v2 + 6789) % $p) % $modN = 0 AS incoming
       |       FROM u2),
       |sf AS (SELECT sig.*, incoming FROM sig JOIN fl USING (doc_id)),
       |si AS (SELECT * FROM sf WHERE incoming),
       |se AS (SELECT * FROM sf WHERE NOT incoming),
       |bi AS (
       |  ${bandSelects("si")}
       |),
       |be AS (
       |  ${bandSelects("se")}
       |),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS inc_id, y.doc_id AS ex_id
       |  FROM bi x JOIN be y ON x.band = y.band AND x.bh = y.bh
       |),
       |sc AS (
       |  SELECT inc_id, ex_id, $minhashMatchSql AS n_match
       |  FROM cand
       |  JOIN sf sa ON sa.doc_id = inc_id
       |  JOIN sf sb ON sb.doc_id = ex_id
       |),
       |ag AS (
       |  SELECT inc_id, CAST(count(*) AS BIGINT) AS n_candidates,
       |    CAST(sum(CASE WHEN n_match >= $minMatch THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_confirmed
       |  FROM sc GROUP BY 1
       |),
       |bs AS (
       |  SELECT inc_id, ex_id AS best_match,
       |    CAST(n_match AS DOUBLE) / 16.0 AS best_jaccard,
       |    row_number() OVER (PARTITION BY inc_id
       |      ORDER BY n_match DESC, ex_id) AS rk
       |  FROM sc
       |)
       |SELECT f.doc_id,
       |  coalesce(ag.n_candidates, 0) AS n_candidates,
       |  coalesce(ag.n_confirmed, 0) AS n_confirmed,
       |  bs.best_match, bs.best_jaccard,
       |  CASE WHEN coalesce(ag.n_confirmed, 0) > 0 THEN 'drop'
       |       ELSE 'ingest' END AS decision
       |FROM (SELECT doc_id FROM si) f
       |LEFT JOIN ag ON ag.inc_id = f.doc_id
       |LEFT JOIN (SELECT * FROM bs WHERE rk = 1) bs ON bs.inc_id = f.doc_id""".stripMargin
  }

  /** Q182 — LSH banding tuning curve (mirrors Dedup.lshTuning): one
    * columnar signature CTE, four banding configs each with its own
    * band/candidate/summary CTEs, one audit row per config.
    */
  def q182LshTuning(tau: Double = 0.5): String = {
    val params = graft.functions.TextHash.minhashParams()
    val p = graft.functions.TextHash.P
    val mins = params
      .map { case (i, _, a, b) => s"min(($a * h + $b) % $p) AS mh$i" }
      .mkString(",\n       |    ")
    val minMatch = math.ceil(tau * 16).toInt
    val configs = Seq(2, 4, 8, 16)
    val cfgCtes = configs.map { r =>
      val nb = 16 / r
      val bandSelects = (0 until nb).map { j =>
        val fold = ((j * r + 1) to ((j + 1) * r))
          .foldLeft("CAST(0 AS BIGINT)")((acc, i) => s"(($acc) * 31 + mh$i) % $p")
        s"SELECT doc_id, $j AS band, $fold AS bh FROM sig"
      }.mkString("\n       |  UNION ALL\n       |  ")
      s"""b$r AS (
         |  $bandSelects
         |),
         |c$r AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM b$r x JOIN b$r y
         |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
         |),
         |s$r AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         |    CAST(coalesce(sum(CASE WHEN $minhashMatchSql >= $minMatch
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_confirmed
         |  FROM c$r
         |  JOIN sig sa ON sa.doc_id = c$r.doc_a
         |  JOIN sig sb ON sb.doc_id = c$r.doc_b
         |)""".stripMargin
    }.mkString(",\n")
    val rows = configs.map { r =>
      val nb = 16 / r
      s"""SELECT CAST($nb AS BIGINT) AS n_bands,
         |  CAST($r AS BIGINT) AS rows_per_band, n_candidates, n_confirmed,
         |  CASE WHEN n_candidates = 0 THEN NULL
         |    ELSE CAST(n_confirmed AS DOUBLE) / CAST(n_candidates AS DOUBLE)
         |  END AS band_precision
         |FROM s$r""".stripMargin
    }.mkString("\n       |UNION ALL\n")
    s"""WITH $shingleCtes,
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM shq GROUP BY doc_id
       |),
       |$cfgCtes
       |$rows""".stripMargin
  }

  /** Q15d — 64-bit SimHash (two 32-bit halves, base-31 and base-37
    * token hashes), 4×16-bit pigeonhole bands, Hamming filter —
    * mirrors Dedup.simhashSignatures/simhashPairs exactly.
    */
  def q15dSimhash(maxHamming: Int = 3): String = {
    // Columnar bit sums: 2x32 aggregates in ONE GROUP BY doc_id pass,
    // replacing the 32x generate_series row blow-up that OOM'd DuckDB
    // in round 3 (mirrors Dedup.simhashSignatures' single aggregate).
    def bitsOf(col: String): String =
      (0 to 31)
        .map(j => s"(CASE WHEN sum(cnt * (2 * (($col >> $j) & 1) - 1)) > 0 " +
          s"THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END)")
        .mkString("\n       |    + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
       |  FROM documents
       |),
       |tc AS (
       |  SELECT doc_id, count(*) AS cnt,
       |    (${polyHashSql("tok", 31L, 4294967296L)} * 1000003 + 12345) % 4294967296 AS ha,
       |    (${polyHashSql("tok", 37L, 4294967296L)} * 999983 + 67891) % 4294967296 AS hb
       |  FROM toks GROUP BY doc_id, tok
       |),
       |sig AS (
       |  SELECT doc_id,
       |    ${bitsOf("ha")} AS sim_lo,
       |    ${bitsOf("hb")} AS sim_hi
       |  FROM tc GROUP BY doc_id
       |),
       |blocks AS (
       |  SELECT doc_id, sim_lo, sim_hi, b,
       |    CASE b WHEN 0 THEN sim_lo & 65535 WHEN 1 THEN (sim_lo >> 16) & 65535
       |           WHEN 2 THEN sim_hi & 65535 ELSE (sim_hi >> 16) & 65535 END AS bk
       |  FROM sig, generate_series(0, 3) AS g(b)
       |),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, x.sim_lo AS la, x.sim_hi AS ha,
       |                  y.doc_id AS doc_b, y.sim_lo AS lb, y.sim_hi AS hb
       |  FROM blocks x JOIN blocks y
       |    ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id
       |)
       |SELECT doc_a, doc_b,
       |  bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS hamming
       |FROM cand WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= $maxHamming""".stripMargin
  }

  /** Q15e — exact 3-gram Jaccard over shingle-join candidates, with
    * the same document-frequency cap as Dedup.ngramJaccard (shingles
    * in more than maxDf docs leave the Jaccard universe).
    */
  def q15eNgramJaccard(minJaccard: Double = 0.5, maxDf: Long = 100L): String =
    s"""WITH $shingleCtes,
       |hot AS (SELECT h FROM shq GROUP BY h HAVING count(*) > $maxDf),
       |shc AS (SELECT * FROM shq WHERE h NOT IN (SELECT h FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM shc x JOIN shc y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(i.inter AS DOUBLE) / CAST(za.sz + zb.sz - i.inter AS DOUBLE) AS jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.doc_a
       |JOIN sizes zb ON zb.doc_id = i.doc_b
       |WHERE CAST(i.inter AS DOUBLE) / CAST(za.sz + zb.sz - i.inter AS DOUBLE) >= ${dlit(minJaccard)}""".stripMargin

  // ---- LLM-pipeline text analysis family ----

  private def tokensSql: String =
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"

  private def hitsSql(words: Seq[String]): String =
    s"len(list_filter(tk, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** Q17 — language-ID heuristic (mirrors TextAnalysis.langId). */
  def q17LangId: String = {
    val m = graft.operators.TextAnalysis.langMarkers.toMap
    s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ${hitsSql(m("en"))} AS en_hits, ${hitsSql(m("es"))} AS es_hits,
       |    ${hitsSql(m("de"))} AS de_hits, ${hitsSql(m("fr"))} AS fr_hits
       |  FROM t
       |)
       |SELECT doc_id,
       |  CASE WHEN en_hits + es_hits + de_hits + fr_hits = 0 THEN 'und'
       |       WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
       |       WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
       |       WHEN de_hits >= fr_hits THEN 'de'
       |       ELSE 'fr' END AS pred_lang,
       |  en_hits, es_hits, de_hits, fr_hits
       |FROM h""".stripMargin
  }

  /** Q203 — Hoeffding early-stopping audit (mirrors
    * Relational.hoeffdingAudit): identical hash chain, shared ln(2/δ)
    * literal, same pinned mean/radius expressions.
    */
  def q203Hoeffding(delta: Double = 0.05): String = {
    val P = graft.functions.TextHash.P
    val L = math.log(2.0 / delta)
    val hSql = polyHashSql("('ab:' || CAST(user_id AS VARCHAR))")
    s"""WITH h0 AS (SELECT event_type, value, $hSql AS u FROM events),
       |h1 AS (SELECT *, (u * u + 12345) % $P AS v1 FROM h0),
       |h2 AS (SELECT *, (v1 * 31 + u) % $P AS v2 FROM h1),
       |hs AS (SELECT *, (v2 * v2 + 6789) % $P AS h FROM h2),
       |byv AS (
       |  SELECT event_type, h % 2 AS variant,
       |    CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(value AS DECIMAL(18,4))) AS sx,
       |    min(CAST(value AS DECIMAL(18,4))) AS mn,
       |    max(CAST(value AS DECIMAL(18,4))) AS mx
       |  FROM hs GROUP BY 1, 2
       |)
       |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
       |  CAST(a.sx AS DOUBLE) / a.n AS mean_a,
       |  CAST(b.sx AS DOUBLE) / b.n AS mean_b,
       |  CAST(a.mx - a.mn AS DOUBLE) * sqrt($L / (2.0 * a.n)) AS eps_a,
       |  CAST(b.mx - b.mn AS DOUBLE) * sqrt($L / (2.0 * b.n)) AS eps_b,
       |  abs(CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n) >
       |    CAST(a.mx - a.mn AS DOUBLE) * sqrt($L / (2.0 * a.n)) +
       |    CAST(b.mx - b.mn AS DOUBLE) * sqrt($L / (2.0 * b.n)) AS separated
       |FROM (SELECT * FROM byv WHERE variant = 0) a
       |JOIN (SELECT * FROM byv WHERE variant = 1) b USING (event_type)""".stripMargin
  }

  /** Q202 — purge audit (mirrors Relational.purgeAudit): same
    * scramble chain on 'del:'-prefixed ids, same decimal value mass.
    */
  def q202PurgeAudit(modN: Int = 20): String = {
    val P = graft.functions.TextHash.P
    def aud(table: String, id: String, vExpr: String, dec: String): String = {
      val hSql = polyHashSql(s"('del:' || CAST($id AS VARCHAR))")
      s"""SELECT '$table' AS table_name,
         |  CAST(sum(CASE WHEN purge THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
         |  CAST(sum(CASE WHEN purge THEN 0 ELSE 1 END) AS BIGINT) AS n_retained,
         |  CAST(coalesce(sum(CASE WHEN purge THEN v END),
         |    CAST(0 AS $dec)) AS DOUBLE) AS purged_value
         |FROM (
         |  SELECT ((((((u * u + 12345) % $P) * 31 + u) % $P)
         |    * ((((u * u + 12345) % $P) * 31 + u) % $P) + 6789) % $P)
         |    % $modN = 0 AS purge, CAST($vExpr AS $dec) AS v
         |  FROM (SELECT $hSql AS u, $vExpr FROM $table)
         |)""".stripMargin
    }
    aud("events", "user_id", "value", "DECIMAL(18,4)") + "\nUNION ALL\n" +
      aud("orders", "o_custkey", "o_totalprice", "DECIMAL(20,4)")
  }

  /** Q201 — LTV cohort matrix (mirrors Relational.ltvCohorts): same
    * integer month index and decimal revenue.
    */
  def q201LtvCohorts(): String =
    s"""WITH o AS (
       |  SELECT o_custkey,
       |    year(o_orderdate) * 12 + month(o_orderdate) AS ym,
       |    CAST(o_totalprice AS DECIMAL(20,4)) AS rev
       |  FROM orders
       |),
       |f AS (SELECT o_custkey, min(ym) AS c_ym FROM o GROUP BY 1)
       |SELECT printf('%04d-%02d', (c_ym - 1) // 12, (c_ym - 1) % 12 + 1)
       |    AS cohort_month,
       |  CAST(ym - c_ym AS BIGINT) AS age_months,
       |  CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       |  CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(sum(rev) AS DOUBLE) AS revenue
       |FROM o JOIN f USING (o_custkey)
       |GROUP BY c_ym, 2""".stripMargin

  /** Q194 — join-key skew advisor (mirrors Relational.skewAdvisor):
    * same per-key profile and exact ceil-div salt rule.
    */
  def q194SkewAdvisor(saltCap: Long = 32L): String = {
    def prof(c: String): String =
      s"""SELECT '$c' AS key_col, n_keys, total_rows, max_rows,
         |  CAST(max_rows AS DOUBLE) * n_keys / total_rows AS skew_ratio,
         |  CAST(max_rows AS DOUBLE) / total_rows AS max_share,
         |  least((max_rows * n_keys + total_rows - 1) // total_rows,
         |        $saltCap) AS suggested_salt
         |FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |    CAST(sum(n) AS BIGINT) AS total_rows,
         |    CAST(max(n) AS BIGINT) AS max_rows
         |  FROM (SELECT $c, count(*) AS n FROM lineitem GROUP BY 1)
         |)""".stripMargin
    s"${prof("l_partkey")}\nUNION ALL\n${prof("l_suppkey")}"
  }

  /** Q193 — nucleus top-p source selection (mirrors
    * Pipeline.nucleusSelect): same total order, integer keep rule on
    * exact running sums.
    */
  def q193Nucleus(pPct: Int = 50): String =
    s"""WITH d AS (
       |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
       |  FROM documents
       |),
       |t AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tot
       |      FROM d GROUP BY 1),
       |c AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(sum(n_chars) OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
       |  FROM d
       |)
       |SELECT source, doc_id, n_chars, cum_chars,
       |  (cum_chars - n_chars) * 100 < $pPct * tot AS keep
       |FROM c JOIN t USING (source)""".stripMargin

  /** Q192 — deterministic negative sampling (mirrors
    * Pipeline.negativeSample): same hash chain, position space, and
    * self-collision remap.
    */
  def q192NegativeSample(k: Int = 4): String = {
    val P = graft.functions.TextHash.P
    val hSql = polyHashSql(
      "('neg:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))")
    s"""WITH r AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS pos
       |  FROM documents
       |),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
       |f AS (
       |  SELECT doc_id, pos AS apos, CAST(j AS INTEGER) AS j, n
       |  FROM r CROSS JOIN n, unnest(range(0, $k)) AS g(j)
       |),
       |h0 AS (SELECT *, $hSql AS u FROM f),
       |h1 AS (SELECT *, (u * u + 12345) % $P AS v1 FROM h0),
       |h2 AS (SELECT *, (v1 * 31 + u) % $P AS v2 FROM h1),
       |hs AS (SELECT *, ((v2 * v2 + 6789) % $P) % n + 1 AS p FROM h2),
       |pp AS (
       |  SELECT *, CASE WHEN p = apos THEN p % n + 1 ELSE p END AS p2 FROM hs
       |)
       |SELECT pp.doc_id, pp.j, r.doc_id AS neg_doc_id
       |FROM pp JOIN r ON pp.p2 = r.pos""".stripMargin
  }

  /** Q191 — deterministic epoch shuffle (mirrors
    * Pipeline.epochShuffle): same polyHash+scramble keys, positions
    * as a per-epoch window rank (equal to the engine's two-level
    * distributed rank).
    */
  def q191EpochShuffle(epochs: Int = 2): String = {
    val P = graft.functions.TextHash.P
    val hSql = polyHashSql(
      "('ep:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))")
    s"""WITH f AS (
       |  SELECT doc_id, CAST(e AS INTEGER) AS epoch
       |  FROM documents, unnest(range(0, $epochs)) AS g(e)
       |),
       |h0 AS (SELECT *, $hSql AS u FROM f),
       |h1 AS (SELECT *, (u * u + 12345) % $P AS v1 FROM h0),
       |h2 AS (SELECT *, (v1 * 31 + u) % $P AS v2 FROM h1),
       |hs AS (SELECT *, (v2 * v2 + 6789) % $P AS k FROM h2)
       |SELECT epoch, doc_id,
       |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id)
       |    AS BIGINT) AS pos
       |FROM hs""".stripMargin
  }

  /** Q190 — language-ID confusion matrix (mirrors
    * TextAnalysis.langConfusion): the Q17 prediction chain grouped
    * against the declared lang label.
    */
  def q190LangConfusion(): String = {
    val m = graft.operators.TextAnalysis.langMarkers.toMap
    s"""WITH t AS (SELECT lang, $tokensSql AS tk FROM documents),
       |h AS (
       |  SELECT lang,
       |    ${hitsSql(m("en"))} AS en_hits, ${hitsSql(m("es"))} AS es_hits,
       |    ${hitsSql(m("de"))} AS de_hits, ${hitsSql(m("fr"))} AS fr_hits
       |  FROM t
       |),
       |p AS (
       |  SELECT lang,
       |    CASE WHEN en_hits + es_hits + de_hits + fr_hits = 0 THEN 'und'
       |         WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
       |         WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
       |         WHEN de_hits >= fr_hits THEN 'de'
       |         ELSE 'fr' END AS pred_lang
       |  FROM h
       |),
       |c AS (
       |  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM p GROUP BY 1, 2
       |),
       |lt AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lt FROM c GROUP BY 1)
       |SELECT lang, pred_lang, n_docs,
       |  CAST(n_docs AS DOUBLE) / lt AS share_of_lang
       |FROM c JOIN lt USING (lang)""".stripMargin
  }

  /** Q18 — quality scoring (mirrors TextAnalysis.qualityScore). */
  /** Shared CTE chain `d → q` computing the Q18 quality features —
    * used by Q18 and Q36.
    */
  def qualityCtes: String = {
    val en = graft.operators.TextAnalysis.langMarkers.head._2
    s"""d AS (
       |  SELECT doc_id, n_chars, $tokensSql AS tk,
       |    len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
       |  FROM documents
       |),
       |q AS (
       |  SELECT doc_id, n_chars, n_punct,
       |    CAST(len(tk) AS BIGINT) AS n_tokens,
       |    list_sum(list_transform(tk, t -> CAST(len(t) AS BIGINT))) AS sum_len,
       |    ${hitsSql(en)} AS en_hits
       |  FROM d
       |)""".stripMargin
  }

  /** The Q18 quality-score expression over the `q` CTE of
    * [[qualityCtes]] — shared by q18, q36 and q52 so the three stay
    * arithmetically identical.
    */
  def qualityScoreSql: String =
    """0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
      |    + 0.3 * (1.0 - CAST(en_hits AS DOUBLE) / n_tokens)
      |    + 0.3 * least((CAST(sum_len AS DOUBLE) / n_tokens) / 8.0, 1.0)""".stripMargin

  def q18Quality: String = {
    s"""WITH $qualityCtes
       |SELECT doc_id, n_tokens,
       |  CAST(sum_len AS DOUBLE) / n_tokens AS avg_token_len,
       |  CAST(en_hits AS DOUBLE) / n_tokens AS stopword_ratio,
       |  CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
       |  $qualityScoreSql AS quality_score
       |FROM q""".stripMargin
  }

  /** Q18b — Gopher-style filter rules (mirrors TextAnalysis.gopherRules;
    * same nullif guards and division association; bigram key is the
    * same (polyHash(a)*31 + polyHash(b)) % P arithmetic).
    */
  def q18bGopher(minWords: Long = 20L, maxWords: Long = 100000L,
                 minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                 maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                 maxDupLineFrac: Double = 0.5,
                 maxTopBigramFrac: Double = 0.3): String =
    s"""WITH d AS (
       |  SELECT doc_id, text, $tokensSql AS tk FROM documents
       |),
       |base AS (
       |  SELECT doc_id,
       |    CAST(len(tk) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(tk, t -> CAST(len(t) AS BIGINT))) AS DOUBLE)
       |      / CAST(nullif(len(tk), 0) AS DOUBLE) AS mean_word_len,
       |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
       |      / CAST(nullif(len(tk), 0) AS DOUBLE) AS symbol_word_ratio,
       |    CAST(len(regexp_extract_all(text, '(?m)^[-*] ')) AS DOUBLE)
       |      / CAST(len(string_split(text, chr(10))) AS DOUBLE) AS bullet_line_frac
       |  FROM d
       |),
       |doclines AS (
       |  SELECT doc_id,
       |    1.0 - CAST(count(DISTINCT line) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_line_frac
       |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents)
       |  GROUP BY doc_id
       |),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |    i -> (${polyHashSql("tk[i]")} * 31 + ${polyHashSql("tk[i+1]")}) % 1000000007)) AS bg
       |  FROM d
       |),
       |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
       |bigrams AS (
       |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_frac
       |  FROM bgc GROUP BY doc_id
       |)
       |SELECT b.doc_id, b.n_words, b.mean_word_len, b.symbol_word_ratio,
       |  b.bullet_line_frac, l.dup_line_frac, g.top_bigram_frac,
       |  (b.n_words >= $minWords AND b.n_words <= $maxWords
       |   AND b.mean_word_len >= ${dlit(minMeanLen)} AND b.mean_word_len <= ${dlit(maxMeanLen)}
       |   AND b.symbol_word_ratio <= ${dlit(maxSymbolRatio)}
       |   AND b.bullet_line_frac <= ${dlit(maxBulletFrac)}
       |   AND coalesce(l.dup_line_frac <= ${dlit(maxDupLineFrac)}, TRUE)
       |   AND coalesce(g.top_bigram_frac <= ${dlit(maxTopBigramFrac)}, TRUE)) AS keep
       |FROM base b
       |LEFT JOIN doclines l ON l.doc_id = b.doc_id
       |LEFT JOIN bigrams g ON g.doc_id = b.doc_id""".stripMargin

  /** Q19 — whitespace vs BPE-ish regex token counts. */
  def q19BpeTokens: String =
    s"""SELECT doc_id,
       |  CAST(len($tokensSql) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(n_chars AS DOUBLE) /
       |    CAST(nullif(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')), 0) AS DOUBLE)
       |    AS chars_per_token
       |FROM documents""".stripMargin

  /** Q20 — winnowing fingerprints (mirrors TextAnalysis.fingerprints:
    * 8-char gram base-31 hash, min per 16-gram window, distinct).
    */
  def q20Fingerprints(k: Int = 8, w: Int = 16): String = {
    val gram = "(0 + " + (0 until k)
      .map(j => s"CAST(ascii(substring(lower(text), p + $j, 1)) AS BIGINT) * ${math.pow(31, k - 1 - j).toLong}")
      .mkString(" + ") + ")"
    s"""WITH pos AS (
       |  SELECT doc_id, text, unnest(range(1, len(text) - ${k - 2})) AS p
       |  FROM documents WHERE len(text) >= $k
       |),
       |gh AS (SELECT doc_id, p, $gram AS gh FROM pos),
       |wf AS (
       |  SELECT doc_id,
       |    min(gh) OVER (PARTITION BY doc_id ORDER BY p
       |                  ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp
       |  FROM gh
       |)
       |SELECT DISTINCT doc_id, fp FROM wf""".stripMargin
  }

  /** Q21 — media metadata (mirrors Multimodal.mediaMeta over the
    * UTF-8 bytes of `text`; the corpus is ASCII so ascii() sums equal
    * unsigned-byte sums).
    */
  def q21MediaMeta(stride: Int = graft.operators.Multimodal.frameStride): String =
    s"""SELECT doc_id,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |  CASE WHEN len(text) = 0 THEN NULL ELSE ascii(substring(text, 1, 1)) END AS first_byte,
       |  CAST(coalesce(list_sum(list_transform(string_split(text, ''),
       |    c -> CAST(ascii(c) AS BIGINT))), 0) AS BIGINT) AS checksum,
       |  CAST(CASE WHEN len(text) = 0 THEN 0
       |       ELSE (octet_length(encode(text)) - 1) // $stride + 1 END AS BIGINT) AS n_frames
       |FROM documents""".stripMargin

  /** Q21b — stride-aligned frame samples. */
  def q21bFrames(stride: Int = graft.operators.Multimodal.frameStride): String =
    s"""SELECT doc_id, f AS frame_idx,
       |  ascii(substring(text, 1 + CAST(f AS INTEGER) * $stride, 1)) AS byte_val
       |FROM documents,
       |  unnest(range(0, CASE WHEN len(text) = 0 THEN 0
       |                       ELSE (len(text) - 1) // $stride + 1 END)) AS g(f)""".stripMargin

  /** Q176 — shot segmentation (mirrors Multimodal.sceneCuts): the
    * q21b frame derivation, lag delta, running cut-count shot ids,
    * exact integer rollups.
    */
  def q176SceneCuts(threshold: Int = 48,
                    stride: Int = graft.operators.Multimodal.frameStride): String =
    s"""WITH fr AS (
       |  SELECT doc_id, f AS frame_idx,
       |    ascii(substring(text, 1 + CAST(f AS INTEGER) * $stride, 1)) AS byte_val
       |  FROM documents,
       |    unnest(range(0, CASE WHEN len(text) = 0 THEN 0
       |                         ELSE (len(text) - 1) // $stride + 1 END)) AS g(f)
       |),
       |lg AS (
       |  SELECT doc_id, frame_idx, byte_val,
       |    lag(byte_val) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
       |  FROM fr
       |),
       |ct AS (
       |  SELECT *, CASE WHEN prev IS NOT NULL
       |      AND abs(byte_val - prev) >= $threshold THEN 1 ELSE 0 END AS cut
       |  FROM lg
       |),
       |sh AS (
       |  SELECT *, sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot_id
       |  FROM ct
       |)
       |SELECT doc_id, CAST(shot_id AS BIGINT) AS shot_id,
       |  min(frame_idx) AS start_frame, max(frame_idx) AS end_frame,
       |  CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(sum(byte_val) AS BIGINT) AS sum_sig
       |FROM sh GROUP BY 1, 2""".stripMargin

  /** Q177 — perceptual dHash signatures + banded-LSH neighborhood
    * stats (mirrors Multimodal.phashBands): nearest-neighbor resize
    * to 65 samples, bit i = sample(i+1) > sample(i) packed as two
    * 32-bit halves, 4×16-bit bands, neighbor counts and min Hamming.
    */
  def q177PhashBands(): String =
    s"""WITH rs AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS i,
       |    ascii(substring(text, 1 + CAST(i * len(text) // 65 AS INTEGER), 1)) AS bv
       |  FROM documents, unnest(range(0, 65)) AS g(i)
       |  WHERE len(text) > 0
       |),
       |bits AS (
       |  SELECT a.doc_id, a.i AS bit,
       |    CASE WHEN b.bv > a.bv THEN 1 ELSE 0 END AS von
       |  FROM rs a JOIN rs b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |  WHERE a.i < 64
       |),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN bit < 32
       |      THEN von * (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS ph_lo,
       |    CAST(sum(CASE WHEN bit >= 32
       |      THEN von * (CAST(1 AS BIGINT) << (bit - 32)) ELSE 0 END) AS BIGINT) AS ph_hi
       |  FROM bits GROUP BY doc_id
       |),
       |blocks AS (
       |  SELECT doc_id, ph_lo, ph_hi, b,
       |    CASE b WHEN 0 THEN ph_lo & 65535 WHEN 1 THEN (ph_lo >> 16) & 65535
       |           WHEN 2 THEN ph_hi & 65535 ELSE (ph_hi >> 16) & 65535 END AS bk
       |  FROM sig, generate_series(0, 3) AS g(b)
       |),
       |nbr AS (
       |  SELECT doc_id, count(*) AS n_band_neighbors,
       |    CAST(min(hamming) AS BIGINT) AS min_hamming
       |  FROM (
       |    SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS nbr_id,
       |      bit_count(xor(x.ph_lo, y.ph_lo)) + bit_count(xor(x.ph_hi, y.ph_hi)) AS hamming
       |    FROM blocks x JOIN blocks y
       |      ON x.b = y.b AND x.bk = y.bk AND x.doc_id <> y.doc_id
       |  ) GROUP BY doc_id
       |)
       |SELECT d.doc_id, s.ph_lo, s.ph_hi,
       |  coalesce(n.n_band_neighbors, 0) AS n_band_neighbors, n.min_hamming
       |FROM documents d
       |LEFT JOIN sig s USING (doc_id)
       |LEFT JOIN nbr n ON d.doc_id = n.doc_id""".stripMargin

  /** Q22 — streaming interior smooth: the incremental smoother emits
    * exactly the batch SG values on interior samples (the pad region
    * is never emitted — StreamingOps contract).
    */
  def q22StreamSmooth(window: Int = 51): String = {
    val k = window / 2
    s"""WITH $sigCtes,
       |${smoothCtes(window, 7)}
       |SELECT s.experiment_id, s.channel, s.sample_idx, s.v AS y_smooth
       |FROM smooth s JOIN cnt c USING (experiment_id, channel)
       |WHERE s.sample_idx >= $k AND s.sample_idx < c.n - $k""".stripMargin
  }

  /** Q23 — backward as-of join (DuckDB native ASOF LEFT JOIN mirrors
    * AsofJoin.backward's inclusive <= semantics).
    */
  def q23AsofPrevClick: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS tsn, event_type, value FROM events
       |),
       |l AS (SELECT event_id, user_id, tsn FROM ev WHERE event_type <> 'click'),
       |r AS (SELECT user_id, tsn AS click_tsn,
       |        arg_max(value, event_id) AS click_value
       |      FROM ev WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT l.event_id, l.user_id, l.tsn,
       |  r.click_value AS prev_click_value, r.click_tsn AS prev_click_tsn
       |FROM l ASOF LEFT JOIN r
       |  ON l.user_id = r.user_id AND l.tsn >= r.click_tsn""".stripMargin

  /** Q23b — forward as-of (earliest click at or after the event). */
  def q23bAsofNextClick: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS tsn, event_type, value FROM events
       |),
       |l AS (SELECT event_id, user_id, tsn FROM ev WHERE event_type <> 'click'),
       |r AS (SELECT user_id, tsn AS click_tsn,
       |        arg_max(value, event_id) AS click_value
       |      FROM ev WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT l.event_id, l.user_id, l.tsn,
       |  r.click_value AS next_click_value, r.click_tsn AS next_click_tsn
       |FROM l ASOF LEFT JOIN r
       |  ON l.user_id = r.user_id AND l.tsn <= r.click_tsn""".stripMargin

  /** Q24 — session rollup via gaps-and-islands (equivalent to Spark's
    * session_window: break when the inter-event gap >= 30 min).
    */
  def q24Sessions(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e2 AS (
       |  SELECT user_id, epoch_ns(ts) // 1000 AS tus, value FROM events
       |),
       |m AS MATERIALIZED (
       |  SELECT *, CASE WHEN lag(tus) OVER w IS NULL
       |                   OR tus - lag(tus) OVER w >= $gapUs THEN 1 ELSE 0 END AS brk
       |  FROM e2 WINDOW w AS (PARTITION BY user_id ORDER BY tus)
       |),
       |sess AS (
       |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tus
       |                           ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m
       |)
       |SELECT user_id, min(tus) AS session_start_us, count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
       |FROM sess GROUP BY user_id, sid""".stripMargin
  }

  /** Q25 — streaming envelopes: batch baseline/ceiling/diastolic on
    * the stream-computable interior [325, n-350] (StreamingOps
    * contract — tail-pad-dependent positions are never emitted).
    */
  def q25StreamEnvelopes: String =
    s"""WITH ${enrichedCtes()}
       |SELECT experiment_id, channel, sample_idx, baseline, ceiling, diastolic
       |FROM enriched
       |WHERE sample_idx >= 325 AND sample_idx <= n - 350""".stripMargin

  /** Q10 — stim rescale to signal amplitude + bare local maxima. */
  def q10Stim: String =
    s"""WITH sig AS (SELECT experiment_id, channel, sample_idx, t, y FROM read_parquet('$signalGlob')),
       |stim AS (SELECT experiment_id, channel, sample_idx, t, y FROM read_parquet('$stimGlob')),
       |smax AS (SELECT experiment_id, channel, max(y) AS sx FROM sig GROUP BY 1, 2),
       |tmax AS (SELECT experiment_id, channel, max(y) AS tx FROM stim GROUP BY 1, 2),
       |scaled AS (
       |  SELECT st.experiment_id, st.channel, st.sample_idx, st.y * (sm.sx / tm.tx) AS y_scaled
       |  FROM stim st
       |  JOIN smax sm USING (experiment_id, channel)
       |  JOIN tmax tm USING (experiment_id, channel)
       |),
       |mx AS (
       |  SELECT *, lag(y_scaled, 1) OVER w AS pv, lead(y_scaled, 1) OVER w AS nv
       |  FROM scaled
       |  WINDOW w AS (PARTITION BY experiment_id, channel ORDER BY sample_idx)
       |)
       |SELECT experiment_id, channel, sample_idx, y_scaled FROM mx
       |WHERE y_scaled > pv AND y_scaled > nv""".stripMargin

  /** Q31 — within-doc repeated-line removal (mirrors
    * TextAnalysis.dedupLines: first-occurrence order rebuild).
    */
  def q31DedupLines: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
       |l AS (
       |  SELECT doc_id, i AS pos, ls[i] AS line
       |  FROM d, unnest(range(1, len(ls) + 1)) AS t(i)
       |),
       |f AS (SELECT doc_id, line, min(pos) AS fpos FROM l GROUP BY doc_id, line),
       |a AS (
       |  SELECT doc_id,
       |    string_agg(line, chr(10) ORDER BY fpos) AS clean_text,
       |    count(*) AS n_unique_lines
       |  FROM f GROUP BY doc_id
       |)
       |SELECT d2.doc_id,
       |  CAST(len(string_split(d2.text, chr(10))) AS BIGINT) AS n_lines,
       |  a.clean_text, a.n_unique_lines,
       |  CAST(len(string_split(d2.text, chr(10))) AS BIGINT) - a.n_unique_lines AS n_removed
       |FROM documents d2 JOIN a ON a.doc_id = d2.doc_id""".stripMargin

  /** Q32 — exact per-type percentiles: DuckDB `quantile_cont` and
    * Spark `percentile` share the (n-1)·p linear-interpolation
    * definition; last-bit float drift is absorbed by the driver's
    * 6-decimal canonicalization.
    */
  def q32Percentiles: String =
    s"""SELECT event_type, count(*) AS n,
       |  quantile_cont(value, 0.5) AS p50,
       |  quantile_cont(value, 0.9) AS p90,
       |  quantile_cont(value, 0.99) AS p99
       |FROM events GROUP BY event_type""".stripMargin

  /** Q34 — pricing-summary ROLLUP. GROUPING() bits reconstructed to
    * match Spark's grouping_id bit-vector (first column = MSB); counts
    * and gid CAST back to BIGINT (DuckDB sum/arith promotion would
    * otherwise hash as float/HUGEINT — the q13 lesson).
    */
  def q34Rollup: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  count(*) AS n_rows,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
       |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(20,4))) AS DOUBLE) AS revenue,
       |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** Q34b — events CUBE over (event_type, day). */
  def q34bCube: String =
    s"""SELECT event_type, day,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value,
       |  CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gid
       |FROM (
       |  SELECT event_type,
       |    strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
       |    value
       |  FROM events
       |)
       |GROUP BY CUBE(event_type, day)""".stripMargin

  // ---- Training-data pipeline family (operators/Pipeline.scala) ----

  /** Q26 — KMV distinct-token sketch per source (mirrors
    * functions/KmvSketch: the k smallest distinct hashes are
    * order-independent, so a sorted-distinct window replays the
    * sketch exactly).
    */
  def q26Kmv(k: Int = 64, space: Long = 1000000007L): String =
    s"""WITH tok AS (
       |  SELECT source, unnest($tokensSql) AS token FROM documents
       |),
       |th AS (SELECT DISTINCT source, ${polyHashSql("token")} AS h FROM tok),
       |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM th),
       |agg AS (
       |  SELECT source, count(*) AS nd, max(CASE WHEN r = $k THEN h END) AS kth
       |  FROM rk WHERE r <= $k GROUP BY source
       |)
       |SELECT source, CAST(nd AS INTEGER) AS n_kept,
       |  coalesce(kth, -1) AS kth_min,
       |  CASE WHEN nd < $k THEN CAST(nd AS DOUBLE)
       |       ELSE CAST(${k - 1} AS DOUBLE) * CAST($space AS DOUBLE) / CAST(kth AS DOUBLE)
       |  END AS est_distinct
       |FROM agg""".stripMargin

  /** Q128 — windowed streaming KMV (mirrors
    * StreamingOps.streamWindowedKmv): the q26 sketch replay keyed by
    * (event_type, hour bucket) — batching-free fold, so the stream's
    * final emissions equal this batch statement.
    */
  def q128WindowedKmv(k: Int = 64, space: Long = 1000000007L): String =
    s"""WITH e AS (
       |  SELECT event_type,
       |    (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
       |    ${polyHashSql("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events
       |),
       |th AS (SELECT DISTINCT event_type, hour_us, h FROM e),
       |rk AS (
       |  SELECT event_type, hour_us, h,
       |    row_number() OVER (PARTITION BY event_type, hour_us ORDER BY h) AS r
       |  FROM th
       |),
       |agg AS (
       |  SELECT event_type, hour_us, count(*) AS nd,
       |    max(CASE WHEN r = $k THEN h END) AS kth
       |  FROM rk WHERE r <= $k GROUP BY 1, 2
       |)
       |SELECT event_type, hour_us, CAST(nd AS INTEGER) AS n_kept,
       |  coalesce(kth, -1) AS kth_min,
       |  CASE WHEN nd < $k THEN CAST(nd AS DOUBLE)
       |       ELSE CAST(${k - 1} AS DOUBLE) * CAST($space AS DOUBLE) / CAST(kth AS DOUBLE)
       |  END AS est_distinct
       |FROM agg""".stripMargin

  /** Q133 — windowed streaming heavy hitters (mirrors
    * StreamingOps.streamWindowedHeavy): sub-saturation Misra-Gries is
    * exact, so the final emissions equal the batch per-window top-m
    * on the (cnt desc, user-string asc) order.
    */
  def q133WindowedHeavy(m: Int = 3): String =
    s"""WITH e AS (
       |  SELECT event_type,
       |    (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
       |    CAST(user_id AS VARCHAR) AS u
       |  FROM events
       |),
       |c AS (
       |  SELECT event_type, hour_us, u, count(*) AS cnt
       |  FROM e GROUP BY 1, 2, 3
       |)
       |SELECT event_type, hour_us, u AS "user",
       |  CAST(cnt AS BIGINT) AS cnt,
       |  CAST(row_number() OVER (PARTITION BY event_type, hour_us
       |    ORDER BY cnt DESC, u) AS BIGINT) AS rnk
       |FROM c QUALIFY rnk <= $m""".stripMargin

  /** Q27 — deterministic hash split roll-up (mirrors
    * Pipeline.hashSplit: bucket = polyHash(id-as-string) mod 100).
    */
  def q27HashSplit(trainPct: Int = 90, valPct: Int = 5): String =
    s"""WITH b AS (
       |  SELECT source, n_chars,
       |    ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
       |  FROM documents
       |)
       |SELECT source,
       |  CASE WHEN bucket < $trainPct THEN 'train'
       |       WHEN bucket < ${trainPct + valPct} THEN 'val'
       |       ELSE 'test' END AS split,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM b GROUP BY 1, 2""".stripMargin

  /** Q28 — PII-style masking (mirrors Pipeline.piiMask; DuckDB
    * regexp_replace needs the 'g' flag for replace-all parity with
    * Spark).
    */
  def q28PiiMask: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
       |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |    '[0-9]+', '<NUM>', 'g') AS masked
       |FROM documents""".stripMargin
  }

  /** Q29 — domain-mixture weighting (mirrors Pipeline.domainMix;
    * identical division association).
    */
  def q29DomainMix: String =
    s"""WITH g AS (
       |  SELECT source, lang, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |  FROM documents GROUP BY source, lang
       |),
       |t AS (SELECT count(*) AS n_groups, CAST(sum(n_docs) AS BIGINT) AS total FROM g)
       |SELECT g.source, g.lang, g.n_docs, g.sum_chars,
       |  CAST(g.n_docs AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
       |  least(CAST(1 AS DOUBLE),
       |    (CAST(t.total AS DOUBLE) / CAST(t.n_groups AS DOUBLE))
       |      / CAST(g.n_docs AS DOUBLE)) AS sample_rate
       |FROM g, t""".stripMargin

  /** Q21c — nearest-neighbor resize (mirrors Multimodal.resizeSamples
    * over the text bytes; ASCII corpus ⇒ ascii() == unsigned byte).
    */
  def q21cResize(target: Int = 16): String =
    s"""SELECT doc_id, p AS pos,
       |  CAST(ascii(substring(text, CAST(p * n AS BIGINT) // $target + 1, 1)) AS BIGINT) AS byte_val
       |FROM (
       |  SELECT doc_id, text, len(text) AS n, unnest(range(0, $target)) AS p
       |  FROM documents WHERE len(text) > 0
       |)""".stripMargin

  /** Q43 — token-frequency spectrum (⌊log2⌋ via binary length —
    * integer-exact, mirrors TextAnalysis.tokenSpectrum).
    */
  def q43TokenSpectrum: String =
    s"""WITH tc AS (
       |  SELECT token, count(*) AS cnt
       |  FROM (SELECT unnest($tokensSql) AS token FROM documents)
       |  GROUP BY token
       |)
       |SELECT CAST(len(printf('%b', cnt)) - 1 AS BIGINT) AS log2_cnt,
       |  count(*) AS n_tokens,
       |  CAST(sum(cnt) AS BIGINT) AS n_occurrences
       |FROM tc GROUP BY 1""".stripMargin

  /** Q51 — BM25 scoring (mirrors TextAnalysis.bm25): log-free odds
    * idf, per-term scores summed in fixed query-term order.
    */
  def q51Bm25(terms: Seq[String] = Seq("hash", "join", "scan"),
              k1: Double = 1.2, b: Double = 0.75): String = {
    val tfCols = terms.map(t =>
      s"CAST(len(list_filter($tokensSql, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n    ")
    val dfCols = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n    ")
    val score = terms.map(t =>
      s"(n_docs - df_$t + 0.5) / (df_$t + 0.5) * " +
        s"((tf_$t * ${k1 + 1}) / (tf_$t + $k1 * (${1 - b} + $b * dl / avgdl)))")
      .mkString(" + ")
    s"""WITH wd AS (
       |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS dl,
       |    $tfCols
       |  FROM documents
       |),
       |st AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
       |    $dfCols
       |  FROM wd
       |),
       |st2 AS (SELECT *, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM st)
       |SELECT doc_id, dl, $score AS bm25
       |FROM wd CROSS JOIN st2""".stripMargin
  }

  /** Q164 — multi-query BM25 top-k retrieval (mirrors
    * TextAnalysis.bm25Retrieval): posting-list join against the query
    * VALUES table, q51's exact score formula per term, DECIMAL(28,14)
    * quantized contributions so the per-(query, doc) Σ is
    * combine-order-free in both engines.
    */
  def q164Bm25Retrieval(queries: Seq[(Int, Seq[String])] = Seq(
                          1 -> Seq("hash", "join"),
                          2 -> Seq("scan", "filter"),
                          3 -> Seq("sort", "merge"),
                          4 -> Seq("data", "stream"),
                          5 -> Seq("index", "state")),
                        k1: Double = 1.2, b: Double = 0.75,
                        k: Int = 5): String = {
    s"""WITH ${bm25Ctes(queries, k1, b)}
       |SELECT qid, doc_id, score, rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  /** Shared q164/q200 BM25 CTE chain ending at ranked scores `r`
    * (also defines `qt` and `tok` for downstream eval CTEs).
    */
  private def bm25Ctes(queries: Seq[(Int, Seq[String])],
                       k1: Double, b: Double): String = {
    val vals = queries
      .flatMap { case (q, ts) => ts.map(t => s"(CAST($q AS BIGINT), '$t')") }
      .mkString(", ")
    s"""qt AS (SELECT * FROM (VALUES $vals) AS t(qid, term)),
       |tok AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
       |post AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2
       |),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY 1),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
       |st AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       |    (SELECT CAST(coalesce(sum(dl), 0) AS BIGINT) AS sum_dl FROM dl) AS sum_dl
       |),
       |st2 AS (SELECT n_docs, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM st),
       |contrib AS (
       |  SELECT qt.qid, p.doc_id,
       |    CAST((n_docs - df + 0.5) / (df + 0.5) *
       |      ((tf * ${k1 + 1}) / (tf + $k1 * (${1 - b} + $b * dl.dl / avgdl)))
       |      AS DECIMAL(28,14)) AS c
       |  FROM post p
       |  JOIN qt ON p.term = qt.term
       |  JOIN df ON df.term = p.term
       |  JOIN dl ON dl.doc_id = p.doc_id
       |  CROSS JOIN st2
       |),
       |sc AS (
       |  SELECT qid, doc_id, CAST(sum(c) AS DOUBLE) AS score
       |  FROM contrib GROUP BY 1, 2
       |),
       |r AS (
       |  SELECT qid, doc_id, score,
       |    CAST(row_number() OVER (
       |      PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM sc
       |)""".stripMargin
  }

  /** Q200 — retrieval-quality eval (mirrors
    * TextAnalysis.retrievalEval): the q164 ranking judged against
    * all-terms-present relevance labels; rational metrics only.
    */
  def q200RetrievalEval(queries: Seq[(Int, Seq[String])] = Seq(
                          1 -> Seq("hash", "join"),
                          2 -> Seq("scan", "filter"),
                          3 -> Seq("sort", "merge"),
                          4 -> Seq("data", "stream"),
                          5 -> Seq("index", "state")),
                        k1: Double = 1.2, b: Double = 0.75,
                        k: Int = 5): String =
    s"""WITH ${bm25Ctes(queries, k1, b)},
       |topk AS (SELECT * FROM r WHERE rnk <= $k),
       |toku AS (SELECT DISTINCT doc_id, term FROM tok),
       |qtc AS (SELECT qid, count(*) AS ntq FROM qt GROUP BY 1),
       |rel AS (
       |  SELECT qt.qid, t.doc_id
       |  FROM toku t JOIN qt ON t.term = qt.term
       |  JOIN qtc ON qtc.qid = qt.qid
       |  GROUP BY 1, 2, qtc.ntq
       |  HAVING count(DISTINCT t.term) = qtc.ntq
       |),
       |rt AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_relevant
       |       FROM rel GROUP BY 1),
       |h AS (
       |  SELECT topk.qid, CAST(count(*) AS BIGINT) AS n_hits,
       |    min(rnk) AS first_rnk
       |  FROM topk JOIN rel ON topk.qid = rel.qid
       |    AND topk.doc_id = rel.doc_id
       |  GROUP BY 1
       |),
       |qs AS (SELECT DISTINCT qid FROM qt)
       |SELECT qs.qid,
       |  coalesce(rt.n_relevant, 0) AS n_relevant,
       |  coalesce(h.n_hits, 0) AS n_hits_at_k,
       |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $k AS precision_at_k,
       |  CASE WHEN coalesce(rt.n_relevant, 0) = 0 THEN NULL
       |       ELSE CAST(coalesce(h.n_hits, 0) AS DOUBLE) / rt.n_relevant
       |  END AS recall_at_k,
       |  coalesce(1.0 / h.first_rnk, 0.0) AS mrr
       |FROM qs LEFT JOIN rt ON rt.qid = qs.qid
       |LEFT JOIN h ON h.qid = qs.qid""".stripMargin

  /** Q165 — token-budget water-filling (mirrors
    * Pipeline.budgetWaterfill): per-source token supply, budget =
    * 2/5 of the total, three unrolled redistribution rounds with the
    * same double arithmetic order (budget and every share are single
    * IEEE divisions of exactly-representable operands; cap sums stay
    * BIGINT until the division).
    */
  def q165Waterfill: String =
    s"""WITH a AS (
       |  SELECT source, CAST(sum(len($tokensSql)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1
       |),
       |t0 AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
       |    CAST(count(*) AS BIGINT) AS n1
       |  FROM a
       |),
       |t1 AS (SELECT total, n1, CAST(total AS DOUBLE) * 2 / 5 AS budget FROM t0),
       |t2 AS (SELECT total, n1, budget, budget / n1 AS share1 FROM t1),
       |b1 AS (
       |  SELECT a.source, a.n_tokens, t2.n1, t2.budget,
       |    a.n_tokens <= t2.share1 AS c1
       |  FROM a CROSS JOIN t2
       |),
       |g2 AS (
       |  SELECT CAST(sum(CASE WHEN c1 THEN n_tokens ELSE 0 END) AS BIGINT) AS cap1,
       |    CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS ncap1
       |  FROM b1
       |),
       |b2 AS (
       |  SELECT b1.*,
       |    (budget - cap1) / nullif(n1 - ncap1, 0) AS share2
       |  FROM b1 CROSS JOIN g2
       |),
       |b2c AS (
       |  SELECT *, (NOT c1) AND coalesce(n_tokens <= share2, false) AS c2
       |  FROM b2
       |),
       |g3 AS (
       |  SELECT CAST(sum(CASE WHEN c1 OR c2 THEN n_tokens ELSE 0 END) AS BIGINT) AS cap2,
       |    CAST(sum(CASE WHEN c1 OR c2 THEN 1 ELSE 0 END) AS BIGINT) AS ncap2
       |  FROM b2c
       |),
       |b3 AS (
       |  SELECT b2c.*,
       |    (budget - cap2) / nullif(n1 - ncap2, 0) AS share3
       |  FROM b2c CROSS JOIN g3
       |),
       |b3c AS (
       |  SELECT *, (NOT c1) AND (NOT c2)
       |    AND coalesce(n_tokens <= share3, false) AS c3
       |  FROM b3
       |)
       |SELECT source, n_tokens, (c1 OR c2 OR c3) AS capped,
       |  CASE WHEN c1 OR c2 OR c3 THEN CAST(n_tokens AS DOUBLE)
       |       ELSE share3 END AS alloc
       |FROM b3c""".stripMargin

  /** Q166 — top-k customers per segment (mirrors
    * Relational.topCustomersAgg): the bounded-heap UDAF's result is
    * the (c_acctbal DESC, c_custkey) rank prefix, exactly a
    * row_number window here.
    */
  def q166TopCustomers(k: Int = 3): String =
    s"""WITH r AS (
       |  SELECT c_mktsegment, CAST(c_custkey AS BIGINT) AS c_custkey,
       |    CAST(c_acctbal AS DOUBLE) AS c_acctbal,
       |    CAST(row_number() OVER (PARTITION BY c_mktsegment
       |      ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
       |  FROM customer
       |)
       |SELECT c_mktsegment, c_custkey, c_acctbal, rnk
       |FROM r WHERE rnk <= $k""".stripMargin

  /** Q167 — canonical doc per near-dup cluster (mirrors
    * Dedup.canonicalDocs): Q38's recursive-CTE clusters joined to the
    * Q18 quality expression, best = (quality DESC, doc_id ASC) row 1.
    */
  def q167CanonicalDocs(minJaccard: Double = 0.5): String =
    s"""WITH cl AS (SELECT * FROM (${q38DupClusters(minJaccard)}) x),
       |qs AS (SELECT doc_id, quality_score
       |       FROM (${q18Quality}) y),
       |j AS (SELECT cl.cluster_id, cl.doc_id, qs.quality_score
       |      FROM cl JOIN qs USING (doc_id)),
       |rk AS (
       |  SELECT cluster_id, doc_id, quality_score,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY quality_score DESC, doc_id) AS rn
       |  FROM j
       |),
       |ag AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
       |       FROM j GROUP BY 1)
       |SELECT ag.cluster_id, ag.n_docs,
       |  CAST(rk.doc_id AS BIGINT) AS canon_doc_id,
       |  rk.quality_score AS canon_quality
       |FROM ag JOIN rk ON rk.cluster_id = ag.cluster_id AND rk.rn = 1""".stripMargin

  /** Q168 — Cohen's kappa per source between the Q18 threshold
    * classifier and the Q18b Gopher keep flag (mirrors
    * TextAnalysis.raterAgreement): exact BIGINT cell counts, one
    * final integer-over-integer division.
    */
  def q168RaterAgreement(thr: Double = 0.5): String =
    s"""WITH q1 AS (SELECT doc_id, (quality_score >= ${dlit(thr)}) AS r1
       |            FROM (${q18Quality}) x),
       |q2 AS (SELECT doc_id, keep AS r2 FROM (${q18bGopher()}) y),
       |cells AS (
       |  SELECT d.source,
       |    CAST(sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN NOT r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN NOT r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM documents d
       |  JOIN q1 ON q1.doc_id = d.doc_id
       |  JOIN q2 ON q2.doc_id = d.doc_id
       |  GROUP BY 1
       |)
       |SELECT source, a + b + c + d AS n_docs, a + d AS n_agree,
       |  a + b AS r1_keep, a + c AS r2_keep,
       |  CAST((a + b + c + d) * (a + d)
       |      - ((a + b) * (a + c) + (c + d) * (b + d)) AS DOUBLE)
       |    / CAST(nullif((a + b + c + d) * (a + b + c + d)
       |      - ((a + b) * (a + c) + (c + d) * (b + d)), 0) AS DOUBLE) AS kappa
       |FROM cells""".stripMargin

  /** Q224 — weighted source Jaccard (mirrors
    * TextAnalysis.weightedSourceJaccard): same multiset minima and
    * the T_a + T_b − Σmin union identity.
    */
  def q224WeightedSourceJaccard(): String =
    s"""WITH tok AS (
       |  SELECT source, unnest($tokensSql) AS token FROM documents
       |),
       |c AS (
       |  SELECT source, token, CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2
       |),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY 1),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    a.tot AS tot_a, b.tot AS tot_b
       |  FROM tot a JOIN tot b ON a.source < b.source
       |),
       |inter AS (
       |  SELECT x.source AS src_a, y.source AS src_b,
       |    CAST(count(*) AS BIGINT) AS shared_tokens,
       |    CAST(sum(least(x.c, y.c)) AS BIGINT) AS inter_w
       |  FROM c x JOIN c y ON x.token = y.token AND x.source < y.source
       |  GROUP BY 1, 2
       |)
       |SELECT p.src_a, p.src_b,
       |  coalesce(i.shared_tokens, 0) AS shared_tokens,
       |  coalesce(i.inter_w, 0) AS inter_weight,
       |  p.tot_a + p.tot_b - coalesce(i.inter_w, 0) AS union_weight,
       |  CAST(coalesce(i.inter_w, 0) AS DOUBLE)
       |    / CAST(p.tot_a + p.tot_b - coalesce(i.inter_w, 0) AS DOUBLE)
       |    AS weighted_jaccard
       |FROM pairs p LEFT JOIN inter i
       |  ON i.src_a = p.src_a AND i.src_b = p.src_b""".stripMargin

  /** Q221 — Simpson diversity (mirrors TextAnalysis.simpsonDiversity):
    * identical integer collision/square sums, terminal divisions.
    */
  def q221SimpsonDiversity(): String =
    s"""WITH tok AS (
       |  SELECT source, unnest($tokensSql) AS token FROM documents
       |),
       |c AS (
       |  SELECT source, token, CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2
       |),
       |a AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_distinct,
       |    CAST(sum(c * (c - 1)) AS BIGINT) AS coll,
       |    CAST(sum(c * c) AS BIGINT) AS sq
       |  FROM c GROUP BY 1
       |)
       |SELECT source, n_tokens, n_distinct,
       |  1.0 - CAST(coll AS DOUBLE)
       |    / CAST(nullif(n_tokens * (n_tokens - 1), 0) AS DOUBLE) AS simpson,
       |  CAST(n_tokens * n_tokens AS DOUBLE) / CAST(sq AS DOUBLE)
       |    AS inv_simpson
       |FROM a""".stripMargin

  /** Q211 — calibration bins (mirrors TextAnalysis.calibrationBins):
    * same decile binning, DECIMAL(28,14)-quantized score sums, one
    * terminal division per double column.
    */
  def q211CalibrationBins(nBins: Int = 10): String =
    s"""WITH q1 AS (SELECT doc_id, quality_score FROM (${q18Quality}) x),
       |q2 AS (SELECT doc_id, keep FROM (${q18bGopher()}) y),
       |j AS (
       |  SELECT quality_score, keep,
       |    least(CAST(floor(quality_score * $nBins) AS BIGINT),
       |      ${nBins - 1}) AS bin
       |  FROM q1 JOIN q2 ON q1.doc_id = q2.doc_id
       |),
       |b AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |    sum(CAST(quality_score AS DECIMAL(28,14))) AS ssum
       |  FROM j GROUP BY 1
       |)
       |SELECT bin, n_docs, n_keep,
       |  CAST(ssum AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_score,
       |  CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS keep_rate,
       |  CAST(ssum AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |    - CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS gap
       |FROM b""".stripMargin

  /** Q212 — Fleiss' κ, three binary raters (mirrors
    * TextAnalysis.fleissKappa): same integer vote counts and the
    * single-division closed form.
    */
  def q212FleissKappa(thr: Double = 0.5, minTokens: Int = 25): String =
    s"""WITH q1 AS (SELECT doc_id, (quality_score >= ${dlit(thr)}) AS r1,
       |            (n_tokens >= $minTokens) AS r3 FROM (${q18Quality}) x),
       |q2 AS (SELECT doc_id, keep AS r2 FROM (${q18bGopher()}) y),
       |xs AS (
       |  SELECT d.source,
       |    CAST(CASE WHEN r1 THEN 1 ELSE 0 END
       |      + CASE WHEN r2 THEN 1 ELSE 0 END
       |      + CASE WHEN r3 THEN 1 ELSE 0 END AS BIGINT) AS x
       |  FROM documents d
       |  JOIN q1 ON q1.doc_id = d.doc_id
       |  JOIN q2 ON q2.doc_id = d.doc_id
       |),
       |per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(x) AS BIGINT) AS c_keep,
       |    CAST(sum(x * x + (3 - x) * (3 - x)) AS BIGINT) AS s2
       |  FROM xs GROUP BY 1
       |)
       |SELECT source, n_docs, c_keep,
       |  CAST(s2 - 3 * n_docs AS DOUBLE)
       |    / CAST(6 * n_docs AS DOUBLE) AS p_bar,
       |  CAST(c_keep * c_keep
       |      + (3 * n_docs - c_keep) * (3 * n_docs - c_keep) AS DOUBLE)
       |    / CAST(9 * n_docs * n_docs AS DOUBLE) AS p_e,
       |  CAST(3 * n_docs * (s2 - 3 * n_docs)
       |      - 2 * (c_keep * c_keep
       |        + (3 * n_docs - c_keep) * (3 * n_docs - c_keep)) AS DOUBLE)
       |    / CAST(nullif(2 * (9 * n_docs * n_docs
       |      - (c_keep * c_keep
       |        + (3 * n_docs - c_keep) * (3 * n_docs - c_keep))), 0)
       |      AS DOUBLE) AS kappa
       |FROM per""".stripMargin

  /** Q169 — recency-decayed per-user value (mirrors
    * Relational.recencyValue): 2^(−integer) weights are exact
    * doubles, products quantize to DECIMAL(28,14) before the Σ.
    */
  def q169RecencyValue: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS tus, value FROM events
       |),
       |mx AS (SELECT max(tus) AS max_tus FROM e),
       |w AS (
       |  SELECT user_id, tus,
       |    CAST(value * power(2.0,
       |      -CAST((max_tus - tus) // 86400000000 AS DOUBLE))
       |      AS DECIMAL(28,14)) AS c
       |  FROM e CROSS JOIN mx
       |)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(c) AS DOUBLE) AS decayed_value,
       |  max(tus) AS last_tus
       |FROM w GROUP BY 1""".stripMargin

  /** Q173 — Poisson-bootstrap CI (mirrors Relational.bootstrapCi):
    * identical hash→weight integer thresholds, exact-decimal replicate
    * sums, index-picked order statistics of the sorted replicate
    * means.
    */
  def q173BootstrapCi(reps: Int = 40): String = {
    val P = graft.functions.TextHash.P
    val ts = graft.operators.Relational.poissonThresholds
    val wCase = ts.zipWithIndex
      .map { case (t, k) => s"WHEN h < $t THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${ts.length} END")
    val u0Sql = polyHashSql("CAST(event_id AS VARCHAR)")
    s"""WITH reps AS (
       |  SELECT event_type, value, $u0Sql AS u0, b
       |  FROM events, unnest(generate_series(-1, ${reps - 1})) AS t(b)
       |),
       |h0 AS (SELECT *, (u0 * 31 + (b + 2)) % $P AS u FROM reps),
       |h1 AS (SELECT *, (u * u + 12345) % $P AS v1 FROM h0),
       |h2 AS (SELECT *, (v1 * 31 + u) % $P AS v2 FROM h1),
       |hs AS (SELECT *, (v2 * v2 + 6789) % $P AS h FROM h2),
       |wt AS (
       |  SELECT event_type, value, b,
       |    CASE WHEN b = -1 THEN 1 ELSE $wCase END AS w
       |  FROM hs
       |),
       |mb AS (
       |  SELECT event_type, b, CAST(sum(w) AS BIGINT) AS sw,
       |    CAST(sum(CAST(value AS DECIMAL(20,6)) * w) AS DOUBLE)
       |      / nullif(sum(w), 0) AS mb
       |  FROM wt GROUP BY 1, 2
       |),
       |ci AS (
       |  SELECT event_type, list_sort(list(mb)) AS ms
       |  FROM mb WHERE b <> -1 GROUP BY 1
       |)
       |SELECT b.event_type, b.sw AS n, b.mb AS mean_value,
       |  ci.ms[2] AS ci_lo, ci.ms[${reps - 1}] AS ci_hi
       |FROM (SELECT * FROM mb WHERE b = -1) b JOIN ci USING (event_type)""".stripMargin
  }

  /** Q175 — overlapping chunking (mirrors TextAnalysis.chunkDocs):
    * same tokenization, same stride fan-out, same polyHash of the
    * space-rejoined token slice.
    */
  def q175ChunkDocs(chunkSize: Int = 64, stride: Int = 48): String =
    s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
       |c AS (
       |  SELECT doc_id, tk, len(tk) AS n, start
       |  FROM t, unnest(generate_series(0, len(tk) - 1, $stride)) AS g(start)
       |  WHERE len(tk) > 0
       |),
       |s AS (
       |  SELECT doc_id, start // $stride AS chunk_idx, start AS start_tok,
       |    least($chunkSize, n - start) AS sz, tk
       |  FROM c
       |)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(sz AS BIGINT) AS n_tokens,
       |  ${polyHashSql("array_to_string(tk[start_tok + 1 : start_tok + sz], ' ')")} AS fp,
       |  tk[start_tok + 1] AS first_tok,
       |  tk[start_tok + sz] AS last_tok
       |FROM s""".stripMargin

  /** Q174 — A/B Welch t-test (mirrors Relational.abWelch): identical
    * scrambled-hash user assignment, exact decimal power sums, and
    * textually-mirrored double association in the closed-form finish.
    */
  def q174AbWelch: String = {
    val P = graft.functions.TextHash.P
    val hSql = polyHashSql("('ab:' || CAST(user_id AS VARCHAR))")
    s"""WITH h0 AS (SELECT event_type, value, $hSql AS u FROM events),
       |h1 AS (SELECT *, (u * u + 12345) % $P AS v1 FROM h0),
       |h2 AS (SELECT *, (v1 * 31 + u) % $P AS v2 FROM h1),
       |hs AS (SELECT *, (v2 * v2 + 6789) % $P AS h FROM h2),
       |byv AS (
       |  SELECT event_type, h % 2 AS variant,
       |    CAST(count(value) AS BIGINT) AS n,
       |    sum(CAST(value AS DECIMAL(12,6))) AS sx,
       |    sum(CAST(value AS DECIMAL(12,6)) * CAST(value AS DECIMAL(12,6))) AS sxx
       |  FROM hs GROUP BY 1, 2
       |),
       |ab AS (
       |  SELECT a.event_type, a.n AS n_a, b.n AS n_b,
       |    CAST(a.sx AS DOUBLE) / a.n AS mean_a,
       |    CAST(b.sx AS DOUBLE) / b.n AS mean_b,
       |    (CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE) / a.n)
       |      / nullif(a.n - 1, 0) AS var_a,
       |    (CAST(b.sxx AS DOUBLE) - CAST(b.sx AS DOUBLE) * CAST(b.sx AS DOUBLE) / b.n)
       |      / nullif(b.n - 1, 0) AS var_b
       |  FROM (SELECT * FROM byv WHERE variant = 0) a
       |  JOIN (SELECT * FROM byv WHERE variant = 1) b USING (event_type)
       |),
       |fin AS (SELECT *, var_a / n_a + var_b / n_b AS se2 FROM ab)
       |SELECT event_type, n_a, n_b, mean_a, mean_b,
       |  (mean_a - mean_b) / sqrt(se2) AS t_stat,
       |  (se2 * se2) / ((var_a / n_a) * (var_a / n_a) / nullif(n_a - 1, 0)
       |    + (var_b / n_b) * (var_b / n_b) / nullif(n_b - 1, 0)) AS dof
       |FROM fin""".stripMargin
  }

  /** Q171 — rolling-median despeckle (mirrors Smoothing.rollingMedian):
    * sorted ±half frame per channel, midpoint by index, even (edge)
    * frames averaged with the IDENTICAL `(a + b) / 2.0` expression —
    * no quantile-interpolation formula divergence.
    */
  /** Q181 — half-life EWMA (mirrors Smoothing.ewma): exact 2^-i
    * weights, adjust-style available-mass renormalization, both folds
    * left-associated identically to the Spark reduce.
    */
  def q181Ewma(lags: Int = 32): String = {
    def tap(i: Int): String = if (i == 0) "y" else s"lag(y, $i) OVER w_e"
    val num = (0 until lags)
      .map(i => s"coalesce((${tap(i)}) * ${dlit(math.pow(0.5, i))}, 0.0)")
      .mkString(" + ")
    val den = (0 until lags)
      .map(i => s"(CASE WHEN (${tap(i)}) IS NOT NULL THEN ${dlit(math.pow(0.5, i))} ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH sig AS (SELECT experiment_id, channel, sample_idx, y FROM read_parquet('$signalGlob'))
       |SELECT experiment_id, channel, sample_idx,
       |  ($num) / ($den) AS ewma
       |FROM sig
       |WINDOW w_e AS (PARTITION BY experiment_id, channel ORDER BY sample_idx)""".stripMargin
  }

  def q171RollingMedian(half: Int = 2): String =
    s"""WITH sig AS (SELECT experiment_id, channel, sample_idx, y FROM read_parquet('$signalGlob')),
       |fr AS (
       |  SELECT experiment_id, channel, sample_idx,
       |    list(y) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY sample_idx
       |      ROWS BETWEEN $half PRECEDING AND $half FOLLOWING) AS l
       |  FROM sig
       |),
       |srt AS (
       |  SELECT experiment_id, channel, sample_idx, list_sort(l) AS ls, len(l) AS n
       |  FROM fr
       |)
       |SELECT experiment_id, channel, sample_idx,
       |  CASE WHEN n % 2 = 1 THEN ls[(n + 1) // 2]
       |       ELSE (ls[n // 2] + ls[n // 2 + 1]) / 2.0 END AS y_med
       |FROM srt""".stripMargin

  /** Q170 — dynamic-partition-pruned rollup (mirrors
    * GenericSources.dppRollup): the per-(source, lang) rollup of the
    * documents whose source's minimum doc_id is even (splits the
    * sources 10/10 at every SF) — the dim-side predicate the Spark
    * plan can only apply to the partitioned fact scan via the runtime
    * DPP subquery. Declarative equality over the ORIGINAL table
    * proves the pruned read complete.
    */
  def q170DppRollup: String =
    s"""WITH dim AS (
       |  SELECT source, min(doc_id) AS m FROM documents GROUP BY 1
       |)
       |SELECT f.source, f.lang, count(*) AS n_docs,
       |  CAST(sum(f.n_chars) AS BIGINT) AS sum_chars,
       |  min(f.doc_id) AS min_doc, max(f.doc_id) AS max_doc
       |FROM documents f JOIN dim d ON f.source = d.source
       |WHERE d.m % 2 = 0
       |GROUP BY 1, 2""".stripMargin

  /** Q53 — top-k bigram collocations per source (mirrors
    * TextAnalysis.topBigrams).
    */
  def q53TopBigrams(k: Int = 5): String =
    s"""WITH d AS (SELECT source, $tokensSql AS tk FROM documents),
       |bg AS (
       |  SELECT source,
       |    unnest(list_transform(range(1, len(tk)),
       |      i -> tk[i] || ' ' || tk[i + 1])) AS bigram
       |  FROM d
       |),
       |c AS (SELECT source, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY n DESC, bigram) AS rnk
       |  FROM c
       |)
       |SELECT source, bigram, n, CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= $k""".stripMargin

  /** Q54 — int8 quantization fidelity (mirrors
    * Similarity.quantFidelity): cosine between each float vector and
    * its dequantized reconstruction.
    */
  def q54QuantFidelity(dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |m AS MATERIALIZED (
       |  SELECT vec_id, label, de,
       |    list_max(list_transform(de, x -> abs(x))) AS ma
       |  FROM e
       |),
       |dqt AS (
       |  SELECT vec_id, label, de,
       |    list_transform(
       |      list_transform(de, x -> CAST(round(
       |        CASE WHEN ma = 0 THEN 0.0 ELSE x * 127.0 / ma END) AS BIGINT)),
       |      v -> v * ma / 127.0) AS dq
       |  FROM m
       |)
       |SELECT vec_id, label, ${cosSql("de", "dq", dim)} AS qcos
       |FROM dqt""".stripMargin

  /** Q55 — CDC latest-wins compaction (mirrors Relational.latestState):
    * the oracle states the semantics as a window rank; the engine's
    * struct-max aggregate must pick the identical winner.
    */
  def q55LatestState: String =
    s"""WITH r AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id, value,
       |    row_number() OVER (PARTITION BY user_id, event_type
       |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
       |  FROM events
       |)
       |SELECT user_id, event_type, t_us AS last_us,
       |  event_id AS last_event_id, value AS last_value
       |FROM r WHERE rn = 1""".stripMargin

  /** Bit-interleave of the low `bits` bits of two integer expressions
    * (a → even positions, b → odd) — term-for-term the engine's
    * Relational.zkey.
    */
  def zkeySql(a: String, b: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Q56 — z-order layout audit (mirrors Relational.zorderLayout). */
  def q56Zorder(bits: Int = 16, bucketBits: Int = 6): String = {
    val mask = (1L << bits) - 1
    s"""WITH d AS (
       |  SELECT user_id & $mask AS u,
       |    (epoch_us(ts) // 60000000) & $mask AS m
       |  FROM events
       |),
       |z AS (
       |  SELECT u, m,
       |    (${zkeySql("u", "m", bits)}) >> ${2 * bits - bucketBits} AS zbucket
       |  FROM d
       |)
       |SELECT zbucket, count(*) AS n,
       |  min(u) AS u_min, max(u) AS u_max,
       |  min(m) AS m_min, max(m) AS m_max
       |FROM z GROUP BY zbucket""".stripMargin
  }

  /** Q57 — bigram-LM fluency proxy (mirrors TextAnalysis.bigramLm):
    * integer log2-bucketed conditional bigram probabilities; context
    * counts roll up from the bigram aggregate. The c1 sum casts back
    * to BIGINT before printf('%b') — DuckDB sums BIGINT into HUGEINT.
    */
  def q57BigramLm: String =
    s"""WITH d AS (SELECT doc_id, $tokensSql AS tk FROM documents),
       |occs AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(tk)),
       |      i -> tk[i] || ' ' || tk[i + 1])) AS bigram
       |  FROM d
       |),
       |occ AS (
       |  SELECT doc_id, ${polyHashSql("bigram")} AS bh,
       |    ${polyHashSql("split_part(bigram, ' ', 1)")} AS wh
       |  FROM occs
       |),
       |docbg AS (
       |  SELECT doc_id, bh, wh, count(*) AS cnt FROM occ GROUP BY 1, 2, 3
       |),
       |c2 AS (
       |  SELECT bh, wh, CAST(sum(cnt) AS BIGINT) AS c2
       |  FROM docbg GROUP BY 1, 2
       |),
       |c1 AS (
       |  SELECT wh, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
       |),
       |sc AS (
       |  SELECT bh,
       |    CAST((len(printf('%b', c2.c2)) - 1)
       |       - (len(printf('%b', c1.c1)) - 1) AS BIGINT) AS lp
       |  FROM c2 JOIN c1 USING (wh)
       |)
       |SELECT b.doc_id, CAST(sum(b.cnt) AS BIGINT) AS n_bigrams,
       |  CAST(sum(b.cnt * sc.lp) AS BIGINT) AS logp_sum,
       |  CAST(sum(b.cnt * sc.lp) AS DOUBLE) / sum(b.cnt) AS mean_logp
       |FROM docbg b JOIN sc USING (bh)
       |GROUP BY b.doc_id""".stripMargin

  /** Q58 — stream-stream interval join (mirrors
    * StreamingOps.streamIntervalFixture): clicks × same-user views in
    * the trailing window, micros-exact bounds.
    */
  def q58StreamInterval(lookbackMin: Int = 30): String =
    s"""SELECT l.event_id AS l_event, r.event_id AS r_event
       |FROM events l JOIN events r
       |  ON l.user_id = r.user_id
       | AND l.event_type = 'click' AND r.event_type = 'view'
       | AND epoch_us(r.ts) BETWEEN epoch_us(l.ts) - ${lookbackMin * 60000000L}
       |   AND epoch_us(l.ts)""".stripMargin

  /** Q123 — stream-stream LEFT OUTER interval join (mirrors
    * StreamingOps.streamIntervalOuterFixture): the batch statement of
    * the watermark-flushed append output — every click, matched or
    * null-extended.
    */
  def q123StreamIntervalOuter(lookbackMin: Int = 30): String =
    s"""SELECT l.event_id AS l_event, r.event_id AS r_event
       |FROM (SELECT * FROM events WHERE event_type = 'click') l
       |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
       |  ON l.user_id = r.user_id
       | AND epoch_us(r.ts) BETWEEN epoch_us(l.ts) - ${lookbackMin * 60000000L}
       |   AND epoch_us(l.ts)""".stripMargin

  /** Q172 — stream-stream FULL OUTER interval join (mirrors
    * StreamingOps.streamIntervalFullOuterFixture): the batch statement
    * of the watermark-flushed append output — every click matched or
    * null-extended AND every view that converted nothing.
    */
  def q172StreamIntervalFullOuter(lookbackMin: Int = 30): String =
    s"""SELECT l.event_id AS l_event, r.event_id AS r_event
       |FROM (SELECT * FROM events WHERE event_type = 'click') l
       |FULL JOIN (SELECT * FROM events WHERE event_type = 'view') r
       |  ON l.user_id = r.user_id
       | AND epoch_us(r.ts) BETWEEN epoch_us(l.ts) - ${lookbackMin * 60000000L}
       |   AND epoch_us(l.ts)""".stripMargin

  /** Q59 — ORC round-trip audit (mirrors
    * GenericSources.orcRoundtripSummary): the oracle reads the
    * ORIGINAL parquet bits — equality proves the ORC round trip
    * lossless.
    */
  def q59OrcRoundtrip: String =
    s"""SELECT source, lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
       |FROM documents GROUP BY 1, 2""".stripMargin

  /** Q61 — product-quantization ANN (mirrors Similarity.pqTopK):
    * deterministic codebooks from the first `codebookK` vectors'
    * subvectors, argmin-L2 encoding with (dist, codeword) ties, and
    * asymmetric scoring against the flattened reconstruction — the
    * 64-term pinned dot, never a float sum over per-subspace partials.
    */
  def q61PqTopK(nSub: Int = 8, subDim: Int = 8, codebookK: Int = 16,
                k: Int = 5, dim: Int = 64): String = {
    val distSql = s"${sumTerms("s.sv", "s.sv", subDim)} - 2 * " +
      s"${sumTerms("s.sv", "c.cv", subDim)} + ${sumTerms("c.cv", "c.cv", subDim)}"
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |sub AS (
       |  SELECT vec_id, j,
       |    list_slice(de, j * $subDim + 1, j * $subDim + $subDim) AS sv
       |  FROM e, range(0, $nSub) t(j)
       |),
       |cb AS (SELECT j, vec_id AS cw, sv AS cv FROM sub WHERE vec_id < $codebookK),
       |d AS (
       |  SELECT s.vec_id, s.j, c.cw, c.cv, $distSql AS dist
       |  FROM sub s JOIN cb c ON s.j = c.j
       |),
       |code AS (
       |  SELECT vec_id, j, cv,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rk
       |  FROM d
       |),
       |recon AS (
       |  SELECT vec_id, flatten(list(cv ORDER BY j)) AS rvec
       |  FROM code WHERE rk = 1 GROUP BY vec_id
       |),
       |p AS (SELECT vec_id AS probe_id, de AS pe FROM e WHERE vec_id < 3),
       |sc AS (
       |  SELECT p.probe_id, r.vec_id, ${sumTerms("pe", "rvec", dim)} AS score
       |  FROM p CROSS JOIN recon r
       |  WHERE r.vec_id <> p.probe_id
       |),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY score DESC, vec_id) AS rnk
       |  FROM sc
       |)
       |SELECT probe_id, vec_id, score, CAST(rnk AS BIGINT) AS rnk
       |FROM rk WHERE rnk <= $k""".stripMargin
  }

  /** The 'inc:' scramble membership on vec_id (mirrors
    * Similarity.incomingVec — the q293 split): CTEs `e` (double
    * vectors), `vf` (vec_id, incoming), `ex` (existing stratum). */
  private def vecSplitCtes(modN: Int): String = {
    val p = graft.functions.TextHash.P
    val hSql = polyHashSql("('inc:' || CAST(vec_id AS VARCHAR))")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |w0 AS (SELECT vec_id, $hSql AS u FROM embeddings),
       |w1 AS (SELECT *, (u * u + 12345) % $p AS v1 FROM w0),
       |w2 AS (SELECT *, (v1 * 31 + u) % $p AS v2 FROM w1),
       |vf AS (SELECT vec_id, ((v2 * v2 + 6789) % $p) % $modN = 0 AS incoming
       |       FROM w2),
       |ex AS MATERIALIZED (
       |  SELECT e.vec_id, e.de FROM e JOIN vf USING (vec_id)
       |  WHERE NOT incoming
       |)""".stripMargin
  }

  /** The frozen day-1 quantizer + full-corpus assignment shared by
    * the q297/q298/q299/q301 oracles: centroids are the nCentroids
    * smallest vec_ids of the EXISTING stratum; every vector ranks its
    * lists by (cosine desc, cid). `centFrom`/`centOffset` swap in the
    * q340 RETRAINED quantizer — the next nCentroids vec_ids of the
    * full corpus after the day-1 seed window (mirrors
    * Similarity.retrainedCentroids). */
  private def sliceAssignCtes(nCentroids: Int, dim: Int,
                              centFrom: String = "ex",
                              centOffset: Int = 0): String =
    s"""cent AS MATERIALIZED (
       |  SELECT vec_id AS cid, de AS ce FROM $centFrom ORDER BY vec_id
       |  LIMIT $nCentroids${if (centOffset > 0) s" OFFSET $centOffset" else ""}
       |),
       |sims AS (
       |  SELECT e.vec_id, e.de, c.cid, ${cosSql("e.de", "c.ce", dim)} AS csim
       |  FROM e CROSS JOIN cent c
       |),
       |asg AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY csim DESC, cid) AS crk
       |  FROM sims
       |)""".stripMargin

  /** Q297/Q301 — IVF postings refresh audit (mirrors
    * Similarity.ivfPostingsRefresh and the streaming ingest): per
    * inverted list under the frozen existing-stratum quantizer, the
    * existing members, the incoming additions, and the refreshed
    * total — derived from the raw embeddings table alone, so the
    * Spark side's file-level counts over the base ∪ delta generations
    * must agree exactly.
    */
  def q297IvfPostingsRefresh(nCentroids: Int = 8, modN: Int = 5,
                             dim: Int = 64): String =
    s"""WITH ${vecSplitCtes(modN)},
       |${sliceAssignCtes(nCentroids, dim)},
       |own AS (
       |  SELECT a.vec_id, a.cid, vf.incoming
       |  FROM asg a JOIN vf USING (vec_id) WHERE crk = 1
       |)
       |SELECT CAST(cid AS BIGINT) AS list_id,
       |  CAST(count(*) FILTER (WHERE NOT incoming) AS BIGINT) AS n_existing,
       |  CAST(count(*) FILTER (WHERE incoming) AS BIGINT) AS n_new,
       |  CAST(count(*) AS BIGINT) AS n_total
       |FROM own GROUP BY 1""".stripMargin

  /** Q298/Q299 — day-2 IVF search through the refreshed postings
    * (mirrors Similarity.ivfDayTwoSearch / ivfPostingsCompact): the
    * q16c search shape with the quantizer frozen on the existing
    * stratum and the lists covering the FULL corpus (base ∪ delta).
    */
  def q298IvfDayTwoSearch(nCentroids: Int = 8, modN: Int = 5,
                          nProbe: Int = 2, k: Int = 5,
                          dim: Int = 64): String =
    s"""WITH ${vecSplitCtes(modN)},
       |${sliceAssignCtes(nCentroids, dim)},
       |lists AS (SELECT vec_id, de, cid AS list_id FROM asg WHERE crk = 1),
       |pl AS (
       |  SELECT vec_id AS probe_id, de AS pe, cid AS list_id
       |  FROM asg WHERE vec_id < 3 AND crk <= $nProbe
       |),
       |cs AS (
       |  SELECT p.probe_id, l.vec_id, ${cosSql("p.pe", "l.de", dim)} AS sim
       |  FROM pl p JOIN lists l USING (list_id) WHERE l.vec_id <> p.probe_id
       |),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY sim DESC, vec_id) AS rnk
       |  FROM cs
       |)
       |SELECT probe_id, vec_id, sim, rnk FROM rk WHERE rnk <= $k""".stripMargin

  /** Q300 — IVF postings purge audit (mirrors
    * Similarity.ivfPostingsPurge): the full-corpus q16c assignment,
    * the 'purge:' scramble membership, per-list before/purged/after
    * counts — a leaked row, an over-purged list, or a dropped list
    * all break the compare.
    */
  def q300IvfPostingsPurge(nCentroids: Int = 8, modN: Int = 5,
                           dim: Int = 64): String = {
    val p = graft.functions.TextHash.P
    val hSql = polyHashSql("('purge:' || CAST(vec_id AS VARCHAR))")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |cent AS (SELECT vec_id AS cid, de AS ce FROM e WHERE vec_id < $nCentroids),
       |sims AS (
       |  SELECT e.vec_id, c.cid, ${cosSql("e.de", "c.ce", dim)} AS csim
       |  FROM e CROSS JOIN cent c
       |),
       |asg AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY csim DESC, cid) AS crk
       |  FROM sims
       |),
       |own AS (SELECT vec_id, cid FROM asg WHERE crk = 1),
       |p0 AS (SELECT vec_id, $hSql AS u FROM embeddings),
       |p1 AS (SELECT *, (u * u + 12345) % $p AS v1 FROM p0),
       |p2 AS (SELECT *, (v1 * 31 + u) % $p AS v2 FROM p1),
       |pf AS (SELECT vec_id, ((v2 * v2 + 6789) % $p) % $modN = 0 AS purged
       |       FROM p2)
       |SELECT CAST(cid AS BIGINT) AS list_id,
       |  CAST(count(*) AS BIGINT) AS n_before,
       |  CAST(count(*) FILTER (WHERE purged) AS BIGINT) AS n_purged,
       |  CAST(count(*) FILTER (WHERE NOT purged) AS BIGINT) AS n_after
       |FROM own JOIN pf USING (vec_id) GROUP BY 1""".stripMargin
  }

  /** Q305 — quantizer-drift audit (mirrors Similarity.quantizerDrift):
    * per inverted list under the frozen existing-stratum quantizer,
    * the stratum counts and each stratum's mean cosine distance
    * (1 − csim) to its own centroid, with DECIMAL(38,10)-quantized
    * summands (the q281 discipline) and NULL degradation for empty
    * strata.
    */
  def q305QuantizerDrift(nCentroids: Int = 8, modN: Int = 5,
                         dim: Int = 64): String =
    s"""WITH ${vecSplitCtes(modN)},
       |${sliceAssignCtes(nCentroids, dim)},
       |own AS (
       |  SELECT a.cid, (CAST(1.0 AS DOUBLE) - a.csim) AS cd, vf.incoming
       |  FROM asg a JOIN vf USING (vec_id) WHERE crk = 1
       |)
       |SELECT CAST(cid AS BIGINT) AS list_id,
       |  CAST(count(*) FILTER (WHERE NOT incoming) AS BIGINT) AS n_existing,
       |  CAST(count(*) FILTER (WHERE incoming) AS BIGINT) AS n_new,
       |  CAST(sum(CASE WHEN NOT incoming THEN CAST(cd AS DECIMAL(38,10)) END)
       |      AS DOUBLE)
       |    / CAST(nullif(count(*) FILTER (WHERE NOT incoming), 0) AS DOUBLE)
       |    AS mean_dist_existing,
       |  CAST(sum(CASE WHEN incoming THEN CAST(cd AS DECIMAL(38,10)) END)
       |      AS DOUBLE)
       |    / CAST(nullif(count(*) FILTER (WHERE incoming), 0) AS DOUBLE)
       |    AS mean_dist_new
       |FROM own GROUP BY 1""".stripMargin

  /** Q310 — LSH signature-index refresh audit (mirrors
    * Dedup.lshSigRefresh): per doc-shard (doc_id mod nShards), the
    * existing signatures, incoming additions, and refreshed total —
    * derived from the raw documents table alone (a doc carries a
    * signature iff it has ≥ 3 tokens, i.e. at least one 3-shingle),
    * so the Spark side's file-level counts over the base ∪ delta
    * generations must agree exactly.
    */
  def q310LshSigRefresh(modN: Int = 5, nShards: Int = 8): String =
    s"""WITH $tokenHashCtes,
       |${incomingFlagCtes(modN)},
       |sd AS (
       |  SELECT thc.doc_id, incoming
       |  FROM thc JOIN fl USING (doc_id)
       |  WHERE len(th) >= 3
       |)
       |SELECT CAST(doc_id % $nShards AS BIGINT) AS shard,
       |  CAST(count(*) FILTER (WHERE NOT incoming) AS BIGINT) AS n_existing,
       |  CAST(count(*) FILTER (WHERE incoming) AS BIGINT) AS n_new,
       |  CAST(count(*) AS BIGINT) AS n_total
       |FROM sd GROUP BY 1""".stripMargin

  /** Q314 — LSH signature-index purge audit (mirrors
    * Dedup.lshSigPurge): per doc-shard, signatures before, purged,
    * and after — derived from the raw documents table alone (a doc
    * carries a signature iff it has ≥ 3 tokens; purge membership is
    * the 'purge:' scramble), so the Spark side's file-level counts
    * over the base and purged generations must agree exactly. Unlike
    * q290's span hashes, signature rows are doc-owned — no
    * shared-with-survivor set to preserve.
    */
  def q314LshSigPurge(modN: Int = 5, nShards: Int = 8): String =
    s"""WITH $tokenHashCtes,
       |${memberFlagCtes(modN, "purge:", "purged")},
       |sd AS (
       |  SELECT thc.doc_id, purged
       |  FROM thc JOIN fl USING (doc_id)
       |  WHERE len(th) >= 3
       |)
       |SELECT CAST(doc_id % $nShards AS BIGINT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_before,
       |  CAST(count(*) FILTER (WHERE purged) AS BIGINT) AS n_purged,
       |  CAST(count(*) FILTER (WHERE NOT purged) AS BIGINT) AS n_after
       |FROM sd GROUP BY 1""".stripMargin

  /** Q308 — time-travel search (mirrors Similarity.ivfTimeTravel):
    * today's probes against the day-1 snapshot, so the inverted lists
    * are RESTRICTED to the existing stratum while probe assignment is
    * unrestricted (queries exist today, the index is yesterday's).
    */
  def q308IvfTimeTravel(nCentroids: Int = 8, modN: Int = 5,
                        nProbe: Int = 2, k: Int = 5,
                        dim: Int = 64): String =
    s"""WITH ${vecSplitCtes(modN)},
       |${sliceAssignCtes(nCentroids, dim)},
       |lists AS (
       |  SELECT a.vec_id, a.de, a.cid AS list_id
       |  FROM asg a JOIN vf USING (vec_id)
       |  WHERE crk = 1 AND NOT vf.incoming
       |),
       |pl AS (
       |  SELECT vec_id AS probe_id, de AS pe, cid AS list_id
       |  FROM asg WHERE vec_id < 3 AND crk <= $nProbe
       |),
       |cs AS (
       |  SELECT p.probe_id, l.vec_id, ${cosSql("p.pe", "l.de", dim)} AS sim
       |  FROM pl p JOIN lists l USING (list_id) WHERE l.vec_id <> p.probe_id
       |),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY sim DESC, vec_id) AS rnk
       |  FROM cs
       |)
       |SELECT probe_id, vec_id, sim, rnk FROM rk WHERE rnk <= $k""".stripMargin

  /** Q302 — frozen-codebook PQ encode of the incoming shard (mirrors
    * Similarity.pqFrozenEncode): codewords are the subvectors of the
    * codebookK smallest EXISTING vec_ids; each incoming subvector
    * takes its argmin codeword ((dist asc, cw asc) total order) with
    * the pinned (sv·sv − 2·sv·cv) + cv·cv distortion.
    */
  def q302PqFrozenEncode(nSub: Int = 8, subDim: Int = 8,
                         codebookK: Int = 16, modN: Int = 5,
                         cbFrom: String = "ex"): String =
    s"""WITH ${vecSplitCtes(modN)},
       |${pqEncodeCtes(nSub, subDim, codebookK, cbFrom)}
       |SELECT vec_id, CAST(j AS INT) AS j, cw AS code, dist AS distortion
       |FROM best WHERE rk = 1 AND incoming""".stripMargin

  /** The shared PQ encode chain `cwv → cb → sub → d → best` behind
    * the q302/q316/q317 oracles: codewords are the subvectors of the
    * `codebookK` smallest vec_ids of `cbFrom` ('ex' = the frozen
    * existing-stratum codebook, 'e' = the q317 full-corpus retrain),
    * every vector's subvectors take their argmin codeword under the
    * pinned (sv·sv − 2·sv·cv) + cv·cv distortion, and `best` carries
    * the stratum flag so callers slice (q302/q317: incoming rows) or
    * aggregate (q316: per-subspace drift means) without forking the
    * arithmetic. `subPred` bounds the encoded stratum INSIDE the
    * chain: the single-stratum oracles keep their pre-q316 cost
    * (DuckDB cannot push a non-partition predicate below the argmin
    * window, so filtering after `best` would encode the full corpus
    * for nothing); q316 passes TRUE because it genuinely needs both
    * strata.
    */
  private def pqEncodeCtes(nSub: Int, subDim: Int, codebookK: Int,
                           cbFrom: String,
                           subPred: String = "vf.incoming"): String = {
    val distSql = s"${sumTerms("s.sv", "s.sv", subDim)} - 2 * " +
      s"${sumTerms("s.sv", "c.cv", subDim)} + ${sumTerms("c.cv", "c.cv", subDim)}"
    s"""cwv AS MATERIALIZED (
       |  SELECT vec_id, de FROM $cbFrom ORDER BY vec_id LIMIT $codebookK
       |),
       |cb AS (
       |  SELECT j, vec_id AS cw,
       |    list_slice(de, j * $subDim + 1, j * $subDim + $subDim) AS cv
       |  FROM cwv, range(0, $nSub) t(j)
       |),
       |sub AS (
       |  SELECT e.vec_id, j,
       |    list_slice(de, j * $subDim + 1, j * $subDim + $subDim) AS sv,
       |    vf.incoming
       |  FROM e JOIN vf USING (vec_id), range(0, $nSub) t(j)
       |  WHERE $subPred
       |),
       |d AS (
       |  SELECT s.vec_id, s.j, s.incoming, c.cw, $distSql AS dist
       |  FROM sub s JOIN cb c ON s.j = c.j
       |),
       |best AS (
       |  SELECT vec_id, j, incoming, cw, dist,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rk
       |  FROM d
       |)""".stripMargin
  }

  /** Q316 — PQ codebook drift audit (mirrors
    * Similarity.pqCodebookDrift): per subspace, existing and incoming
    * subvector counts and each stratum's mean argmin-L2 distortion
    * against the frozen existing-stratum codebook, with
    * DECIMAL(38,10)-quantized summands (the q305 discipline).
    */
  def q316PqCodebookDrift(nSub: Int = 8, subDim: Int = 8,
                          codebookK: Int = 16, modN: Int = 5): String =
    s"""WITH ${vecSplitCtes(modN)},
       |${pqEncodeCtes(nSub, subDim, codebookK, "ex", subPred = "TRUE")}
       |SELECT CAST(j AS INT) AS j,
       |  CAST(count(*) FILTER (WHERE NOT incoming) AS BIGINT) AS n_existing,
       |  CAST(count(*) FILTER (WHERE incoming) AS BIGINT) AS n_new,
       |  CAST(sum(CASE WHEN NOT incoming THEN CAST(dist AS DECIMAL(38,10)) END)
       |      AS DOUBLE)
       |    / CAST(nullif(count(*) FILTER (WHERE NOT incoming), 0) AS DOUBLE)
       |    AS mean_dist_existing,
       |  CAST(sum(CASE WHEN incoming THEN CAST(dist AS DECIMAL(38,10)) END)
       |      AS DOUBLE)
       |    / CAST(nullif(count(*) FILTER (WHERE incoming), 0) AS DOUBLE)
       |    AS mean_dist_new
       |FROM best WHERE rk = 1 GROUP BY 1""".stripMargin

  /** Q62 — streaming exactly-once dedup (mirrors
    * StreamingOps.streamDedupFixture): the oracle is the BATCH rollup
    * over the canonical events — equality proves the replayed
    * at-least-once feed deduplicated to exactly-once.
    */
  def q62StreamDedup: String =
    s"""SELECT event_type, count(*) AS n_events,
       |  CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
       |FROM events GROUP BY 1""".stripMargin

  /** Q63 — forward fill (mirrors Relational.forwardFill): last
    * purchase value carried forward per user over the (t_us, event_id)
    * total order.
    */
  def q63ForwardFill: String =
    s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
       |  last_value(CASE WHEN event_type = 'purchase' THEN value END
       |    IGNORE NULLS) OVER (
       |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS last_purchase_value
       |FROM events""".stripMargin

  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** Q64 — pivot (mirrors Relational.pivotCounts): conditional counts,
    * one column per event type.
    */
  def q64Pivot: String = {
    val cols = eventTypes.map(t =>
      s"count(CASE WHEN event_type = '$t' THEN 1 END) AS n_$t").mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events GROUP BY 1""".stripMargin
  }

  /** Q64b — unpivot round trip (mirrors Relational.unpivotCounts): the
    * melt of the pivot equals the plain long aggregate.
    */
  def q64bUnpivot: String =
    s"""SELECT user_id, event_type, count(*) AS n
       |FROM events GROUP BY 1, 2""".stripMargin

  /** Q65 — rank-family window functions (mirrors
    * Relational.rankFunctions): tie-stable ranks over k, ntile over
    * the (k, event_id) total order.
    */
  def q65RankFunctions: String =
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       |  FROM events
       |)
       |SELECT event_id, event_type, k,
       |  CAST(rank() OVER wt AS BIGINT) AS rnk,
       |  CAST(dense_rank() OVER wt AS BIGINT) AS drnk,
       |  percent_rank() OVER wt AS prnk,
       |  cume_dist() OVER wt AS cd,
       |  CAST(ntile(4) OVER wtot AS BIGINT) AS tile
       |FROM e
       |WINDOW wt AS (PARTITION BY event_type ORDER BY k NULLS FIRST),
       |  wtot AS (PARTITION BY event_type
       |    ORDER BY k NULLS FIRST, event_id)""".stripMargin

  /** Q66 — SCD2 validity intervals (mirrors Relational.scd2Intervals). */
  def q66Scd2: String =
    s"""SELECT user_id, event_type, epoch_us(ts) AS valid_from,
       |  lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
       |    ORDER BY epoch_us(ts), event_id) AS valid_to,
       |  event_id, value
       |FROM events""".stripMargin

  /** Q67 — fixed-width value histogram (mirrors
    * Relational.valueHistogram).
    */
  def q67Histogram(width: Double = 5.0): String =
    s"""SELECT event_type, CAST(floor(value / $width) AS BIGINT) AS bucket,
       |  count(*) AS n
       |FROM events GROUP BY 1, 2""".stripMargin

  /** Q68 — exact-decimal moment statistics (mirrors
    * Relational.momentStats): power sums as DECIMAL(18,4)-derived
    * exact aggregates, one pinned double finishing expression.
    */
  def q68MomentStats: String =
    s"""WITH e AS (
       |  SELECT event_type, CAST(value AS DECIMAL(18,4)) AS x,
       |    CAST(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)
       |      AS DECIMAL(18,4)) AS y
       |  FROM events
       |),
       |a AS (
       |  SELECT event_type, count(*) AS n,
       |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
       |    CAST(sum(x * x) AS DOUBLE) AS sxx,
       |    CAST(sum(y * y) AS DOUBLE) AS syy,
       |    CAST(sum(x * y) AS DOUBLE) AS sxy
       |  FROM e GROUP BY 1
       |)
       |SELECT event_type, n,
       |  sx / n AS mean_value,
       |  (sxx - sx * sx / n) / n AS var_value,
       |  (n * sxy - sx * sy) /
       |    nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0)
       |    AS corr_vk
       |FROM a""".stripMargin

  /** Q60 — salted skew join (mirrors Relational.saltedSegmentActivity):
    * the oracle states the PLAIN join — the salt must be invisible in
    * the result.
    */
  def q60SaltedSegments: String =
    s"""WITH pu AS (
       |  SELECT user_id, count(*) AS n_ev,
       |    sum(CAST(value AS DECIMAL(20,4))) AS sum_value
       |  FROM events GROUP BY 1
       |)
       |SELECT c.c_mktsegment AS c_mktsegment,
       |  CAST(sum(pu.n_ev) AS BIGINT) AS n_events,
       |  CAST(sum(pu.sum_value) AS DOUBLE) AS sum_value,
       |  count(*) AS n_users
       |FROM pu JOIN customer c ON pu.user_id = c.c_custkey
       |GROUP BY 1""".stripMargin

  /** Q48 — token-rarity document scoring (mirrors
    * TextAnalysis.tokenRarity): integer log2-bucketed document
    * frequencies, rarity summed over token occurrences.
    */
  def q48TokenRarity(rmax: Int = 40): String =
    s"""WITH occ AS (
       |  SELECT doc_id, unnest($tokensSql) AS token FROM documents
       |),
       |r AS (
       |  SELECT token,
       |    CAST($rmax - (len(printf('%b', count(DISTINCT doc_id))) - 1)
       |      AS BIGINT) AS rarity
       |  FROM occ GROUP BY token
       |)
       |SELECT o.doc_id, count(*) AS n_tokens,
       |  CAST(sum(r.rarity) AS BIGINT) AS rarity_sum,
       |  CAST(sum(r.rarity) AS DOUBLE) / count(*) AS mean_rarity
       |FROM occ o JOIN r USING (token)
       |GROUP BY o.doc_id""".stripMargin

  /** Q50 — sliding-window event counts (mirrors
    * StreamingOps.slidingCounts at 10-minute windows sliding by 5):
    * each event expands to its two covering epoch-aligned windows.
    */
  def q50SlidingCounts(windowMin: Int = 10, slideMin: Int = 5): String = {
    val slideUs = slideMin * 60000000L
    val nCover = windowMin / slideMin
    val ks = (0 until nCover).mkString("[", ", ", "]")
    s"""WITH x AS (
       |  SELECT event_type, epoch_us(ts) AS us FROM events
       |),
       |w AS (
       |  SELECT event_type, (us // $slideUs - k) * $slideUs AS window_start_us
       |  FROM x, unnest($ks) AS t(k)
       |)
       |SELECT event_type, window_start_us, count(*) AS n_events
       |FROM w GROUP BY 1, 2""".stripMargin
  }

  /** Q42 — FULL OUTER activity reconciliation. */
  def q42Reconcile: String =
    s"""SELECT coalesce(c.c_custkey, e.user_id) AS user_id,
       |  c.c_custkey IS NOT NULL AS is_customer,
       |  CAST(coalesce(e.n, 0) AS BIGINT) AS n_events
       |FROM customer c
       |FULL OUTER JOIN (
       |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
       |) e ON c.c_custkey = e.user_id""".stripMargin

  /** Q35 — benchmark decontamination (mirrors Pipeline.decontaminate:
    * same 3-token shingle hashes via shingleCtes, benchmark slice
    * doc_id % benchMod = 0, count of shared distinct shingles).
    */
  def q35Decontaminate(benchMod: Long = 50L, minShared: Long = 3L): String =
    s"""WITH $shingleCtes,
       |bench AS (SELECT DISTINCT h FROM shq WHERE doc_id % $benchMod = 0),
       |hits AS (
       |  SELECT s.doc_id, count(*) AS n_shared
       |  FROM shq s JOIN bench b ON s.h = b.h
       |  WHERE s.doc_id % $benchMod <> 0
       |  GROUP BY s.doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(coalesce(hh.n_shared, 0) AS BIGINT) AS n_shared,
       |  coalesce(hh.n_shared, 0) >= $minShared AS contaminated
       |FROM documents d
       |LEFT JOIN hits hh ON d.doc_id = hh.doc_id
       |WHERE d.doc_id % $benchMod <> 0""".stripMargin

  /** Q36 — deterministic quality-weighted sampling (mirrors
    * Pipeline.qualitySample: the Q18 quality score and the
    * polyHash(doc_id)-derived uniform, kept iff u < score).
    */
  def q36QualitySample(buckets: Long = 10000L): String = {
    s"""WITH $qualityCtes,
       |sc AS (
       |  SELECT doc_id,
       |    $qualityScoreSql AS quality_score,
       |    CAST(${polyHashSql("CAST(doc_id AS VARCHAR)")} % $buckets AS DOUBLE)
       |      / ${buckets}.0 AS u
       |  FROM q
       |)
       |SELECT doc_id, quality_score, u, u < quality_score AS kept
       |FROM sc""".stripMargin
  }

  /** Q52 — end-to-end curation manifest (mirrors Pipeline.curate):
    * q15 keep ∩ q18 quality ≥ τ ∩ q35 clean, labeled with the q46
    * split — all stated as one composed query.
    */
  def q52Curate(minQuality: Double = 0.55, benchMod: Long = 50L,
                minShared: Long = 3L, trainPct: Int = 80,
                valPct: Int = 10): String =
    s"""WITH $qualityCtes,
       |sc AS (SELECT doc_id, $qualityScoreSql AS quality_score FROM q),
       |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
       |$shingleCtes,
       |bench AS (SELECT DISTINCT h FROM shq WHERE doc_id % $benchMod = 0),
       |hits AS (
       |  SELECT s.doc_id, count(*) AS n_shared
       |  FROM shq s JOIN bench b ON s.h = b.h
       |  WHERE s.doc_id % $benchMod <> 0 GROUP BY s.doc_id
       |),
       |clean AS (
       |  SELECT d2.doc_id FROM documents d2
       |  LEFT JOIN hits hh ON d2.doc_id = hh.doc_id
       |  WHERE d2.doc_id % $benchMod <> 0
       |    AND coalesce(hh.n_shared, 0) < $minShared
       |),
       |sh2 AS (
       |  SELECT doc_id, lang,
       |    ${polyHashSql("CAST(doc_id AS VARCHAR)")} AS hh
       |  FROM documents
       |),
       |rr AS (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rnk,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM sh2
       |),
       |spl AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN rnk * 100 <= n * $trainPct THEN 'train'
       |         WHEN rnk * 100 <= n * ${trainPct + valPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM rr
       |)
       |SELECT k.doc_id, spl.lang, spl.split, sc.quality_score
       |FROM keep k
       |JOIN sc ON sc.doc_id = k.doc_id
       |JOIN clean c ON c.doc_id = k.doc_id
       |JOIN spl ON spl.doc_id = k.doc_id
       |WHERE sc.quality_score >= $minQuality""".stripMargin

  /** Q37 — sequence packing (mirrors Pipeline.packSequences: exclusive
    * per-source token prefix sum in doc_id order, integer chunk ids).
    * The oracle uses ONE window — the two-level bucket decomposition
    * on the Spark side is algebraically the same prefix sum.
    */
  def q37Pack(ctxLen: Long = 512L): String =
    s"""WITH d AS (
       |  SELECT source, doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tokens
       |  FROM documents
       |),
       |o AS (
       |  SELECT source, doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM d
       |)
       |SELECT source, doc_id, n_tokens, start_off,
       |  CAST(start_off // $ctxLen AS BIGINT) AS first_chunk,
       |  CAST(CASE WHEN n_tokens = 0 THEN 0
       |       ELSE (start_off + n_tokens - 1) // $ctxLen
       |            - start_off // $ctxLen + 1 END AS BIGINT) AS n_chunks
       |FROM o""".stripMargin

  /** Q38 — duplicate clusters (mirrors Dedup.dupClusters): connected
    * components over the Q15c MinHash pairs at est_jaccard ≥ minJ.
    * The recursive CTE computes min-reachable-id per node — the same
    * fixpoint the Spark label propagation converges to.
    */
  def q38DupClusters(minJaccard: Double = 0.5): String = {
    s"""WITH RECURSIVE $shingleCtes,
       |$minhashCtes,
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b
       |  WHERE CAST($minhashMatchSql AS DOUBLE) / 16.0 >= ${dlit(minJaccard)}
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |),
       |reach AS (
       |  SELECT DISTINCT src AS node, src AS label FROM edges
       |  UNION
       |  SELECT e.dst AS node, r.label AS label
       |  FROM reach r JOIN edges e ON e.src = r.node
       |)
       |SELECT node AS doc_id, min(label) AS cluster_id
       |FROM reach GROUP BY node""".stripMargin
  }

  /** Q106 — dedup decision table (mirrors Dedup.dedupDecisions):
    * the Q38 clusters left-joined onto the corpus.
    */
  def q106DedupDecisions(minJaccard: Double = 0.5): String =
    s"""WITH cl AS (SELECT * FROM (${q38DupClusters(minJaccard)}) c)
       |SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
       |  (d.doc_id = coalesce(cl.cluster_id, d.doc_id)) AS keep
       |FROM documents d LEFT JOIN cl USING (doc_id)""".stripMargin

  /** Q39 — shard-writer round-trip summary (mirrors
    * Pipeline.writeShards membership arithmetic directly — the Spark
    * side answers from the files it wrote).
    */
  def q39Shards(nShards: Int = 8): String =
    s"""SELECT ${polyHashSql("CAST(doc_id AS VARCHAR)")} % $nShards AS shard,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM documents
       |GROUP BY 1""".stripMargin

  /** Q40 — heavy-hitter tokens (exact regime: dev k exceeds the
    * corpus vocabulary, so MG counts equal exact counts; ties broken
    * (count desc, token asc) in both engines).
    */
  def q40HeavyHitters(m: Int = 5): String =
    s"""WITH tc AS (
       |  SELECT source, token, count(*) AS cnt
       |  FROM (
       |    SELECT source, unnest($tokensSql) AS token FROM documents
       |  )
       |  GROUP BY source, token
       |)
       |SELECT source, token, cnt,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY cnt DESC, token) AS BIGINT) AS rnk
       |FROM tc
       |QUALIFY rnk <= $m""".stripMargin

  /** Q41 — deterministic per-source sample: the m smallest
    * polyHash(doc_id) per source (mirrors Pipeline.groupSample).
    */
  def q41GroupSample(m: Int = 10): String =
    s"""WITH h AS (
       |  SELECT source, doc_id,
       |    ${polyHashSql("CAST(doc_id AS VARCHAR)")} AS hh
       |  FROM documents
       |)
       |SELECT source, doc_id,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY hh, doc_id) AS BIGINT) AS rnk
       |FROM h
       |QUALIFY rnk <= $m""".stripMargin

  /** Q30 — per-label centroid cosine (mirrors
    * Similarity.labelCentroids; parity is rounding-level — see the
    * operator's Scaladoc — which the driver's 6-decimal float
    * canonicalization absorbs).
    */
  /** Q44 — followers-within-window range join (mirrors
    * Relational.followerCounts). The oracle states the semantics as the
    * naive inequality join; the engine's bucketed equi-join rewrite
    * must produce the identical counts. Pure integer micros arithmetic.
    */
  def q44FollowerCounts(windowSec: Int = 300): String =
    s"""SELECT e.event_id AS event_id,
       |  count(CASE WHEN epoch_us(f.ts) > epoch_us(e.ts)
       |              AND epoch_us(f.ts) <= epoch_us(e.ts) + ${windowSec}000000
       |             THEN 1 END) AS n_follow
       |FROM events e
       |LEFT JOIN events f ON f.user_id = e.user_id
       |GROUP BY e.event_id""".stripMargin

  /** Q46 — exact stratified split (mirrors Pipeline.stratifiedSplit):
    * the oracle states the semantics directly as a per-stratum
    * row_number over (hash, doc_id); the engine's bucketed two-level
    * prefix-sum must assign identically.
    */
  def q46StratifiedSplit(trainPct: Int = 80, valPct: Int = 10): String =
    s"""WITH h AS (
       |  SELECT doc_id, lang,
       |    ${polyHashSql("CAST(doc_id AS VARCHAR)")} AS hh
       |  FROM documents
       |),
       |r AS (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rnk,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM h
       |)
       |SELECT doc_id, lang,
       |  CASE WHEN rnk * 100 <= n * $trainPct THEN 'train'
       |       WHEN rnk * 100 <= n * ${trainPct + valPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM r""".stripMargin

  /** Q125 — leakage-safe fit/transform (mirrors Pipeline.fitTransform):
    * q46's split CTEs, train-only decimal sufficient statistics, the
    * identical pinned z expression.
    */
  def q125FitTransform(trainPct: Int = 80, valPct: Int = 10): String =
    s"""WITH h AS (
       |  SELECT doc_id, lang,
       |    ${polyHashSql("CAST(doc_id AS VARCHAR)")} AS hh
       |  FROM documents
       |),
       |r AS (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rnk,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM h
       |),
       |splits AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN rnk * 100 <= n * $trainPct THEN 'train'
       |         WHEN rnk * 100 <= n * ${trainPct + valPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM r
       |),
       |j AS (
       |  SELECT s.doc_id, s.lang, s.split, d.n_chars
       |  FROM splits s JOIN documents d USING (doc_id)
       |),
       |st AS (
       |  SELECT lang, count(*) AS n_train,
       |    CAST(sum(CAST(n_chars AS DECIMAL(20,4))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(n_chars AS DECIMAL(20,4)) *
       |      CAST(n_chars AS DECIMAL(20,4))) AS DOUBLE) AS sxx
       |  FROM j WHERE split = 'train' GROUP BY 1
       |),
       |f AS (
       |  SELECT lang, sx / n_train AS mu,
       |    sqrt((sxx - sx * sx / n_train) / n_train) AS sigma
       |  FROM st
       |)
       |SELECT j.doc_id, j.lang, j.split, j.n_chars,
       |  (j.n_chars - f.mu) / nullif(f.sigma, 0) AS z
       |FROM j JOIN f USING (lang)""".stripMargin

  /** Q47 — event-rate spike detection (mirrors Relational.rateSpikes):
    * RANGE frame over the integer minute index, integer
    * cross-multiplied spike test.
    */
  def q47RateSpikes(trailMinutes: Int = 5, factor: Int = 3): String =
    s"""WITH m AS (
       |  SELECT event_type, epoch_us(ts) // 60000000 AS minute,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2
       |),
       |w AS (
       |  SELECT event_type, minute, n,
       |    CAST(coalesce(sum(n) OVER (PARTITION BY event_type ORDER BY minute
       |      RANGE BETWEEN $trailMinutes PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS trail_n,
       |    count(*) OVER (PARTITION BY event_type ORDER BY minute
       |      RANGE BETWEEN $trailMinutes PRECEDING AND 1 PRECEDING) AS obs
       |  FROM m
       |)
       |SELECT event_type, minute * 60000000 AS minute_us, n, trail_n,
       |  (obs = $trailMinutes AND n * $trailMinutes > trail_n * $factor) AS spike
       |FROM w""".stripMargin

  /** Q49 — int8-quantized brute-force top-k (mirrors
    * Similarity.quantizedTopK): symmetric per-vector quantization,
    * integer dot-product ranking.
    */
  def q49QuantizedTopK(k: Int = 10, dim: Int = 64): String = {
    val terms = (1 to dim).map(i => s"p.pq[$i] * q.qv[$i]").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |m AS MATERIALIZED (
       |  SELECT vec_id, de, list_max(list_transform(de, x -> abs(x))) AS ma
       |  FROM e
       |),
       |q AS (
       |  SELECT vec_id,
       |    list_transform(de, x -> CAST(round(
       |      CASE WHEN ma = 0 THEN 0.0 ELSE x * 127.0 / ma END) AS BIGINT)) AS qv
       |  FROM m
       |),
       |p AS (SELECT vec_id AS probe_id, qv AS pq FROM q WHERE vec_id < 3),
       |d AS (
       |  SELECT p.probe_id, q.vec_id, CAST($terms AS BIGINT) AS qdot
       |  FROM p CROSS JOIN q WHERE q.vec_id <> p.probe_id
       |),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY qdot DESC, vec_id) AS rnk
       |  FROM d
       |)
       |SELECT probe_id, vec_id, qdot, rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  /** Q45 — semantic dedup (mirrors Similarity.semanticDedup): same
    * coarse-quantizer assignment CTEs as q16c, then within-cluster
    * pairs with cosine ≥ tau drop the larger vec_id.
    */
  def q45SemanticDedup(nCentroids: Int = 8, tau: Double = 0.35,
                       dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |cent AS (SELECT vec_id AS cid, de AS ce FROM e WHERE vec_id < $nCentroids),
       |sims AS (
       |  SELECT e.vec_id, e.de, c.cid, ${cosSql("e.de", "c.ce", dim)} AS csim
       |  FROM e CROSS JOIN cent c
       |),
       |asg AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crk
       |  FROM sims
       |),
       |lists AS (SELECT vec_id, de, cid AS cluster FROM asg WHERE crk = 1),
       |dups AS (
       |  SELECT DISTINCT b.vec_id AS dup_id
       |  FROM lists a JOIN lists b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.de", "b.de", dim)} >= $tau
       |)
       |SELECT l.vec_id, l.cluster, (d.dup_id IS NULL) AS kept
       |FROM lists l LEFT JOIN dups d ON d.dup_id = l.vec_id""".stripMargin

  def q30LabelCentroids(dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |x AS (
       |  SELECT vec_id, label, d AS dim, de[d] AS v
       |  FROM e, unnest(range(1, ${dim + 1})) AS t(d)
       |),
       |c AS (SELECT label, dim, avg(v) AS c FROM x GROUP BY label, dim),
       |j AS (
       |  SELECT x.vec_id, x.label,
       |    sum(x.v * c.c) AS dot, sum(x.v * x.v) AS nv, sum(c.c * c.c) AS nc
       |  FROM x JOIN c ON c.label = x.label AND c.dim = x.dim
       |  GROUP BY x.vec_id, x.label
       |)
       |SELECT vec_id, label, dot / (sqrt(nv) * sqrt(nc)) AS sim_centroid
       |FROM j""".stripMargin

  /** Q180 — cross-label margin audit (mirrors
    * Similarity.labelMargins): per-(vec, label) cosine quantized to
    * DECIMAL(18,12) before the other-label argmax, margin of
    * quantized doubles, suspect flag.
    */
  def q180LabelMargins(dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |x AS (
       |  SELECT vec_id, label, d AS dim, de[d] AS v
       |  FROM e, unnest(range(1, ${dim + 1})) AS t(d)
       |),
       |c AS (SELECT label AS clabel, dim, avg(v) AS c FROM x GROUP BY 1, 2),
       |j AS (
       |  SELECT x.vec_id, x.label, c.clabel,
       |    CAST(sum(x.v * c.c) / (sqrt(sum(x.v * x.v)) * sqrt(sum(c.c * c.c)))
       |      AS DECIMAL(18,12)) AS simq
       |  FROM x JOIN c ON c.dim = x.dim
       |  GROUP BY 1, 2, 3
       |),
       |oth AS (
       |  SELECT vec_id, clabel AS best_other_label,
       |    CAST(simq AS DOUBLE) AS best_other_sim
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY simq DESC, clabel) AS rk
       |    FROM j WHERE clabel <> label
       |  ) WHERE rk = 1
       |)
       |SELECT o.vec_id, o.label, CAST(o.simq AS DOUBLE) AS own_sim,
       |  t.best_other_label, t.best_other_sim,
       |  CAST(o.simq AS DOUBLE) - t.best_other_sim AS margin,
       |  CAST(CASE WHEN CAST(o.simq AS DOUBLE) - t.best_other_sim < 0
       |    THEN 1 ELSE 0 END AS BIGINT) AS suspect
       |FROM j o JOIN oth t ON o.vec_id = t.vec_id
       |WHERE o.clabel = o.label""".stripMargin

  /** Q69 — peak concurrent sessions per day (mirrors
    * Relational.peakConcurrency): lag/cumsum sessions with the Q24 gap
    * rule, intervals exploded to day indexes and clipped, per-day
    * sweep; active-at-t = cum + ends for closed intervals.
    */
  def q69PeakConcurrency(gapMinutes: Int = 30): String = {
    val dayUs = 86400000000L
    val gapUs = gapMinutes * 60000000L
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) AS t_us, event_id FROM events
       |),
       |m AS MATERIALIZED (
       |  SELECT user_id, t_us, event_id,
       |    CASE WHEN t_us - lag(t_us) OVER (
       |        PARTITION BY user_id ORDER BY t_us, event_id) < $gapUs
       |      THEN 0 ELSE 1 END AS new_s
       |  FROM ev
       |),
       |ms AS (
       |  SELECT user_id, t_us,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM m
       |),
       |sess AS (
       |  SELECT user_id, sid, min(t_us) AS t0, max(t_us) AS t1
       |  FROM ms GROUP BY 1, 2
       |),
       |clipped AS (
       |  SELECT d.day,
       |    greatest(t0, d.day * $dayUs) AS ts_s,
       |    least(t1, (d.day + 1) * $dayUs - 1) AS ts_e
       |  FROM sess, unnest(generate_series(t0 // $dayUs, t1 // $dayUs)) AS d(day)
       |),
       |deltas AS (
       |  SELECT day, tt, sum(ds) AS starts, sum(de) AS ends FROM (
       |    SELECT day, ts_s AS tt, 1 AS ds, 0 AS de FROM clipped
       |    UNION ALL
       |    SELECT day, ts_e AS tt, 0 AS ds, 1 AS de FROM clipped
       |  ) GROUP BY 1, 2
       |),
       |sweep AS (
       |  SELECT day, starts, ends,
       |    sum(starts - ends) OVER (PARTITION BY day ORDER BY tt
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + ends
       |      AS active
       |  FROM deltas
       |)
       |SELECT day, CAST(sum(starts) AS BIGINT) AS n_sessions,
       |  CAST(max(active) AS BIGINT) AS peak_concurrency
       |FROM sweep GROUP BY 1""".stripMargin
  }

  /** Q70 — Levenshtein near-dup pairs (mirrors
    * Dedup.editDistancePairs): same (lang, length-band) blocking,
    * same prefix, unit-cost DP distance in both engines.
    */
  def q70EditDistance(maxDist: Int = 16, prefixLen: Int = 96,
                      band: Int = 16): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, n_chars, substr(text, 1, $prefixLen) AS pfx,
       |    n_chars // $band AS bkt
       |  FROM documents
       |)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(levenshtein(x.pfx, y.pfx) AS BIGINT) AS dist
       |FROM d x JOIN d y
       |  ON x.lang = y.lang AND x.bkt = y.bkt AND x.doc_id < y.doc_id
       |  AND abs(x.n_chars - y.n_chars) <= $maxDist
       |WHERE levenshtein(x.pfx, y.pfx) <= $maxDist""".stripMargin

  /** Q158 — mirrors Pipeline.dsirWeights: 2-token span hashes folded
    * into the fixed bucket space, integer-log2 target/corpus weight
    * per bucket, per-doc occurrence-weighted sum.
    */
  def q158DsirWeights(targetSource: String = "src0",
                      buckets: Int = 8192): String =
    s"""WITH $tokenHashCtes,
       |sp AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(th) >= 2
       |         THEN list_transform(range(1, len(th)), i -> ${spanFoldSql(2)})
       |         ELSE [] END) AS h
       |  FROM thc
       |),
       |occ AS (
       |  SELECT s2.doc_id, d.source, s2.h % $buckets AS f
       |  FROM sp s2 JOIN documents d ON d.doc_id = s2.doc_id
       |),
       |ca AS (SELECT f, count(*) AS c_all FROM occ GROUP BY 1),
       |ct AS (
       |  SELECT f, count(*) AS c_tgt FROM occ
       |  WHERE source = '$targetSource' GROUP BY 1
       |),
       |wt AS (
       |  SELECT ca.f,
       |    CAST(coalesce(len(printf('%b', ct.c_tgt)), 0)
       |      - len(printf('%b', ca.c_all)) AS BIGINT) AS w
       |  FROM ca LEFT JOIN ct USING (f)
       |)
       |SELECT o.doc_id, count(*) AS n_feats,
       |  CAST(sum(w.w) AS BIGINT) AS dsir_score
       |FROM occ o JOIN wt w USING (f)
       |GROUP BY o.doc_id""".stripMargin

  /** Q160 — mirrors Relational.lateralTopSpenders: the identical
    * LATERAL SQL (DuckDB evaluates it directly).
    */
  def q160LateralTopSpenders(k: Int = 2): String =
    s"""SELECT n.n_name, t.c_custkey, t.c_acctbal
       |FROM nation n,
       |LATERAL (
       |  SELECT c_custkey, c_acctbal FROM customer c
       |  WHERE c.c_nationkey = n.n_nationkey
       |  ORDER BY c_acctbal DESC, c_custkey LIMIT $k
       |) t""".stripMargin

  /** Q155 — mirrors Relational.eventPivot: the per-day event-type
    * matrix; PIVOT stated as conditional counts (the same program
    * Catalyst compiles the pivot to).
    */
  def q155EventPivot: String = {
    val cols = graft.operators.Relational.EventTypes
      .map(tp => s"CAST(count(*) FILTER (WHERE event_type = '$tp') " +
        s"AS BIGINT) AS $tp")
      .mkString(",\n       |  ")
    s"""WITH e AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day, event_type FROM events
       |)
       |SELECT day,
       |  $cols
       |FROM e GROUP BY day""".stripMargin
  }

  /** Q156 — mirrors Relational.lineitemUnpivot: the melt stated as a
    * UNION ALL rotation (same rows the Expand produces).
    */
  def q156LineitemUnpivot: String =
    s"""WITH m AS (
       |  SELECT l_orderkey,
       |    CAST(l_quantity AS DECIMAL(20,4)) AS quantity,
       |    CAST(l_extendedprice AS DECIMAL(20,4)) AS extendedprice,
       |    CAST(l_extendedprice AS DECIMAL(20,4))
       |      * CAST(l_discount AS DECIMAL(20,4)) AS discount_amount
       |  FROM lineitem
       |),
       |u AS (
       |  SELECT 'quantity' AS metric, CAST(quantity AS DECIMAL(38,8)) AS v FROM m
       |  UNION ALL
       |  SELECT 'extendedprice', CAST(extendedprice AS DECIMAL(38,8)) FROM m
       |  UNION ALL
       |  SELECT 'discount_amount', CAST(discount_amount AS DECIMAL(38,8)) FROM m
       |)
       |SELECT metric, count(*) AS n,
       |  CAST(sum(v) AS DOUBLE) AS sum_v,
       |  CAST(max(v) AS DOUBLE) AS max_v
       |FROM u GROUP BY metric""".stripMargin

  /** Q157 — mirrors Relational.spendQuartiles: per-segment ntile(4)
    * spend quartiles on the (spend desc, custkey) total order.
    */
  def q157SpendQuartiles: String =
    s"""WITH spend AS (
       |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(20,4))) AS spend
       |  FROM orders GROUP BY 1
       |),
       |j AS (
       |  SELECT s.o_custkey, c.c_mktsegment, s.spend
       |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
       |),
       |q AS (
       |  SELECT c_mktsegment,
       |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment
       |      ORDER BY spend DESC, o_custkey) AS BIGINT) AS quartile,
       |    spend
       |  FROM j
       |)
       |SELECT c_mktsegment, quartile, count(*) AS n_customers,
       |  CAST(sum(spend) AS DOUBLE) AS segment_spend
       |FROM q GROUP BY 1, 2""".stripMargin

  /** Q154 — mirrors Dedup.editDistancePairsAuto: Q70 without the
    * (band-implied, redundant) manual length prefilter — the Spark
    * side gets it injected by the EditDistancePrefilter rule.
    */
  def q154EditDistanceRule(maxDist: Int = 16, prefixLen: Int = 96,
                           band: Int = 16): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, substr(text, 1, $prefixLen) AS pfx,
       |    n_chars // $band AS bkt
       |  FROM documents
       |)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(levenshtein(x.pfx, y.pfx) AS BIGINT) AS dist
       |FROM d x JOIN d y
       |  ON x.lang = y.lang AND x.bkt = y.bkt AND x.doc_id < y.doc_id
       |WHERE levenshtein(x.pfx, y.pfx) <= $maxDist""".stripMargin

  /** Q71 — vocab + OOV rate (mirrors TextAnalysis.vocabOov): top-v
    * tokens by (count desc, token), per-doc out-of-vocab fraction as
    * an exact integer ratio.
    */
  def q71VocabOov(v: Int = 256): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($tokensSql) AS token FROM documents
       |),
       |tc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
       |vocab AS (SELECT token FROM tc ORDER BY cnt DESC, token LIMIT $v)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov,
       |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS oov_rate
       |FROM tok LEFT JOIN vocab v USING (token)
       |GROUP BY doc_id""".stripMargin

  /** Q73 — user growth (mirrors Relational.userGrowth): first-seen
    * day per user, daily actives, integer running cumulative.
    */
  def q73UserGrowth: String =
    s"""WITH active AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
       |  FROM events
       |),
       |fd AS (SELECT user_id, min(day) AS first_day FROM active GROUP BY 1),
       |np AS (SELECT first_day AS day, count(*) AS n_new FROM fd GROUP BY 1),
       |dau AS (SELECT day, count(*) AS n_active FROM active GROUP BY 1)
       |SELECT dau.day, dau.n_active,
       |  coalesce(np.n_new, 0) AS n_new,
       |  dau.n_active - coalesce(np.n_new, 0) AS n_returning,
       |  CAST(sum(coalesce(np.n_new, 0)) OVER (ORDER BY dau.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_users
       |FROM dau LEFT JOIN np ON np.day = dau.day""".stripMargin

  /** Q74 — conversion funnel (mirrors Relational.funnel): chained
    * conditional min-time aggregates, strictly ordered stages.
    */
  def q74Funnel: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
       |),
       |s1 AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'signup' THEN t_us END) AS t1
       |  FROM e GROUP BY 1 HAVING t1 IS NOT NULL
       |),
       |s2 AS (
       |  SELECT e.user_id, t1,
       |    min(CASE WHEN event_type = 'click' AND t_us > t1
       |      THEN t_us END) AS t2
       |  FROM e JOIN s1 USING (user_id) GROUP BY 1, 2
       |),
       |s3 AS (
       |  SELECT e.user_id, t1, t2,
       |    min(CASE WHEN event_type = 'purchase' AND t_us > t2
       |      THEN t_us END) AS t3
       |  FROM e JOIN s2 USING (user_id) GROUP BY 1, 2, 3
       |)
       |SELECT t1 // 86400000000 AS cohort_day,
       |  count(*) AS n_signup, count(t2) AS n_click,
       |  count(t3) AS n_purchase
       |FROM s3 GROUP BY 1""".stripMargin

  /** Q75 — retention cohorts (mirrors Relational.retentionCohorts). */
  def q75Retention: String =
    s"""WITH active AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
       |  FROM events
       |),
       |fd AS (SELECT user_id, min(day) AS cohort_day FROM active GROUP BY 1)
       |SELECT cohort_day, day - cohort_day AS day_offset,
       |  count(*) AS n_active
       |FROM active JOIN fd USING (user_id)
       |GROUP BY 1, 2""".stripMargin

  /** Q90 — ANN recall@k (mirrors Similarity.annRecall): the two
    * existing top-k pipelines as subqueries, semi-join intersection,
    * zero-hit probes preserved.
    */
  def q90AnnRecall(k: Int = 5): String =
    s"""WITH truth AS (
       |  SELECT probe_id, vec_id FROM (${q16CosineTopK(k = k)}) t
       |),
       |approx AS (
       |  SELECT probe_id, vec_id FROM (${q16cIvfTopK(k = k)}) a
       |),
       |hits AS (
       |  SELECT t.probe_id, count(*) AS n_hit
       |  FROM truth t JOIN approx x
       |    ON x.probe_id = t.probe_id AND x.vec_id = t.vec_id
       |  GROUP BY 1
       |)
       |SELECT p.probe_id, coalesce(h.n_hit, 0) AS n_hit,
       |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / $k AS recall
       |FROM (SELECT DISTINCT probe_id FROM truth) p
       |LEFT JOIN hits h USING (probe_id)""".stripMargin

  /** Q91 — explicit GROUPING SETS (mirrors
    * Relational.groupingSetsCounts): gid reconstructed from
    * GROUPING() bits, first-listed column = MSB.
    */
  def q91GroupingSets: String =
    s"""SELECT event_type, day, count(*) AS n_events,
       |  CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gid
       |FROM (
       |  SELECT event_type,
       |    strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day
       |  FROM events
       |)
       |GROUP BY GROUPING SETS ((event_type), (day), ())""".stripMargin

  /** Q92 — as-of with tolerance (mirrors AsofJoin.prevClickWithin):
    * the Q23 result with stale matches nulled.
    */
  def q92AsofTolerance(tolUs: Long = 600000000L): String =
    s"""WITH b AS (
       |  SELECT * FROM (${q23AsofPrevClick}) q
       |)
       |SELECT event_id, user_id, tsn,
       |  CASE WHEN prev_click_tsn IS NOT NULL
       |        AND tsn - prev_click_tsn <= $tolUs
       |    THEN prev_click_value END AS prev_click_value,
       |  CASE WHEN prev_click_tsn IS NOT NULL
       |        AND tsn - prev_click_tsn <= $tolUs
       |    THEN prev_click_tsn END AS prev_click_tsn
       |FROM b""".stripMargin

  /** Q93 — column stats (mirrors Relational.columnStats): one
    * aggregate CTE, per-column rows stacked from it.
    */
  def q93ColumnStats: String = {
    val cols = Seq("event_id" -> true, "t_us" -> true, "user_id" -> true,
      "event_type" -> false, "value" -> true, "props" -> false)
    val aggs = "count(*) AS n" +: cols.flatMap { case (c, num) =>
      Seq(s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_nulls",
        s"count(DISTINCT $c) AS ${c}_ndv") ++
        (if (num) Seq(s"CAST(min($c) AS DOUBLE) AS ${c}_min",
          s"CAST(max($c) AS DOUBLE) AS ${c}_max")
        else Seq.empty)
    }
    val stacks = cols.map { case (c, num) =>
      val mn = if (num) s"${c}_min" else "CAST(NULL AS DOUBLE)"
      val mx = if (num) s"${c}_max" else "CAST(NULL AS DOUBLE)"
      s"""SELECT '$c' AS col_name, n, ${c}_nulls AS n_null,
         |  ${c}_ndv AS ndv, $mn AS min_d, $mx AS max_d FROM one""".stripMargin
    }
    s"""WITH base AS (
       |  SELECT event_id, epoch_us(ts) AS t_us, user_id, event_type,
       |    value, props
       |  FROM events
       |),
       |one AS (
       |  SELECT ${aggs.mkString(",\n    ")}
       |  FROM base
       |)
       |${stacks.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Q93b — KMV-NDV column stats (mirrors Relational.columnStatsKmv):
    * the q26 sorted-distinct replay per stacked column, doubles
    * quantized to DECIMAL(18,6) strings before hashing, exact
    * n/null/min/max stacked from the single aggregate.
    */
  def q93bColumnStatsKmv(k: Int = 64, space: Long = 1000000007L): String = {
    val cols = Seq("event_id" -> true, "t_us" -> true, "user_id" -> true,
      "event_type" -> false, "value" -> true, "props" -> false)
    val aggs = "count(*) AS n" +: cols.flatMap { case (c, num) =>
      Seq(s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_nulls") ++
        (if (num) Seq(s"CAST(min($c) AS DOUBLE) AS ${c}_min",
          s"CAST(max($c) AS DOUBLE) AS ${c}_max")
        else Seq.empty)
    }
    val stacks = cols.map { case (c, num) =>
      val mn = if (num) s"${c}_min" else "CAST(NULL AS DOUBLE)"
      val mx = if (num) s"${c}_max" else "CAST(NULL AS DOUBLE)"
      s"""SELECT '$c' AS col_name, n, ${c}_nulls AS n_null,
         |  $mn AS min_d, $mx AS max_d FROM one""".stripMargin
    }
    val svs = cols.map { case (c, _) =>
      val render =
        if (c == "value") s"CAST(CAST($c AS DECIMAL(18,6)) AS VARCHAR)"
        else if (c == "event_type" || c == "props") c
        else s"CAST($c AS VARCHAR)"
      s"SELECT '$c' AS col_name, $render AS sv FROM base"
    }
    s"""WITH base AS (
       |  SELECT event_id, epoch_us(ts) AS t_us, user_id, event_type,
       |    value, props
       |  FROM events
       |),
       |one AS (
       |  SELECT ${aggs.mkString(",\n    ")}
       |  FROM base
       |),
       |sv AS (
       |${svs.mkString("\nUNION ALL\n")}
       |),
       |th AS (
       |  SELECT DISTINCT col_name, ${polyHashSql("sv")} AS h
       |  FROM sv WHERE sv IS NOT NULL
       |),
       |rk AS (
       |  SELECT col_name, h,
       |    row_number() OVER (PARTITION BY col_name ORDER BY h) AS r
       |  FROM th
       |),
       |est AS (
       |  SELECT col_name, count(*) AS nd,
       |    max(CASE WHEN r = $k THEN h END) AS kth
       |  FROM rk WHERE r <= $k GROUP BY 1
       |),
       |ex AS (
       |${stacks.mkString("\nUNION ALL\n")}
       |)
       |SELECT ex.col_name, ex.n, ex.n_null,
       |  CASE WHEN nd < $k THEN CAST(nd AS DOUBLE)
       |       ELSE CAST(${k - 1} AS DOUBLE) * CAST($space AS DOUBLE)
       |            / CAST(kth AS DOUBLE)
       |  END AS est_ndv,
       |  ex.min_d, ex.max_d
       |FROM ex JOIN est USING (col_name)""".stripMargin
  }

  private def cmHashRowsSql(d: Int): String =
    graft.operators.Sketches.cmHashRows(d)
      .map { case (j, a, b) => s"($j, $a, $b)" }
      .mkString("(VALUES ", ", ", ") AS hr(j, a, b)")

  /** Q107 — Count-Min frequency estimation (mirrors
    * Sketches.cmFrequency): exact user counts, d×w counter matrix
    * from integer affine hashes, min-over-rows estimates for the
    * top-k users. Every counter is an exact integer sum — parity is
    * bitwise.
    */
  def q107CmSketch(d: Int = 4, w: Int = 256, topK: Int = 20): String =
    s"""WITH exact AS (
       |  SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
       |),
       |hr AS (SELECT * FROM ${cmHashRowsSql(d)}),
       |counters AS (
       |  SELECT j, ((a * user_id + b) % ${graft.functions.TextHash.P}) % $w AS bucket,
       |    CAST(sum(exact_n) AS BIGINT) AS cnt
       |  FROM exact CROSS JOIN hr GROUP BY 1, 2
       |),
       |probes AS (
       |  SELECT user_id, exact_n FROM exact
       |  ORDER BY exact_n DESC, user_id LIMIT $topK
       |),
       |lk AS (
       |  SELECT user_id, exact_n, j,
       |    ((a * user_id + b) % ${graft.functions.TextHash.P}) % $w AS bucket
       |  FROM probes CROSS JOIN hr
       |)
       |SELECT lk.user_id, lk.exact_n,
       |  min(c.cnt) AS est_n,
       |  min(c.cnt) - lk.exact_n AS overcount
       |FROM lk JOIN counters c ON c.j = lk.j AND c.bucket = lk.bucket
       |GROUP BY 1, 2""".stripMargin

  /** Q108 — Bloom semi-join pruning audit (mirrors
    * Sketches.bloomPruneAudit): occupied-bit set from the selective
    * key side, all-k-positions membership test on the fact side,
    * survivor/true-match/false-positive counts. Integer-exact.
    */
  def q108BloomPrune(nation: String = "NATION_7", m: Int = 8192,
                     k: Int = 3): String =
    s"""WITH keys AS (
       |  SELECT s_suppkey AS key
       |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name = '$nation'
       |),
       |hr AS (SELECT * FROM ${cmHashRowsSql(k)}),
       |bits AS (
       |  SELECT DISTINCT ((a * key + b) % ${graft.functions.TextHash.P}) % $m AS bit
       |  FROM keys CROSS JOIN hr
       |),
       |sk AS (SELECT DISTINCT l_suppkey FROM lineitem),
       |skp AS (
       |  SELECT l_suppkey,
       |    ((a * l_suppkey + b) % ${graft.functions.TextHash.P}) % $m AS bit
       |  FROM sk CROSS JOIN hr
       |),
       |passkeys AS (
       |  SELECT l_suppkey
       |  FROM skp JOIN bits USING (bit)
       |  GROUP BY l_suppkey
       |  HAVING count(*) = $k
       |)
       |SELECT
       |  (SELECT count(*) FROM lineitem) AS n_fact,
       |  (SELECT count(*) FROM lineitem
       |   WHERE l_suppkey IN (SELECT l_suppkey FROM passkeys))
       |    AS n_bloom_pass,
       |  (SELECT count(*) FROM lineitem
       |   WHERE l_suppkey IN (SELECT key FROM keys)) AS n_true_match,
       |  (SELECT count(*) FROM lineitem
       |   WHERE l_suppkey IN (SELECT l_suppkey FROM passkeys)) -
       |  (SELECT count(*) FROM lineitem
       |   WHERE l_suppkey IN (SELECT key FROM keys)) AS n_false_pos""".stripMargin

  /** Q109 — cross-document duplicated-span stats (mirrors
    * Dedup.dupSpans): w-token window hashes via the shared token-hash
    * CTEs + unrolled span fold; per-(doc, span) pre-aggregate, then
    * distinct-doc counts, then per-doc totals. Counts are integer;
    * dup_frac is int/int division — bitwise engine parity.
    */
  def q109DupSpans(w: Int = 8, minDocs: Int = 2): String =
    s"""WITH $tokenHashCtes,
       |spans AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(th) >= $w
       |         THEN list_transform(range(1, len(th) - ${w - 2}), i -> ${spanFoldSql(w)})
       |         ELSE [] END) AS sh
       |  FROM thc
       |),
       |perdoc AS (SELECT doc_id, sh, count(*) AS c FROM spans GROUP BY 1, 2),
       |byspan AS (SELECT sh, count(*) AS ndocs FROM perdoc GROUP BY 1),
       |agg AS (
       |  SELECT p.doc_id,
       |    CAST(sum(p.c) AS BIGINT) AS n_spans,
       |    CAST(sum(CASE WHEN b.ndocs >= $minDocs THEN p.c ELSE 0 END)
       |      AS BIGINT) AS dup_spans
       |  FROM perdoc p JOIN byspan b USING (sh) GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  coalesce(a.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |  coalesce(a.dup_spans, CAST(0 AS BIGINT)) AS dup_spans,
       |  CAST(coalesce(a.dup_spans, 0) AS DOUBLE) /
       |    CAST(nullif(coalesce(a.n_spans, 0), 0) AS DOUBLE) AS dup_frac
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** Q278 — duplicated-span removal (mirrors Dedup.spanScrub): span
    * hashes WITH positions via the shared token-hash CTEs + unrolled
    * span fold; one h-window ranks occurrences (first by (doc_id,
    * pos) survives); dense-position coverage via a w-row trailing
    * max; cleaned text rebuilt with ordered string_agg (NULL-skipped
    * covered tokens), single-space joined — byte-identical to the
    * Spark concat_ws over the kept-token filter.
    */
  def q278SpanScrub(w: Int = 8): String =
    s"""WITH $tokenHashCtes,
       |sp AS MATERIALIZED (
       |  SELECT doc_id, CAST(t.i AS BIGINT) AS pos, ${spanFoldSql(w)} AS h
       |  FROM thc, unnest(range(1, len(th) - ${w - 2})) AS t(i)
       |),
       |rkd AS (
       |  SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY h) AS occ,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
       |  FROM sp
       |),
       |rm AS MATERIALIZED (
       |  SELECT doc_id, pos FROM rkd WHERE occ >= 2 AND rk > 1
       |),
       |${scrubTailSql("toks", w)}""".stripMargin

  /** Q282 — incremental span scrub (mirrors Dedup.spanScrubIngest):
    * the q204 'inc:' scramble membership splits the corpus; the
    * existing shard collapses to a DISTINCT span-hash index; incoming
    * occurrences are removed on an index hit or by the q278
    * first-occurrence window over the index-missing remainder; the
    * shared scrub tail rebuilds incoming text only.
    */
  def q282SpanScrubIngest(w: Int = 8, modN: Int = 5): String = {
    s"""WITH $tokenHashCtes,
       |${incomingFlagCtes(modN)},
       |itoks AS (
       |  SELECT t.doc_id, t.tk FROM toks t JOIN fl USING (doc_id)
       |  WHERE incoming
       |),
       |sp AS MATERIALIZED (
       |  SELECT z.doc_id, CAST(t.i AS BIGINT) AS pos, ${spanFoldSql(w)} AS h,
       |    z.incoming
       |  FROM (SELECT thc.doc_id, th, incoming
       |        FROM thc JOIN fl USING (doc_id)) z,
       |    unnest(range(1, len(th) - ${w - 2})) AS t(i)
       |),
       |idx AS MATERIALIZED (SELECT DISTINCT h FROM sp WHERE NOT incoming),
       |isp AS MATERIALIZED (
       |  SELECT doc_id, pos, h FROM sp WHERE incoming
       |),
       |rin AS (SELECT i.doc_id, i.pos FROM isp i JOIN idx USING (h)),
       |rdup AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |      count(*) OVER (PARTITION BY h) AS occ,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
       |    FROM isp WHERE h NOT IN (SELECT h FROM idx)
       |  ) WHERE occ >= 2 AND rk > 1
       |),
       |rm AS MATERIALIZED (
       |  SELECT * FROM rin UNION ALL SELECT * FROM rdup
       |),
       |${scrubTailSql("itoks", w)}""".stripMargin
  }

  /** Q286 — span-index refresh audit (mirrors Dedup.spanIndexRefresh):
    * the per-shard (h mod nShards) hash counts of the existing-corpus
    * distinct index, the incoming shard's NOVEL hashes, and their
    * union — derived from the raw documents table alone, so the Spark
    * side's file-level counts over the refreshed directory must agree
    * exactly (the writer kept a distinct set, the append neither
    * duplicated nor dropped, shards were assigned by the same
    * arithmetic).
    */
  def q286SpanIndexRefresh(w: Int = 8, modN: Int = 5,
                           nShards: Int = 8): String =
    s"""WITH $tokenHashCtes,
       |${incomingFlagCtes(modN)},
       |sp AS MATERIALIZED (
       |  SELECT z.doc_id, ${spanFoldSql(w)} AS h, z.incoming
       |  FROM (SELECT thc.doc_id, th, incoming
       |        FROM thc JOIN fl USING (doc_id)) z,
       |    unnest(range(1, len(th) - ${w - 2})) AS t(i)
       |),
       |ex AS MATERIALIZED (SELECT DISTINCT h FROM sp WHERE NOT incoming),
       |nw AS (
       |  SELECT DISTINCT h FROM sp WHERE incoming
       |  AND h NOT IN (SELECT h FROM ex)
       |),
       |u AS (
       |  SELECT h, false AS is_new FROM ex
       |  UNION ALL
       |  SELECT h, true AS is_new FROM nw
       |)
       |SELECT CAST(h % $nShards AS BIGINT) AS shard,
       |  CAST(count(*) FILTER (WHERE NOT is_new) AS BIGINT) AS n_existing,
       |  CAST(count(*) FILTER (WHERE is_new) AS BIGINT) AS n_new,
       |  CAST(count(*) AS BIGINT) AS n_refreshed
       |FROM u GROUP BY 1""".stripMargin

  /** The shared q278/q282 scrub finish: positioned tokens from
    * `tokSrc(doc_id, tk)`, dense-position trailing-max coverage over
    * the `rm(doc_id, pos)` removal set, per-doc accounting and the
    * ordered NULL-skipping string_agg rebuild. The final doc list
    * comes from `tokSrc` so the variant controls which docs appear.
    */
  private def scrubTailSql(tokSrc: String, w: Int): String =
    s"""tokpos AS (
       |  SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
       |    tk[CAST(t.i AS INT)] AS tok
       |  FROM $tokSrc, unnest(range(1, len(tk) + 1)) AS t(i)
       |),
       |cov AS (
       |  SELECT doc_id, pos, tok,
       |    max(rmflag) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS covered
       |  FROM (
       |    SELECT tp.doc_id, tp.pos, tp.tok,
       |      CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END AS rmflag
       |    FROM tokpos tp
       |    LEFT JOIN rm r ON r.doc_id = tp.doc_id AND r.pos = tp.pos
       |  )
       |),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(covered) AS BIGINT) AS n_removed_tokens,
       |    coalesce(string_agg(CASE WHEN covered = 0 THEN tok END,
       |      ' ' ORDER BY pos), '') AS cleaned_text
       |  FROM cov GROUP BY 1
       |),
       |rmc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
       |  FROM rm GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  coalesce(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       |  coalesce(r.n_dup_spans, CAST(0 AS BIGINT)) AS n_dup_spans,
       |  coalesce(a.n_removed_tokens, CAST(0 AS BIGINT)) AS n_removed_tokens,
       |  coalesce(a.cleaned_text, '') AS cleaned_text
       |FROM (SELECT doc_id FROM $tokSrc) d
       |LEFT JOIN agg a ON d.doc_id = a.doc_id
       |LEFT JOIN rmc r ON d.doc_id = r.doc_id""".stripMargin

  /** Q280 — greedy k-center coreset (mirrors Similarity.coreset):
    * min-vec_id seed, then k−1 unrolled farthest-point rounds — each
    * a cross join against the (≤ k-row) selected set, a per-vector
    * min of the pinned-order sqDist folds, and a LIMIT-1 argmax with
    * the dmin DESC / vec_id tie-break, already-selected ids excluded.
    */
  def q280Coreset(k: Int = 8, dim: Int = 64): String = {
    val union = (2 to k).map(r =>
      s"SELECT $r AS sel_round, vec_id, dmin FROM p$r")
      .mkString("\nUNION ALL ")
    s"""WITH ${coresetChainSql(k, dim)}
       |SELECT 1 AS sel_round, sid AS vec_id, CAST(NULL AS DOUBLE) AS dmin
       |FROM sel1
       |UNION ALL $union""".stripMargin
  }

  /** Q281 — coreset assignment audit (mirrors
    * Similarity.coresetAssign): the Q280 chain's final center set
    * broadcast into an argmin window, center-keyed coverage rollup
    * with decimal-quantized mean summands.
    */
  def q281CoresetAssign(k: Int = 8, dim: Int = 64): String =
    s"""WITH ${coresetChainSql(k, dim)},
       |a AS (
       |  SELECT e.vec_id, s.sid, ${sqDistTerms("de", "se", dim)} AS d
       |  FROM e CROSS JOIN sel$k s
       |),
       |r AS (
       |  SELECT vec_id, sid, d,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, sid) AS rk
       |  FROM a
       |)
       |SELECT sid AS center_id, CAST(count(*) AS BIGINT) AS n_assigned,
       |  max(d) AS radius_sq,
       |  CAST(sum(CAST(d AS DECIMAL(38,10))) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS mean_sq
       |FROM r WHERE rk = 1 GROUP BY 1""".stripMargin

  /** Q293 — day-2 incremental k-center refresh (mirrors
    * Similarity.coresetIncremental): the 'inc:' scramble on vec_id
    * splits the corpus; rounds 1..k1 run the q280 chain over the
    * EXISTING stratum (seed = its min vec_id), rounds k1+1..k2
    * continue the same chain with the FULL corpus as the candidate
    * source — the frozen-prefix form of Gonzalez. dmin per round is
    * the same pinned-order sqDist fold / exact min; the artifact
    * round-trip on the Spark side must be invisible (doubles are
    * parquet-bitwise), so the whole flow hash-matches.
    */
  def q293CoresetIncremental(k1: Int = 8, k2: Int = 12, dim: Int = 64,
                             modN: Int = 5): String = {
    val p = graft.functions.TextHash.P
    val hSql = polyHashSql("('inc:' || CAST(vec_id AS VARCHAR))")
    val rounds = (2 to k2).map { r =>
      val src = if (r <= k1) "ex" else "e"
      s"""m$r AS MATERIALIZED (
         |  SELECT $src.vec_id, min(${sqDistTerms("de", "se", dim)}) AS dmin
         |  FROM $src CROSS JOIN sel${r - 1} GROUP BY 1
         |),
         |p$r AS MATERIALIZED (
         |  SELECT vec_id, dmin FROM (
         |    SELECT vec_id, dmin,
         |      row_number() OVER (ORDER BY dmin DESC, vec_id) AS rk
         |    FROM m$r WHERE vec_id NOT IN (SELECT sid FROM sel${r - 1})
         |  ) WHERE rk = 1
         |),
         |sel$r AS MATERIALIZED (
         |  SELECT sid, se FROM sel${r - 1}
         |  UNION ALL
         |  SELECT p.vec_id, $src.de FROM p$r p
         |  JOIN $src ON $src.vec_id = p.vec_id
         |)""".stripMargin
    }.mkString(",\n")
    val union = (2 to k2).map(r =>
      s"SELECT $r AS sel_round, vec_id, dmin FROM p$r")
      .mkString("\nUNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |w0 AS (SELECT vec_id, $hSql AS u FROM embeddings),
       |w1 AS (SELECT *, (u * u + 12345) % $p AS v1 FROM w0),
       |w2 AS (SELECT *, (v1 * 31 + u) % $p AS v2 FROM w1),
       |vf AS (SELECT vec_id, ((v2 * v2 + 6789) % $p) % $modN = 0 AS incoming
       |       FROM w2),
       |ex AS MATERIALIZED (
       |  SELECT e.vec_id, e.de FROM e JOIN vf USING (vec_id)
       |  WHERE NOT incoming
       |),
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id AS sid, de AS se FROM ex
       |  WHERE vec_id = (SELECT min(vec_id) FROM ex)
       |),
       |$rounds
       |SELECT sel_round, vec_id, dmin,
       |  CAST(sel_round > $k1 AS BIGINT) AS is_new
       |FROM (
       |  SELECT 1 AS sel_round, sid AS vec_id, CAST(NULL AS DOUBLE) AS dmin
       |  FROM sel1
       |  UNION ALL $union
       |)""".stripMargin
  }

  /** The shared Q280/Q281 farthest-point CTE chain: e → sel1 (seed) →
    * (min-distance pass m_r, argmax pick p_r, accumulated set sel_r)
    * for r = 2..k.
    */
  private def coresetChainSql(k: Int, dim: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""m$r AS MATERIALIZED (
         |  SELECT e.vec_id, min(${sqDistTerms("de", "se", dim)}) AS dmin
         |  FROM e CROSS JOIN sel${r - 1} GROUP BY 1
         |),
         |p$r AS MATERIALIZED (
         |  SELECT vec_id, dmin FROM (
         |    SELECT vec_id, dmin,
         |      row_number() OVER (ORDER BY dmin DESC, vec_id) AS rk
         |    FROM m$r WHERE vec_id NOT IN (SELECT sid FROM sel${r - 1})
         |  ) WHERE rk = 1
         |),
         |sel$r AS MATERIALIZED (
         |  SELECT sid, se FROM sel${r - 1}
         |  UNION ALL
         |  SELECT p.vec_id, e.de FROM p$r p JOIN e ON e.vec_id = p.vec_id
         |)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id AS sid, de AS se FROM e
       |  WHERE vec_id = (SELECT min(vec_id) FROM e)
       |),
       |$rounds""".stripMargin
  }

  /** Q110 — k-means Lloyd iterations (mirrors Similarity.kmeans,
    * k=8, iters=2 unrolled): deterministic vec_id < k init, squared-L2
    * argmin assignment (ties to smaller cid), DECIMAL(28,14)-exact
    * per-dimension centroid means, final assignment with distance.
    */
  def q110Kmeans(k: Int = 8, dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |c0 AS (SELECT vec_id AS cid, de AS ce FROM e WHERE vec_id < $k),
       |d1 AS (
       |  SELECT e.vec_id, e.de, c0.cid, ${sqDistTerms("de", "ce", dim)} AS d
       |  FROM e CROSS JOIN c0
       |),
       |a1 AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
       |  FROM d1
       |),
       |m1 AS (SELECT vec_id, de, cid FROM a1 WHERE rk = 1),
       |x1 AS (
       |  SELECT cid, t.dim, CAST(de[t.dim] AS DECIMAL(28,14)) AS vd
       |  FROM m1, unnest(range(1, ${dim + 1})) AS t(dim)
       |),
       |cc1 AS (
       |  SELECT cid, dim, CAST(sum(vd) AS DOUBLE) / count(*) AS c
       |  FROM x1 GROUP BY 1, 2
       |),
       |c1 AS (SELECT cid, list(c ORDER BY dim) AS ce FROM cc1 GROUP BY 1),
       |d2 AS (
       |  SELECT e.vec_id, c1.cid, ${sqDistTerms("de", "ce", dim)} AS d
       |  FROM e CROSS JOIN c1
       |),
       |a2 AS (
       |  SELECT vec_id, cid, d,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
       |  FROM d2
       |)
       |SELECT vec_id, cid, d AS dist FROM a2 WHERE rk = 1""".stripMargin

  /** Q127 — simplified silhouette (mirrors Similarity.silhouette):
    * the q110 CTE chain extended to the top-2 centroid distances,
    * identical pinned sqrt/ratio expressions.
    */
  def q127Silhouette(k: Int = 8, dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |c0 AS (SELECT vec_id AS cid, de AS ce FROM e WHERE vec_id < $k),
       |d1 AS (
       |  SELECT e.vec_id, e.de, c0.cid, ${sqDistTerms("de", "ce", dim)} AS d
       |  FROM e CROSS JOIN c0
       |),
       |a1 AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
       |  FROM d1
       |),
       |m1 AS (SELECT vec_id, de, cid FROM a1 WHERE rk = 1),
       |x1 AS (
       |  SELECT cid, t.dim, CAST(de[t.dim] AS DECIMAL(28,14)) AS vd
       |  FROM m1, unnest(range(1, ${dim + 1})) AS t(dim)
       |),
       |cc1 AS (
       |  SELECT cid, dim, CAST(sum(vd) AS DOUBLE) / count(*) AS c
       |  FROM x1 GROUP BY 1, 2
       |),
       |c1 AS (SELECT cid, list(c ORDER BY dim) AS ce FROM cc1 GROUP BY 1),
       |d2 AS (
       |  SELECT e.vec_id, c1.cid, ${sqDistTerms("de", "ce", dim)} AS d
       |  FROM e CROSS JOIN c1
       |),
       |a2 AS (
       |  SELECT vec_id, cid, d,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
       |  FROM d2
       |),
       |t2 AS (
       |  SELECT vec_id,
       |    min(CASE WHEN rk = 1 THEN cid END) AS cid,
       |    min(CASE WHEN rk = 1 THEN d END) AS da,
       |    min(CASE WHEN rk = 2 THEN d END) AS db
       |  FROM a2 WHERE rk <= 2 GROUP BY 1
       |)
       |SELECT vec_id, cid, sqrt(da) AS dist_own, sqrt(db) AS dist_next,
       |  (sqrt(db) - sqrt(da)) /
       |    nullif(greatest(sqrt(da), sqrt(db)), 0) AS sil
       |FROM t2""".stripMargin

  /** Q111 — quantile sketch audit (mirrors Sketches.sketchQuantiles):
    * bottom-k hash sample replayed with a row_number window, exact
    * interpolated quantiles on both the sample and the full group.
    */
  def q111SketchQuantiles(k: Int = 128): String =
    s"""WITH h AS (
       |  SELECT event_type, value,
       |    ${polyHashSql("CAST(event_id AS VARCHAR)")} AS hh, event_id
       |  FROM events
       |),
       |rk AS (
       |  SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY hh, event_id) AS rn
       |  FROM h
       |),
       |est AS (
       |  SELECT event_type, count(*) AS sample_k,
       |    quantile_cont(value, 0.5) AS est_p50,
       |    quantile_cont(value, 0.9) AS est_p90,
       |    quantile_cont(value, 0.99) AS est_p99
       |  FROM rk WHERE rn <= $k GROUP BY 1
       |),
       |ex AS (
       |  SELECT event_type, count(*) AS n_rows,
       |    quantile_cont(value, 0.5) AS exact_p50,
       |    quantile_cont(value, 0.9) AS exact_p90,
       |    quantile_cont(value, 0.99) AS exact_p99
       |  FROM events GROUP BY 1
       |)
       |SELECT event_type, n_rows, sample_k,
       |  est_p50, est_p90, est_p99, exact_p50, exact_p90, exact_p99
       |FROM est JOIN ex USING (event_type)""".stripMargin

  /** Q94 — equi-depth histogram (mirrors
    * Relational.equiDepthHistogram): ntile over the total order.
    */
  def q94EquiDepth(buckets: Int = 4): String =
    s"""SELECT event_type, tile, count(*) AS n,
       |  min(value) AS lo, max(value) AS hi
       |FROM (
       |  SELECT event_type, value,
       |    CAST(ntile($buckets) OVER (PARTITION BY event_type
       |      ORDER BY value, event_id) AS INTEGER) AS tile
       |  FROM events
       |)
       |GROUP BY 1, 2""".stripMargin

  /** Q95 — per-dimension embedding stats (mirrors
    * Similarity.dimStats): decimal-quantized per-dim power sums.
    */
  def q95DimStats(dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |x AS (
       |  SELECT d AS dim, CAST(de[d] AS DECIMAL(12,9)) AS x
       |  FROM e, unnest(range(1, ${dim + 1})) AS t(d)
       |),
       |a AS (
       |  SELECT dim, count(*) AS n, CAST(sum(x) AS DOUBLE) AS sx,
       |    CAST(sum(x * x) AS DOUBLE) AS sxx
       |  FROM x GROUP BY 1
       |)
       |SELECT CAST(dim AS BIGINT) AS dim, n,
       |  sx / n AS mean_v, (sxx - sx * sx / n) / n AS var_v
       |FROM a""".stripMargin

  /** Q162 — embedding covariance upper triangle (mirrors
    * Similarity.embedCovariance): decimal-quantized coordinates,
    * exact decimal power sums, one pinned double finish.
    */
  def q162EmbedCovariance(dim: Int = 64): String =
    s"""WITH e AS (
       |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |x AS (
       |  SELECT i, j,
       |    CAST(de[i] AS DECIMAL(12,9)) AS xi,
       |    CAST(de[j] AS DECIMAL(12,9)) AS xj
       |  FROM e, unnest(range(1, ${dim + 1})) AS t(i),
       |       unnest(range(1, ${dim + 1})) AS u(j)
       |  WHERE j >= i
       |),
       |a AS (
       |  SELECT i, j, count(*) AS n,
       |    CAST(sum(xi * xj) AS DOUBLE) AS sxy,
       |    CAST(sum(xi) AS DOUBLE) AS sx,
       |    CAST(sum(xj) AS DOUBLE) AS sy
       |  FROM x GROUP BY 1, 2
       |)
       |SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
       |  n, (sxy - sx * sy / n) / n AS cov
       |FROM a""".stripMargin

  /** Q196 — embedding anisotropy audit (mirrors
    * Similarity.anisotropy): same decimal quantization, per-dim exact
    * sums, quantized squared dim-sums, pinned double finish.
    */
  def q196Anisotropy(dim: Int = 64): String =
    s"""WITH q AS (
       |  SELECT d, CAST(CAST(embedding[CAST(d AS INTEGER)] AS DOUBLE)
       |    AS DECIMAL(12,9)) AS x
       |  FROM embeddings, unnest(range(1, ${dim + 1})) AS t(d)
       |),
       |pd AS (
       |  SELECT d, sum(x) AS sd, sum(x * x) AS ssd FROM q GROUP BY 1
       |),
       |a AS (
       |  SELECT sum(CAST(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
       |    AS DECIMAL(28,14))) AS s2, sum(ssd) AS ss
       |  FROM pd
       |),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
       |SELECT n AS n_vectors,
       |  CAST(ss AS DOUBLE) / n AS mean_self_dot,
       |  (CAST(s2 AS DOUBLE) - CAST(ss AS DOUBLE)) /
       |    (CAST(n AS DOUBLE) * (n - 1)) AS mean_pairwise_dot,
       |  ((CAST(s2 AS DOUBLE) - CAST(ss AS DOUBLE)) /
       |    (CAST(n AS DOUBLE) * (n - 1))) /
       |    (CAST(ss AS DOUBLE) / n) AS anisotropy
       |FROM a CROSS JOIN n""".stripMargin

  /** Q178 — power-iteration dominant eigenvector (mirrors
    * Similarity.powerIteration): the q162 covariance CTE mirrored to
    * the full matrix, then `iters` unrolled matvec rounds — each
    * contribution quantized to DECIMAL(28,14), exact decimal sums,
    * max-|component| double normalization. AS MATERIALIZED pins each
    * round (the q163 lesson: DuckDB CTE inlining re-expands unrolled
    * rounds combinatorially).
    */
  def q178PowerIteration(dim: Int = 64, iters: Int = 3): String = {
    val rounds = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT cf.i AS d,
         |    CAST(sum(CAST(cf.cov * v${k - 1}.v AS DECIMAL(28,14))) AS DOUBLE) AS vr
         |  FROM cf JOIN v${k - 1} ON cf.j = v${k - 1}.d GROUP BY 1
         |),
         |m$k AS MATERIALIZED (SELECT max(abs(vr)) AS m FROM r$k),
         |v$k AS MATERIALIZED (SELECT d, vr / m AS v FROM r$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |x AS (
       |  SELECT i, j,
       |    CAST(de[i] AS DECIMAL(12,9)) AS xi,
       |    CAST(de[j] AS DECIMAL(12,9)) AS xj
       |  FROM e, unnest(range(1, ${dim + 1})) AS t(i),
       |       unnest(range(1, ${dim + 1})) AS u(j)
       |  WHERE j >= i
       |),
       |a AS (
       |  SELECT i, j, count(*) AS n,
       |    CAST(sum(xi * xj) AS DOUBLE) AS sxy,
       |    CAST(sum(xi) AS DOUBLE) AS sx,
       |    CAST(sum(xj) AS DOUBLE) AS sy
       |  FROM x GROUP BY 1, 2
       |),
       |cov AS MATERIALIZED (
       |  SELECT i, j, (sxy - sx * sy / n) / n AS cov FROM a
       |),
       |cf AS MATERIALIZED (
       |  SELECT i, j, cov FROM cov
       |  UNION ALL
       |  SELECT j AS i, i AS j, cov FROM cov WHERE i < j
       |),
       |v0 AS (
       |  SELECT CAST(i AS BIGINT) AS d, CAST(1.0 AS DOUBLE) AS v
       |  FROM unnest(range(1, ${dim + 1})) AS t(i)
       |),
       |$rounds
       |SELECT CAST(d AS BIGINT) AS dim_i, v, m AS lambda_est
       |FROM v$iters, m$iters""".stripMargin
  }

  /** Q213 — deflated top-2 power iteration (mirrors
    * Similarity.pcaTop2): the q178 covariance + unrolled rounds,
    * then the Hotelling rank-1 update and a second round set with
    * identical arithmetic.
    */
  def q213Pca2(dim: Int = 64, iters: Int = 3): String = {
    def rounds(pfx: String, mat: String) = (1 to iters).map { k =>
      s"""${pfx}r$k AS MATERIALIZED (
         |  SELECT m.i AS d,
         |    CAST(sum(CAST(m.cov * ${pfx}v${k - 1}.v AS DECIMAL(28,14))) AS DOUBLE) AS vr
         |  FROM $mat m JOIN ${pfx}v${k - 1} ON m.j = ${pfx}v${k - 1}.d GROUP BY 1
         |),
         |${pfx}m$k AS MATERIALIZED (SELECT max(abs(vr)) AS m FROM ${pfx}r$k),
         |${pfx}v$k AS MATERIALIZED (
         |  SELECT d, vr / m AS v FROM ${pfx}r$k, ${pfx}m$k)""".stripMargin
    }.mkString(",\n")
    def ones(name: String) =
      s"""$name AS (
         |  SELECT CAST(i AS BIGINT) AS d, CAST(1.0 AS DOUBLE) AS v
         |  FROM unnest(range(1, ${dim + 1})) AS t(i)
         |)""".stripMargin
    s"""WITH e AS (
       |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |x AS (
       |  SELECT i, j,
       |    CAST(de[i] AS DECIMAL(12,9)) AS xi,
       |    CAST(de[j] AS DECIMAL(12,9)) AS xj
       |  FROM e, unnest(range(1, ${dim + 1})) AS t(i),
       |       unnest(range(1, ${dim + 1})) AS u(j)
       |  WHERE j >= i
       |),
       |a AS (
       |  SELECT i, j, count(*) AS n,
       |    CAST(sum(xi * xj) AS DOUBLE) AS sxy,
       |    CAST(sum(xi) AS DOUBLE) AS sx,
       |    CAST(sum(xj) AS DOUBLE) AS sy
       |  FROM x GROUP BY 1, 2
       |),
       |cov AS MATERIALIZED (
       |  SELECT i, j, (sxy - sx * sy / n) / n AS cov FROM a
       |),
       |cf AS MATERIALIZED (
       |  SELECT i, j, cov FROM cov
       |  UNION ALL
       |  SELECT j AS i, i AS j, cov FROM cov WHERE i < j
       |),
       |${ones("av0")},
       |${rounds("a", "cf")},
       |vv AS (
       |  SELECT CAST(sum(CAST(v * v AS DECIMAL(28,14))) AS DOUBLE) AS vv
       |  FROM av$iters
       |),
       |cf2 AS MATERIALIZED (
       |  SELECT f.i, f.j,
       |    f.cov - am$iters.m * vi.v * vj.v / vv.vv AS cov
       |  FROM cf f
       |  JOIN av$iters vi ON vi.d = f.i
       |  JOIN av$iters vj ON vj.d = f.j, am$iters, vv
       |),
       |${ones("bv0")},
       |${rounds("b", "cf2")}
       |SELECT CAST(1 AS BIGINT) AS component, CAST(d AS BIGINT) AS dim_i,
       |  v, m AS lambda_est
       |FROM av$iters, am$iters
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS component, CAST(d AS BIGINT) AS dim_i,
       |  v, m AS lambda_est
       |FROM bv$iters, bm$iters""".stripMargin
  }

  /** Q96 — type co-occurrence within sessions (mirrors
    * Relational.typeCooccurrence): Q69's session rule, distinct
    * (user, sid, type), pair self-join.
    */
  def q96Cooccurrence(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60000000L
    s"""WITH m AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id,
       |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
       |        PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
       |        < $gapUs THEN 0 ELSE 1 END AS new_s
       |  FROM events
       |),
       |st AS (
       |  SELECT DISTINCT user_id, event_type,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM m
       |)
       |SELECT x.event_type AS type_a, y.event_type AS type_b,
       |  count(*) AS n_sessions
       |FROM st x JOIN st y
       |  ON x.user_id = y.user_id AND x.sid = y.sid
       |  AND x.event_type < y.event_type
       |GROUP BY 1, 2""".stripMargin
  }

  /** Q97 — conversion latency percentiles (mirrors
    * Relational.conversionLatency): the Q74 chain, quantile_cont over
    * integer diffs.
    */
  def q97ConversionLatency: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
       |),
       |s1 AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'signup' THEN t_us END) AS t1
       |  FROM e GROUP BY 1 HAVING t1 IS NOT NULL
       |),
       |s2 AS (
       |  SELECT e.user_id, t1,
       |    min(CASE WHEN event_type = 'click' AND t_us > t1
       |      THEN t_us END) AS t2
       |  FROM e JOIN s1 USING (user_id) GROUP BY 1, 2
       |),
       |s3 AS (
       |  SELECT e.user_id, t1, t2,
       |    min(CASE WHEN event_type = 'purchase' AND t_us > t2
       |      THEN t_us END) AS t3
       |  FROM e JOIN s2 USING (user_id) GROUP BY 1, 2, 3
       |)
       |SELECT count(*) AS n_converted,
       |  quantile_cont(t3 - t1, 0.5) AS p50_us,
       |  quantile_cont(t3 - t1, 0.9) AS p90_us
       |FROM s3 WHERE t3 IS NOT NULL""".stripMargin

  /** Q98 — share-of-parent (mirrors Relational.shareOfParent):
    * decimal-exact revenue, window region total over the aggregate.
    */
  def q98ShareOfParent: String =
    s"""WITH rev AS (
       |  SELECT r_name, n_name,
       |    sum(CAST(l_extendedprice * (1.0 - l_discount)
       |      AS DECIMAL(20,4))) AS rev
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  GROUP BY 1, 2
       |)
       |SELECT r_name, n_name, CAST(rev AS DOUBLE) AS revenue,
       |  CAST(rev AS DOUBLE) /
       |    CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE)
       |    AS share_of_region
       |FROM rev""".stripMargin

  /** Q99 — session paths (mirrors Relational.sessionPaths): ordered
    * string_agg inside the Q69-rule session.
    */
  def q99SessionPaths(gapMinutes: Int = 30, k: Int = 10): String = {
    val gapUs = gapMinutes * 60000000L
    s"""WITH m AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id,
       |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
       |        PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
       |        < $gapUs THEN 0 ELSE 1 END AS new_s
       |  FROM events
       |),
       |sess AS (
       |  SELECT user_id, event_type, t_us, event_id,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM m
       |),
       |sp AS (
       |  SELECT user_id, sid,
       |    string_agg(event_type, '>' ORDER BY t_us, event_id) AS path
       |  FROM sess GROUP BY 1, 2
       |)
       |SELECT path, count(*) AS n_sessions FROM sp GROUP BY 1
       |ORDER BY n_sessions DESC, path LIMIT $k""".stripMargin
  }

  /** Q100 — dataset card (mirrors TextAnalysis.datasetCard): Q18's
    * quality CTEs, decimal-quantized mean.
    */
  def q100DatasetCard: String =
    s"""WITH $qualityCtes,
       |qs AS (SELECT doc_id, n_tokens, $qualityScoreSql AS quality FROM q),
       |dd AS (SELECT doc_id, source, lang, text FROM documents)
       |SELECT dd.source, count(*) AS n_docs,
       |  CAST(count(*) - count(DISTINCT dd.text) AS BIGINT) AS n_dup_docs,
       |  CAST(sum(qs.n_tokens) AS BIGINT) AS total_tokens,
       |  count(DISTINCT dd.lang) AS n_langs,
       |  CAST(sum(CAST(qs.quality AS DECIMAL(18,12))) AS DOUBLE)
       |    / count(*) AS mean_quality
       |FROM dd JOIN qs USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** Q105 — linear interpolation (mirrors
    * Relational.linearInterpolate): same window neighbors, same
    * pinned expression.
    */
  def q105Interpolate: String =
    s"""WITH b AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
       |    value
       |  FROM events
       |),
       |n AS (
       |  SELECT event_id, user_id, t_us,
       |    last_value(CASE WHEN event_type = 'purchase' THEN value END
       |      IGNORE NULLS) OVER (PARTITION BY user_id
       |      ORDER BY t_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
       |    last_value(CASE WHEN event_type = 'purchase' THEN t_us END
       |      IGNORE NULLS) OVER (PARTITION BY user_id
       |      ORDER BY t_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
       |    first_value(CASE WHEN event_type = 'purchase' THEN value END
       |      IGNORE NULLS) OVER (PARTITION BY user_id
       |      ORDER BY t_us, event_id
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
       |    first_value(CASE WHEN event_type = 'purchase' THEN t_us END
       |      IGNORE NULLS) OVER (PARTITION BY user_id
       |      ORDER BY t_us, event_id
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
       |  FROM b
       |)
       |SELECT event_id, user_id, t_us,
       |  CASE WHEN pt = nt THEN pv
       |       ELSE pv + (nv - pv) * CAST(t_us - pt AS DOUBLE)
       |            / CAST(nt - pt AS DOUBLE) END AS v_interp
       |FROM n""".stripMargin

  /** Q103 — week-over-week change (mirrors Relational.weekOverWeek). */
  /** Mirrors Relational.weekOverWeek's calendar-join semantics:
    * prev = the week exactly 7 days earlier (NULL on gap weeks).
    */
  def q103WeekOverWeek: String =
    s"""WITH wk AS (
       |  SELECT date_trunc('week', o_orderdate) AS week,
       |    sum(CAST(o_totalprice AS DECIMAL(20,4))) AS rev
       |  FROM orders GROUP BY 1
       |)
       |SELECT strftime(CAST(a.week AS DATE), '%Y-%m-%d') AS week,
       |  CAST(a.rev AS DOUBLE) AS revenue,
       |  CAST(b.rev AS DOUBLE) AS prev_revenue,
       |  CAST(a.rev - b.rev AS DOUBLE) / CAST(b.rev AS DOUBLE) AS pct_change
       |FROM wk a LEFT JOIN wk b ON b.week = a.week - INTERVAL 7 DAY""".stripMargin

  /** Q104 — Pareto concentration (mirrors
    * Relational.paretoConcentration): integer/decimal
    * cross-multiplication threshold, no float in the window.
    */
  def q104Pareto: String =
    s"""WITH spend AS (
       |  SELECT o_custkey, c_mktsegment,
       |    sum(CAST(o_totalprice AS DECIMAL(20,4))) AS spend
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2
       |),
       |r AS (
       |  SELECT c_mktsegment, spend,
       |    sum(spend) OVER (PARTITION BY c_mktsegment) AS total,
       |    sum(spend) OVER (PARTITION BY c_mktsegment
       |      ORDER BY spend DESC, o_custkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM spend
       |)
       |SELECT c_mktsegment, count(*) AS n_customers,
       |  CAST(sum(CASE WHEN cum * 5 < total * 4 THEN 1 ELSE 0 END) + 1
       |    AS BIGINT) AS n_top80
       |FROM r GROUP BY 1""".stripMargin

  /** Q78 — 2-D skyline (mirrors TextAnalysis.skyline): the oracle
    * states the declarative NOT-EXISTS dominance — implementation
    * (two-level distributive prune) must not change the set.
    */
  def q78Skyline: String =
    s"""WITH base AS (
       |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tokens,
       |    n_chars
       |  FROM documents
       |)
       |SELECT b.doc_id, b.n_tokens, b.n_chars
       |FROM base b
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM base o
       |  WHERE o.n_tokens >= b.n_tokens AND o.n_chars <= b.n_chars
       |    AND (o.n_tokens > b.n_tokens OR o.n_chars < b.n_chars)
       |)""".stripMargin

  /** Q79 — PageRank (mirrors Graph.pageRank): the same fixed power
    * iterations unrolled as CTEs, contributions quantized to
    * DECIMAL(28,14) before the exact sum, damping stated as
    * 85/100 in DOUBLE so both engines evaluate the identical IEEE
    * constant.
    */
  def q79PageRank(iters: Int = 3): String = {
    val d = "CAST(85 AS DOUBLE) / 100"
    val head =
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |),
         |edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs),
         |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT node, deg, CAST(1 AS DOUBLE) / nn.n AS rank
         |       FROM deg, nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      s""",
         |c$i AS (
         |  SELECT e.dst, sum(CAST(r.rank / r.deg AS DECIMAL(28,14))) AS sc
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |  GROUP BY 1
         |),
         |r$i AS (
         |  SELECT d.node, d.deg,
         |    (1 - $d) / nn.n
         |      + $d * coalesce(CAST(c$i.sc AS DOUBLE), 0) AS rank
         |  FROM deg d CROSS JOIN nn LEFT JOIN c$i ON c$i.dst = d.node
         |)""".stripMargin
    }.mkString
    s"$head$steps\nSELECT node, rank FROM r$iters"
  }

  /** Q80 — activity streaks (mirrors Relational.activityStreaks):
    * gaps-and-islands via day − row_number.
    */
  def q80Streaks: String =
    s"""WITH active AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
       |  FROM events
       |),
       |isl AS (
       |  SELECT user_id,
       |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
       |      AS island
       |  FROM active
       |),
       |lens AS (
       |  SELECT user_id, island, count(*) AS len
       |  FROM isl GROUP BY 1, 2
       |)
       |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
       |  count(*) AS n_streaks, max(len) AS longest_streak
       |FROM lens GROUP BY 1""".stripMargin

  /** Q81 — median absolute deviation (mirrors Relational.madStats):
    * two quantile_cont passes, identical |x − med| doubles.
    */
  def q81Mad: String =
    s"""WITH med AS (
       |  SELECT event_type, count(*) AS n,
       |    quantile_cont(value, 0.5) AS med
       |  FROM events GROUP BY 1
       |)
       |SELECT e.event_type, n, med,
       |  quantile_cont(abs(e.value - med), 0.5) AS mad
       |FROM events e JOIN med USING (event_type)
       |GROUP BY 1, 2, 3""".stripMargin

  /** Q82 — pairwise source vocabulary Jaccard (mirrors
    * TextAnalysis.sourceJaccard).
    */
  def q82SourceJaccard: String =
    s"""WITH st AS (
       |  SELECT DISTINCT source, token FROM (
       |    SELECT source, unnest($tokensSql) AS token FROM documents
       |  )
       |),
       |sz AS (SELECT source, count(*) AS sz FROM st GROUP BY 1),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    a.sz AS sz_a, b.sz AS sz_b
       |  FROM sz a JOIN sz b ON a.source < b.source
       |),
       |i AS (
       |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS inter
       |  FROM st x JOIN st y
       |    ON x.token = y.token AND x.source < y.source
       |  GROUP BY 1, 2
       |)
       |SELECT p.src_a, p.src_b, coalesce(i.inter, 0) AS inter,
       |  CAST(coalesce(i.inter, 0) AS DOUBLE) /
       |    (sz_a + sz_b - coalesce(i.inter, 0)) AS jaccard
       |FROM pairs p LEFT JOIN i USING (src_a, src_b)""".stripMargin

  /** Q83 — complete-recall edit join: the oracle is the DECLARATIVE
    * all-pairs form — the q-gram candidate generation must not change
    * the result set.
    */
  def q83QgramJoin(k: Int = 4, prefixLen: Int = 64): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, substr(text, 1, $prefixLen) AS pfx
       |  FROM documents
       |)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(levenshtein(x.pfx, y.pfx) AS BIGINT) AS dist
       |FROM d x JOIN d y ON x.lang = y.lang AND x.doc_id < y.doc_id
       |WHERE levenshtein(x.pfx, y.pfx) <= $k""".stripMargin

  /** Q84 — KMV set algebra (mirrors Relational.kmvSetOps): sketch
    * union = k smallest of the merge, θ-rule intersection; exact
    * counts from the full distinct sets.
    */
  def q84KmvSetOps(k: Int = 64, space: Long = 1000000007L): String =
    s"""WITH th AS (
       |  SELECT DISTINCT event_type,
       |    ${polyHashSql("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events
       |),
       |sk AS (
       |  SELECT event_type, h FROM (
       |    SELECT event_type, h,
       |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
       |    FROM th
       |  ) WHERE r <= $k
       |),
       |ty AS (SELECT DISTINCT event_type FROM th),
       |tp AS (SELECT a.event_type AS ta, b.event_type AS tb
       |       FROM ty a JOIN ty b ON a.event_type < b.event_type),
       |mu AS (
       |  SELECT ta, tb, h, count(*) AS nsrc FROM (
       |    SELECT tp.ta, tp.tb, sk.h FROM tp JOIN sk ON sk.event_type = tp.ta
       |    UNION ALL
       |    SELECT tp.ta, tp.tb, sk.h FROM tp JOIN sk ON sk.event_type = tp.tb
       |  ) GROUP BY 1, 2, 3
       |),
       |uw AS (
       |  SELECT ta, tb, h, nsrc FROM (
       |    SELECT ta, tb, h, nsrc,
       |      row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS r
       |    FROM mu
       |  ) WHERE r <= $k
       |),
       |est AS (
       |  SELECT ta, tb, count(*) AS nu, max(h) AS theta,
       |    CAST(sum(CASE WHEN nsrc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM uw GROUP BY 1, 2
       |),
       |est2 AS (
       |  SELECT ta, tb, c, nu,
       |    CASE WHEN nu < $k THEN CAST(nu AS DOUBLE)
       |         ELSE CAST(${k - 1} AS DOUBLE) * $space / theta END
       |      AS est_union
       |  FROM est
       |),
       |me AS (
       |  SELECT ta, tb, h, count(*) AS nsrc FROM (
       |    SELECT tp.ta, tp.tb, th.h FROM tp JOIN th ON th.event_type = tp.ta
       |    UNION ALL
       |    SELECT tp.ta, tp.tb, th.h FROM tp JOIN th ON th.event_type = tp.tb
       |  ) GROUP BY 1, 2, 3
       |),
       |ex AS (
       |  SELECT ta, tb, count(*) AS exact_union,
       |    CAST(sum(CASE WHEN nsrc = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS exact_inter
       |  FROM me GROUP BY 1, 2
       |)
       |SELECT e.ta, e.tb, e.c, e.est_union,
       |  CAST(e.c AS DOUBLE) / e.nu * e.est_union AS est_inter,
       |  x.exact_union, x.exact_inter
       |FROM est2 e JOIN ex x USING (ta, tb)""".stripMargin

  /** Q85 — debounce (mirrors Relational.debounce): one-lag gap rule. */
  def q85Debounce(minGapUs: Long = 5000000L): String =
    s"""SELECT event_id, user_id, event_type, t_us FROM (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
       |      ORDER BY epoch_us(ts), event_id) AS prev
       |  FROM events
       |) WHERE prev IS NULL OR t_us - prev >= $minGapUs""".stripMargin

  /** Q86 — chi-square cells (mirrors Relational.chiSquareCells). */
  def q86ChiSquare: String =
    s"""WITH cells AS (
       |  SELECT event_type, c_mktsegment, count(*) AS o
       |  FROM events e JOIN customer c ON e.user_id = c.c_custkey
       |  GROUP BY 1, 2
       |),
       |tot AS (
       |  SELECT event_type, c_mktsegment, o,
       |    sum(o) OVER (PARTITION BY event_type) AS rt,
       |    sum(o) OVER (PARTITION BY c_mktsegment) AS ct,
       |    sum(o) OVER () AS n
       |  FROM cells
       |)
       |SELECT event_type, c_mktsegment, o,
       |  CAST(rt * ct AS DOUBLE) / n AS e,
       |  (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n)
       |    * (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n)
       |    / (CAST(rt * ct AS DOUBLE) / n) AS chi2_cell
       |FROM tot""".stripMargin

  /** Q87 — z-score normalization (mirrors Relational.zscore): exact
    * decimal power sums, one pinned expression per row.
    */
  def q87Zscore: String =
    s"""WITH a AS (
       |  SELECT event_type, count(*) AS n,
       |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(value AS DECIMAL(18,4))
       |      * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
       |  FROM events GROUP BY 1
       |),
       |st AS (
       |  SELECT event_type, sx / n AS mean_v,
       |    sqrt((sxx - sx * sx / n) / n) AS std_v
       |  FROM a
       |)
       |SELECT event_id, event_type, (value - mean_v) / std_v AS z
       |FROM events e JOIN st USING (event_type)""".stripMargin

  /** Q76 — temperature mixture (mirrors TextAnalysis.sourceMixture):
    * √n quantized to DECIMAL(30,12) before the order-free sum.
    */
  def q76SourceMixture(epochDocs: Long = 10000L): String =
    s"""WITH c AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sqrt(CAST(count(*) AS DOUBLE)) AS DECIMAL(30,12)) AS w
       |  FROM documents GROUP BY 1
       |),
       |t AS (SELECT sum(w) AS tw FROM c)
       |SELECT source, n_docs,
       |  CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS share,
       |  CAST(round(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) * $epochDocs)
       |    AS BIGINT) AS expected_docs
       |FROM c, t""".stripMargin

  /** Q77 — winsorized moments (mirrors Relational.winsorizedStats):
    * quantile_cont clamp then exact DECIMAL power sums.
    */
  def q77Winsorized: String =
    s"""WITH pct AS (
       |  SELECT event_type,
       |    quantile_cont(value, 0.01) AS p01,
       |    quantile_cont(value, 0.99) AS p99
       |  FROM events GROUP BY 1
       |),
       |cl AS (
       |  SELECT e.event_type, p01, p99,
       |    CAST(greatest(p01, least(p99, value)) AS DECIMAL(18,6)) AS xw
       |  FROM events e JOIN pct USING (event_type)
       |),
       |a AS (
       |  SELECT event_type, count(*) AS n, any_value(p01) AS p01,
       |    any_value(p99) AS p99,
       |    CAST(sum(xw) AS DOUBLE) AS sx,
       |    CAST(sum(xw * xw) AS DOUBLE) AS sxx
       |  FROM cl GROUP BY 1
       |)
       |SELECT event_type, n, p01, p99,
       |  sx / n AS mean_w,
       |  (sxx - sx * sx / n) / n AS var_w
       |FROM a""".stripMargin

  /** Q113 — per-part triangle counts (mirrors Graph.triangleCounts):
    * the declarative a<b<c three-way join over the canonical
    * co-purchase edge set enumerates each triangle exactly once —
    * the closed form of the engine's degree-oriented wedge plan.
    */
  def q113Triangles(k: Int = 20, minSupport: Int = 2): String =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT x.p AS a, y.p AS b
       |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |),
       |tri AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM e e1
       |  JOIN e e2 ON e2.a = e1.b
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
       |),
       |m AS (SELECT unnest([a, b, c]) AS node FROM tri),
       |cn AS (SELECT node, count(*) AS n_tri FROM m GROUP BY 1),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY n_tri DESC, node) AS rnk
       |  FROM cn
       |)
       |SELECT node, n_tri, CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= $k""".stripMargin

  /** Q226 — global transitivity (mirrors Graph.transitivity): the
    * q113 edge set, declarative a<b<c triangle count, wedge
    * denominator off the degree table.
    */
  def q226Transitivity(minSupport: Int = 2): String =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT x.p AS a, y.p AS b
       |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) t
       |  GROUP BY 1
       |),
       |tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM e e1
       |  JOIN e e2 ON e2.a = e1.b
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
       |),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
       |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM deg
       |)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  CAST(3 * n_triangles AS DOUBLE)
       |    / CAST(nullif(n_wedges, 0) AS DOUBLE) AS transitivity
       |FROM s, tri""".stripMargin

  /** Q217 — degree assortativity (mirrors Graph.assortativity): the
    * q113 edge set, symmetric incidence power sums, pinned Pearson
    * finish.
    */
  def q217Assortativity(minSupport: Int = 2): String =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT x.p AS a, y.p AS b
       |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) t
       |  GROUP BY 1
       |),
       |o AS (
       |  SELECT a AS u, b AS v FROM e
       |  UNION ALL
       |  SELECT b AS u, a AS v FROM e
       |),
       |j AS (
       |  SELECT du.deg AS du, dv.deg AS dv
       |  FROM o JOIN deg du ON du.node = o.u JOIN deg dv ON dv.node = o.v
       |),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m2,
       |    CAST(sum(du * dv) AS BIGINT) AS sxy,
       |    CAST(sum(du) AS BIGINT) AS sx,
       |    CAST(sum(du * du) AS BIGINT) AS sxx
       |  FROM j
       |),
       |n AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(max(deg) AS BIGINT) AS max_degree,
       |    CAST(sum(deg) AS BIGINT) AS sum_deg
       |  FROM deg
       |)
       |SELECT n_nodes, m2 // 2 AS n_edges,
       |  CAST(sum_deg AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS mean_degree,
       |  max_degree,
       |  (CAST(sxy AS DOUBLE) / CAST(m2 AS DOUBLE)
       |     - (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE))
       |       * (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE)))
       |  / nullif(CAST(sxx AS DOUBLE) / CAST(m2 AS DOUBLE)
       |     - (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE))
       |       * (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE)), 0.0)
       |    AS assortativity
       |FROM s, n""".stripMargin

  /** Q126 — label-propagation communities (mirrors
    * Graph.lpCommunities): the synchronous mode-label iterations
    * unrolled as CTEs, identical (count desc, label asc) tie rule.
    */
  def q126LpCommunities(iters: Int = 2, minSupport: Int = 2): String = {
    val base =
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e AS (
         |  SELECT x.p AS a, y.p AS b
         |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
         |),
         |ed AS (SELECT a AS src, b AS dst FROM e
         |       UNION ALL SELECT b, a FROM e),
         |nodes AS (SELECT DISTINCT src AS node FROM ed),
         |l0 AS (SELECT node, node AS label FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""v$i AS (
         |  SELECT ed.src, l${i - 1}.label, count(*) AS c
         |  FROM ed JOIN l${i - 1} ON ed.dst = l${i - 1}.node
         |  GROUP BY 1, 2
         |),
         |b$i AS (
         |  SELECT src, label FROM (
         |    SELECT src, label, row_number() OVER (PARTITION BY src
         |      ORDER BY c DESC, label) AS rnk
         |    FROM v$i
         |  ) WHERE rnk = 1
         |),
         |l$i AS (
         |  SELECT n.node, coalesce(b$i.label, n.node) AS label
         |  FROM nodes n LEFT JOIN b$i ON b$i.src = n.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$steps
       |SELECT node, label AS community FROM l$iters""".stripMargin
  }

  /** Q223 — LP-partition modularity (mirrors Graph.modularity): the
    * q126 label chain, then exact integer intra/degree/m sums and the
    * pinned Newman contribution per community.
    */
  def q223Modularity(iters: Int = 2, minSupport: Int = 2): String =
    s"""WITH comm AS (${q126LpCommunities(iters, minSupport)}),
       |lp2 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e2 AS (
       |  SELECT x.p AS a, y.p AS b
       |  FROM lp2 x JOIN lp2 y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e2),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS node FROM e2 UNION ALL SELECT b AS node FROM e2) t
       |  GROUP BY 1
       |),
       |degc AS (
       |  SELECT c.community, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.deg) AS BIGINT) AS deg_c
       |  FROM deg d JOIN comm c ON c.node = d.node GROUP BY 1
       |),
       |intra AS (
       |  SELECT ca.community, CAST(count(*) AS BIGINT) AS intra_edges
       |  FROM e2
       |  JOIN comm ca ON ca.node = e2.a
       |  JOIN comm cb ON cb.node = e2.b
       |  WHERE ca.community = cb.community
       |  GROUP BY 1
       |)
       |SELECT d.community, d.n_nodes,
       |  coalesce(i.intra_edges, 0) AS intra_edges, d.deg_c,
       |  CAST(coalesce(i.intra_edges, 0) AS DOUBLE) / CAST(m AS DOUBLE)
       |    - (CAST(d.deg_c AS DOUBLE) / CAST(2 * m AS DOUBLE))
       |      * (CAST(d.deg_c AS DOUBLE) / CAST(2 * m AS DOUBLE))
       |    AS modularity
       |FROM degc d LEFT JOIN intra i USING (community), tot""".stripMargin

  /** Q130 — 2-hop neighborhood sizes (mirrors Graph.twoHopCounts):
    * the q126 edge replay, wedge join, NOT EXISTS direct-neighbor
    * exclusion.
    */
  def q130TwoHop(minSupport: Int = 2): String =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT x.p AS a, y.p AS b
       |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |),
       |ed AS (SELECT a AS src, b AS dst FROM e
       |       UNION ALL SELECT b, a FROM e),
       |nodes AS (SELECT DISTINCT src AS node FROM ed),
       |two AS (
       |  SELECT DISTINCT e1.src, e2.dst AS n2
       |  FROM ed e1 JOIN ed e2 ON e1.dst = e2.src AND e2.dst <> e1.src
       |),
       |strict AS (
       |  SELECT two.src, two.n2 FROM two
       |  WHERE NOT EXISTS (SELECT 1 FROM ed
       |    WHERE ed.src = two.src AND ed.dst = two.n2)
       |),
       |c AS (SELECT src, count(*) AS cnt FROM strict GROUP BY 1)
       |SELECT n.node, CAST(coalesce(c.cnt, 0) AS BIGINT) AS n_two_hop
       |FROM nodes n LEFT JOIN c ON c.src = n.node""".stripMargin

  /** Q179 — link prediction by Resource-Allocation index (mirrors
    * Graph.linkPrediction): wedge self-join over the co-purchase
    * graph, hub-capped mids, DECIMAL(28,14)-quantized 1/deg
    * contributions, existing-edge exclusion, minCommon floor.
    */
  def q179LinkPrediction(minSupport: Int = 2, maxDeg: Long = 100L,
                         minCommon: Long = 2L): String =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT x.p AS a, y.p AS b
       |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |),
       |ed AS (SELECT a AS src, b AS dst FROM e
       |       UNION ALL SELECT b, a FROM e),
       |mid AS (
       |  SELECT src AS z, count(*) AS deg FROM ed GROUP BY 1
       |  HAVING count(*) <= $maxDeg
       |),
       |w AS (
       |  SELECT e1.src AS a, e2.dst AS b, m.deg
       |  FROM ed e1
       |  JOIN ed e2 ON e1.dst = e2.src AND e1.src < e2.dst
       |  JOIN mid m ON e1.dst = m.z
       |),
       |sc AS (
       |  SELECT a, b, count(*) AS n_common,
       |    CAST(sum(CAST(CAST(1.0 AS DOUBLE) / deg AS DECIMAL(28,14)))
       |      AS DOUBLE) AS ra_score
       |  FROM w GROUP BY 1, 2
       |)
       |SELECT a, b, n_common, ra_score FROM sc
       |WHERE n_common >= $minCommon
       |  AND NOT EXISTS (SELECT 1 FROM e WHERE e.a = sc.a AND e.b = sc.b)""".stripMargin

  /** Q131 — interval-union active time (mirrors
    * Relational.activeTime): same gaps-and-islands windows over
    * DISTINCT (user, t_us), exact integer micros.
    */
  def q131ActiveTime(holdMin: Int = 5): String = {
    val hold = holdMin * 60000000L
    s"""WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) AS t_us FROM events),
       |m AS MATERIALIZED (
       |  SELECT user_id, t_us,
       |    max(t_us + $hold) OVER (PARTITION BY user_id ORDER BY t_us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM e
       |),
       |i AS (
       |  SELECT user_id, t_us,
       |    CASE WHEN prev_end IS NULL OR t_us > prev_end
       |         THEN 1 ELSE 0 END AS ni
       |  FROM m
       |),
       |isl AS (
       |  SELECT user_id, t_us,
       |    sum(ni) OVER (PARTITION BY user_id ORDER BY t_us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM i
       |),
       |g AS (
       |  SELECT user_id, island, min(t_us) AS start_us,
       |    max(t_us) + $hold AS end_us
       |  FROM isl GROUP BY 1, 2
       |)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_active_periods,
       |  CAST(sum(end_us - start_us) AS BIGINT) AS active_us
       |FROM g GROUP BY 1""".stripMargin
  }

  /** Q132 — vocabulary coverage curve (mirrors
    * TextAnalysis.vocabCoverage): rank/cumsum over the token-count
    * aggregate on the (cnt desc, token) total order; coverage is an
    * exact-integer division.
    */
  def q132VocabCoverage(topN: Int = 100): String =
    s"""WITH tok AS (
       |  SELECT unnest($tokensSql) AS token FROM documents
       |),
       |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
       |r AS (
       |  SELECT token, CAST(cnt AS BIGINT) AS cnt,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
       |      AS rank,
       |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_cnt
       |  FROM c
       |)
       |SELECT rank, token, cnt, cum_cnt,
       |  CAST(cum_cnt AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
       |FROM r, tot WHERE rank <= $topN""".stripMargin

  /** Q114 — per-group OLS (mirrors Relational.olsRegression): same
    * DECIMAL(18,4)-quantized sufficient statistics, same pinned
    * double finishing algebra, null on degenerate denominators.
    */
  def q114Ols: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |    CAST(TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)
       |      AS DECIMAL(18,4)) AS x,
       |    CAST(value AS DECIMAL(18,4)) AS y
       |  FROM events
       |  WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT)
       |    IS NOT NULL
       |),
       |a AS (
       |  SELECT event_type, count(*) AS n,
       |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
       |    CAST(sum(x * x) AS DOUBLE) AS sxx,
       |    CAST(sum(y * y) AS DOUBLE) AS syy,
       |    CAST(sum(x * y) AS DOUBLE) AS sxy
       |  FROM e GROUP BY 1
       |)
       |SELECT event_type, n,
       |  (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) AS slope,
       |  (sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) * sx) / n
       |    AS intercept,
       |  (n * sxy - sx * sy) * (n * sxy - sx * sy) /
       |    nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0) AS r2
       |FROM a""".stripMargin

  /** Q115 — reciprocal-rank fusion (mirrors TextAnalysis.rrfFusion):
    * both rankers restated from the q51 shared projection, ranks via
    * row_number, RRF in the identical pinned double expression.
    */
  def q115Rrf(terms: Seq[String] = Seq("hash", "join", "scan"),
              k1: Double = 1.2, b: Double = 0.75, rrfK: Int = 60,
              topN: Int = 20): String = {
    val tfCols = terms.map(t =>
      s"CAST(len(list_filter($tokensSql, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n    ")
    val dfCols = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n    ")
    val bm25 = terms.map(t =>
      s"(n_docs - df_$t + 0.5) / (df_$t + 0.5) * " +
        s"((tf_$t * ${k1 + 1}) / (tf_$t + $k1 * (${1 - b} + $b * dl / avgdl)))")
      .mkString(" + ")
    val tfidf = terms.map(t =>
      s"(CAST(tf_$t AS DOUBLE) / dl) * (CAST(n_docs AS DOUBLE) / df_$t)")
      .mkString(" + ")
    s"""WITH wd AS (
       |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS dl,
       |    $tfCols
       |  FROM documents
       |),
       |st AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
       |    $dfCols
       |  FROM wd
       |),
       |st2 AS (SELECT *, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM st),
       |sc AS (
       |  SELECT doc_id, $bm25 AS s_bm25, $tfidf AS s_tfidf
       |  FROM wd CROSS JOIN st2
       |),
       |rk AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY s_bm25 DESC, doc_id) AS BIGINT)
       |      AS rank_bm25,
       |    CAST(row_number() OVER (ORDER BY s_tfidf DESC, doc_id) AS BIGINT)
       |      AS rank_tfidf
       |  FROM sc
       |),
       |f AS (
       |  SELECT doc_id, rank_bm25, rank_tfidf,
       |    1.0 / ($rrfK + rank_bm25) + 1.0 / ($rrfK + rank_tfidf) AS rrf
       |  FROM rk
       |),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
       |    AS BIGINT) AS rnk
       |  FROM f
       |)
       |SELECT doc_id, rank_bm25, rank_tfidf, rrf, rnk
       |FROM r WHERE rnk <= $topN""".stripMargin
  }

  /** Q116 — stream-static enrichment (mirrors
    * StreamingOps.enrichStatic): the batch statement of the stream's
    * Complete-mode final table — decimal-quantized sums make the
    * running aggregate combine-order-free, so batch = stream.
    */
  def q116StreamEnrich: String =
    s"""SELECT n.n_name AS n_name, count(*) AS n_events,
       |  CAST(sum(CAST(e.value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
       |FROM events e
       |JOIN customer c ON e.user_id = c.c_custkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |GROUP BY 1""".stripMargin

  /** Q118 — Jaro-Winkler vocabulary linkage (mirrors
    * Dedup.jwVocabLinkage): DuckDB's jaro_winkler_similarity is the
    * independent implementation of the same published algorithm the
    * native JaroWinklerExpr pins (integer transposition halving,
    * 0.7 boost threshold, 4-char prefix cap).
    */
  def q118JwLinkage(minJw: Double = 0.5): String =
    s"""WITH v AS (
       |  SELECT DISTINCT token
       |  FROM (SELECT unnest($tokensSql) AS token FROM documents)
       |)
       |SELECT a.token AS tok_a, b.token AS tok_b,
       |  jaro_winkler_similarity(a.token, b.token) AS jw
       |FROM v a JOIN v b
       |  ON substr(a.token, 1, 1) = substr(b.token, 1, 1)
       |  AND a.token < b.token
       |WHERE jaro_winkler_similarity(a.token, b.token) >= $minJw""".stripMargin

  /** Q119 — partitioned-sink round-trip (mirrors
    * GenericSources.partitionedRoundtripSummary): the q59 rollup over
    * the declaratively-filtered original table — equality proves the
    * hive-partitioned write + pruned read lossless and complete.
    */
  def q119PartitionedRoundtrip(source: String = "src3"): String =
    s"""SELECT source, lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
       |FROM documents WHERE source = '$source' GROUP BY 1, 2""".stripMargin

  /** Q117 — robust MAD anomalies (mirrors Relational.madAnomalies):
    * quantile_cont median + MAD, same modified-z cutoff, MAD=0 groups
    * excluded by the null guard.
    */
  def q117MadAnomalies(cutoff: Double = 3.5): String =
    s"""WITH med AS (
       |  SELECT event_type, quantile_cont(value, 0.5) AS med
       |  FROM events GROUP BY 1
       |),
       |ad AS (
       |  SELECT e.event_id, e.event_type, e.value, med,
       |    abs(e.value - med) AS ad
       |  FROM events e JOIN med USING (event_type)
       |),
       |mad AS (
       |  SELECT event_type, quantile_cont(ad, 0.5) AS mad
       |  FROM ad GROUP BY 1
       |),
       |z AS (
       |  SELECT a.event_id, a.event_type, a.value, a.med, m.mad,
       |    0.6745 * (a.value - a.med) / nullif(m.mad, 0) AS mz
       |  FROM ad a JOIN mad m USING (event_type)
       |)
       |SELECT event_id, event_type, value, med, mad, mz
       |FROM z WHERE abs(mz) > $cutoff""".stripMargin

  /** Q121 — shingle containment (mirrors Dedup.shingleContainment):
    * the q15e CTE chain with `least()` in place of the union size.
    */
  def q121Containment(minContainment: Double = 0.8, maxDf: Long = 100L): String =
    s"""WITH $shingleCtes,
       |hot AS (SELECT h FROM shq GROUP BY h HAVING count(*) > $maxDf),
       |shc AS (SELECT * FROM shq WHERE h NOT IN (SELECT h FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM shc x JOIN shc y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT i.doc_a, i.doc_b, i.inter, za.sz AS sz_a, zb.sz AS sz_b,
       |  CAST(i.inter AS DOUBLE) / CAST(least(za.sz, zb.sz) AS DOUBLE)
       |    AS containment
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.doc_a
       |JOIN sizes zb ON zb.doc_id = i.doc_b
       |WHERE CAST(i.inter AS DOUBLE) / CAST(least(za.sz, zb.sz) AS DOUBLE)
       |  >= ${dlit(minContainment)}""".stripMargin

  /** Q122 — BPE merge candidates (mirrors
    * TextAnalysis.bpePairCandidates): vocabulary-weighted adjacent
    * character-pair counts; range(1, len) naturally skips 1-char
    * tokens.
    */
  def q122BpePairs(topN: Int = 30): String =
    s"""WITH tc AS (
       |  SELECT token, count(*) AS n
       |  FROM (SELECT unnest($tokensSql) AS token FROM documents)
       |  GROUP BY 1
       |),
       |p AS (
       |  SELECT n, unnest(list_transform(range(1, len(token)),
       |    i -> substring(token, i, 2))) AS pair
       |  FROM tc
       |),
       |pc AS (SELECT pair, CAST(sum(n) AS BIGINT) AS n_pair FROM p GROUP BY 1),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY n_pair DESC, pair)
       |    AS BIGINT) AS rnk
       |  FROM pc
       |)
       |SELECT pair, n_pair, rnk FROM r WHERE rnk <= $topN""".stripMargin

  /** Q277 — full BPE trainer (mirrors TextAnalysis.bpeTrain): k
    * unrolled merge rounds, each a materialized CTE chain of
    * (adjacent-pair count → LIMIT-1 argmax with the count/left/right
    * tie-break → run-parity greedy re-segmentation). Same discipline
    * as the q110/q143 unrolled loops; every round CTE is MATERIALIZED
    * because each is referenced 2–3 times by its round and once by the
    * next ([[duckdb-oracle-materialized-ctes]] — DuckDB re-inlines
    * plain CTEs per reference).
    */
  def q277BpeTrain(merges: Int = 8): String = {
    val union = (1 to merges).map(r =>
      s"SELECT $r AS merge_round, ls AS left_sym, rs AS right_sym, " +
        s"ls || rs AS merged, cnt AS pair_count FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeChainSql(merges, withFinalSeg = false)}
       |$union""".stripMargin
  }

  /** Q279 — BPE encoder (mirrors TextAnalysis.bpeEncode): the Q277
    * chain carried through the final re-segmentation, collapsed to
    * per-word subword counts and joined back to corpus occurrences
    * for per-document fertility.
    */
  def q279BpeEncode(merges: Int = 8): String =
    s"""WITH ${bpeChainSql(merges, withFinalSeg = true)},
       |ws AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n_sub
       |  FROM seg$merges GROUP BY 1
       |),
       |occ AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents),
       |ag AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_sub) AS BIGINT) AS n_subwords
       |  FROM occ JOIN ws USING (w) GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  coalesce(a.n_words, CAST(0 AS BIGINT)) AS n_words,
       |  coalesce(a.n_subwords, CAST(0 AS BIGINT)) AS n_subwords,
       |  CAST(coalesce(a.n_subwords, 0) AS DOUBLE) /
       |    CAST(nullif(coalesce(a.n_words, 0), 0) AS DOUBLE) AS fertility
       |FROM documents d LEFT JOIN ag a ON d.doc_id = a.doc_id""".stripMargin

  /** Q283 — frozen-vocabulary BPE encode of the incoming shard
    * (mirrors TextAnalysis.bpeEncodeFrozen): the q282 'inc:' scramble
    * splits the corpus; the q277 training chain runs on the EXISTING
    * shard's vocabulary; a REPLAY chain re-applies each round's frozen
    * argmax pair (b$r) to the INCOMING shard's vocabulary with the
    * same run-parity selection — no argmax of its own — and the q279
    * fertility tail rolls up incoming documents only. A word that
    * exists only in the incoming shard still encodes (characters +
    * whichever frozen merges fire inside it).
    */
  def q283BpeEncodeFrozen(merges: Int = 8, modN: Int = 5): String =
    s"""WITH ${incomingFlagCtes(modN)},
       |${bpeChainSql(merges, withFinalSeg = false,
           docsSrc = "(SELECT text FROM documents JOIN fl USING (doc_id) WHERE NOT incoming)")},
       |${bpeReplaySql(merges,
           "(SELECT text FROM documents JOIN fl USING (doc_id) WHERE incoming)")},
       |ws AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n_sub
       |  FROM rseg$merges GROUP BY 1
       |),
       |occ AS (
       |  SELECT doc_id, unnest($tokensSql) AS w
       |  FROM documents JOIN fl USING (doc_id) WHERE incoming
       |),
       |ag AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_sub) AS BIGINT) AS n_subwords
       |  FROM occ JOIN ws USING (w) GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  coalesce(a.n_words, CAST(0 AS BIGINT)) AS n_words,
       |  coalesce(a.n_subwords, CAST(0 AS BIGINT)) AS n_subwords,
       |  CAST(coalesce(a.n_subwords, 0) AS DOUBLE) /
       |    CAST(nullif(coalesce(a.n_words, 0), 0) AS DOUBLE) AS fertility
       |FROM (SELECT doc_id FROM documents JOIN fl USING (doc_id)
       |      WHERE incoming) d
       |LEFT JOIN ag a ON d.doc_id = a.doc_id""".stripMargin

  /** Q284 — PII redaction (mirrors TextAnalysis.piiRedact): the SAME
    * doc_id-derived PII decoration (the digit-free fixture needs
    * injected signal — see FIXTURES.md), per-category match counts
    * via regexp_extract_all, and the email → phone → IP global
    * replacement chain. The regex constants are shared with the Spark
    * operator (TextAnalysis.EmailRe/PhoneRe/IpRe) and sit in the
    * RE2 ∩ java.util.regex common subset, so both engines match the
    * same spans.
    */
  def q284PiiRedact(): String = {
    val e = graft.operators.TextAnalysis.EmailRe
    val ph = graft.operators.TextAnalysis.PhoneRe
    val ip = graft.operators.TextAnalysis.IpRe
    def n(re: String) = s"CAST(len(regexp_extract_all(t, '$re')) AS BIGINT)"
    s"""WITH pii AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR)
       |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
       |      || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.io' ELSE '' END
       |      || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |      || CASE WHEN doc_id % 4 = 0
       |              THEN ' or +44-020-' || lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0')
       |              ELSE '' END
       |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
       |      || '.' || CAST(doc_id % 10 AS VARCHAR) || '.7' AS t
       |  FROM documents
       |)
       |SELECT doc_id,
       |  ${n(e)} AS n_emails,
       |  ${n(ph)} AS n_phones,
       |  ${n(ip)} AS n_ips,
       |  ${n(e)} + ${n(ph)} + ${n(ip)} AS n_pii,
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(t, '$e', '<EMAIL>', 'g'),
       |      '$ph', '<PHONE>', 'g'),
       |    '$ip', '<IP>', 'g') AS redacted_text
       |FROM pii""".stripMargin
  }

  /** Q288 — second-day scrub through the refreshed index (mirrors
    * Dedup.spanScrubDayTwo): three generations from the 'inc:'
    * scramble (m=0 day 1, m=1 day 2, else existing). The refreshed
    * index the Spark side builds by write+append — existing hashes ∪
    * day-1 novel hashes — is SET-equal to the distinct hashes of
    * everything that is not day 2 (m <> 1), which is how the oracle
    * states it; day-2 occurrences are cut on an index hit or by the
    * q278 first-occurrence rule within day 2.
    */
  def q288SpanScrubDayTwo(w: Int = 8, modN: Int = 5,
                          idxPred: String = "m <> 1"): String =
    s"""WITH $tokenHashCtes,
       |${genFlagCtes(modN)},
       |itoks AS (
       |  SELECT t.doc_id, t.tk FROM toks t JOIN gn USING (doc_id)
       |  WHERE m = 1
       |),
       |sp AS MATERIALIZED (
       |  SELECT z.doc_id, CAST(t.i AS BIGINT) AS pos, ${spanFoldSql(w)} AS h,
       |    z.m
       |  FROM (SELECT thc.doc_id, th, m
       |        FROM thc JOIN gn USING (doc_id)) z,
       |    unnest(range(1, len(th) - ${w - 2})) AS t(i)
       |),
       |idx AS MATERIALIZED (SELECT DISTINCT h FROM sp WHERE $idxPred),
       |isp AS MATERIALIZED (
       |  SELECT doc_id, pos, h FROM sp WHERE m = 1
       |),
       |rin AS (SELECT i.doc_id, i.pos FROM isp i JOIN idx USING (h)),
       |rdup AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |      count(*) OVER (PARTITION BY h) AS occ,
       |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
       |    FROM isp WHERE h NOT IN (SELECT h FROM idx)
       |  ) WHERE occ >= 2 AND rk > 1
       |),
       |rm AS MATERIALIZED (
       |  SELECT * FROM rin UNION ALL SELECT * FROM rdup
       |),
       |${scrubTailSql("itoks", w)}""".stripMargin

  /** The three-generation variant of incomingFlagCtes: exposes the
    * raw scramble residue m instead of one boolean. */
  private def genFlagCtes(modN: Int): String = {
    val p = graft.functions.TextHash.P
    val hSql = polyHashSql("('inc:' || CAST(doc_id AS VARCHAR))")
    s"""u0 AS (SELECT doc_id, $hSql AS u FROM documents),
       |u1 AS (SELECT *, (u * u + 12345) % $p AS v1 FROM u0),
       |u2 AS (SELECT *, (v1 * 31 + u) % $p AS v2 FROM u1),
       |gn AS (SELECT doc_id, ((v2 * v2 + 6789) % $p) % $modN AS m FROM u2)""".stripMargin
  }

  /** The q282/q283 'inc:' scramble membership CTEs (u0→u1→u2→fl):
    * deterministic 20% incoming-shard flag per doc_id. */
  private def incomingFlagCtes(modN: Int): String =
    memberFlagCtes(modN, "inc:", "incoming")

  /** Prefix-parameterized scramble membership (mirrors the Spark
    * side's `scrambleMod(polyHash(prefix || doc_id)) % modN = 0`):
    * 'inc:' selects the q282 incoming shard, 'purge:' the q290
    * deleted-document set. */
  private def memberFlagCtes(modN: Int, prefix: String,
                             flag: String): String = {
    val p = graft.functions.TextHash.P
    val hSql = polyHashSql(s"('$prefix' || CAST(doc_id AS VARCHAR))")
    s"""u0 AS (SELECT doc_id, $hSql AS u FROM documents),
       |u1 AS (SELECT *, (u * u + 12345) % $p AS v1 FROM u0),
       |u2 AS (SELECT *, (v1 * 31 + u) % $p AS v2 FROM u1),
       |fl AS (SELECT doc_id, ((v2 * v2 + 6789) % $p) % $modN = 0 AS $flag
       |       FROM u2)""".stripMargin
  }

  /** Q290 — span-index purge audit (mirrors Dedup.spanIndexPurge):
    * per shard, the distinct span hashes of the whole corpus
    * (n_before), the hashes exclusive to purged documents (n_purged —
    * a hash survives when ANY surviving document contains it), and
    * the remainder (n_after). Derived from the raw documents table
    * alone, so the Spark side's file-level counts over the base and
    * purged-generation directories must agree exactly.
    */
  def q290SpanIndexPurge(w: Int = 8, modN: Int = 5,
                         nShards: Int = 8): String =
    s"""WITH $tokenHashCtes,
       |${memberFlagCtes(modN, "purge:", "purged")},
       |sp AS MATERIALIZED (
       |  SELECT z.doc_id, ${spanFoldSql(w)} AS h, z.purged
       |  FROM (SELECT thc.doc_id, th, purged
       |        FROM thc JOIN fl USING (doc_id)) z,
       |    unnest(range(1, len(th) - ${w - 2})) AS t(i)
       |),
       |u AS MATERIALIZED (
       |  SELECT h, bool_or(NOT purged) AS kept FROM sp GROUP BY 1
       |)
       |SELECT CAST(h % $nShards AS BIGINT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_before,
       |  CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_purged,
       |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_after
       |FROM u GROUP BY 1""".stripMargin

  /** The Q283 replay chain: rvocab/rseg0 over the incoming shard's
    * vocabulary, then per round the SAME run-parity selection and
    * re-segmentation as the training chain — but driven by the
    * training chain's frozen b$r instead of an argmax of its own.
    * Mirrors TextAnalysis.replaySeg/mergePass.
    */
  /** The adjacency-lead projection every BPE round body starts from. */
  private def bpeLeadSql(prev: String): String =
    s"SELECT w, n, i, sym, lead(sym) OVER (PARTITION BY w ORDER BY i) AS nxt FROM $prev"

  /** ONE run-parity selection + re-segmentation round body, shared by
    * the training chain (pair source = its own round's argmax b_r)
    * and the q283 replay chain (pair source = the training chain's
    * frozen b_r). The hand-mirrored equivalence between trainer and
    * replay IS the q283 correctness invariant, so the SQL lives in
    * exactly one place (round-12 review finding).
    */
  private def paritySelSegSql(sel: String, seg: String, prev: String,
                              b: String): String =
    s"""$sel AS MATERIALIZED (
       |  SELECT w, i FROM (
       |    SELECT w, i, row_number() OVER (PARTITION BY w, grp ORDER BY i) AS rin
       |    FROM (
       |      SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
       |      FROM (
       |        SELECT c.w, c.i
       |        FROM (${bpeLeadSql(prev)}) c, $b
       |        WHERE c.sym = $b.ls AND c.nxt = $b.rs
       |      )
       |    )
       |  ) WHERE rin % 2 = 1
       |),
       |$seg AS MATERIALIZED (
       |  SELECT w, n, row_number() OVER (PARTITION BY w ORDER BY oi) AS i, sym
       |  FROM (
       |    -- the merged symbol comes from a SCALAR subquery, not a
       |    -- cross join: when $b is empty (pair-exhausted training)
       |    -- $sel is empty too, every row keeps s.sym, and the
       |    -- segmentation carries forward unchanged — matching the
       |    -- Spark side (trainer early-stop / replay no-op round)
       |    SELECT s.w, s.n, s.i AS oi,
       |      CASE WHEN h.w IS NOT NULL
       |           THEN (SELECT ls || rs FROM $b) ELSE s.sym END AS sym
       |    FROM $prev s
       |    LEFT JOIN $sel h ON s.w = h.w AND s.i = h.i
       |    LEFT JOIN $sel pv ON s.w = pv.w AND s.i = pv.i + 1
       |    WHERE pv.w IS NULL
       |  )
       |)""".stripMargin

  private def bpeReplaySql(merges: Int, docsSrc: String): String = {
    val rounds = (1 to merges).map { r =>
      val prev = if (r == 1) "rseg0" else s"rseg${r - 1}"
      paritySelSegSql(s"rsl$r", s"rseg$r", prev, s"b$r")
    }.mkString(",\n")
    s"""rvocab AS MATERIALIZED (
       |  SELECT token AS w, count(*) AS n
       |  FROM (SELECT unnest($tokensSql) AS token FROM $docsSrc)
       |  GROUP BY 1
       |),
       |rseg0 AS MATERIALIZED (
       |  SELECT w, n, t.i,
       |    CASE WHEN t.i <= len(w) THEN substring(w, CAST(t.i AS INT), 1)
       |         ELSE '</w>' END AS sym
       |  FROM rvocab, unnest(range(1, len(w) + 2)) AS t(i)
       |),
       |$rounds""".stripMargin
  }

  /** The shared Q277/Q279/Q283 unrolled-round CTE chain: vocab → seg0
    * → (pair count, argmax, run-parity selection, re-segmentation) × k
    * over `docsSrc` (the full corpus for q277/q279; the existing shard
    * for q283's frozen training). `withFinalSeg` controls whether
    * round k's re-segmentation is emitted (the trainer only needs its
    * argmax; the encoder reads seg{k}).
    */
  private def bpeChainSql(merges: Int, withFinalSeg: Boolean,
                          docsSrc: String = "documents"): String = {
    val rounds = (1 to merges).map { r =>
      val prev = if (r == 1) "seg0" else s"seg${r - 1}"
      val pb =
        s"""p$r AS MATERIALIZED (
           |  SELECT sym AS ls, nxt AS rs, CAST(sum(n) AS BIGINT) AS cnt
           |  FROM (${bpeLeadSql(prev)})
           |  WHERE nxt IS NOT NULL GROUP BY 1, 2
           |),
           |b$r AS MATERIALIZED (
           |  SELECT ls, rs, cnt FROM p$r ORDER BY cnt DESC, ls, rs LIMIT 1
           |)""".stripMargin
      if (r == merges && !withFinalSeg) pb
      else pb + ",\n" + paritySelSegSql(s"sl$r", s"seg$r", prev, s"b$r")
    }.mkString(",\n")
    s"""vocab AS MATERIALIZED (
       |  SELECT token AS w, count(*) AS n
       |  FROM (SELECT unnest($tokensSql) AS token FROM $docsSrc)
       |  GROUP BY 1
       |),
       |seg0 AS MATERIALIZED (
       |  SELECT w, n, t.i,
       |    CASE WHEN t.i <= len(w) THEN substring(w, CAST(t.i AS INT), 1)
       |         ELSE '</w>' END AS sym
       |  FROM vocab, unnest(range(1, len(w) + 2)) AS t(i)
       |),
       |$rounds""".stripMargin
  }

  /** Q124 — OHLC resampling (mirrors Relational.ohlcResample): the
    * struct-min/max endpoints restated as rank-1 windows over the
    * exact (t_us, event_id) order.
    */
  def q124Ohlc: String =
    s"""WITH b AS (
       |  SELECT event_type, event_id, value, epoch_us(ts) AS t_us,
       |    (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us
       |  FROM events
       |),
       |r AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY event_type, hour_us
       |      ORDER BY t_us, event_id) AS ra,
       |    row_number() OVER (PARTITION BY event_type, hour_us
       |      ORDER BY t_us DESC, event_id DESC) AS rd
       |  FROM b
       |),
       |agg AS (
       |  SELECT event_type, hour_us, count(*) AS n_events,
       |    max(value) AS px_high, min(value) AS px_low,
       |    CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
       |  FROM b GROUP BY 1, 2
       |)
       |SELECT a.event_type, a.hour_us, a.n_events,
       |  o.value AS px_open, a.px_high, a.px_low, c.value AS px_close,
       |  a.sum_value
       |FROM agg a
       |JOIN (SELECT event_type, hour_us, value FROM r WHERE ra = 1) o
       |  USING (event_type, hour_us)
       |JOIN (SELECT event_type, hour_us, value FROM r WHERE rd = 1) c
       |  USING (event_type, hour_us)""".stripMargin

  /** Q120 — PMI collocations (mirrors TextAnalysis.pmiCollocations):
    * identical pinned rational lift expression; bigrams via the
    * q53-form adjacent-token join.
    */
  def q120Pmi(minCount: Int = 5, topN: Int = 50): String =
    s"""WITH uni AS (
       |  SELECT token, count(*) AS c1
       |  FROM (SELECT unnest($tokensSql) AS token FROM documents)
       |  GROUP BY 1
       |),
       |d AS (SELECT $tokensSql AS tk FROM documents),
       |bgx AS (
       |  SELECT unnest(list_transform(range(1, len(tk)),
       |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram
       |  FROM d
       |),
       |bg AS (
       |  SELECT bigram, count(*) AS c_ab,
       |    string_split(bigram, ' ')[1] AS w1,
       |    string_split(bigram, ' ')[2] AS w2
       |  FROM bgx GROUP BY 1
       |),
       |n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n1 FROM uni),
       |nb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS nb FROM bg),
       |j AS (
       |  SELECT bigram, c_ab, a.c1 AS ca, b.c1 AS cb,
       |    CAST(c_ab AS DOUBLE) * n1.n1 * n1.n1 /
       |      (CAST(nb.nb AS DOUBLE) * a.c1 * b.c1) AS lift
       |  FROM bg
       |  JOIN uni a ON a.token = bg.w1
       |  JOIN uni b ON b.token = bg.w2
       |  CROSS JOIN n1 CROSS JOIN nb
       |  WHERE c_ab >= $minCount
       |),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY lift DESC, bigram)
       |    AS BIGINT) AS rnk
       |  FROM j
       |)
       |SELECT bigram, c_ab, ca, cb, lift, rnk
       |FROM r WHERE rnk <= $topN""".stripMargin

  /** Q135 — data-quality constraint audit (mirrors
    * Relational.constraintAudit): same named checks, exact int64
    * counts.
    */
  def q135ConstraintAudit: String =
    s"""WITH o_row AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS v1,
       |    CAST(sum(CASE WHEN o_orderdate IS NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS v2
       |  FROM orders
       |),
       |l_row AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
       |      OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
       |    CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0
       |      OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v2
       |  FROM lineitem
       |),
       |o_uni AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
       |    CAST(sum(c - 1) AS BIGINT) AS n_violations
       |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
       |),
       |l_uni AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
       |    CAST(sum(c - 1) AS BIGINT) AS n_violations
       |  FROM (SELECT count(*) AS c FROM lineitem
       |        GROUP BY l_orderkey, l_linenumber)
       |),
       |o_fk AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
       |    CAST((SELECT count(*) FROM orders o
       |      WHERE NOT EXISTS (SELECT 1 FROM customer c
       |        WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS n_violations
       |),
       |l_fk AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
       |    CAST((SELECT count(*) FROM lineitem l
       |      WHERE NOT EXISTS (SELECT 1 FROM orders o
       |        WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_violations
       |),
       |u AS (
       |  SELECT 'orders.totalprice_positive' AS "constraint", n_rows,
       |    v1 AS n_violations FROM o_row
       |  UNION ALL SELECT 'orders.orderdate_not_null', n_rows, v2 FROM o_row
       |  UNION ALL SELECT 'lineitem.quantity_1_50', n_rows, v1 FROM l_row
       |  UNION ALL SELECT 'lineitem.discount_0_1', n_rows, v2 FROM l_row
       |  UNION ALL SELECT 'orders.orderkey_unique', n_rows, n_violations
       |    FROM o_uni
       |  UNION ALL SELECT 'lineitem.order_line_unique', n_rows, n_violations
       |    FROM l_uni
       |  UNION ALL SELECT 'orders.custkey_fk', n_rows, n_violations FROM o_fk
       |  UNION ALL SELECT 'lineitem.orderkey_fk', n_rows, n_violations
       |    FROM l_fk
       |)
       |SELECT "constraint", n_rows, n_violations,
       |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
       |FROM u""".stripMargin

  /** Q134 — per-source vocabulary drift (mirrors
    * TextAnalysis.sourceDrift): exact integer cross-products, one
    * pinned double division, per-source rank window.
    */
  def q134SourceDrift(minCount: Int = 5, topN: Int = 10): String =
    s"""WITH bs AS (
       |  SELECT source, token, count(*) AS c_src
       |  FROM (SELECT source, unnest($tokensSql) AS token FROM documents)
       |  GROUP BY 1, 2
       |),
       |al AS (SELECT token, CAST(sum(c_src) AS BIGINT) AS c_all
       |       FROM bs GROUP BY 1),
       |ts AS (SELECT source, CAST(sum(c_src) AS BIGINT) AS tot_src
       |       FROM bs GROUP BY 1),
       |ta AS (SELECT CAST(sum(c_all) AS BIGINT) AS tot_all FROM al),
       |j AS (
       |  SELECT bs.source, bs.token, CAST(bs.c_src AS BIGINT) AS c_src,
       |    al.c_all,
       |    CAST(bs.c_src * ta.tot_all AS DOUBLE)
       |      / CAST(al.c_all * ts.tot_src AS DOUBLE) AS lift
       |  FROM bs
       |  JOIN al ON al.token = bs.token
       |  JOIN ts ON ts.source = bs.source
       |  CROSS JOIN ta
       |  WHERE bs.c_src >= $minCount
       |),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY lift DESC, token) AS BIGINT) AS rnk
       |  FROM j
       |)
       |SELECT source, token, c_src, c_all, lift, rnk
       |FROM r WHERE rnk <= $topN""".stripMargin

  /** Q129 — first/last-touch attribution (mirrors
    * Relational.touchAttribution): endpoints restated as rank-1
    * windows over the same (t_us, event_id) total order the engine's
    * struct min/max uses.
    */
  def q129Attribution: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id
       |  FROM events
       |),
       |conv AS (
       |  SELECT user_id, t_us AS cv_t, event_id AS cv_id FROM (
       |    SELECT user_id, t_us, event_id,
       |      row_number() OVER (PARTITION BY user_id
       |        ORDER BY t_us, event_id) AS rn
       |    FROM e WHERE event_type = 'purchase') WHERE rn = 1
       |),
       |tch AS (
       |  SELECT e.user_id, e.event_type, e.t_us, e.event_id
       |  FROM e JOIN conv ON conv.user_id = e.user_id
       |  WHERE e.event_type <> 'purchase'
       |    AND (e.t_us < conv.cv_t
       |         OR (e.t_us = conv.cv_t AND e.event_id < conv.cv_id))
       |),
       |r AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY t_us, event_id) AS ra,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY t_us DESC, event_id DESC) AS rd
       |  FROM tch
       |),
       |f AS (SELECT event_type AS channel, count(*) AS n_first
       |      FROM r WHERE ra = 1 GROUP BY 1),
       |l AS (SELECT event_type AS channel, count(*) AS n_last
       |      FROM r WHERE rd = 1 GROUP BY 1)
       |SELECT coalesce(f.channel, l.channel) AS channel,
       |  CAST(coalesce(f.n_first, 0) AS BIGINT) AS n_first,
       |  CAST(coalesce(l.n_last, 0) AS BIGINT) AS n_last
       |FROM f FULL JOIN l ON f.channel = l.channel""".stripMargin

  /** Q136 — dominant supplier share (mirrors
    * Relational.dominantSupplierShare): the same correlated scalar
    * subqueries, decimal-exact sums and threshold, one double
    * division.
    */
  def q136DominantSupplier: String =
    """WITH ps AS (
      |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
      |         sum(CAST(l_quantity AS DECIMAL(20,4))) AS qty_dec
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT partkey, suppkey,
      |  CAST(qty_dec AS DOUBLE) AS qty,
      |  CAST(qty_dec AS DOUBLE) /
      |    CAST((SELECT sum(p2.qty_dec) FROM ps p2
      |          WHERE p2.partkey = p1.partkey) AS DOUBLE) AS share
      |FROM ps p1
      |WHERE qty_dec * 20 > (SELECT sum(p2.qty_dec) FROM ps p2
      |                      WHERE p2.partkey = p1.partkey) * 3
      |""".stripMargin

  /** Q137 — per-channel lag-k autocorrelation (mirrors
    * Relational.signalAutocorr): same decimal sufficient statistics,
    * same Pearson association order.
    */
  def q137SignalAutocorr: String =
    s"""WITH $sigCtes,
       |b AS (
       |  SELECT channel, CAST(y AS DECIMAL(18,4)) AS x,
       |    lead(CAST(y AS DECIMAL(18,4)), 1) OVER w AS l1,
       |    lead(CAST(y AS DECIMAL(18,4)), 5) OVER w AS l5,
       |    lead(CAST(y AS DECIMAL(18,4)), 10) OVER w AS l10
       |  FROM sig
       |  WINDOW w AS (PARTITION BY channel ORDER BY sample_idx)
       |),
       |p AS (
       |  SELECT channel, 1 AS k, x, l1 AS z FROM b WHERE l1 IS NOT NULL
       |  UNION ALL
       |  SELECT channel, 5, x, l5 FROM b WHERE l5 IS NOT NULL
       |  UNION ALL
       |  SELECT channel, 10, x, l10 FROM b WHERE l10 IS NOT NULL
       |),
       |a AS (
       |  SELECT channel, k, CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(x) AS DOUBLE) AS sx,
       |    CAST(sum(z) AS DOUBLE) AS sz,
       |    CAST(sum(x * x) AS DOUBLE) AS sxx,
       |    CAST(sum(z * z) AS DOUBLE) AS szz,
       |    CAST(sum(x * z) AS DOUBLE) AS sxz
       |  FROM p GROUP BY channel, k
       |)
       |SELECT channel, k, m,
       |  (m * sxz - sx * sz) /
       |    NULLIF(sqrt((m * sxx - sx * sx) * (m * szz - sz * sz)), 0)
       |    AS r
       |FROM a""".stripMargin

  /** Q138 — prefix-dimension recall audit (mirrors
    * Similarity.prefixRecall): full-dim truth, one truncated-cosine
    * top-k per prefix via the same cosSql fold over the first pd
    * elements, left-join hit counts.
    */
  def q138PrefixRecall(dims: Seq[Int] = Seq(8, 16, 32), k: Int = 10,
                       dim: Int = 64): String = {
    val blocks = dims.map { pd =>
      s"""a$pd AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, e.vec_id,
         |      row_number() OVER (PARTITION BY p.probe_id
         |        ORDER BY ${cosSql("p.pe", "e.de", pd)} DESC, e.vec_id) AS rnk
         |    FROM p CROSS JOIN e WHERE e.vec_id <> p.probe_id)
         |  WHERE rnk <= $k),
         |r$pd AS (
         |  SELECT $pd AS prefix_dim, t.probe_id,
         |    CAST(count(a.vec_id) AS BIGINT) AS n_hit
         |  FROM truth t LEFT JOIN a$pd a
         |    ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id
         |  GROUP BY t.probe_id)""".stripMargin
    }.mkString(",\n")
    val union = dims.map(pd => s"SELECT * FROM r$pd").mkString("\nUNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
       |  FROM embeddings
       |),
       |p AS (SELECT vec_id AS probe_id, de AS pe FROM e WHERE vec_id < 3),
       |truth AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT p.probe_id, e.vec_id,
       |      row_number() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${cosSql("p.pe", "e.de", dim)} DESC, e.vec_id) AS rnk
       |    FROM p CROSS JOIN e WHERE e.vec_id <> p.probe_id)
       |  WHERE rnk <= $k),
       |$blocks
       |SELECT prefix_dim, probe_id, n_hit,
       |  CAST(n_hit AS DOUBLE) / $k AS recall
       |FROM ($union)""".stripMargin
  }

  /** Q139 — multimodal checksum dedup (mirrors Multimodal.mediaDedup):
    * DuckDB md5 over the same UTF-8 bytes, octet_length for the byte
    * count, min-doc_id survivor.
    */
  def q139MediaDedup: String =
    """WITH h AS (
      |  SELECT doc_id, md5(text) AS content_md5,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents),
      |g AS (
      |  SELECT content_md5, CAST(count(*) AS BIGINT) AS n_copies,
      |    min(doc_id) AS survivor_id
      |  FROM h GROUP BY content_md5)
      |SELECT h.doc_id, h.content_md5, h.n_bytes, g.n_copies, g.survivor_id,
      |  CAST(CASE WHEN h.doc_id = g.survivor_id THEN 1 ELSE 0 END AS BIGINT)
      |    AS keep
      |FROM h JOIN g USING (content_md5)""".stripMargin

  /** Q140 — explicit set operations (mirrors Relational.eventSetOps):
    * INTERSECT / EXCEPT with their standard distinct semantics.
    */
  def q140EventSetOps: String =
    """WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
      |b AS (SELECT user_id FROM events WHERE event_type = 'purchase')
      |SELECT 'both' AS tag, user_id FROM (SELECT * FROM c INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT 'click_only', user_id FROM (SELECT * FROM c EXCEPT SELECT * FROM b)
      |UNION ALL
      |SELECT 'purchase_only', user_id FROM (SELECT * FROM b EXCEPT SELECT * FROM c)
      |""".stripMargin

  /** Q141 — Markov transition matrix (mirrors
    * Relational.eventTransitions): same total order, exact counts,
    * one pinned division.
    */
  def q141EventTransitions: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id
      |  FROM events
      |),
      |p AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY t_us, event_id) AS to_type
      |  FROM e
      |),
      |m AS MATERIALIZED (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
      |),
      |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      |      FROM m GROUP BY 1)
      |SELECT m.from_type, m.to_type, m.n,
      |  CAST(m.n AS DOUBLE) / t.n_from AS p
      |FROM m JOIN t USING (from_type)""".stripMargin

  /** Q142 — time-weighted average (mirrors Relational.twapByType):
    * same decimal-exact weighted sums, one double division.
    */
  def q142Twap: String =
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(value AS DECIMAL(18,4)) AS v, epoch_us(ts) AS t_us
      |  FROM events
      |),
      |d AS (
      |  SELECT event_type, v, t_us,
      |    lead(t_us, 1) OVER (PARTITION BY event_type
      |      ORDER BY t_us, event_id) AS next_us
      |  FROM e
      |),
      |a AS (
      |  SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n_intervals,
      |    CAST(sum(next_us - t_us) AS BIGINT) AS total_us,
      |    sum(v * CAST(next_us - t_us AS DECIMAL(20,0))) AS vw
      |  FROM d WHERE next_us IS NOT NULL GROUP BY 1
      |)
      |SELECT event_type, n_intervals, total_us,
      |  CAST(vw AS DOUBLE) / CAST(total_us AS DOUBLE) AS twap
      |FROM a""".stripMargin

  /** Q143 — multi-source BFS hops (mirrors Graph.bfsHops): the fixed
    * relaxation rounds unrolled as CTEs, identical min-merge each
    * round, left join keeps unreached nodes as NULL.
    */
  def q143BfsHops(maxHops: Int = 4, seedMod: Int = 50,
                  minSupport: Int = 2): String = {
    val base =
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e AS (
         |  SELECT x.p AS a, y.p AS b
         |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
         |),
         |ed AS (SELECT a AS src, b AS dst FROM e
         |       UNION ALL SELECT b, a FROM e),
         |nodes AS (SELECT DISTINCT src AS node FROM ed),
         |d0 AS (SELECT node, CAST(0 AS BIGINT) AS hops
         |       FROM nodes WHERE node % $seedMod = 0)""".stripMargin
    val steps = (1 to maxHops).map { i =>
      s"""d$i AS (
         |  SELECT node, min(hops) AS hops FROM (
         |    SELECT node, hops FROM d${i - 1}
         |    UNION ALL
         |    SELECT ed.dst AS node, d${i - 1}.hops + 1 AS hops
         |    FROM ed JOIN d${i - 1} ON ed.src = d${i - 1}.node
         |  ) GROUP BY 1
         |)""".stripMargin
    }
    s"""$base,
       |${steps.mkString(",\n")}
       |SELECT n.node, d.hops
       |FROM nodes n LEFT JOIN d$maxHops d ON d.node = n.node""".stripMargin
  }

  /** Q159 — mirrors Graph.recursiveReach: the same WITH RECURSIVE
    * min-hop program over the inline co-purchase edge CTEs.
    */
  def q159RecursiveReach(maxHops: Int = 3, seedMod: Int = 50,
                         minSupport: Int = 2): String =
    s"""WITH RECURSIVE
       |lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT x.p AS a, y.p AS b
       |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |),
       |ed AS (SELECT a AS src, b AS dst FROM e
       |       UNION ALL SELECT b, a FROM e),
       |reach AS (
       |  SELECT DISTINCT src AS node, 0 AS hop FROM ed WHERE src % $seedMod = 0
       |  UNION ALL
       |  SELECT ed.dst, r.hop + 1
       |  FROM reach r JOIN ed ON ed.src = r.node
       |  WHERE r.hop < $maxHops
       |)
       |SELECT node, CAST(min(hop) AS BIGINT) AS hop
       |FROM reach GROUP BY node""".stripMargin

  /** Q163 — k-core peeling (mirrors Graph.kCore): the same fixed
    * number of unrolled peel rounds over the inline co-purchase edge
    * CTEs; round i keeps edges whose BOTH endpoints had degree ≥ k in
    * round i−1's edge set.
    */
  def q163KCore(k: Int = 3, rounds: Int = 8, minSupport: Int = 2): String = {
    // Every multiply-referenced CTE is AS MATERIALIZED: DuckDB inlines
    // plain CTEs, so the ed0..edN chain (each round referencing the
    // previous 3x) would otherwise multiply the base lineitem scan by
    // ~3^rounds and exhaust file handles.
    val base =
      s"""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT x.p AS a, y.p AS b
         |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
         |),
         |ed0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
         |        UNION ALL SELECT b, a FROM e)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (
         |  SELECT src FROM ed${i - 1} GROUP BY src HAVING count(*) >= $k
         |),
         |ed$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM ed${i - 1} e
         |  JOIN k$i a ON e.src = a.src
         |  JOIN k$i b ON e.dst = b.src
         |)""".stripMargin
    }
    s"""$base,
       |${steps.mkString(",\n")}
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |FROM ed$rounds GROUP BY 1""".stripMargin
  }

  /** Q144 — per-source Gini token diversity (mirrors
    * TextAnalysis.giniDiversity): exact integer count aggregation,
    * one final double expression.
    */
  def q144GiniDiversity: String =
    s"""WITH tc AS (
       |  SELECT source, token, count(*) AS c
       |  FROM (SELECT source, unnest($tokensSql) AS token FROM documents)
       |  GROUP BY 1, 2
       |),
       |a AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(c * c) AS BIGINT) AS ssq
       |  FROM tc GROUP BY 1
       |)
       |SELECT source, n_tokens, n_types,
       |  CAST(1 AS DOUBLE) - CAST(ssq AS DOUBLE) /
       |    (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS gini
       |FROM a""".stripMargin

  /** Q145 — deterministic priority sampling (mirrors
    * Pipeline.prioritySample): identical hash-uniform, the same two
    * pinned IEEE divisions, (priority DESC, doc_id) total order.
    */
  def q145PrioritySample(k: Int = 50): String =
    s"""WITH p AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(n_chars AS DOUBLE) /
       |      (CAST(${polyHashSql("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE) /
       |       CAST(1000000007 AS DOUBLE)) AS priority
       |  FROM documents
       |),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rnk
       |  FROM p
       |),
       |t AS (SELECT priority AS tau FROM r WHERE rnk = ${k + 1})
       |SELECT doc_id, source, n_chars, priority,
       |  greatest(CAST(n_chars AS DOUBLE), tau) AS est_w
       |FROM r CROSS JOIN t WHERE rnk <= $k""".stripMargin

  /** Q146 — phrase search (mirrors TextAnalysis.phraseSearch): the
    * positional posting relation via list indexing, the same shifted
    * equi-joins per successive term, 0-based positions.
    */
  def q146PhraseSearch(phrase: Seq[String] = Seq("hash", "value")): String = {
    val joins = phrase.zipWithIndex.tail.map { case (w, i) =>
      s"JOIN tp t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i AND t$i.tok = '$w'"
    }.mkString("\n  ")
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |tp AS (
       |  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
       |  FROM tk, unnest(range(1, len(toks) + 1)) AS t(i)
       |),
       |m AS MATERIALIZED (
       |  SELECT t0.doc_id, t0.pos
       |  FROM tp t0
       |  $joins
       |  WHERE t0.tok = '${phrase.head}'
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       |  CAST(min(pos) AS BIGINT) AS first_pos
       |FROM m GROUP BY 1""".stripMargin
  }

  /** Q147 — CUSUM change point (mirrors Relational.signalCusum):
    * identical pinned decimal widths (24,4 sums; 6,0 counters) so the
    * n·S_k − k·T products stay exact DECIMAL in DuckDB too, same
    * (dev DESC, sample_idx) argmax order, one final double division.
    */
  def q147SignalCusum: String =
    s"""WITH $sigCtes,
       |c AS (
       |  SELECT channel, sample_idx,
       |    CAST(row_number() OVER w AS DECIMAL(6,0)) AS k,
       |    CAST(sum(CAST(y AS DECIMAL(18,4))) OVER w AS DECIMAL(24,4)) AS sk,
       |    CAST(sum(CAST(y AS DECIMAL(18,4))) OVER wa AS DECIMAL(24,4)) AS t,
       |    CAST(count(*) OVER wa AS DECIMAL(6,0)) AS n
       |  FROM sig
       |  WINDOW w AS (PARTITION BY channel ORDER BY sample_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |  wa AS (PARTITION BY channel)
       |),
       |d AS (
       |  SELECT channel, sample_idx, n, abs(n * sk - k * t) AS dev
       |  FROM c
       |),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY channel
       |    ORDER BY dev DESC, sample_idx) AS rnk
       |  FROM d
       |)
       |SELECT channel, CAST(n AS BIGINT) AS n, sample_idx AS cp_idx,
       |  CAST(dev AS DOUBLE) / CAST(n AS DOUBLE) AS cusum_dev
       |FROM r WHERE rnk = 1""".stripMargin

  /** Q148 — daily lag features (mirrors Relational.lagFeatures):
    * exact BIGINT counts, the same 7-row trailing frame, one double
    * division per row.
    */
  def q148LagFeatures: String =
    s"""WITH daily AS (
       |  SELECT event_type,
       |    strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2
       |)
       |SELECT event_type, day, n,
       |  lag(n, 1) OVER w AS lag1,
       |  lag(n, 7) OVER w AS lag7,
       |  CAST(sum(n) OVER wf AS BIGINT) AS roll7_sum,
       |  CAST(sum(n) OVER wf AS DOUBLE) / CAST(count(*) OVER wf AS DOUBLE)
       |    AS roll7_mean
       |FROM daily
       |WINDOW w AS (PARTITION BY event_type ORDER BY day),
       |  wf AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Q150 — multiset set operations (mirrors
    * Relational.eventSetOpsAll): INTERSECT ALL / EXCEPT ALL with
    * occurrence counting.
    */
  def q150EventSetOpsAll: String =
    """WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
      |b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
      |u AS (
      |  SELECT 'both_all' AS tag, user_id
      |  FROM (SELECT * FROM c INTERSECT ALL SELECT * FROM b)
      |  UNION ALL
      |  SELECT 'click_surplus', user_id
      |  FROM (SELECT * FROM c EXCEPT ALL SELECT * FROM b)
      |  UNION ALL
      |  SELECT 'purchase_surplus', user_id
      |  FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM c)
      |)
      |SELECT tag, user_id, CAST(count(*) AS BIGINT) AS n
      |FROM u GROUP BY 1, 2""".stripMargin

  /** Q151 — per-stratum priority sampling (mirrors
    * Pipeline.stratifiedPrioritySample): identical hash-uniform and
    * division order, per-source (priority DESC, doc_id) rank, τ from
    * the k+1 rank row, strata with ≤ k docs keep est_w = w.
    */
  def q151StratifiedPriority(k: Int = 10): String =
    s"""WITH p AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(n_chars AS DOUBLE) /
       |      (CAST(${polyHashSql("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE) /
       |       CAST(1000000007 AS DOUBLE)) AS priority
       |  FROM documents
       |),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY priority DESC, doc_id) AS rnk
       |  FROM p
       |),
       |t AS (SELECT source, priority AS tau FROM r WHERE rnk = ${k + 1})
       |SELECT r.doc_id, r.source, r.n_chars, r.priority,
       |  CASE WHEN t.tau IS NULL THEN CAST(r.n_chars AS DOUBLE)
       |       ELSE greatest(CAST(r.n_chars AS DOUBLE), t.tau) END AS est_w
       |FROM r LEFT JOIN t ON t.source = r.source
       |WHERE r.rnk <= $k""".stripMargin

  /** Q152 — funnel stage-latency percentiles (mirrors
    * Relational.stageLatency): the Q74 chained-min CTEs, stage gaps
    * unpivoted, quantile_cont = Spark percentile interpolation.
    */
  def q152StageLatency: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
       |),
       |s1 AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'signup' THEN t_us END) AS t1
       |  FROM e GROUP BY 1 HAVING t1 IS NOT NULL
       |),
       |s2 AS (
       |  SELECT e.user_id, t1,
       |    min(CASE WHEN event_type = 'click' AND t_us > t1
       |      THEN t_us END) AS t2
       |  FROM e JOIN s1 USING (user_id) GROUP BY 1, 2
       |),
       |s3 AS (
       |  SELECT e.user_id, t1, t2,
       |    min(CASE WHEN event_type = 'purchase' AND t_us > t2
       |      THEN t_us END) AS t3
       |  FROM e JOIN s2 USING (user_id) GROUP BY 1, 2, 3
       |),
       |lats AS (
       |  SELECT 'signup_to_click' AS stage, t2 - t1 AS lat FROM s3
       |  UNION ALL
       |  SELECT 'click_to_purchase', t3 - t2 FROM s3
       |)
       |SELECT stage, CAST(count(*) AS BIGINT) AS n,
       |  quantile_cont(lat, 0.5) AS p50_us,
       |  quantile_cont(lat, 0.9) AS p90_us
       |FROM lats WHERE lat IS NOT NULL GROUP BY 1""".stripMargin

  /** Q153 — session-depth distribution (mirrors
    * Relational.sessionDepth): the Q24 gaps-and-islands sessions,
    * collapsed to a depth histogram with one share division.
    */
  def q153SessionDepth(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e2 AS (
       |  SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events
       |),
       |m AS MATERIALIZED (
       |  SELECT *, CASE WHEN lag(tus) OVER w IS NULL
       |                   OR tus - lag(tus) OVER w >= $gapUs THEN 1 ELSE 0 END AS brk
       |  FROM e2 WINDOW w AS (PARTITION BY user_id ORDER BY tus)
       |),
       |sess AS (
       |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tus
       |                           ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m
       |),
       |d AS (
       |  SELECT user_id, sid, count(*) AS depth FROM sess GROUP BY 1, 2
       |),
       |h AS (
       |  SELECT depth, CAST(count(*) AS BIGINT) AS n_sessions FROM d GROUP BY 1
       |),
       |tot AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS total FROM h)
       |SELECT depth, n_sessions,
       |  CAST(n_sessions AS DOUBLE) / CAST(total AS DOUBLE) AS share
       |FROM h CROSS JOIN tot""".stripMargin
  }

  /** Q183 — HITS hubs/authorities (mirrors Graph.hits): same DECIMAL
    * mass sums, same one-double-division sum-normalization per
    * half-step, unrolled for `iters` = 2.
    */
  def q183Hits(): String =
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |a0 AS (SELECT DISTINCT p, CAST(1 AS DECIMAL(28,14)) AS a FROM e),
       |h1r AS (SELECT c, sum(a) AS hr FROM e JOIN a0 USING (p) GROUP BY c),
       |h1 AS (
       |  SELECT c, CAST(CAST(hr AS DOUBLE) /
       |    CAST((SELECT sum(hr) FROM h1r) AS DOUBLE) AS DECIMAL(28,14)) AS h
       |  FROM h1r
       |),
       |a1r AS (SELECT p, sum(h) AS ar FROM e JOIN h1 USING (c) GROUP BY p),
       |a1 AS (
       |  SELECT p, CAST(CAST(ar AS DOUBLE) /
       |    CAST((SELECT sum(ar) FROM a1r) AS DOUBLE) AS DECIMAL(28,14)) AS a
       |  FROM a1r
       |),
       |h2r AS (SELECT c, sum(a) AS hr FROM e JOIN a1 USING (p) GROUP BY c),
       |h2 AS (
       |  SELECT c, CAST(CAST(hr AS DOUBLE) /
       |    CAST((SELECT sum(hr) FROM h2r) AS DOUBLE) AS DECIMAL(28,14)) AS h
       |  FROM h2r
       |),
       |a2r AS (SELECT p, sum(h) AS ar FROM e JOIN h2 USING (c) GROUP BY p),
       |a2 AS (
       |  SELECT p, CAST(CAST(ar AS DOUBLE) /
       |    CAST((SELECT sum(ar) FROM a2r) AS DOUBLE) AS DECIMAL(28,14)) AS a
       |  FROM a2r
       |)
       |SELECT 'hub' AS kind, c AS id, CAST(h AS DOUBLE) AS score FROM h2
       |UNION ALL
       |SELECT 'auth' AS kind, p AS id, CAST(a AS DOUBLE) AS score FROM a2""".stripMargin

  /** Q189 — temporal distribution drift (mirrors
    * Relational.driftAudit): same integer-div time midpoint, same
    * pinned bin expression, same share divisions.
    */
  def q189Drift(bins: Int = 10): String =
    s"""WITH e AS (
       |  SELECT event_type, value, epoch_us(ts) AS tus FROM events
       |),
       |mid AS (SELECT (min(tus) + max(tus)) // 2 AS mid FROM e),
       |rng AS (
       |  SELECT event_type, min(value) AS vmin, max(value) AS vmax
       |  FROM e GROUP BY 1
       |),
       |b AS (
       |  SELECT e.event_type,
       |    CASE WHEN vmax = vmin THEN 0
       |         ELSE CAST(least(floor((value - vmin) / (vmax - vmin) * $bins),
       |                        ${bins - 1}) AS BIGINT) END AS bin,
       |    CASE WHEN tus <= mid THEN 1 ELSE 2 END AS h
       |  FROM e CROSS JOIN mid JOIN rng USING (event_type)
       |),
       |c AS (
       |  SELECT event_type, bin,
       |    CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
       |    CAST(sum(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_second
       |  FROM b GROUP BY 1, 2
       |),
       |t AS (
       |  SELECT event_type, CAST(sum(n_first) AS BIGINT) AS t1,
       |    CAST(sum(n_second) AS BIGINT) AS t2
       |  FROM c GROUP BY 1
       |)
       |SELECT event_type, bin, n_first, n_second,
       |  CAST(n_first AS DOUBLE) / t1 AS p_first,
       |  CAST(n_second AS DOUBLE) / t2 AS p_second,
       |  abs(CAST(n_first AS DOUBLE) / t1 -
       |      CAST(n_second AS DOUBLE) / t2) AS abs_diff
       |FROM c JOIN t USING (event_type)""".stripMargin

  /** Q188 — per-source Gini length concentration (mirrors
    * Relational.giniConcentration): same tie-deterministic ascending
    * ranks (plain partitioned window here — semantically equal to the
    * engine's two-level range-partitioned rank), same single closing
    * division.
    */
  def q188Gini(): String =
    s"""WITH r AS (
       |  SELECT source, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars, doc_id) AS i
       |  FROM documents
       |),
       |g AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |    CAST(sum(i * n_chars) AS BIGINT) AS s1
       |  FROM r GROUP BY 1
       |)
       |SELECT source, n_docs, total_chars,
       |  CAST(2 * s1 - (n_docs + 1) * total_chars AS DOUBLE) /
       |    CAST(n_docs * total_chars AS DOUBLE) AS gini
       |FROM g""".stripMargin

  /** Q198 — chained streaming windowed aggregation (mirrors
    * StreamingOps.chainedWindowsFixture): batch 10-min buckets
    * rolled into epoch-aligned hours.
    */
  def q198ChainedWindows(): String =
    s"""WITH b AS (
       |  SELECT event_type, epoch_us(ts) // 600000000 AS b10,
       |    CAST(count(*) AS BIGINT) AS n10
       |  FROM events GROUP BY 1, 2
       |)
       |SELECT event_type, (b10 // 6) * 3600000000 AS hour_start_us,
       |  CAST(sum(n10) AS BIGINT) AS n_hour,
       |  CAST(max(n10) AS BIGINT) AS max_10min,
       |  CAST(count(*) AS BIGINT) AS n_buckets
       |FROM b GROUP BY 1, 2""".stripMargin

  /** Q199 — watermark-scoped streaming dedup (mirrors
    * StreamingOps.dedupWithinWatermarkFixture): each event exactly
    * once.
    */
  def q199DedupWithinWatermark(): String =
    "SELECT event_id, event_type FROM events"

  /** Q197 — streaming transformWithState user profile (mirrors
    * StreamingOps.userProfileFixture's final emission): batch
    * per-user profile with the same decimal total and deterministic
    * top-type argmax.
    */
  def q197StreamTws(): String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, CAST(value AS DECIMAL(18,4)) AS v
       |  FROM events
       |),
       |agg AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |    CAST(sum(v) AS DOUBLE) AS total_value
       |  FROM e GROUP BY 1
       |),
       |tc AS (
       |  SELECT user_id, event_type, count(*) AS c FROM e GROUP BY 1, 2
       |),
       |top AS (
       |  SELECT user_id, event_type AS top_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY c DESC, event_type) AS rk
       |  FROM tc
       |)
       |SELECT user_id, n_events, total_value, top_type
       |FROM agg JOIN (SELECT user_id, top_type FROM top WHERE rk = 1)
       |  USING (user_id)""".stripMargin

  /** Q187 — sequential transition mining (mirrors
    * Relational.transitionMining): same (epoch_us, event_id) total
    * order, lead pairing, and per-source conditional share.
    */
  def q187Transitions(): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events
       |),
       |p AS (
       |  SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY tus, event_id) AS next_type
       |  FROM e
       |),
       |c AS (
       |  SELECT event_type AS from_type, next_type,
       |    CAST(count(*) AS BIGINT) AS n_occurrences,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2
       |),
       |ft AS (
       |  SELECT from_type, CAST(sum(n_occurrences) AS BIGINT) AS from_total
       |  FROM c GROUP BY 1
       |)
       |SELECT from_type, next_type, n_occurrences, n_users,
       |  CAST(n_occurrences AS DOUBLE) / from_total AS p_next
       |FROM c JOIN ft USING (from_type)""".stripMargin

  /** Q195 — loudness normalization stats (mirrors
    * Multimodal.loudnessStats): same centered samples, exact integer
    * power/peak accumulation, same pinned sqrt/divide finish.
    */
  def q195Loudness(targetRms: Double = 20.0): String =
    s"""WITH c AS (
       |  SELECT doc_id,
       |    ascii(substring(text, CAST(i AS INTEGER) + 1, 1)) - 96 AS v
       |  FROM documents, unnest(range(0, len(text))) AS g(i)
       |  WHERE len(text) > 0
       |),
       |a AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       |    CAST(sum(v * v) AS BIGINT) AS ss,
       |    CAST(max(abs(v)) AS BIGINT) AS peak
       |  FROM c GROUP BY 1
       |)
       |SELECT doc_id, n_samples, peak,
       |  sqrt(CAST(ss AS DOUBLE) / n_samples) AS rms,
       |  $targetRms / sqrt(CAST(ss AS DOUBLE) / n_samples) AS gain,
       |  CAST(peak AS DOUBLE) / sqrt(CAST(ss AS DOUBLE) / n_samples) AS crest
       |FROM a""".stripMargin

  /** Q186 — voice-activity segmentation (mirrors
    * Multimodal.speechSegments): same 16-char frames, lowercase-vowel
    * voiced counts, threshold, and gaps-and-islands merge.
    */
  def q186SpeechSegments(minVoiced: Int = 5, frameLen: Int = 16): String =
    s"""WITH fr AS (
       |  SELECT doc_id, f AS frame_idx,
       |    CAST(len(regexp_replace(
       |      substring(text, 1 + CAST(f AS INTEGER) * $frameLen, $frameLen),
       |      '[^aeiou]', '', 'g')) AS BIGINT) AS voiced
       |  FROM documents,
       |    unnest(range(0, CASE WHEN len(text) = 0 THEN 0
       |                        ELSE (len(text) - 1) // $frameLen + 1 END)) AS g(f)
       |),
       |act AS (SELECT * FROM fr WHERE voiced >= $minVoiced),
       |isl AS (
       |  SELECT *, frame_idx - row_number()
       |    OVER (PARTITION BY doc_id ORDER BY frame_idx) AS seg_id
       |  FROM act
       |)
       |SELECT doc_id, CAST(seg_id AS BIGINT) AS seg_id,
       |  min(frame_idx) AS start_frame, max(frame_idx) AS end_frame,
       |  CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(sum(voiced) AS BIGINT) AS sum_voiced
       |FROM isl GROUP BY 1, 2""".stripMargin

  /** Q205 — text-source round-trip (mirrors
    * GenericSources.textRoundtripSummary): the same rollup over the
    * original table — equality proves the line framing lossless.
    */
  def q205TextRoundtrip(): String =
    s"""SELECT CAST(len(text) % 7 AS BIGINT) AS len_mod7,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(text)) AS BIGINT) AS sum_len,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM documents GROUP BY 1""".stripMargin

  /** Q206 — binaryFile-source ingest (mirrors
    * GenericSources.binaryFilesSummary): byte lengths and ascii
    * checksums over the original table.
    */
  def q206BinaryFiles(): String =
    s"""WITH c AS (
       |  SELECT doc_id, len(text) AS length,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ''),
       |        c -> CAST(ascii(c) AS BIGINT))), (a, x) -> a + x) AS checksum
       |  FROM documents
       |)
       |SELECT CAST(length % 5 AS BIGINT) AS len_mod5,
       |  CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(length) AS BIGINT) AS sum_bytes,
       |  CAST(sum(checksum) AS BIGINT) AS sum_checksum,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM c GROUP BY 1""".stripMargin

  /** Q185 — Benford first-digit audit (mirrors
    * Relational.benfordAudit): digit from the exact-cents decimal
    * string, IDENTICAL Scala-computed Benford double literals, same
    * pinned χ² expression.
    */
  def q185Benford(): String = {
    val cases = (1 to 9).map(d =>
      s"WHEN $d THEN ${math.log10(1.0 + 1.0 / d)}").mkString(" ")
    s"""WITH d AS (
       |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
       |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM orders
       |),
       |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g),
       |e AS (
       |  SELECT digit, n, total,
       |    CASE digit $cases END AS expected_p
       |  FROM g CROSS JOIN tot
       |)
       |SELECT digit, n,
       |  CAST(n AS DOUBLE) / total AS observed_p, expected_p,
       |  (CAST(n AS DOUBLE) - total * expected_p) *
       |    (CAST(n AS DOUBLE) - total * expected_p) /
       |    (total * expected_p) AS chi2
       |FROM e""".stripMargin
  }

  /** Q184 — Mann-Whitney U per event type between the q174 arms
    * (mirrors Relational.mannWhitney): same scramble-hash assignment,
    * integer midrank arithmetic via doubled rank sums, identical
    * pinned-double finish. The per-type prefix count is a plain
    * partitioned window here — semantically equal to the engine's
    * two-level range-partitioned prefix sum.
    */
  def q184MannWhitney: String = {
    val P = graft.functions.TextHash.P
    val hSql = polyHashSql("('ab:' || CAST(user_id AS VARCHAR))")
    s"""WITH h0 AS (SELECT event_type, value, $hSql AS u FROM events),
       |h1 AS (SELECT *, (u * u + 12345) % $P AS v1 FROM h0),
       |h2 AS (SELECT *, (v1 * 31 + u) % $P AS v2 FROM h1),
       |hs AS (SELECT *, (v2 * v2 + 6789) % $P AS h FROM h2),
       |hist AS (
       |  SELECT event_type, value,
       |    CAST(sum(CASE WHEN h % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN h % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM hs GROUP BY 1, 2
       |),
       |cm AS (
       |  SELECT *, ca + cb AS cnt,
       |    sum(ca + cb) OVER (PARTITION BY event_type ORDER BY value
       |      ROWS UNBOUNDED PRECEDING) - (ca + cb) AS less
       |  FROM hist
       |),
       |st AS (
       |  SELECT event_type,
       |    CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
       |    CAST(sum(ca * (2 * less + cnt + 1)) AS BIGINT) AS r2a,
       |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
       |  FROM cm GROUP BY 1
       |),
       |fin AS (
       |  SELECT *,
       |    (CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE) * (n_a + 1)) / 2.0 AS u_a,
       |    CAST(n_a AS DOUBLE) * n_b / 12.0 *
       |      ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) /
       |        (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0)))
       |      AS sig2
       |  FROM st
       |)
       |SELECT event_type, n_a, n_b, u_a,
       |  (u_a - CAST(n_a AS DOUBLE) * n_b / 2.0) / sqrt(nullif(sig2, 0.0)) AS z
       |FROM fin""".stripMargin
  }

  /** Q207 — SCD Type-2 build (mirrors Relational.scd2Dimension):
    * same change flag, running version, run collapse, lookahead.
    */
  def q207Scd2(): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events
       |),
       |f AS (
       |  SELECT user_id, tus, event_id, event_type,
       |    CASE WHEN lag(event_type) OVER w IS NULL
       |              OR lag(event_type) OVER w <> event_type
       |         THEN 1 ELSE 0 END AS chg
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
       |),
       |v AS (
       |  SELECT user_id, tus, event_type,
       |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
       |  FROM f
       |),
       |runs AS (
       |  SELECT user_id, version, min(event_type) AS event_type,
       |    min(tus) AS valid_from_us, CAST(count(*) AS BIGINT) AS n_events
       |  FROM v GROUP BY 1, 2
       |)
       |SELECT user_id, version, event_type, valid_from_us,
       |  lead(valid_from_us) OVER w2 AS valid_to_us, n_events,
       |  (lead(valid_from_us) OVER w2 IS NULL) AS is_current
       |FROM runs WINDOW w2 AS (PARTITION BY user_id ORDER BY version)""".stripMargin

  /** Q209 — exact two-sample KS (mirrors Relational.ksTest): integer
    * ECDF cross-products, lexicographic (dnum, −v) argmax, one final
    * double division.
    */
  def q209KsTest(): String =
    s"""WITH g AS (
       |  SELECT o_totalprice AS v,
       |    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
       |                  THEN 0 ELSE 1 END) AS BIGINT) AS cb
       |  FROM orders GROUP BY 1
       |),
       |c AS (
       |  SELECT v,
       |    CAST(sum(ca) OVER w AS BIGINT) AS cum_a,
       |    CAST(sum(cb) OVER w AS BIGINT) AS cum_b
       |  FROM g WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
       |),
       |tot AS (
       |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
       |  FROM g
       |)
       |SELECT n_a, n_b, abs(cum_a * n_b - cum_b * n_a) AS d_num,
       |  v AS at_value,
       |  CAST(abs(cum_a * n_b - cum_b * n_a) AS DOUBLE)
       |    / CAST(n_a * n_b AS DOUBLE) AS d
       |FROM c CROSS JOIN tot
       |ORDER BY abs(cum_a * n_b - cum_b * n_a) DESC, v ASC LIMIT 1""".stripMargin

  /** Q227 — freshness SLO panel (mirrors Relational.freshnessSlo):
    * same gap quantization, order-statistic p95, pinned rate.
    */
  def q227FreshnessSlo(): String =
    s"""WITH g AS (
       |  SELECT event_type, epoch_us(ts) AS tus, event_id,
       |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
       |      ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap
       |  FROM events
       |),
       |per AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |    min(tus) AS t_min, max(tus) AS t_max,
       |    CAST(max(gap) AS BIGINT) AS max_gap_s,
       |    CAST(sum(CASE WHEN gap IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_gaps
       |  FROM g GROUP BY 1
       |),
       |gm AS (SELECT max(t_max) AS g_max FROM per),
       |rk AS (
       |  SELECT event_type, gap,
       |    row_number() OVER (PARTITION BY event_type ORDER BY gap) AS rnk
       |  FROM g WHERE gap IS NOT NULL
       |),
       |k95 AS (
       |  SELECT event_type,
       |    greatest(CAST(1 AS BIGINT),
       |      CAST(ceil(0.95 * CAST(n_gaps AS DOUBLE)) AS BIGINT)) AS k
       |  FROM per
       |),
       |p95 AS (
       |  SELECT rk.event_type, CAST(rk.gap AS BIGINT) AS p95_gap_s
       |  FROM rk JOIN k95 ON k95.event_type = rk.event_type
       |  WHERE rk.rnk = k95.k
       |)
       |SELECT per.event_type, per.n_events,
       |  g_max - t_max AS staleness_us,
       |  t_max - t_min AS span_us,
       |  max_gap_s, p95.p95_gap_s,
       |  CAST(n_events AS DOUBLE)
       |    / (CAST(nullif(t_max - t_min, 0) AS DOUBLE) / 3600000000.0)
       |    AS rate_per_hour
       |FROM per CROSS JOIN gm
       |LEFT JOIN p95 ON p95.event_type = per.event_type""".stripMargin

  /** Q225 — absorbing-chain conversion probability (mirrors
    * Relational.absorptionProb): unrolled recurrence over the q187
    * transition matrix, full-domain coalesce at every round.
    */
  def q225AbsorptionProb(target: String = "purchase", steps: Int = 4): String = {
    val rounds = (2 to steps).map { k =>
      s"""c$k AS (
         |  SELECT pp.from_type,
         |    CAST(sum(CAST(pp.p * a${k - 1}.a AS DECIMAL(28,14))) AS DOUBLE)
         |      AS cont
         |  FROM p pp JOIN a${k - 1} ON a${k - 1}.stype = pp.next_type
         |  WHERE pp.next_type <> '$target' GROUP BY 1
         |),
         |a$k AS (
         |  SELECT d.from_type AS stype,
         |    coalesce(b.base, 0.0) + coalesce(c$k.cont, 0.0) AS a
         |  FROM dom d LEFT JOIN b ON b.from_type = d.from_type
         |  LEFT JOIN c$k ON c$k.from_type = d.from_type
         |)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to steps).map(k => s"a$k.a AS p_step$k")
      .mkString(",\n       |  ")
    val joins = (1 to steps).map(k => s"JOIN a$k ON a$k.stype = d.from_type")
      .mkString("\n       |")
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events
       |),
       |pr AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY tus, event_id) AS next_type
       |  FROM e
       |),
       |pairs AS (
       |  SELECT from_type, next_type, CAST(count(*) AS BIGINT) AS n
       |  FROM pr WHERE next_type IS NOT NULL GROUP BY 1, 2
       |),
       |tot AS (
       |  SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM pairs GROUP BY 1
       |),
       |p AS MATERIALIZED (
       |  SELECT pairs.from_type, next_type,
       |    CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
       |  FROM pairs JOIN tot ON tot.from_type = pairs.from_type
       |),
       |dom AS (SELECT DISTINCT from_type FROM p),
       |b AS (SELECT from_type, p AS base FROM p WHERE next_type = '$target'),
       |a1 AS (
       |  SELECT d.from_type AS stype,
       |    coalesce(b.base, 0.0) + coalesce(CAST(NULL AS DOUBLE), 0.0) AS a
       |  FROM dom d LEFT JOIN b ON b.from_type = d.from_type
       |),
       |$rounds
       |SELECT d.from_type AS start_type,
       |  $sel
       |FROM dom d
       |$joins""".stripMargin
  }

  /** Q222 — CDC snapshot diff (mirrors Relational.snapshotDiff):
    * rank-1 latest rows at mid and end, same class partition.
    */
  def q222SnapshotDiff(): String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id, value
       |  FROM events
       |),
       |mid AS (SELECT (min(tus) + max(tus)) // 2 AS mid FROM e),
       |b AS (
       |  SELECT user_id, event_type, event_id, value FROM (
       |    SELECT user_id, event_type, event_id, value,
       |      row_number() OVER (PARTITION BY user_id, event_type
       |        ORDER BY tus DESC, event_id DESC) AS rn
       |    FROM e) t WHERE rn = 1
       |),
       |a AS (
       |  SELECT user_id, event_type, event_id, value FROM (
       |    SELECT user_id, event_type, event_id, value,
       |      row_number() OVER (PARTITION BY user_id, event_type
       |        ORDER BY tus DESC, event_id DESC) AS rn
       |    FROM e, mid WHERE tus <= mid) t WHERE rn = 1
       |),
       |j AS (
       |  SELECT b.event_type, b.event_id AS bid, b.value AS bv,
       |    a.event_id AS aid, a.value AS av
       |  FROM b LEFT JOIN a
       |    ON a.user_id = b.user_id AND a.event_type = b.event_type
       |)
       |SELECT event_type,
       |  CAST(count(*) AS BIGINT) AS n_keys_final,
       |  CAST(sum(CASE WHEN aid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keys_mid,
       |  CAST(sum(CASE WHEN aid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_added,
       |  CAST(sum(CASE WHEN aid IS NOT NULL AND aid <> bid AND av <> bv
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  CAST(sum(CASE WHEN aid IS NOT NULL AND aid <> bid AND av = bv
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_rewritten,
       |  CAST(sum(CASE WHEN aid = bid THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_untouched
       |FROM j GROUP BY 1""".stripMargin

  /** Q218 — order-statistic median CI (mirrors Relational.medianCi):
    * same rank bounds, pinned floor/ceil/sqrt arithmetic,
    * conditional-max pivot of the three order statistics.
    */
  def q218MedianCi(z: Double = 1.96): String =
    s"""WITH ranked AS (
       |  SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY value, event_id) AS rnk
       |  FROM events
       |),
       |ks AS (
       |  SELECT event_type, CAST(max(rnk) AS BIGINT) AS n,
       |    greatest(CAST(1 AS BIGINT),
       |      CAST(floor((CAST(max(rnk) AS DOUBLE)
       |        - ${dlit(z)} * sqrt(CAST(max(rnk) AS DOUBLE))) / 2.0)
       |        AS BIGINT) + 1) AS k_lo,
       |    (CAST(max(rnk) AS BIGINT) + 1) // 2 AS k_med,
       |    least(CAST(max(rnk) AS BIGINT),
       |      CAST(ceil((CAST(max(rnk) AS DOUBLE)
       |        + ${dlit(z)} * sqrt(CAST(max(rnk) AS DOUBLE))) / 2.0)
       |        AS BIGINT)) AS k_hi
       |  FROM ranked GROUP BY 1
       |)
       |SELECT r.event_type, k.n,
       |  max(CASE WHEN r.rnk = k.k_med THEN r.value END) AS median,
       |  max(CASE WHEN r.rnk = k.k_lo THEN r.value END) AS ci_lo,
       |  max(CASE WHEN r.rnk = k.k_hi THEN r.value END) AS ci_hi
       |FROM ranked r JOIN ks k USING (event_type)
       |WHERE r.rnk = k.k_lo OR r.rnk = k.k_med OR r.rnk = k.k_hi
       |GROUP BY 1, 2""".stripMargin

  /** Q219 — RFM segmentation (mirrors Relational.rfmSegments): same
    * best-first total orders and the deterministic rank-quartile
    * formula (explicitly NOT SQL ntile).
    */
  def q219RfmSegments(): String =
    s"""WITH mx AS (SELECT max(o_orderdate) AS dmax FROM orders),
       |cust AS (
       |  SELECT o_custkey AS custkey,
       |    CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
       |      CAST((SELECT dmax FROM mx) AS DATE)) AS BIGINT) AS recency_days,
       |    CAST(count(*) AS BIGINT) AS frequency,
       |    sum(CAST(o_totalprice AS DECIMAL(20,4))) AS mon
       |  FROM orders GROUP BY 1
       |),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM cust),
       |rk AS (
       |  SELECT custkey, recency_days, frequency, mon,
       |    row_number() OVER (ORDER BY recency_days ASC, custkey ASC) AS rr,
       |    row_number() OVER (ORDER BY frequency DESC, custkey ASC) AS rf,
       |    row_number() OVER (ORDER BY mon DESC, custkey ASC) AS rm
       |  FROM cust
       |)
       |SELECT custkey, recency_days, frequency,
       |  CAST(mon AS DOUBLE) AS monetary,
       |  5 - ((rr - 1) * 4 // n_cust + 1) AS r_score,
       |  5 - ((rf - 1) * 4 // n_cust + 1) AS f_score,
       |  5 - ((rm - 1) * 4 // n_cust + 1) AS m_score,
       |  (5 - ((rr - 1) * 4 // n_cust + 1)) * 100
       |    + (5 - ((rf - 1) * 4 // n_cust + 1)) * 10
       |    + (5 - ((rm - 1) * 4 // n_cust + 1)) AS segment
       |FROM rk, n""".stripMargin

  /** Q220 — gap burstiness (mirrors Relational.burstiness): same
    * second-quantized gaps, power-sum sigma, pinned ratio.
    */
  def q220Burstiness(): String = {
    val mu = "CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)"
    val sigma = s"sqrt(greatest(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE) - ($mu) * ($mu), 0.0))"
    s"""WITH g AS (
       |  SELECT event_type,
       |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
       |      ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap
       |  FROM events
       |),
       |a AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
       |    CAST(sum(gap) AS BIGINT) AS sg,
       |    CAST(sum(gap * gap) AS BIGINT) AS sgg
       |  FROM g WHERE gap IS NOT NULL GROUP BY 1
       |)
       |SELECT event_type, n_gaps,
       |  $mu AS mean_gap_s,
       |  $sigma AS std_gap_s,
       |  ($sigma - $mu) / nullif($sigma + $mu, 0.0) AS burstiness
       |FROM a""".stripMargin
  }

  /** Q216 — day-of-week seasonality strength (mirrors
    * Relational.seasonalityStrength): same calendar fill, isodow ==
    * weekday+1, decimal-quantized within-group terms, rank-1 peak.
    */
  def q216SeasonalityStrength(): String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2
       |),
       |cal AS (
       |  SELECT event_type, CAST(g.d AS DATE) AS day
       |  FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
       |        FROM daily GROUP BY 1) s,
       |    unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
       |      CAST(s.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS g(d)
       |),
       |filled AS (
       |  SELECT c.event_type, CAST(isodow(c.day) AS BIGINT) AS dow,
       |    coalesce(d.cnt, 0) AS cnt
       |  FROM cal c LEFT JOIN daily d
       |    ON d.event_type = c.event_type AND d.day = c.day
       |),
       |perdow AS (
       |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS nj,
       |    CAST(sum(cnt) AS BIGINT) AS sj,
       |    CAST(sum(cnt * cnt) AS BIGINT) AS qj
       |  FROM filled GROUP BY 1, 2
       |),
       |peak AS (
       |  SELECT event_type, dow AS peak_dow, m AS peak_mean FROM (
       |    SELECT event_type, dow,
       |      CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE) AS m,
       |      row_number() OVER (PARTITION BY event_type
       |        ORDER BY CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE) DESC,
       |          dow ASC) AS rn
       |    FROM perdow) t WHERE rn = 1
       |),
       |per AS (
       |  SELECT event_type, CAST(sum(nj) AS BIGINT) AS n_days,
       |    CAST(sum(sj) AS BIGINT) AS s, CAST(sum(qj) AS BIGINT) AS q,
       |    CAST(sum(CAST(CAST(qj AS DOUBLE)
       |      - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE)
       |      AS DECIMAL(28,10))) AS DOUBLE) AS ss_within
       |  FROM perdow GROUP BY 1
       |)
       |SELECT p.event_type, p.n_days,
       |  CAST(p.q AS DOUBLE)
       |    - CAST(p.s AS DOUBLE) * CAST(p.s AS DOUBLE)
       |      / CAST(p.n_days AS DOUBLE) AS ss_total,
       |  p.ss_within,
       |  (CAST(p.q AS DOUBLE)
       |     - CAST(p.s AS DOUBLE) * CAST(p.s AS DOUBLE)
       |       / CAST(p.n_days AS DOUBLE)
       |   - p.ss_within)
       |  / nullif(CAST(p.q AS DOUBLE)
       |     - CAST(p.s AS DOUBLE) * CAST(p.s AS DOUBLE)
       |       / CAST(p.n_days AS DOUBLE), 0.0) AS eta2,
       |  k.peak_dow, k.peak_mean
       |FROM per p JOIN peak k USING (event_type)""".stripMargin

  /** Q215 — discrete churn hazard (mirrors Relational.churnHazard):
    * same gap rule, day offsets, triangular at-risk/cumulative sums,
    * decimal-quantized hazard accumulation.
    */
  def q215ChurnHazard(gapHours: Int = 48): String = {
    val gapUs = gapHours * 3600L * 1000000L
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
       |),
       |g AS (
       |  SELECT user_id,
       |    lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
       |      - tus AS gap,
       |    tus, min(tus) OVER (PARTITION BY user_id) AS t0
       |  FROM e
       |),
       |lives AS (
       |  SELECT
       |    coalesce(
       |      min(CASE WHEN gap > CAST($gapUs AS BIGINT)
       |               THEN (tus - t0) // CAST(86400000000 AS BIGINT) END),
       |      max((tus - t0) // CAST(86400000000 AS BIGINT))) AS lifetime_days,
       |    (min(CASE WHEN gap > CAST($gapUs AS BIGINT)
       |         THEN (tus - t0) // CAST(86400000000 AS BIGINT) END) IS NULL)
       |      AS censored
       |  FROM g GROUP BY user_id
       |),
       |per AS (
       |  SELECT lifetime_days,
       |    CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
       |      AS n_churned,
       |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_censored
       |  FROM lives GROUP BY 1
       |),
       |risk AS (
       |  SELECT a.lifetime_days,
       |    CAST(sum(b.n_churned + b.n_censored) AS BIGINT) AS n_at_risk
       |  FROM per a JOIN per b ON b.lifetime_days >= a.lifetime_days
       |  GROUP BY 1
       |),
       |haz AS (
       |  SELECT p.lifetime_days, p.n_churned, p.n_censored, r.n_at_risk,
       |    CAST(p.n_churned AS DOUBLE) / CAST(r.n_at_risk AS DOUBLE) AS hazard
       |  FROM per p JOIN risk r USING (lifetime_days)
       |),
       |cum AS (
       |  SELECT a.lifetime_days,
       |    CAST(sum(CAST(b.hazard AS DECIMAL(28,14))) AS DOUBLE) AS cum_hazard
       |  FROM haz a JOIN haz b ON b.lifetime_days <= a.lifetime_days
       |  GROUP BY 1
       |)
       |SELECT h.lifetime_days, h.n_at_risk, h.n_churned, h.n_censored,
       |  h.hazard, c.cum_hazard
       |FROM haz h JOIN cum c USING (lifetime_days)""".stripMargin
  }

  /** Q210 — forecast-skill audit (mirrors Relational.forecastSkill):
    * zero-filled calendar, lag-1 vs lag-7 integer MAE sums, one
    * double ratio per type.
    */
  def q210ForecastSkill(season: Int = 7): String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2
       |),
       |cal AS (
       |  SELECT event_type, CAST(g.d AS DATE) AS day
       |  FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
       |        FROM daily GROUP BY 1) s,
       |    unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
       |      CAST(s.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS g(d)
       |),
       |filled AS (
       |  SELECT c.event_type, c.day, coalesce(d.cnt, 0) AS cnt
       |  FROM cal c LEFT JOIN daily d
       |    ON d.event_type = c.event_type AND d.day = c.day
       |),
       |lagged AS (
       |  SELECT event_type, cnt,
       |    lag(cnt, 1) OVER w AS l1, lag(cnt, $season) OVER w AS ls
       |  FROM filled WINDOW w AS (PARTITION BY event_type ORDER BY day)
       |)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days_eval,
       |  CAST(sum(abs(cnt - l1)) AS BIGINT) AS naive_err,
       |  CAST(sum(abs(cnt - ls)) AS BIGINT) AS seasonal_err,
       |  CAST(sum(abs(cnt - ls)) AS DOUBLE)
       |    / CAST(nullif(sum(abs(cnt - l1)), 0) AS DOUBLE) AS mase
       |FROM lagged WHERE ls IS NOT NULL GROUP BY 1""".stripMargin

  /** Q259 — Hjorth activity/mobility/complexity (mirrors
    * BeatMetrics.hjorth): decimal power sums of the smoothed trace
    * and its first/second differences, pinned variance finishes.
    */
  def q259Hjorth(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH $sigCtes,
       |${smoothCtes(cfg.smoothWindow, cfg.smoothPolyorder)},
       |hj0 AS (
       |  SELECT experiment_id, channel, sample_idx, v
       |  FROM smooth WHERE v IS NOT NULL
       |),
       |hj1 AS (
       |  SELECT experiment_id, channel, v,
       |    lag(v, 1) OVER w_hj AS l1, lag(v, 2) OVER w_hj AS l2
       |  FROM hj0
       |  WINDOW w_hj AS (PARTITION BY experiment_id, channel ORDER BY sample_idx)
       |),
       |hja AS (
       |  SELECT experiment_id, channel,
       |    CAST(count(*) AS BIGINT) AS n0,
       |    sum(CAST(v AS DECIMAL(28,14))) AS s1_0,
       |    sum(CAST(v * v AS DECIMAL(38,10))) AS s2_0,
       |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n1,
       |    sum(CASE WHEN l1 IS NOT NULL
       |      THEN CAST(v - l1 AS DECIMAL(28,14)) END) AS s1_1,
       |    sum(CASE WHEN l1 IS NOT NULL
       |      THEN CAST((v - l1) * (v - l1) AS DECIMAL(38,10)) END) AS s2_1,
       |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n2,
       |    sum(CASE WHEN l2 IS NOT NULL
       |      THEN CAST(v - 2.0 * l1 + l2 AS DECIMAL(28,14)) END) AS s1_2,
       |    sum(CASE WHEN l2 IS NOT NULL
       |      THEN CAST((v - 2.0 * l1 + l2) * (v - 2.0 * l1 + l2)
       |        AS DECIMAL(38,10)) END) AS s2_2
       |  FROM hj1 GROUP BY 1, 2
       |),
       |hjv AS (
       |  SELECT *,
       |    (CAST(n0 AS DOUBLE) * CAST(s2_0 AS DOUBLE)
       |      - CAST(s1_0 AS DOUBLE) * CAST(s1_0 AS DOUBLE))
       |      / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)) AS v0,
       |    (CAST(n1 AS DOUBLE) * CAST(s2_1 AS DOUBLE)
       |      - CAST(s1_1 AS DOUBLE) * CAST(s1_1 AS DOUBLE))
       |      / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) AS v1,
       |    (CAST(n2 AS DOUBLE) * CAST(s2_2 AS DOUBLE)
       |      - CAST(s1_2 AS DOUBLE) * CAST(s1_2 AS DOUBLE))
       |      / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS v2
       |  FROM hja
       |),
       |hjm AS (
       |  SELECT *,
       |    CASE WHEN n1 > 0 AND v0 > 0.0
       |      THEN sqrt(greatest(v1 / v0, 0.0)) END AS mob
       |  FROM hjv
       |)
       |SELECT experiment_id, channel, n0 AS n_samples, v0 AS activity,
       |  mob AS mobility,
       |  CASE WHEN n2 > 0 AND v1 > 0.0 AND mob > 0.0
       |    THEN sqrt(greatest(v2 / v1, 0.0)) / mob END AS complexity
       |FROM hjm WHERE n0 > 0""".stripMargin

  /** Q260 — Mann–Kendall trend test on beat force (mirrors
    * BeatMetrics.mannKendall): integer S over ordered pairs,
    * tie-corrected variance, continuity-corrected z, tau.
    */
  def q260MannKendall(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${metricCtes(cfg)},
       |mk0 AS MATERIALIZED (
       |  SELECT experiment_id, channel, peak_idx, force
       |  FROM m WHERE force IS NOT NULL
       |),
       |mks AS (
       |  SELECT a.experiment_id, a.channel,
       |    CAST(sum(CASE WHEN b.force > a.force THEN 1
       |      WHEN b.force < a.force THEN -1 ELSE 0 END) AS BIGINT) AS s
       |  FROM mk0 a JOIN mk0 b
       |    ON b.experiment_id = a.experiment_id AND b.channel = a.channel
       |    AND a.peak_idx < b.peak_idx
       |  GROUP BY 1, 2
       |),
       |mkt AS (
       |  SELECT experiment_id, channel,
       |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
       |  FROM (
       |    SELECT experiment_id, channel, force,
       |      CAST(count(*) AS BIGINT) AS t
       |    FROM mk0 GROUP BY 1, 2, 3
       |  ) GROUP BY 1, 2
       |),
       |mkn AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n
       |  FROM mk0 GROUP BY 1, 2
       |),
       |mkj AS (
       |  SELECT n.experiment_id, n.channel, n.n, s.s, t.tie_term,
       |    (CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1.0)
       |      * (2.0 * CAST(n.n AS DOUBLE) + 5.0)
       |      - CAST(t.tie_term AS DOUBLE)) / 18.0 AS var_s
       |  FROM mkn n
       |  JOIN mks s ON s.experiment_id = n.experiment_id
       |    AND s.channel = n.channel
       |  JOIN mkt t ON t.experiment_id = n.experiment_id
       |    AND t.channel = n.channel
       |  WHERE n.n >= 3
       |)
       |SELECT experiment_id, channel, n AS n_beats, s, var_s,
       |  CASE WHEN var_s > 0.0 THEN
       |    CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
       |      WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
       |      ELSE 0.0 END
       |  END AS z,
       |  CAST(s AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0) AS tau
       |FROM mkj""".stripMargin

  /** Q261 — Shannon entropy of the binned RR histogram (mirrors
    * BeatMetrics.rrEntropy): integer bins, p·ln p terms quantized
    * to decimal before the over-bins sum, pinned finishes.
    */
  def q261RrEntropy(cfg: graft.PeakConfig = graft.PeakConfig(),
                    binWidth: Int = 8): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |re0 AS (
       |  SELECT experiment_id, channel,
       |    peak_idx - lag(peak_idx) OVER w_re AS d
       |  FROM detected
       |  WINDOW w_re AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |reb AS (
       |  SELECT experiment_id, channel,
       |    CAST(floor(d / $binWidth.0) AS BIGINT) AS bin
       |  FROM re0 WHERE d IS NOT NULL
       |),
       |rec AS (
       |  SELECT experiment_id, channel, bin, CAST(count(*) AS BIGINT) AS c
       |  FROM reb GROUP BY 1, 2, 3
       |),
       |ren AS (
       |  SELECT *, sum(c) OVER (PARTITION BY experiment_id, channel) AS n
       |  FROM rec
       |),
       |rea AS (
       |  SELECT experiment_id, channel,
       |    CAST(max(n) AS BIGINT) AS n_rr,
       |    CAST(count(*) AS BIGINT) AS n_bins,
       |    sum(CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
       |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
       |      AS DECIMAL(28,14))) AS st
       |  FROM ren GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_rr, n_bins,
       |  -CAST(st AS DOUBLE) AS entropy_nats,
       |  CASE WHEN n_bins > 1
       |    THEN -CAST(st AS DOUBLE) / ln(CAST(n_bins AS DOUBLE))
       |  END AS entropy_norm
       |FROM rea""".stripMargin

  /** Q262 — Porta symbolic dynamics (mirrors
    * BeatMetrics.symbolicDynamics): fully-integer 6-level
    * quantization, 3-symbol word classes, pinned percentages.
    */
  def q262SymbolicDynamics(
      cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |sy0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_sy AS d
       |  FROM detected
       |  WINDOW w_sy AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |sy1 AS (SELECT * FROM sy0 WHERE d IS NOT NULL),
       |sys AS (
       |  SELECT experiment_id, channel, min(d) AS mn, max(d) AS mx
       |  FROM sy1 GROUP BY 1, 2
       |),
       |syl AS (
       |  SELECT r.experiment_id, r.channel, r.peak_idx,
       |    CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
       |      ELSE (r.d - s.mn) * 6 // (s.mx - s.mn + 1) END AS lv
       |  FROM sy1 r JOIN sys s
       |    ON s.experiment_id = r.experiment_id AND s.channel = r.channel
       |),
       |syw AS (
       |  SELECT experiment_id, channel, lv,
       |    lead(lv, 1) OVER w_syw AS lv1, lead(lv, 2) OVER w_syw AS lv2
       |  FROM syl
       |  WINDOW w_syw AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |syc AS (
       |  SELECT experiment_id, channel,
       |    CASE WHEN lv1 = lv AND lv2 = lv1 THEN '0V'
       |      WHEN lv1 <> lv AND lv2 <> lv1 THEN
       |        CASE WHEN (lv1 > lv AND lv2 > lv1) OR (lv1 < lv AND lv2 < lv1)
       |          THEN '2LV' ELSE '2UV' END
       |      ELSE '1V' END AS cls
       |  FROM syw WHERE lv1 IS NOT NULL AND lv2 IS NOT NULL
       |),
       |sya AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(CASE WHEN cls = '0V' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c0v,
       |    CAST(sum(CASE WHEN cls = '1V' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c1v,
       |    CAST(sum(CASE WHEN cls = '2LV' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c2lv,
       |    CAST(sum(CASE WHEN cls = '2UV' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c2uv
       |  FROM syc GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_words,
       |  CAST(c0v AS DOUBLE) / CAST(n_words AS DOUBLE) * 100.0 AS pct_0v,
       |  CAST(c1v AS DOUBLE) / CAST(n_words AS DOUBLE) * 100.0 AS pct_1v,
       |  CAST(c2lv AS DOUBLE) / CAST(n_words AS DOUBLE) * 100.0 AS pct_2lv,
       |  CAST(c2uv AS DOUBLE) / CAST(n_words AS DOUBLE) * 100.0 AS pct_2uv
       |FROM sya""".stripMargin

  /** Q263 — PRSA deceleration/acceleration capacity (mirrors
    * BeatMetrics.prsa): integer-exact anchor sums over complete
    * (−2..+1) neighborhoods, pinned divisions.
    */
  def q263Prsa(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |pr0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_pr AS d
       |  FROM detected
       |  WINDOW w_pr AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |pr1 AS (
       |  SELECT experiment_id, channel, d,
       |    lag(d, 1) OVER w_pr1 AS dm1, lag(d, 2) OVER w_pr1 AS dm2,
       |    lead(d, 1) OVER w_pr1 AS dp1
       |  FROM pr0 WHERE d IS NOT NULL
       |  WINDOW w_pr1 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |pr2 AS (
       |  SELECT * FROM pr1
       |  WHERE dm1 IS NOT NULL AND dm2 IS NOT NULL AND dp1 IS NOT NULL
       |),
       |pra AS (
       |  SELECT experiment_id, channel,
       |    CAST(sum(CASE WHEN d > dm1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dec,
       |    CAST(sum(CASE WHEN d > dm1 THEN d + dp1 - dm1 - dm2 ELSE 0 END)
       |      AS BIGINT) AS s_dec,
       |    CAST(sum(CASE WHEN d < dm1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_acc,
       |    CAST(sum(CASE WHEN d < dm1 THEN d + dp1 - dm1 - dm2 ELSE 0 END)
       |      AS BIGINT) AS s_acc
       |  FROM pr2 GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_dec,
       |  CASE WHEN n_dec > 0 THEN
       |    CAST(s_dec AS DOUBLE) / (4.0 * CAST(n_dec AS DOUBLE)) END AS dc,
       |  n_acc,
       |  CASE WHEN n_acc > 0 THEN
       |    CAST(s_acc AS DOUBLE) / (4.0 * CAST(n_acc AS DOUBLE)) END AS ac
       |FROM pra WHERE n_dec > 0 OR n_acc > 0""".stripMargin

  /** Q264 — Higuchi fractal dimension (mirrors
    * BeatMetrics.higuchiFd): phase-grouped decimal curve lengths at
    * k ∈ {1,2,4,8}, quantized log-log points, pinned OLS slope.
    */
  def q264HiguchiFd(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH $sigCtes,
       |${smoothCtes(cfg.smoothWindow, cfg.smoothPolyorder)},
       |hf0 AS (
       |  SELECT experiment_id, channel, sample_idx, v
       |  FROM smooth WHERE v IS NOT NULL
       |),
       |hf1 AS (
       |  SELECT experiment_id, channel, v,
       |    CAST(row_number() OVER w_hf AS BIGINT) - 1 AS p,
       |    CAST(count(*) OVER (PARTITION BY experiment_id, channel)
       |      AS BIGINT) AS nn,
       |    lag(v, 1) OVER w_hf AS lk1, lag(v, 2) OVER w_hf AS lk2,
       |    lag(v, 4) OVER w_hf AS lk4, lag(v, 8) OVER w_hf AS lk8
       |  FROM hf0
       |  WINDOW w_hf AS (PARTITION BY experiment_id, channel ORDER BY sample_idx)
       |),
       |hfk(k) AS (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
       |  (CAST(4 AS BIGINT)), (CAST(8 AS BIGINT))),
       |hf2 AS (
       |  SELECT h.experiment_id, h.channel, h.p, h.nn, fk.k,
       |    CASE WHEN fk.k = 1 THEN h.lk1 WHEN fk.k = 2 THEN h.lk2
       |      WHEN fk.k = 4 THEN h.lk4 ELSE h.lk8 END AS vprev,
       |    h.v
       |  FROM hf1 h, hfk fk
       |),
       |hf3 AS (
       |  SELECT experiment_id, channel, k, p % k AS m, nn,
       |    CAST(abs(v - vprev) AS DECIMAL(38,10)) AS ad
       |  FROM hf2 WHERE vprev IS NOT NULL
       |),
       |hfp AS (
       |  SELECT experiment_id, channel, k, m,
       |    CAST(count(*) AS BIGINT) AS n_d, sum(ad) AS sad,
       |    CAST(max(nn) AS BIGINT) AS nn
       |  FROM hf3 GROUP BY 1, 2, 3, 4
       |),
       |hfl AS (
       |  SELECT experiment_id, channel, k,
       |    CAST(CAST(sad AS DOUBLE) * CAST(nn - 1 AS DOUBLE)
       |      / (CAST(n_d AS DOUBLE) * CAST(k AS DOUBLE)
       |        * CAST(k AS DOUBLE)) AS DECIMAL(28,10)) AS lm
       |  FROM hfp
       |),
       |hfq AS (
       |  SELECT experiment_id, channel, k,
       |    CAST(count(*) AS BIGINT) AS n_phase, sum(lm) AS slm
       |  FROM hfl GROUP BY 1, 2, 3
       |),
       |hfu AS (
       |  SELECT experiment_id, channel,
       |    CAST(ln(CAST(k AS DOUBLE)) AS DECIMAL(28,14)) AS u,
       |    CAST(ln(CAST(slm AS DOUBLE) / CAST(n_phase AS DOUBLE))
       |      AS DECIMAL(28,14)) AS vv
       |  FROM hfq
       |  WHERE CAST(slm AS DOUBLE) / CAST(n_phase AS DOUBLE) > 0.0
       |),
       |hfo AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS np,
       |    sum(u) AS su, sum(vv) AS sv,
       |    sum(CAST(CAST(u AS DOUBLE) * CAST(vv AS DOUBLE)
       |      AS DECIMAL(38,10))) AS suv,
       |    sum(CAST(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)
       |      AS DECIMAL(38,10))) AS suu
       |  FROM hfu GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, np AS n_scales,
       |  CASE WHEN CAST(np AS DOUBLE) * CAST(suu AS DOUBLE)
       |      - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) <> 0.0 THEN
       |    -(CAST(np AS DOUBLE) * CAST(suv AS DOUBLE)
       |      - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
       |    / (CAST(np AS DOUBLE) * CAST(suu AS DOUBLE)
       |      - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
       |  END AS fd
       |FROM hfo WHERE np >= 2""".stripMargin

  /** Q265 — recurrence quantification analysis (mirrors
    * BeatMetrics.rqa): m=2 embedding, integer Chebyshev distance
    * against the pinned Q246 radius, diagonal-line segmentation via
    * gaps-and-islands, integer line stats, pinned rate finishes.
    */
  def q265Rqa(cfg: graft.PeakConfig = graft.PeakConfig(),
              rFrac: Double = 0.2, lMin: Int = 2): String = {
    val rThr = s"${dlit(rFrac)} * (sqrt(greatest(CAST(n AS DOUBLE) " +
      "* CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), " +
      "0.0)) / CAST(n AS DOUBLE))"
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |rq0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS d
       |  FROM detected
       |),
       |rqr AS MATERIALIZED (
       |  SELECT experiment_id, channel, d,
       |    row_number() OVER w - 1 AS k,
       |    lead(d, 1) OVER w AS d1
       |  FROM rq0 WHERE d IS NOT NULL
       |  WINDOW w AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |rqst AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d) AS BIGINT) AS s1, CAST(sum(d * d) AS BIGINT) AS s2,
       |    CAST(sum(CASE WHEN d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_vec
       |  FROM rqr GROUP BY 1, 2
       |),
       |rqt AS (SELECT *, $rThr AS r_thresh FROM rqst),
       |rqp AS (
       |  SELECT a.experiment_id, a.channel, a.k AS ka,
       |    b.k - a.k AS diag
       |  FROM rqr a JOIN rqr b ON b.experiment_id = a.experiment_id
       |    AND b.channel = a.channel AND a.k < b.k
       |  JOIN rqt t ON t.experiment_id = a.experiment_id
       |    AND t.channel = a.channel
       |  WHERE a.d1 IS NOT NULL AND b.d1 IS NOT NULL
       |    AND CAST(greatest(abs(a.d - b.d), abs(a.d1 - b.d1)) AS DOUBLE)
       |      <= t.r_thresh
       |),
       |rql AS (
       |  SELECT experiment_id, channel, diag,
       |    ka - row_number() OVER (PARTITION BY experiment_id, channel, diag
       |      ORDER BY ka) AS run
       |  FROM rqp
       |),
       |rqg AS (
       |  SELECT experiment_id, channel, diag, run,
       |    CAST(count(*) AS BIGINT) AS len
       |  FROM rql GROUP BY 1, 2, 3, 4
       |),
       |rqs AS (
       |  SELECT experiment_id, channel,
       |    CAST(sum(len) AS BIGINT) AS rp,
       |    CAST(sum(CASE WHEN len >= $lMin THEN len ELSE 0 END) AS BIGINT)
       |      AS det_points,
       |    CAST(sum(CASE WHEN len >= $lMin THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_lines,
       |    CAST(max(len) AS BIGINT) AS ml
       |  FROM rqg GROUP BY 1, 2
       |)
       |SELECT t.experiment_id, t.channel, t.n_vec, t.r_thresh,
       |  coalesce(s.rp, CAST(0 AS BIGINT)) AS rec_pairs,
       |  CASE WHEN t.n_vec >= 2 THEN
       |    2.0 * CAST(coalesce(s.rp, CAST(0 AS BIGINT)) AS DOUBLE)
       |    / (CAST(t.n_vec AS DOUBLE) * (CAST(t.n_vec AS DOUBLE) - 1.0))
       |  END AS rec_rate,
       |  CASE WHEN coalesce(s.rp, CAST(0 AS BIGINT)) > 0 THEN
       |    CAST(s.det_points AS DOUBLE) / CAST(s.rp AS DOUBLE)
       |  END AS determinism,
       |  CASE WHEN coalesce(s.n_lines, CAST(0 AS BIGINT)) > 0 THEN
       |    CAST(s.det_points AS DOUBLE) / CAST(s.n_lines AS DOUBLE)
       |  END AS mean_line,
       |  coalesce(s.ml, CAST(0 AS BIGINT)) AS max_line
       |FROM rqt t LEFT JOIN rqs s ON s.experiment_id = t.experiment_id
       |  AND s.channel = t.channel""".stripMargin
  }

  /** Q266 — spectral edge / median frequency (mirrors
    * BeatMetrics.spectralEdge): Q238's decimal DFT projections over
    * ALL one-sided bins, DECIMAL cumulative window sum, crossing
    * reads as pinned products of the decimal total.
    */
  def q266SpectralEdge(cfg: graft.PeakConfig = graft.PeakConfig(),
                       edgeFrac: Double = 0.95): String = {
    val rate = dlit(cfg.sampleRateHz)
    val xv = s"((CAST(r.d AS DOUBLE) - CAST(b.s1 AS DOUBLE) " +
      s"/ CAST(b.n AS DOUBLE)) / $rate)"
    val theta = "(2.0 * pi() * CAST(b.j AS DOUBLE) " +
      "* CAST(r.k AS DOUBLE) / CAST(b.n AS DOUBLE))"
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |sf0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS d
       |  FROM detected
       |),
       |sfr AS (
       |  SELECT experiment_id, channel, d,
       |    row_number() OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) - 1 AS k
       |  FROM sf0 WHERE d IS NOT NULL
       |),
       |sfch AS (
       |  SELECT experiment_id, channel, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(d) AS BIGINT) AS s1
       |  FROM sfr GROUP BY 1, 2
       |),
       |sfb AS (
       |  SELECT experiment_id, channel, n, s1,
       |    unnest(range(1, n // 2 + 1)) AS j
       |  FROM sfch WHERE n >= 2
       |),
       |sft AS (
       |  SELECT r.experiment_id, r.channel, b.j, b.n, b.s1,
       |    CAST($xv * cos($theta) AS DECIMAL(28,14)) AS ac,
       |    CAST($xv * sin($theta) AS DECIMAL(28,14)) AS bs
       |  FROM sfr r JOIN sfb b ON b.experiment_id = r.experiment_id
       |    AND b.channel = r.channel
       |),
       |sfp AS (
       |  SELECT experiment_id, channel, j, n, s1,
       |    sum(ac) AS a, sum(bs) AS b
       |  FROM sft GROUP BY 1, 2, 3, 4, 5
       |),
       |sfn AS (
       |  SELECT experiment_id, channel, j, n, s1,
       |    CAST((CASE WHEN j * 2 = n THEN 1.0 ELSE 2.0 END)
       |      * (CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
       |        + CAST(b AS DOUBLE) * CAST(b AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
       |      AS DECIMAL(28,14)) AS p
       |  FROM sfp
       |),
       |sfc AS (
       |  SELECT experiment_id, channel, j, n, s1, p,
       |    sum(p) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY j) AS cum,
       |    sum(p) OVER (PARTITION BY experiment_id, channel) AS tot
       |  FROM sfn
       |)
       |SELECT experiment_id, channel,
       |  CAST(max(n) AS BIGINT) AS n_rr,
       |  CAST(max(tot) AS DOUBLE) AS total_power_s2,
       |  min(CASE WHEN CAST(cum AS DOUBLE) >= 0.5 * CAST(tot AS DOUBLE)
       |    THEN CAST(j AS DOUBLE) * $rate / CAST(s1 AS DOUBLE) END)
       |    AS median_freq_hz,
       |  min(CASE WHEN CAST(cum AS DOUBLE)
       |      >= ${dlit(edgeFrac)} * CAST(tot AS DOUBLE)
       |    THEN CAST(j AS DOUBLE) * $rate / CAST(s1 AS DOUBLE) END)
       |    AS sef_hz
       |FROM sfc GROUP BY 1, 2""".stripMargin
  }

  /** Q267 — TINN (mirrors BeatMetrics.tinn): integer power-of-two
    * bins, struct-max modal bin, dense-bin candidate grid, squared
    * residuals decimal-quantized before the per-candidate sum,
    * exact-decimal argmin with integer tie-breaks.
    */
  def q267Tinn(cfg: graft.PeakConfig = graft.PeakConfig(),
               binWidth: Int = 8): String = {
    val rate = dlit(cfg.sampleRateHz)
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |tn0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS d
       |  FROM detected
       |),
       |tnh AS MATERIALIZED (
       |  SELECT experiment_id, channel,
       |    CAST(floor(d / $binWidth.0) AS BIGINT) AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tn0 WHERE d IS NOT NULL
       |  GROUP BY 1, 2, 3
       |),
       |tns AS MATERIALIZED (
       |  SELECT experiment_id, channel,
       |    CAST(sum(c) AS BIGINT) AS n_rr,
       |    CAST(min(b) AS BIGINT) AS minb, CAST(max(b) AS BIGINT) AS maxb,
       |    max({'c': c, 'nb': -b}) AS best
       |  FROM tnh GROUP BY 1, 2
       |),
       |tnd0 AS (
       |  SELECT experiment_id, channel,
       |    unnest(range(minb, maxb + 1)) AS b
       |  FROM tns
       |),
       |tnd AS (
       |  SELECT g.experiment_id, g.channel, g.b,
       |    coalesce(h.c, CAST(0 AS BIGINT)) AS cb
       |  FROM tnd0 g
       |  LEFT JOIN tnh h ON h.experiment_id = g.experiment_id
       |    AND h.channel = g.channel AND h.b = g.b
       |),
       |tnm AS (
       |  SELECT experiment_id, channel, -best.nb AS peakb,
       |    best.c AS peakc, minb, maxb
       |  FROM tns
       |),
       |tnc AS (
       |  SELECT experiment_id, channel, peakb, peakc, maxb,
       |    unnest(range(minb - 1, peakb)) AS m
       |  FROM tnm
       |),
       |tnc2 AS (
       |  SELECT experiment_id, channel, peakb, peakc, m,
       |    unnest(range(peakb + 1, maxb + 2)) AS nn
       |  FROM tnc
       |),
       |tne AS (
       |  SELECT c.experiment_id, c.channel, c.m, c.nn,
       |    CAST((CAST(d.cb AS DOUBLE) -
       |      CASE WHEN d.b > c.m AND d.b <= c.peakb THEN
       |        CAST(c.peakc AS DOUBLE) * CAST(d.b - c.m AS DOUBLE)
       |          / CAST(c.peakb - c.m AS DOUBLE)
       |      WHEN d.b > c.peakb AND d.b < c.nn THEN
       |        CAST(c.peakc AS DOUBLE) * CAST(c.nn - d.b AS DOUBLE)
       |          / CAST(c.nn - c.peakb AS DOUBLE)
       |      ELSE 0.0 END) *
       |      (CAST(d.cb AS DOUBLE) -
       |      CASE WHEN d.b > c.m AND d.b <= c.peakb THEN
       |        CAST(c.peakc AS DOUBLE) * CAST(d.b - c.m AS DOUBLE)
       |          / CAST(c.peakb - c.m AS DOUBLE)
       |      WHEN d.b > c.peakb AND d.b < c.nn THEN
       |        CAST(c.peakc AS DOUBLE) * CAST(c.nn - d.b AS DOUBLE)
       |          / CAST(c.nn - c.peakb AS DOUBLE)
       |      ELSE 0.0 END) AS DECIMAL(38,10)) AS e2
       |  FROM tnc2 c JOIN tnd d ON d.experiment_id = c.experiment_id
       |    AND d.channel = c.channel
       |),
       |tnsse AS (
       |  SELECT experiment_id, channel, m, nn, sum(e2) AS sse
       |  FROM tne GROUP BY 1, 2, 3, 4
       |),
       |tnbest AS (
       |  SELECT *, row_number() OVER (PARTITION BY experiment_id, channel
       |    ORDER BY sse, nn - m, m) AS rn
       |  FROM tnsse
       |)
       |SELECT s.experiment_id, s.channel, s.n_rr,
       |  m.peakb AS modal_bin, m.peakc AS modal_count,
       |  b.m AS m_bin, b.nn AS n_bin, CAST(b.sse AS DOUBLE) AS sse,
       |  CAST(b.nn - b.m AS DOUBLE) * $binWidth.0 / $rate AS tinn_s
       |FROM tns s
       |JOIN tnm m ON m.experiment_id = s.experiment_id
       |  AND m.channel = s.channel
       |JOIN tnbest b ON b.experiment_id = s.experiment_id
       |  AND b.channel = s.channel AND b.rn = 1""".stripMargin
  }

  /** Q268 — RR return-map mutual information (mirrors
    * BeatMetrics.rrMutualInfo): Q262's integer 6-level quantizer,
    * integer joint/marginal counts via window sums, p·ln terms
    * decimal-quantized before the per-channel sums, pinned
    * uncertainty-coefficient finish.
    */
  def q268RrMutualInfo(
      cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |mi0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_mi AS d
       |  FROM detected
       |  WINDOW w_mi AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |mi1 AS (SELECT * FROM mi0 WHERE d IS NOT NULL),
       |mis AS (
       |  SELECT experiment_id, channel, min(d) AS mn, max(d) AS mx
       |  FROM mi1 GROUP BY 1, 2
       |),
       |mil AS (
       |  SELECT r.experiment_id, r.channel, r.peak_idx,
       |    CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
       |      ELSE (r.d - s.mn) * 6 // (s.mx - s.mn + 1) END AS lv
       |  FROM mi1 r JOIN mis s
       |    ON s.experiment_id = r.experiment_id AND s.channel = r.channel
       |),
       |mip AS (
       |  SELECT experiment_id, channel, lv AS s,
       |    lead(lv, 1) OVER (PARTITION BY experiment_id, channel
       |      ORDER BY peak_idx) AS s1
       |  FROM mil
       |),
       |mij AS (
       |  SELECT experiment_id, channel, s, s1,
       |    CAST(count(*) AS BIGINT) AS nxy
       |  FROM mip WHERE s1 IS NOT NULL GROUP BY 1, 2, 3, 4
       |),
       |mim AS (
       |  SELECT *,
       |    sum(nxy) OVER (PARTITION BY experiment_id, channel) AS ntot,
       |    sum(nxy) OVER (PARTITION BY experiment_id, channel, s) AS nx,
       |    sum(nxy) OVER (PARTITION BY experiment_id, channel, s1) AS ny
       |  FROM mij
       |),
       |mia AS (
       |  SELECT experiment_id, channel,
       |    CAST(max(ntot) AS BIGINT) AS n_pairs,
       |    CAST(count(*) AS BIGINT) AS n_cells,
       |    sum(CAST((CAST(nxy AS DOUBLE) / CAST(ntot AS DOUBLE))
       |      * ln(CAST(ntot AS DOUBLE) * CAST(nxy AS DOUBLE)
       |        / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
       |      AS DECIMAL(28,14))) AS smi
       |  FROM mim GROUP BY 1, 2
       |),
       |mih AS (
       |  SELECT experiment_id, channel,
       |    sum(CAST((CAST(nx AS DOUBLE) / CAST(ntot AS DOUBLE))
       |      * ln(CAST(nx AS DOUBLE) / CAST(ntot AS DOUBLE))
       |      AS DECIMAL(28,14))) AS shx
       |  FROM (
       |    SELECT DISTINCT experiment_id, channel, s, nx, ntot FROM mim
       |  ) GROUP BY 1, 2
       |)
       |SELECT a.experiment_id, a.channel, a.n_pairs, a.n_cells,
       |  CAST(a.smi AS DOUBLE) AS mi_nats,
       |  -CAST(h.shx AS DOUBLE) AS hx_nats,
       |  CASE WHEN CAST(h.shx AS DOUBLE) < 0.0 THEN
       |    CAST(a.smi AS DOUBLE) / -CAST(h.shx AS DOUBLE)
       |  END AS mi_norm
       |FROM mia a JOIN mih h ON h.experiment_id = a.experiment_id
       |  AND h.channel = a.channel""".stripMargin

  /** Q269 — RR stationarity split (mirrors
    * BeatMetrics.rrStationaritySplit): first/second-half RR arms as
    * exact BIGINT (n, Σd, Σd²) triples, Welch t + Welch–Satterthwaite
    * dof in the same pinned double association, nullif guards on every
    * zero denominator.
    */
  def q269RrStationarity(cfg: graft.PeakConfig = graft.PeakConfig()): String = {
    val rate = dlit(cfg.sampleRateHz)
    def varOf(s: String) =
      s"""(CAST(sxx_$s AS DOUBLE) - CAST(sx_$s AS DOUBLE)
         |      * CAST(sx_$s AS DOUBLE) / CAST(n_$s AS DOUBLE))
         |    / CAST(nullif(n_$s - 1, 0) AS DOUBLE)""".stripMargin
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |sp0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_sp0 AS d
       |  FROM detected
       |  WINDOW w_sp0 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |sp1 AS (
       |  SELECT experiment_id, channel, d,
       |    row_number() OVER w_sp1 AS i,
       |    count(*) OVER (PARTITION BY experiment_id, channel) AS n
       |  FROM sp0 WHERE d IS NOT NULL
       |  WINDOW w_sp1 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |spa AS (
       |  SELECT experiment_id, channel,
       |    CASE WHEN i * 2 <= n THEN 0 ELSE 1 END AS h,
       |    CAST(count(*) AS BIGINT) AS cn,
       |    CAST(sum(d) AS BIGINT) AS sx,
       |    CAST(sum(d * d) AS BIGINT) AS sxx
       |  FROM sp1 GROUP BY 1, 2, 3
       |),
       |spj AS (
       |  SELECT a.experiment_id, a.channel,
       |    a.cn AS n_a, a.sx AS sx_a, a.sxx AS sxx_a,
       |    b.cn AS n_b, b.sx AS sx_b, b.sxx AS sxx_b
       |  FROM spa a JOIN spa b ON a.experiment_id = b.experiment_id
       |    AND a.channel = b.channel AND a.h = 0 AND b.h = 1
       |),
       |spm AS (
       |  SELECT *,
       |    CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
       |    CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
       |    ${varOf("a")} AS var_a,
       |    ${varOf("b")} AS var_b
       |  FROM spj
       |),
       |sps AS (
       |  SELECT *,
       |    var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE) AS se2
       |  FROM spm
       |)
       |SELECT experiment_id, channel,
       |  n_a + n_b AS n_rr, n_a, n_b,
       |  mean_a / $rate AS mean_a_s,
       |  mean_b / $rate AS mean_b_s,
       |  (mean_a - mean_b) / nullif(sqrt(se2), 0.0) AS t_stat,
       |  (se2 * se2) / nullif(
       |    (var_a / CAST(n_a AS DOUBLE)) * (var_a / CAST(n_a AS DOUBLE))
       |      / CAST(nullif(n_a - 1, 0) AS DOUBLE)
       |    + (var_b / CAST(n_b AS DOUBLE)) * (var_b / CAST(n_b AS DOUBLE))
       |      / CAST(nullif(n_b - 1, 0) AS DOUBLE), 0.0) AS dof
       |FROM sps""".stripMargin
  }

  /** Q270 — beat morphology classes (mirrors
    * BeatMetrics.beatMorphClasses): complete Q236 windows, per-channel
    * 2-means with first-two-beats init, one recompute + final
    * assignment, exact-decimal distances with a cid tie-break,
    * (count desc, cid) relabel, decimal centroid-gap finish.
    */
  def q270BeatMorphClasses(cfg: graft.PeakConfig = graft.PeakConfig(),
                           before: Int = 20, after: Int = 40): String = {
    val winLen = before + after + 1
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |bm_off AS (
       |  SELECT d.experiment_id, d.channel, d.peak_idx, g.gs AS off,
       |    d.peak_idx + g.gs AS sample_idx
       |  FROM detected d, generate_series(-$before, $after) AS g(gs)
       |),
       |bm_win0 AS MATERIALIZED (
       |  SELECT o.experiment_id, o.channel, o.peak_idx, o.off, s.v
       |  FROM bm_off o JOIN smooth s ON s.experiment_id = o.experiment_id
       |    AND s.channel = o.channel AND s.sample_idx = o.sample_idx
       |),
       |bm_cmp AS (
       |  SELECT experiment_id, channel, peak_idx FROM bm_win0
       |  GROUP BY 1, 2, 3 HAVING count(*) = $winLen
       |),
       |bm_win AS MATERIALIZED (
       |  SELECT w.* FROM bm_win0 w JOIN bm_cmp c
       |    ON c.experiment_id = w.experiment_id
       |    AND c.channel = w.channel AND c.peak_idx = w.peak_idx
       |),
       |bm_init AS (
       |  SELECT * FROM (
       |    SELECT experiment_id, channel, peak_idx,
       |      row_number() OVER (PARTITION BY experiment_id, channel
       |        ORDER BY peak_idx) - 1 AS cid
       |    FROM bm_cmp)
       |  WHERE cid <= 1
       |),
       |bm_c0 AS (
       |  SELECT w.experiment_id, w.channel, i.cid, w.off, w.v AS ce
       |  FROM bm_win w JOIN bm_init i ON i.experiment_id = w.experiment_id
       |    AND i.channel = w.channel AND i.peak_idx = w.peak_idx
       |),
       |bm_d1 AS (
       |  SELECT w.experiment_id, w.channel, w.peak_idx, c.cid,
       |    sum(CAST((w.v - c.ce) * (w.v - c.ce) AS DECIMAL(28,10))) AS d
       |  FROM bm_win w JOIN bm_c0 c ON c.experiment_id = w.experiment_id
       |    AND c.channel = w.channel AND c.off = w.off
       |  GROUP BY 1, 2, 3, 4
       |),
       |bm_m1 AS (
       |  SELECT experiment_id, channel, peak_idx, cid FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY experiment_id, channel, peak_idx
       |      ORDER BY d, cid) AS rk
       |    FROM bm_d1)
       |  WHERE rk = 1
       |),
       |bm_c1 AS MATERIALIZED (
       |  SELECT w.experiment_id, w.channel, m.cid, w.off,
       |    CAST(sum(CAST(w.v AS DECIMAL(28,14))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS ce
       |  FROM bm_win w JOIN bm_m1 m ON m.experiment_id = w.experiment_id
       |    AND m.channel = w.channel AND m.peak_idx = w.peak_idx
       |  GROUP BY 1, 2, 3, 4
       |),
       |bm_d2 AS (
       |  SELECT w.experiment_id, w.channel, w.peak_idx, c.cid,
       |    sum(CAST((w.v - c.ce) * (w.v - c.ce) AS DECIMAL(28,10))) AS d
       |  FROM bm_win w JOIN bm_c1 c ON c.experiment_id = w.experiment_id
       |    AND c.channel = w.channel AND c.off = w.off
       |  GROUP BY 1, 2, 3, 4
       |),
       |bm_m2 AS (
       |  SELECT experiment_id, channel, peak_idx, cid FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY experiment_id, channel, peak_idx
       |      ORDER BY d, cid) AS rk
       |    FROM bm_d2)
       |  WHERE rk = 1
       |),
       |bm_sz AS (
       |  SELECT experiment_id, channel, cid, CAST(count(*) AS BIGINT) AS cn
       |  FROM bm_m2 GROUP BY 1, 2, 3
       |),
       |bm_split AS (
       |  SELECT experiment_id, channel,
       |    CAST(sum(cn) AS BIGINT) AS n_beats,
       |    max(CASE WHEN rk = 1 THEN cn END) AS n_major,
       |    coalesce(max(CASE WHEN rk = 2 THEN cn END), CAST(0 AS BIGINT))
       |      AS n_minor
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY experiment_id, channel
       |      ORDER BY cn DESC, cid) AS rk
       |    FROM bm_sz)
       |  GROUP BY 1, 2
       |),
       |bm_gap AS (
       |  SELECT a.experiment_id, a.channel,
       |    sum(CAST((a.ce - b.ce) * (a.ce - b.ce) AS DECIMAL(28,10))) AS g2
       |  FROM bm_c1 a JOIN bm_c1 b ON a.experiment_id = b.experiment_id
       |    AND a.channel = b.channel AND a.off = b.off
       |    AND a.cid = 0 AND b.cid = 1
       |  GROUP BY 1, 2
       |)
       |SELECT s.experiment_id, s.channel, s.n_beats, s.n_major, s.n_minor,
       |  CAST(s.n_minor AS DOUBLE) / CAST(s.n_beats AS DOUBLE) AS minor_share,
       |  coalesce(sqrt(CAST(g.g2 AS DOUBLE)), 0.0) AS centroid_sep
       |FROM bm_split s LEFT JOIN bm_gap g ON g.experiment_id = s.experiment_id
       |  AND g.channel = s.channel""".stripMargin
  }

  /** Q271 — Poincaré asymmetry (mirrors
    * BeatMetrics.poincareAsymmetry): consecutive RR pairs via
    * lag+lead, integer above/below counts and |Δ| sums, pinned
    * percentage finishes with nullif guards.
    */
  def q271PoincareAsymmetry(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |pa0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_pa0 AS d
       |  FROM detected
       |  WINDOW w_pa0 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |pa1 AS (
       |  SELECT experiment_id, channel, d,
       |    lead(d) OVER w_pa1 AS d1
       |  FROM pa0 WHERE d IS NOT NULL
       |  WINDOW w_pa1 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |paa AS (
       |  SELECT experiment_id, channel,
       |    CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN d1 > d THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
       |    CAST(sum(CASE WHEN d1 < d THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       |    CAST(sum(CASE WHEN d1 > d THEN abs(d1 - d) ELSE 0 END) AS BIGINT)
       |      AS s_above,
       |    CAST(sum(abs(d1 - d)) AS BIGINT) AS s_all
       |  FROM pa1 WHERE d1 IS NOT NULL GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_pairs, n_above, n_below,
       |  n_pairs - n_above - n_below AS n_on,
       |  100.0 * CAST(n_below AS DOUBLE)
       |    / CAST(nullif(n_above + n_below, 0) AS DOUBLE) AS porta_pct,
       |  100.0 * CAST(s_above AS DOUBLE)
       |    / CAST(nullif(s_all, 0) AS DOUBLE) AS guzik_pct
       |FROM paa""".stripMargin

  /** Q272 — Katz fractal dimension (mirrors BeatMetrics.katzFd):
    * unit-step curve length with decimal-quantized sqrt terms,
    * max distance from the first point, pinned ln finish.
    */
  def q272KatzFd(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH $sigCtes,
       |${smoothCtes(cfg.smoothWindow, cfg.smoothPolyorder)},
       |kz0 AS (
       |  SELECT experiment_id, channel,
       |    CAST(row_number() OVER wo AS BIGINT) - 1 AS i,
       |    v,
       |    first_value(v) OVER wc AS v0,
       |    lag(v) OVER wo AS vp
       |  FROM smooth WHERE v IS NOT NULL
       |  WINDOW wo AS (PARTITION BY experiment_id, channel ORDER BY sample_idx),
       |         wc AS (PARTITION BY experiment_id, channel ORDER BY sample_idx
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |),
       |kza AS (
       |  SELECT experiment_id, channel,
       |    CAST(count(*) AS BIGINT) AS n,
       |    sum(CASE WHEN vp IS NOT NULL THEN
       |      CAST(sqrt(1.0 + (v - vp) * (v - vp)) AS DECIMAL(38,10)) END)
       |      AS lsum,
       |    max(sqrt(CAST(i AS DOUBLE) * CAST(i AS DOUBLE)
       |      + (v - v0) * (v - v0))) AS dmax
       |  FROM kz0 GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n,
       |  CAST(lsum AS DOUBLE) AS l_sum,
       |  dmax AS d_max,
       |  ln(CAST(n - 1 AS DOUBLE)) / nullif(
       |    ln(CAST(n - 1 AS DOUBLE)) + ln(dmax / CAST(lsum AS DOUBLE)), 0.0)
       |    AS katz_fd
       |FROM kza WHERE n > 1""".stripMargin

  /** Q273 — RR-tachogram DFA (mirrors BeatMetrics.rrDfa): the Q249
    * chain re-sourced on the beat train at the short-term scales.
    */
  def q273RrDfa(cfg: graft.PeakConfig = graft.PeakConfig(),
                scales: Seq[Int] = Seq(4, 6, 8)): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |rr0 AS (
       |  SELECT experiment_id, channel, peak_idx AS sample_idx,
       |    CAST(peak_idx - lag(peak_idx) OVER w_rr0 AS DOUBLE) AS v
       |  FROM detected
       |  WINDOW w_rr0 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |dsrc AS (SELECT * FROM rr0 WHERE v IS NOT NULL),
       |${dfaChainSql(scales)}""".stripMargin

  /** Q274 — heart-rate turbulence (mirrors
    * BeatMetrics.heartRateTurbulence): integer 0.8/1.2 anchor gates,
    * complete (−2..+postBeats) neighborhood, greatest over the
    * `postBeats − 5` integer 5-point slope numerators (3 at the
    * short-recording default postBeats = 8), decimal-quantized
    * per-anchor TO/TS means.
    */
  def q274Hrt(cfg: graft.PeakConfig = graft.PeakConfig(),
              postBeats: Int = 8): String = {
    // same hard gate as the Spark side: below 7 there is no complete
    // 5-beat slope window past dp2 and the generated SQL would
    // silently diverge from BeatMetrics' require failure
    require(postBeats >= 7, "TS needs two 5-beat windows past dp2")
    val rate = dlit(cfg.sampleRateHz)
    val leads = (1 to postBeats).map(k => s"lead(d, $k) OVER w_ht1 AS dp$k")
      .mkString(",\n       |    ")
    val notNull = (Seq("dm2", "dm1") ++ (1 to postBeats).map(k => s"dp$k"))
      .map(c => s"$c IS NOT NULL").mkString(" AND ")
    val slopeNums = (2 to (postBeats - 4)).map(s =>
      s"dp${s + 4} * 2 + dp${s + 3} - dp${s + 1} - dp$s * 2")
      .mkString(",\n       |      ")
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |ht0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_ht0 AS d
       |  FROM detected
       |  WINDOW w_ht0 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |ht1 AS (
       |  SELECT experiment_id, channel, d,
       |    lag(d, 2) OVER w_ht1 AS dm2,
       |    lag(d, 1) OVER w_ht1 AS dm1,
       |    $leads
       |  FROM ht0 WHERE d IS NOT NULL
       |  WINDOW w_ht1 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |ht2 AS (
       |  SELECT experiment_id, channel,
       |    CAST(100.0 * (CAST(dp2 + dp3 AS DOUBLE)
       |        - CAST(dm2 + dm1 AS DOUBLE))
       |      / CAST(dm2 + dm1 AS DOUBLE) AS DECIMAL(28,14)) AS toq,
       |    CAST(CAST(greatest(
       |      $slopeNums) AS DOUBLE) / 10.0 / $rate AS DECIMAL(28,14)) AS tsq
       |  FROM ht1
       |  WHERE $notNull
       |    AND d * 5 < dm1 * 4 AND dp1 * 5 > d * 6
       |)
       |SELECT experiment_id, channel,
       |  CAST(count(*) AS BIGINT) AS n_anchors,
       |  CAST(sum(toq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS to_pct,
       |  CAST(sum(tsq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS ts_s_per_beat
       |FROM ht2 GROUP BY 1, 2""".stripMargin
  }

  /** Q275 — cross-channel RR correlation (mirrors
    * BeatMetrics.rrCrossCorrelation): beat-index-aligned pair join,
    * exact integer Pearson moments, pinned r finish.
    */
  def q275RrCrossCorr(cfg: graft.PeakConfig = graft.PeakConfig()): String =
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |xr0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_xr0 AS d
       |  FROM detected
       |  WINDOW w_xr0 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |xr1 AS MATERIALIZED (
       |  SELECT experiment_id, channel, d,
       |    row_number() OVER w_xr1 AS i
       |  FROM xr0 WHERE d IS NOT NULL
       |  WINDOW w_xr1 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |xra AS (
       |  SELECT a.experiment_id, a.channel AS cha, b.channel AS chb,
       |    CAST(count(*) AS BIGINT) AS n_common,
       |    CAST(sum(a.d) AS BIGINT) AS sa, CAST(sum(b.d) AS BIGINT) AS sb,
       |    CAST(sum(a.d * a.d) AS BIGINT) AS saa,
       |    CAST(sum(b.d * b.d) AS BIGINT) AS sbb,
       |    CAST(sum(a.d * b.d) AS BIGINT) AS sab
       |  FROM xr1 a JOIN xr1 b ON a.experiment_id = b.experiment_id
       |    AND a.i = b.i AND a.channel < b.channel
       |  GROUP BY 1, 2, 3
       |)
       |SELECT experiment_id, cha, chb, n_common,
       |  (CAST(n_common AS DOUBLE) * CAST(sab AS DOUBLE)
       |    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
       |  / nullif(sqrt(greatest(
       |      (CAST(n_common AS DOUBLE) * CAST(saa AS DOUBLE)
       |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
       |      * (CAST(n_common AS DOUBLE) * CAST(sbb AS DOUBLE)
       |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)), 0.0)), 0.0)
       |    AS rr_corr
       |FROM xra""".stripMargin

  /** Q276 — segmental HRV (mirrors BeatMetrics.segmentalHrv):
    * complete integer-division segments, exact per-segment integer
    * moments, decimal-quantized segment means/SDs, pinned
    * SDANN/SDNNI finishes.
    */
  def q276SegmentalHrv(cfg: graft.PeakConfig = graft.PeakConfig(),
                       segLen: Int = 8): String = {
    val rate = dlit(cfg.sampleRateHz)
    s"""WITH RECURSIVE ${detectCtes(cfg)},
       |sg0 AS (
       |  SELECT experiment_id, channel, peak_idx,
       |    peak_idx - lag(peak_idx) OVER w_sg0 AS d
       |  FROM detected
       |  WINDOW w_sg0 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |sg1 AS (
       |  SELECT experiment_id, channel, d,
       |    CAST(floor(CAST(row_number() OVER w_sg1 - 1 AS DOUBLE)
       |      / ${dlit(segLen.toDouble)}) AS BIGINT) AS g
       |  FROM sg0 WHERE d IS NOT NULL
       |  WINDOW w_sg1 AS (PARTITION BY experiment_id, channel ORDER BY peak_idx)
       |),
       |sga AS (
       |  SELECT experiment_id, channel, g,
       |    CAST(count(*) AS BIGINT) AS sn,
       |    CAST(sum(d) AS BIGINT) AS s1,
       |    CAST(sum(d * d) AS BIGINT) AS s2
       |  FROM sg1 GROUP BY 1, 2, 3
       |  HAVING count(*) = $segLen
       |),
       |sgb AS (
       |  SELECT experiment_id, channel,
       |    CAST(CAST(s1 AS DOUBLE) / CAST(sn AS DOUBLE)
       |      AS DECIMAL(28,14)) AS mq,
       |    CAST((CAST(s1 AS DOUBLE) / CAST(sn AS DOUBLE))
       |        * (CAST(s1 AS DOUBLE) / CAST(sn AS DOUBLE))
       |      AS DECIMAL(28,10)) AS mmq,
       |    CAST(sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(sn AS DOUBLE)
       |        - (CAST(s1 AS DOUBLE) / CAST(sn AS DOUBLE))
       |          * (CAST(s1 AS DOUBLE) / CAST(sn AS DOUBLE)), 0.0))
       |      AS DECIMAL(28,14)) AS sdq
       |  FROM sga
       |),
       |sgc AS (
       |  SELECT experiment_id, channel,
       |    CAST(count(*) AS BIGINT) AS n_segments,
       |    sum(mq) AS sm, sum(mmq) AS smm, sum(sdq) AS ssd
       |  FROM sgb GROUP BY 1, 2
       |)
       |SELECT experiment_id, channel, n_segments,
       |  CASE WHEN n_segments > 1 THEN
       |    sqrt(greatest(CAST(smm AS DOUBLE) / CAST(n_segments AS DOUBLE)
       |      - (CAST(sm AS DOUBLE) / CAST(n_segments AS DOUBLE))
       |        * (CAST(sm AS DOUBLE) / CAST(n_segments AS DOUBLE)), 0.0))
       |    / $rate END AS sdann_s,
       |  CAST(ssd AS DOUBLE) / CAST(n_segments AS DOUBLE) / $rate AS sdnni_s
       |FROM sgc""".stripMargin
  }

  /** Q329 — IVF-PQ composite search (mirrors Similarity.ivfPqSearch):
    * the same ADC arithmetic restated inline over the raw embeddings
    * table under the RETRAINED state the switch must serve — lists
    * from the frozen existing-stratum quantizer (the q298 assignment
    * CTEs), codes from the full-corpus codebook (the q317 retrain:
    * pqEncodeCtes with cbFrom = 'e', both strata encoded), candidates
    * reconstructed through the codebook and scored by the pinned
    * probe·reconstruction dot, top-k per probe over the probed lists.
    * A stale v1 codebook, a mixed-version read, or a code/decode bug
    * through the persisted layout all break this compare.
    *
    * `cbFrom = "ex"` is the FROZEN-codebook variant (codewords from
    * the existing stratum, the q302 discipline) shared by the q333
    * day-2 search, the q334 compaction (layout-only), and the q335
    * time travel (the q329 root's v1 snapshot IS the full corpus
    * coded under the frozen codebook). `centFrom`/`centOffset` swap
    * in the q340 RETRAINED quantizer: lists AND probe routing re-rank
    * under the shifted-window centroids the retrain installs.
    */
  def q329IvfPqSearch(nCentroids: Int = 8, nSub: Int = 8,
                      subDim: Int = 8, codebookK: Int = 16,
                      modN: Int = 5, nProbe: Int = 2, k: Int = 5,
                      dim: Int = 64, cbFrom: String = "e",
                      centFrom: String = "ex",
                      centOffset: Int = 0): String =
    s"""WITH ${vecSplitCtes(modN)},
       |${sliceAssignCtes(nCentroids, dim, centFrom, centOffset)},
       |lists AS (SELECT vec_id, cid AS list_id FROM asg WHERE crk = 1),
       |pl AS (
       |  SELECT vec_id AS probe_id, de AS pe, cid AS list_id
       |  FROM asg WHERE vec_id < 3 AND crk <= $nProbe
       |),
       |${pqEncodeCtes(nSub, subDim, codebookK, cbFrom, subPred = "TRUE")},
       |code AS (
       |  SELECT b.vec_id, b.j, c.cv FROM best b
       |  JOIN cb c ON c.j = b.j AND c.cw = b.cw WHERE b.rk = 1
       |),
       |recon AS (
       |  SELECT vec_id, flatten(list(cv ORDER BY j)) AS rvec
       |  FROM code GROUP BY vec_id
       |),
       |cs AS (
       |  SELECT p.probe_id, l.vec_id,
       |    ${sumTerms("p.pe", "r.rvec", dim)} AS score
       |  FROM pl p JOIN lists l USING (list_id)
       |  JOIN recon r ON r.vec_id = l.vec_id
       |  WHERE l.vec_id <> p.probe_id
       |),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY score DESC, vec_id) AS rnk
       |  FROM cs
       |)
       |SELECT probe_id, vec_id, score, rnk FROM rk WHERE rnk <= $k""".stripMargin

  /** Q330 — lifecycle recall certification (mirrors
    * Similarity.lifecycleRecall): the q90 recall tail with the approx
    * side swapped from the inline q16c index to the state the q318
    * composition serves — which the three-day refresh→compact→retire
    * life must leave exactly equal to the q298 day-2 search (q325's
    * argument on the postings family). Per probe, |served ∩ exact|/k;
    * a slice dropped by a refresh, leaked by a compaction, or deleted
    * by an over-eager GC shifts the served top-k and breaks the
    * compare.
    */
  def q330LifecycleRecall(k: Int = 5): String =
    recallVsExactSql(q298IvfDayTwoSearch(k = k), k)

  /** The shared recall tail of q330/q332/q343: exact cosine truth
    * (q16's top-k) vs an approximate search's answers, per probe,
    * zero-hit probes preserved, integer-exact ratios. */
  private def recallVsExactSql(approxSql: String, k: Int): String =
    s"""WITH truth AS (
       |  SELECT probe_id, vec_id FROM (${q16CosineTopK(k = k)}) t
       |),
       |approx AS (
       |  SELECT probe_id, vec_id FROM ($approxSql) a
       |),
       |hits AS (
       |  SELECT t.probe_id, count(*) AS n_hit
       |  FROM truth t JOIN approx x
       |    ON x.probe_id = t.probe_id AND x.vec_id = t.vec_id
       |  GROUP BY 1
       |)
       |SELECT p.probe_id, coalesce(h.n_hit, 0) AS n_hit,
       |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / $k AS recall
       |FROM (SELECT DISTINCT probe_id FROM truth) p
       |LEFT JOIN hits h USING (probe_id)""".stripMargin

  /** Q332 — IVF-PQ recall certification (mirrors
    * Similarity.ivfPqRecall): the q90 recall tail with the approx
    * side swapped to the q329 composite ADC search — exact cosine
    * truth vs coded-index answers, per probe, integer-exact.
    */
  def q332IvfPqRecall(k: Int = 5): String =
    recallVsExactSql(q329IvfPqSearch(k = k), k)

  /** Q343 — post-retrain recall certification (mirrors
    * Similarity.ivfPqRetrainRecall): the q332 tail with the approx
    * side under the q340 retrained state — full-corpus codebook AND
    * the shifted-window quantizer routing both lists and probes.
    */
  def q343RetrainRecall(k: Int = 5): String =
    recallVsExactSql(q329IvfPqSearch(k = k, cbFrom = "e",
      centFrom = "e", centOffset = 8), k)
}
