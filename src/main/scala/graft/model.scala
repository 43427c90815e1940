package graft

/** Canonical schemas for the signal engine (SURVEY §1.4).
  *
  * The reference's "table" is a two-column pandas frame per channel
  * (`/root/reference/utils.py:15-18`); we use one *long* table where
  * `(experiment_id, channel)` is the partition key and `sample_idx` the
  * in-partition order — channels become data, not objects, which is what
  * makes the engine scale to millions of channels.
  */
final case class SignalRow(
    experiment_id: String,
    channel: Int,
    sample_idx: Long,
    t: Double,
    y: Double
)

/** One detected contraction peak with its per-beat metrics
  * (reference: dict at `/root/reference/peak_analysis.py:61-75`) and
  * the TTP/TTR crossing-marker points the reference collects for its
  * overlays (`peak_analysis.py:95,113`): the (timestamp, smooth-value)
  * pair at the index where the above/below-diastolic state flips,
  * with the time derived from the peak's timestamp ∓ i/rate. Null
  * exactly when the corresponding metric is null.
  */
final case class Peak(
    experiment_id: String,
    channel: Int,
    peak_idx: Long,
    t: Double,
    peak_value: Double,
    baseline_value: Option[Double],
    force: Option[Double],
    time_to_peak: Option[Double],
    time_to_relaxation: Option[Double],
    duration: Option[Double],
    ttp_t: Option[Double],
    ttp_y: Option[Double],
    ttr_t: Option[Double],
    ttr_y: Option[Double]
)

/** All tunables of the reference pipeline with its defaults
  * (`/root/reference/peak_detection.py:12-18`), plus `sampleRateHz`
  * replacing the hardcoded 100 Hz of
  * `/root/reference/peak_analysis.py:94,112`.
  *
  * Dead reference params (`aux_peak_prominence`, the six
  * `detect_stim_peaks` args) are dropped — see SURVEY §8 Q4/Q5.
  */
final case class PeakConfig(
    smoothWindow: Int = 51,
    smoothPolyorder: Int = 7,
    computeFrom: String = "smooth", // envelope input: "smooth" | "raw"
    auxWindowSize: Int = 350,
    auxSmoothingWindow: Int = 301,
    auxPolyorder: Int = 3,
    relativeToBaseline: Double = 0.1,
    relHeight: Double = 0.3,
    prominence: Double = 0.3,
    width: Double = 1.0,
    threshold: Double = 0.7,
    minDistance: Int = 20,
    wlen: Int = 250,
    sampleRateHz: Double = 100.0
) {
  require(smoothWindow % 2 == 1, "smoothWindow must be odd")
  require(auxSmoothingWindow % 2 == 1, "auxSmoothingWindow must be odd")
  // SURVEY §8 Q2: the reference's pad algebra only yields an aligned,
  // length-n envelope when twice the envelope pad equals auxWindowSize
  // (pad = max(auxWindowSize, auxSmoothingWindow)/2). Reject misaligning
  // combos loudly instead of silently reproducing the reference's latent
  // bug. Defaults (350, 301): pad = 175, 2*175 == 350 — OK.
  require(
    2 * (math.max(auxWindowSize, auxSmoothingWindow) / 2) == auxWindowSize,
    "envelope params misalign the output (2*pad must equal auxWindowSize, " +
      "pad = max(auxWindowSize, auxSmoothingWindow)/2; SURVEY §8 Q2)"
  )
}
