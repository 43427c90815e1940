package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.PeakConfig
import graft.functions.{FirDotExpr, SavitzkyGolay}
import Smoothing.{keyCols, dotChunk}

/** O4/O5/O6 — floor/ceiling envelopes + diastolic reference
  * (`/root/reference/peak_detection.py:56-169,200-218`, SURVEY §2.3/§2.4).
  *
  * Exact recipe per channel (defaults W=350, SG 301/3):
  *   floor[i]   = min over *interior local minima* of frame y[i, i+350),
  *                i ∈ [0, n−350); NaN when the frame has none
  *   padded     = blockRepeat(floor, 175)            — length n again
  *   baseline   = SG(301,3, mode='nearest')(padded)  — NOT stripped
  *   diastolic  = baseline + 0.1·(ceiling − baseline)
  * ceiling mirrors with interior local maxima / max.
  *
  * Computed as one kernel per channel: the frame is grouped by the
  * channel key columns (so it rides the channel hash partitioning
  * Smoothing already paid for — smooth + envelopes plan one Exchange),
  * the channel is laid out in primitive arrays, and every input row is
  * emitted with the three columns appended. O(n) per channel: the
  * frame-interior extrema [i+1, i+W−2] come from a monotonic deque, the
  * block-repeat pad and the `mode='nearest'` edge clamp are index
  * arithmetic, and each SG output is one [[FirDotExpr.dotChunkedAt]]
  * fold (the association order the DuckDB oracle mirrors).
  *
  * Precondition: `sample_idx` is dense and 0-based per channel (each of
  * 0..n−1 exactly once). A channel that breaks it fails the job with an
  * error naming the channel.
  *
  * Ordering: marks and extrema compare with Spark's double ordering
  * (`SQLOrderingUtil.compareDoubles`): NaN is greater than every number
  * and equal to itself, −0.0 equals 0.0, and among equal extrema the
  * earliest in the frame wins. So an isolated NaN is a peak mark and
  * poisons every ceiling frame holding it; a null value, or a null
  * neighbour, marks nothing.
  *
  * Null/NaN parity: a frame with no interior extremum is NaN, which
  * poisons every SG output within 150 samples (SURVEY §2.3); NaN
  * becomes null at the operator boundary (diastolic is null when either
  * envelope is).
  *
  * Extremum marking uses the strict-neighbor rule (`v < lag ∧ v < lead`).
  * scipy additionally reports flat-plateau extrema; a plateau inside a
  * frame requires exactly-tied doubles, which the declared query surface
  * (continuous signals) cannot produce — the exact plateau rule lives in
  * the `FindPeaks` port (O7) where it is part of the contract.
  *
  * Channels shorter than auxWindowSize + pad get null envelopes (the
  * reference crashes on them — divergence logged in SURVEY §8 Q2), as do
  * rows with a null key.
  */
object Envelopes {

  /** Adds `baseline`, `ceiling`, `diastolic` columns to a frame that
    * already has the target series (default `y_smooth`). Output columns:
    * the keys and `sample_idx`, the other input columns in order, then
    * the three envelope columns.
    */
  def withEnvelopes(
      df: DataFrame,
      cfg: PeakConfig = PeakConfig(),
      targetCol: String = "y_smooth"
  ): DataFrame = {
    val bigW = cfg.auxWindowSize // 350
    val sw = cfg.auxSmoothingWindow // 301
    val pad = math.max(bigW, sw) / 2 // 175
    val k = sw / 2 // 150
    val c = SavitzkyGolay.coeffs(sw, cfg.auxPolyorder)
    val rel = cfg.relativeToBaseline

    val lead = keyCols :+ "sample_idx"
    val in = df.select((lead ++ df.columns.filterNot(lead.contains)).map(col): _*)
    val vi = in.schema.fieldIndex(targetCol)
    val out = StructType(in.schema.fields ++
      Seq("baseline", "ceiling", "diastolic").map(StructField(_, DoubleType)))

    in.groupBy(keyCols.map(col): _*)
      .as[Row, Row](Encoders.row(StructType(keyCols.map(in.schema(_)))), Encoders.row(in.schema))
      .flatMapGroups { (key: Row, rows: Iterator[Row]) =>
        channel(key, rows.toArray, vi, bigW, pad, k, c, rel)
      }(Encoders.row(out))
      .toDF()
  }

  private def channel(key: Row, rows: Array[Row], vi: Int, bigW: Int, pad: Int,
      k: Int, c: Array[Double], rel: Double): Iterator[Row] = {
    val n = rows.length
    def emit(r: Row, b: Any, ce: Any, d: Any) = Row.fromSeq(r.toSeq :+ b :+ ce :+ d)
    if (key.anyNull) return rows.iterator.map(emit(_, null, null, null))

    val byIdx = new Array[Row](n)
    rows.foreach { r =>
      val i = r.get(2) match { case x: Number => x.longValue; case _ => -1L }
      if (i < 0 || i >= n || byIdx(i.toInt) != null)
        throw new IllegalArgumentException(
          s"envelopes need a dense 0-based sample_idx per channel: channel " +
            s"(experiment_id=${key.get(0)}, channel=${key.get(1)}) has $n rows " +
            s"but sample_idx ${r.get(2)} is ${if (i >= 0 && i < n) "repeated" else "out of range"}")
      byIdx(i.toInt) = r
    }
    val m = n - bigW
    if (m < pad) return byIdx.iterator.map(emit(_, null, null, null))

    val v = byIdx.map(r => if (r.isNullAt(vi)) Double.NaN else r.getAs[Number](vi).doubleValue)
    // a mark needs the value and both neighbours non-null
    def sign(i: Int): Int =
      if (i == 0 || i == n - 1 || byIdx(i - 1).isNullAt(vi) || byIdx(i).isNullAt(vi) ||
          byIdx(i + 1).isNullAt(vi)) 0
      else mark(v, i)
    val marks = Array.tabulate(n)(sign)
    val plen = m + 2 * pad
    // padded[j] = floor[src(j)] (block repeat); taps clamp to [0, plen)
    def padded(fr: Array[Double]): Array[Double] = Array.tabulate(plen + 2 * k) { q =>
      val j = math.min(math.max(q - k, 0), plen - 1)
      fr(if (j < pad) j else if (j < m + pad) j - pad else j - 2 * pad)
    }
    val fb = padded(frameExtrema(v, marks, -1, m, bigW - 2))
    val fc = padded(frameExtrema(v, marks, 1, m, bigW - 2))
    def sg(p: Array[Double], s: Int): Any =
      if (s >= plen) null
      else {
        val x = FirDotExpr.dotChunkedAt(p, s, c, dotChunk)
        if (x.isNaN) null else x
      }
    Iterator.tabulate(n) { s =>
      (sg(fb, s), sg(fc, s)) match {
        case (b: Double, ce: Double) => emit(byIdx(s), b, ce, b + rel * (ce - b))
        case (b, ce) => emit(byIdx(s), b, ce, null)
      }
    }
  }

  /** The mark of v(i), 0 < i < v.length − 1: −1 when it is below both
    * neighbours, +1 when it is above both, else 0.
    */
  private[graft] def mark(v: Array[Double], i: Int): Int = {
    val a = compareDoubles(v(i), v(i - 1))
    val z = compareDoubles(v(i), v(i + 1))
    if (a < 0 && z < 0) -1 else if (a > 0 && z > 0) 1 else 0
  }

  /** out[i], i ∈ [0, m): the extremum of v over the positions j ∈
    * [i+1, i+w] whose mark equals `want` (−1 minima / +1 maxima), NaN
    * when there is none. A monotonic deque of candidate positions keeps
    * it O(n); strict popping keeps the earliest of equal values.
    */
  private[graft] def frameExtrema(v: Array[Double], marks: Array[Int], want: Int,
      m: Int, w: Int): Array[Double] = {
    val out = new Array[Double](m)
    val dq = new Array[Int](v.length)
    var h = 0
    var t = 0
    var next = 1
    var i = 0
    while (i < m) {
      while (next <= i + w) {
        if (marks(next) == want) {
          while (t > h && want * compareDoubles(v(next), v(dq(t - 1))) > 0) t -= 1
          dq(t) = next; t += 1
        }
        next += 1
      }
      while (t > h && dq(h) <= i) h += 1
      out(i) = if (t > h) v(dq(h)) else Double.NaN
      i += 1
    }
    out
  }
}
