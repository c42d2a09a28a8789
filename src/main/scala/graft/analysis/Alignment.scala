package graft.analysis

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Volume alignment (reference `beamtime.py:18-220`): per-(x, y)-pixel
  * grid search for the (shift, scale) that best aligns each trace with a
  * reference trace. The reference parallelizes this with numba `prange`;
  * here each pixel trace is an independent row, so the search
  * distributes as `Dataset[PixelTrace].map` across the cluster —
  * per-pixel work is embarrassingly parallel (SURVEY.md §2.10 note).
  */
object Alignment {

  final case class PixelTrace(x: Int, y: Int, trace: Array[Double])
  final case class AlignResult(x: Int, y: Int, shift: Double, scale: Double, err: Double)

  // Built once: deriving a product encoder reflects over the case class.
  private lazy val alignResultEncoder: Encoder[AlignResult] = Encoders.product[AlignResult]

  /** Evaluate one candidate: mean squared error between `ref` and the
    * shifted/scaled resampling of `trace` (linear interpolation). */
  def alignError(ref: Array[Double], trace: Array[Double],
                 shift: Double, scale: Double): Double = {
    val n = ref.length
    var acc = 0.0
    var cnt = 0
    var i = 0
    while (i < n) {
      val pos = i * scale + shift
      if (pos >= 0 && pos <= trace.length - 1) {
        val p0 = pos.toInt
        val f = pos - p0
        val v = if (p0 + 1 < trace.length) trace(p0) * (1 - f) + trace(p0 + 1) * f else trace(p0)
        val d = v - ref(i)
        acc += d * d
        cnt += 1
      }
      i += 1
    }
    if (cnt == 0) Double.PositiveInfinity else acc / cnt
  }

  /** Grid-search the (shift, scale) window for one trace. */
  def gridSearch(ref: Array[Double], trace: Array[Double],
                 shifts: Seq[Double], scales: Seq[Double]): (Double, Double, Double) = {
    var best = (0.0, 1.0, Double.PositiveInfinity)
    for (sh <- shifts; sc <- scales) {
      val e = alignError(ref, trace, sh, sc)
      if (e < best._3) best = (sh, sc, e)
    }
    best
  }

  /** Distribute the per-pixel search across the cluster. */
  def alignVolume(traces: Dataset[PixelTrace], ref: Array[Double],
                  shifts: Seq[Double], scales: Seq[Double]): Dataset[AlignResult] = {
    val refB = traces.sparkSession.sparkContext.broadcast(ref)
    traces.map { (t: PixelTrace) =>
      val (sh, sc, e) = gridSearch(refB.value, t.trace, shifts, scales)
      AlignResult(t.x, t.y, sh, sc, e)
    }(alignResultEncoder)
  }

  /** Apply a fitted (shift, scale) to a trace (resampling). */
  def applyShiftScale(trace: Array[Double], shift: Double, scale: Double): Array[Double] =
    Array.tabulate(trace.length) { i =>
      val pos = i * scale + shift
      if (pos < 0 || pos > trace.length - 1) 0.0
      else {
        val p0 = pos.toInt
        val f = pos - p0
        if (p0 + 1 < trace.length) trace(p0) * (1 - f) + trace(p0 + 1) * f else trace(p0)
      }
    }
}
