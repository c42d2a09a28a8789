package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.analysis.{Analysis, Analysis2D, Calibrate, Dtw, GridOps}
import graft.binning.BinnedGrid
import graft.fit.Fit
import graft.warp.Warp

/** The in-JVM analysis calls, each one measured call into its layer.
  * The e1 pass ends with all of them, so every analysis, warp and fit
  * layer has a measured time there. */
final class Look(c: Collector, spark: SparkSession) {
  import GridOps.Grid

  /** A 2-D grid as rows × cols of doubles. */
  def grid2d(g: BinnedGrid): Grid = {
    require(g.shape.length == 2, s"expected a 2-D grid, got ${g.shape}")
    Array.tabulate(g.shape(0), g.shape(1))((i, j) => g(i, j).toDouble)
  }

  /** One EDC: Shirley background and 1-D peaks. */
  def edc(x: Array[Double], y: Array[Double]): Seq[Analysis.Peak] = {
    c.time("analysis.shirley")(Analysis.shirley(x, y))
    c.time("analysis.peakdetect")(Analysis.peakDetect1d(y, x, lookahead = 5)._1)
  }

  /** A kx–ky map: the strongest well-separated local maxima, local-threshold
    * segmentation, and a TPS that pulls the six strongest maxima onto a
    * regular hexagon (the reference's momentum-distortion correction).
    * Returns the maxima used as landmarks, strongest first. */
  def map(m: Grid, field: Int): Seq[Analysis2D.Peak2D] = {
    val peaks = c.time("analysis.peakdetect") {
      val all = Analysis2D.peakDetect2d(m, radius = 2)
      all.foldLeft(Vector.empty[Analysis2D.Peak2D]) { (acc, p) =>
        if (acc.length < 6 && acc.forall(q => math.hypot(q.row - p.row, q.col - p.col) >= 4)) acc :+ p
        else acc
      }
    }
    c.time("analysis.segment")(Analysis2D.segment2d(m, radius = 3))
    if (peaks.length == 6) c.time("warp.tps") {
      val rows = m.length.toDouble; val cols = m(0).length.toDouble
      val ctr = ((rows - 1) / 2, (cols - 1) / 2)
      val src = peaks.map(p => (p.row.toDouble, p.col.toDouble))
        .sortBy { case (r, cc) => math.atan2(cc - ctr._2, r - ctr._1) }
      val radius = src.map { case (r, cc) => math.hypot(r - ctr._1, cc - ctr._2) }.sum / 6
      val rot0 = math.atan2(src.head._2 - ctr._2, src.head._1 - ctr._1)
      val dst = Analysis.vertexGenerator(ctr, radius, 6, rot0)
        .sortBy { case (r, cc) => math.atan2(cc - ctr._2, r - ctr._1) }
      val tps = Warp.tpsFit((src :+ ctr).toArray, (dst :+ ctr).toArray, regularization = 1e-6)
      Warp.deformationField(field, tps.apply)
    }
    peaks
  }

  /** An E–k cut (rows k, cols E): curvature sharpening. */
  def curvature(cut: Grid): Grid = c.time("analysis.curvature")(GridOps.curvature2d(cut))

  /** Distributed Gaussian fits of one trace per key over the sparse cells
    * of `g` (bins along its last axis): `Fit.tracesFromHistogram` then
    * `Fit.fitTraces` on the traces with the three points a fit needs.
    * Returns key → fitted centre in bin units. */
  def fits(g: BinnedGrid): Map[Long, Double] = c.time("fit.traces") {
    val n = g.axes.length
    val names = g.axes.map(a => s"bin_${a.name}")
    val key = names.init.zip(g.shape.init).foldLeft(lit(0L)) { case (acc, (nm, s)) =>
      acc * lit(s.toLong) + col(nm)
    }
    val hist = g.toDF(spark).withColumn("key", key)
    val traces = Fit.tracesFromHistogram(spark, hist, "key", names(n - 1), "cnt")
    Fit.fitTraces(traces.filter(size(col("xs")) >= 3))
      .collect().map(f => f.key.toLong -> f.center).toMap
  }

  /** Energy calibration from a bias series (the reference's
    * EnergyCalibrator): normalise, align every trace to the first by DTW,
    * take the main peak's position, and fit the ToF→E polynomial.
    * Returns (peak positions, coefficients highest power first). */
  def calibrate(traces: Array[Array[Double]], biases: Array[Double]): (Array[Double], Array[Double]) =
    c.time("analysis.calibrate") {
      val norm = Analysis.normSpec(traces)
      val ref = norm(0)
      val refPeak = ref.indices.maxBy(ref(_))
      val pos = norm.map { tr =>
        val (_, path) = Dtw.dtw(ref, tr)
        val guess = Dtw.rangeConvert(path, Seq(refPeak)).head
        val lo = math.max(0, guess - 8); val hi = math.min(tr.length, guess + 9)
        (lo until hi).maxBy(tr(_)).toDouble
      }
      (pos, Calibrate.calibrateE(pos, biases, order = 2, refId = 0))
    }
}
