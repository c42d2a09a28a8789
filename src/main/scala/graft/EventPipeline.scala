package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.binning.{BinAxis, BinnedGrid, Binning}
import graft.io.Sources
import graft.transforms.Calib

/** Fluent workflow API mirroring the reference's `dataframeProcessor`
  * surface (SURVEY.md §3 E1): a user of the reference maps their session
  * almost 1:1 —
  *
  * {{{
  * val grid = EventPipeline.read(spark, dir)
  *   .applyFilter("X", 300, 1800)
  *   .applyECorrectionSpherical(...)
  *   .appendEAxis("t", d, t0, e0)
  *   .appendKAxis("X", "Y", ...)
  *   .appendMarker("ADC", levels)
  *   .applyJitter(Seq("X" -> 1.0), seed = 42)
  *   .distributedBinning(Seq(BinAxis("X", 100, 300, 1800), ...))
  * }}}
  *
  * Each step is a lazy plan mutation (Catalyst replaces the dask graph);
  * `distributedBinning` triggers execution and collects the (small) grid.
  */
final case class EventPipeline(df: DataFrame) {

  /** appendColumn (fprocessing.py:2152-2173) */
  def appendColumn(name: String, expr: Column): EventPipeline =
    copy(df.withColumn(name, expr))

  /** deleteColumn (fprocessing.py:2175-2183) */
  def deleteColumn(names: String*): EventPipeline = copy(df.drop(names: _*))

  /** applyFilter (fprocessing.py:2185-2203): strict bounds lb < col < ub */
  def applyFilter(column: String, lb: Double, ub: Double): EventPipeline =
    copy(df.filter(col(column) > lit(lb) && col(column) < lit(ub)))

  /** columnApply / transformColumn (fprocessing.py:2205-2267) */
  def transformColumn(name: String, f: Column => Column): EventPipeline =
    copy(df.withColumn(name, f(col(name))))

  /** transformColumn2D (fprocessing.py:2269-2284): (x,y) → (newX,newY) */
  def transformColumn2D(x: String, y: String, newX: String, newY: String,
                        f: (Column, Column) => (Column, Column)): EventPipeline = {
    val (nx, ny) = f(col(x), col(y))
    copy(df.withColumn(newX, nx).withColumn(newY, ny))
  }

  /** appendRow (fprocessing.py:2413-2433) */
  def appendRows(other: DataFrame): EventPipeline = copy(df.unionByName(other))

  /** applyECorrection type='spherical' (fprocessing.py:2319-2322) */
  def applyECorrectionSpherical(tCol: String, xCol: String, yCol: String,
                                xc: Double, yc: Double, d: Double, t0: Double,
                                amplitude: Double): EventPipeline =
    copy(df.withColumn(tCol, col(tCol) +
      Calib.eCorrectionSpherical(col(xCol), col(yCol), xc, yc, d, t0, amplitude)))

  /** appendEAxis via tof2ev (fprocessing.py:2391-2410) */
  def appendEAxis(tCol: String, d: Double, t0: Double, e0: Double,
                  binwidth: Double = 4.125e-12, binning: Int = 1): EventPipeline =
    copy(df.withColumn("E", Calib.tof2ev(col(tCol), d, t0, e0, binwidth, binning)))

  /** appendEAxis via polynomial model (tof2evpoly) */
  def appendEAxisPoly(tCol: String, coeffs: Seq[Double], e0: Double): EventPipeline =
    copy(df.withColumn("E", Calib.tof2evpoly(col(tCol), coeffs, e0)))

  /** appendKAxis via detrc2krc (fprocessing.py:2378-2389) */
  def appendKAxis(xCol: String, yCol: String,
                  rstart: Double, cstart: Double, r0: Double, c0: Double,
                  fr: Double, fc: Double, rstep: Double, cstep: Double): EventPipeline =
    copy(df
      .withColumn("kx", Calib.detrc2krc(col(xCol), rstart, r0, fr, rstep))
      .withColumn("ky", Calib.detrc2krc(col(yCol), cstart, c0, fc, cstep)))

  /** applyKCorrection type='mattrans' (perspective, fprocessing.py:2345-2362) */
  def applyKCorrection(xCol: String, yCol: String, m: Array[Array[Double]],
                       newX: String = "Xm", newY: String = "Ym"): EventPipeline =
    transformColumn2D(xCol, yCol, newX, newY, Calib.perspectiveTransform(_, _, m))

  /** appendMarker (fprocessing.py:2435-2445) */
  def appendMarker(column: String, levels: Seq[(Double, Double, Double)]): EventPipeline =
    copy(df.withColumn("Marker", Calib.multithresh(col(column), levels)))

  /** applyJitter (fprocessing.py:1849-1870): per-column uniform dither
    * scaled to each column's bin step. */
  def applyJitter(colsAmps: Seq[(String, Double)], seed: Long): EventPipeline =
    copy(colsAmps.zipWithIndex.foldLeft(df) { case (d, ((c, amp), i)) =>
      d.withColumn(c, Calib.jitterUniform(col(c), 0.5, amp, seed + i))
    })

  /** distributedBinning (fprocessing.py:2448-2486): bin the events
    * straight into a driver grid ([[Binning.histogramGrid]]). Tasks count
    * their events per tile of the flattened grid, tiles merge by key on
    * the executors, and the driver receives each non-empty tile once —
    * the reference's per-partition histograms plus combine, without a
    * shuffle row per cell. Grids above the JVM array limit are refused;
    * bin those with [[binnedTable]]. */
  def distributedBinning(axes: Seq[BinAxis]): BinnedGrid =
    Binning.histogramGrid(df, axes.map(a => col(a.name) -> a))

  /** Sparse relational binning (keeps the result distributed). */
  def binnedTable(axes: Seq[BinAxis]): DataFrame =
    Binning.histogramNd(df, axes.map(a => col(a.name) -> a))

  def count(): Long = df.count()
  def columns: Seq[String] = df.columns.toSeq
}

object EventPipeline {
  /** read(source='folder', ftype='parquet') analogue, through
    * [[graft.io.Sources.parquet]]: the schema comes from one footer read
    * on the driver, so opening the folder runs no Spark job — an
    * interactive session re-reads it for every re-binning. */
  def read(spark: SparkSession, path: String): EventPipeline =
    EventPipeline(Sources.parquet(spark, path))

  def fromEvents(spark: SparkSession, sfDir: String): EventPipeline =
    EventPipeline(Tables.events(spark, sfDir))
}
