package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.{Analysis, Calibrate}
import graft.binning.{BinAxis, Binning, BinnedGrid}
import org.apache.spark.sql.functions._

class AnalysisSpec extends AnyFunSuite {
  import SparkTestSession._

  test("shirley background: flat signal between plateaus integrates monotonically") {
    // classic step spectrum: high plateau, peak, low plateau
    val n = 200
    val x = Array.tabulate(n)(i => 100.0 - i * 0.5) // decreasing energies
    val y = Array.tabulate(n) { i =>
      val peak = 50.0 * math.exp(-math.pow((i - 100) / 8.0, 2))
      val step = if (i < 100) 10.0 else 2.0
      peak + step
    }
    val bg = Analysis.shirley(x, y, tol = 1e-8, maxIter = 50)
    assert(bg.length == n)
    // background between the terminal points is monotonically decreasing
    val inner = bg.slice(60, 140)
    assert(inner.zip(inner.tail).forall { case (a, b) => a >= b - 1e-9 })
    // and bounded by the terminal plateau levels
    assert(bg.max <= y.max && bg.min >= 0.0)
  }

  test("peakDetect1d finds the planted peaks") {
    val n = 1000
    val y = Array.tabulate(n) { i =>
      math.exp(-math.pow((i - 250) / 20.0, 2)) +
        0.8 * math.exp(-math.pow((i - 700) / 25.0, 2))
    }
    val (maxima, _) = Analysis.peakDetect1d(y, lookahead = 50, delta = 0.1)
    val pos = maxima.map(_.pos)
    assert(pos.exists(p => math.abs(p - 250) <= 2))
    assert(pos.exists(p => math.abs(p - 700) <= 2))
    assert(maxima.length == 2)
  }

  test("savitzkyGolay preserves polynomials of the fit order") {
    // SG of polyOrder 2 reproduces a quadratic exactly (incl. edges)
    val y = Array.tabulate(101)(i => 0.3 * i * i - 2.0 * i + 7.0)
    val s = Analysis.savitzkyGolay(y, window = 11, polyOrder = 2)
    y.zip(s).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6) }
  }

  test("savitzkyGolay smooths noise") {
    val rnd = new scala.util.Random(7)
    val clean = Array.tabulate(500)(i => math.sin(i / 30.0))
    val noisy = clean.map(_ + 0.2 * rnd.nextGaussian())
    val s = Analysis.savitzkyGolay(noisy, window = 31, polyOrder = 3)
    def rmse(a: Array[Double]) = math.sqrt(a.zip(clean).map { case (u, v) => (u - v) * (u - v) }.sum / a.length)
    assert(rmse(s) < rmse(noisy) / 2)
  }

  test("calibrateE recovers known polynomial coefficients") {
    // E_i = a3 t^3 + a2 t^2 + a1 t + E0, biases = E differences
    val a = Array(2.0e-6, -3.0e-4, 0.05) // highest first
    val e0 = 5.0
    val pos = Array(90.0, 110.0, 130.0, 150.0, 170.0)
    val vals = pos.map(t => a(0) * t * t * t + a(1) * t * t + a(2) * t + e0)
    val got = Calibrate.calibrateE(pos, vals, order = 3, refId = 0)
    a.zip(got).foreach { case (exp, g) => assert(math.abs(exp - g) / math.abs(exp) < 1e-6) }
    // and the fitted polynomial reproduces the landmark energies
    pos.zip(vals).foreach { case (t, v) =>
      assert(math.abs(Calibrate.energyOf(got, e0, t) - v) < 1e-9)
    }
  }

  test("fitEnergyCalibration recovers (d, t0, E0)") {
    val (d, t0, e0) = (1.2, 3.0e-7, 15.0)
    val c = 2.84281e-12
    val scale = 4.125e-12 * 2
    val t = Array(66000.0, 68000.0, 70000.0, 72000.0, 74000.0, 76000.0)
    val e = t.map { ti => val u = d / (ti * scale - t0); c * u * u + e0 }
    val (dg, t0g, e0g) = Calibrate.fitEnergyCalibration(t, e)
    assert(math.abs(dg - d) / d < 1e-6)
    assert(math.abs(e0g - e0) / e0 < 1e-6)
    assert(math.abs(t0g - t0) / t0 < 1e-3)
  }

  test("BinnedGrid: collect/slice/rebin/profile/save/load round-trip") {
    val axes = Seq(BinAxis("user", 40, 0.0, 200.0), BinAxis("value", 100, 0.0, 500.0))
    val grid = Binning.histogramGrid(Tables.events(spark, sfDir),
      Seq(col("user_id").cast("double") -> axes(0), col("value") -> axes(1)))
    assert(grid.totalCount == Tables.events(spark, sfDir)
      .filter(col("user_id") >= 0 && col("user_id") < 200 && col("value") >= 0 && col("value") < 500).count())

    val sliced = grid.slice(Seq((0, 20), (10, 60)))
    assert(sliced.shape == Seq(20, 50))
    assert(sliced.axes(1).lo == 50.0 && sliced.axes(1).hi == 300.0)

    val rb = grid.rebin(Seq(2, 4))
    assert(rb.shape == Seq(20, 25))
    assert(rb.totalCount == grid.totalCount)

    val prof = grid.profile(1)
    assert(prof.sum == grid.totalCount)

    val tmp = java.nio.file.Files.createTempDirectory("graft_grid").toString
    BinnedGrid.save(grid, spark, tmp,
      metadata = Map("run" -> "demo \"42\"", "binaxes" -> "user,value"))
    val loaded = BinnedGrid.load(spark, tmp)
    assert(loaded.axes == grid.axes)
    assert(loaded.data.toSeq == grid.data.toSeq)
    val meta = BinnedGrid.loadMetadata(tmp)
    assert(meta("run") == "demo \"42\"" && meta("binaxes") == "user,value")
    // axis sidecar carries units from the registry
    val axesJson = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$tmp/axes.json"))
    assert(axesJson.contains("\"unit\":\"a.u.\"") || axesJson.contains("\"unit\":\"id\""))
  }

  test("normSpec scales to unit max; findNearest") {
    val out = Analysis.normSpec(Array(Array(1.0, 4.0, 2.0), Array(0.5, 0.25, 0.1)))
    assert(out(0).max == 1.0 && out(1).max == 1.0)
    assert(Analysis.findNearest(3.2, Array(1.0, 3.0, 5.0)) == 1)
  }
}

class EnergyCalibratorSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.analysis.{Analysis, EnergyCalibrator}

  test("full calibration workflow recovers a known ToF-energy relationship") {
    // physical model: E(t) = a2 t^2 + a1 t + E0; each trace k is a peak
    // whose position t_k satisfies E(t_k) = bias_k
    val (a2, a1) = (2.0e-4, -0.12)
    def eOf(t: Double) = a2 * t * t + a1 * t
    val positions = Array.tabulate(600)(i => 400.0 + i) // ToF axis
    val biases = Array(-6.0, -7.0, -8.0, -9.0, -10.0)
    // invert E(t)=b on the axis to place the true peak per bias
    val truePeaks = biases.map(b => positions.minBy(t => math.abs(eOf(t) - b)))
    val traces = truePeaks.map { tp =>
      positions.map(t => 100.0 * math.exp(-(t - tp) * (t - tp) / 200.0) + 5.0)
    }
    val refLo = positions.indexWhere(_ >= truePeaks(0) - 30)
    val refHi = positions.indexWhere(_ >= truePeaks(0) + 30)
    val cal = EnergyCalibrator.calibrate(positions, traces, biases, (refLo, refHi), order = 2)
    // peak landmarks found at the true positions
    cal.peakPositions.zip(truePeaks).foreach { case (got, exp) =>
      assert(math.abs(got - exp) <= 2.0, s"peak $got vs $exp")
    }
    // calibration reproduces the bias DIFFERENCES (the T-matrix solves
    // relative energies; E0 fixes the absolute scale)
    val e0 = biases(0) - (cal.energy(cal.peakPositions(0), 0.0))
    biases.indices.foreach { i =>
      val got = cal.energy(cal.peakPositions(i), e0)
      assert(math.abs(got - biases(i)) < 0.05, s"trace $i: $got vs ${biases(i)}")
    }
  }

  test("shirleyPiecewise covers segments + savgol tail; binarySearch reference semantics") {
    val x = Array.tabulate(200)(i => 100.0 - i * 0.5)
    val y = Array.tabulate(200)(i => 10.0 * math.exp(-math.pow((i % 100 - 50) / 6.0, 2)) +
      (if (i % 100 < 50) 3.0 else 1.0))
    val bg = Analysis.shirleyPiecewise(x, y, Seq((0, 100), (100, 200)))
    assert(bg.length == 200)
    assert(bg.slice(0, 100).exists(_ != 0.0) && bg.slice(100, 200).exists(_ != 0.0))
    // uncovered tail → savgol-smoothed raw signal (reference semantics)
    val bgTail = Analysis.shirleyPiecewise(x, y, Seq((0, 100)))
    assert(bgTail.length == 200)
    val smoothedTail = Analysis.savitzkyGolay(y.slice(100, 200), 5, 1)
    bgTail.slice(100, 200).zip(smoothedTail).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9)
    }

    // searchsorted(side='left') - 1 semantics (legacy.py:16-26)
    val arr = Array(1.0, 3.0, 5.0, 7.0)
    assert(Analysis.binarySearch(arr, 0.5) == -1)
    assert(Analysis.binarySearch(arr, 1.0) == -1) // exact match: left - 1
    assert(Analysis.binarySearch(arr, 4.9) == 1)
    assert(Analysis.binarySearch(arr, 7.0) == 2)
    assert(Analysis.binarySearch(arr, 99.0) == 3)
    // descending arrays handled by symmetry
    val desc = Array(7.0, 5.0, 3.0, 1.0)
    assert(Analysis.binarySearch(desc, 4.9) == 1)
    assert(Analysis.binarySearch(desc, 99.0) == -1)
  }
}
