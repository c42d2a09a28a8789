package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.warp.Warp
import graft.fit.Fit

class WarpFitSpec extends AnyFunSuite {
  import SparkTestSession._

  test("TPS interpolates control points exactly") {
    val src = Array((0.0, 0.0), (10.0, 0.0), (0.0, 10.0), (10.0, 10.0), (5.0, 5.0))
    val dst = Array((1.0, -0.5), (10.5, 0.2), (0.3, 11.0), (9.8, 10.1), (5.5, 5.2))
    val tps = Warp.tpsFit(src, dst)
    src.zip(dst).foreach { case (s, d) =>
      val (x, y) = tps(s._1, s._2)
      assert(math.abs(x - d._1) < 1e-8 && math.abs(y - d._2) < 1e-8)
    }
  }

  test("TPS of an affine point set is affine everywhere") {
    // if dst = A·src exactly, the TPS must reproduce the affine map
    val src = Array((0.0, 0.0), (10.0, 0.0), (0.0, 10.0), (7.0, 3.0))
    def aff(p: (Double, Double)) = (2.0 * p._1 + 0.5 * p._2 + 1.0, -0.3 * p._1 + 1.5 * p._2 - 2.0)
    val tps = Warp.tpsFit(src, src.map(aff))
    val probe = (3.3, 6.7)
    val (x, y) = tps(probe._1, probe._2)
    val (ex, ey) = aff(probe)
    assert(math.abs(x - ex) < 1e-6 && math.abs(y - ey) < 1e-6)
  }

  test("findHomography recovers a known homography") {
    val h = Array(Array(0.9, 0.1, 5.0), Array(-0.05, 1.1, -3.0), Array(1e-4, -2e-4, 1.0))
    val src = Array((0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0), (37.0, 62.0))
    val dst = src.map { case (x, y) => Warp.applyH(h, x, y) }
    val got = Warp.findHomography(src, dst)
    for (i <- 0 until 3; j <- 0 until 3)
      assert(math.abs(got(i)(j) - h(i)(j)) < 1e-6, s"h($i)($j)")
  }

  test("parametric transforms compose correctly") {
    val r = Warp.rotation(math.Pi / 2, cx = 1.0, cy = 1.0)
    val (x, y) = Warp.applyH(r, 2.0, 1.0) // rotate (2,1) 90° about (1,1) → (1,2)
    assert(math.abs(x - 1.0) < 1e-12 && math.abs(y - 2.0) < 1e-12)
    val s = Warp.scaling(2.0, 3.0)
    assert(Warp.applyH(s, 1.0, 1.0) == (2.0, 3.0))
    val sh = Warp.shearing(0.5, 0.0)
    assert(Warp.applyH(sh, 2.0, 4.0) == (4.0, 4.0))
  }

  test("deformation field round-trips the warp at grid points") {
    val f = Warp.deformationField(64, (x, y) => (x + 1.5, y - 0.5))
    assert(f(0)(10)(20) == 11.5f && f(1)(10)(20) == 19.5f)
  }

  test("fitGaussian recovers parameters from a clean trace") {
    val xs = Array.tabulate(101)(i => i.toDouble)
    val ys = xs.map(x => Fit.gaussian(7.5, 42.0, 6.0, x))
    val (a, c, s, sse, _) = Fit.fitGaussian(xs, ys)
    assert(math.abs(a - 7.5) < 1e-6)
    assert(math.abs(c - 42.0) < 1e-6)
    assert(math.abs(s - 6.0) < 1e-6)
    assert(sse < 1e-10)
  }

  test("fitGaussian tolerates noise") {
    val rnd = new scala.util.Random(3)
    val xs = Array.tabulate(200)(i => i.toDouble)
    val ys = xs.map(x => Fit.gaussian(10.0, 120.0, 15.0, x) + 0.2 * rnd.nextGaussian())
    val (a, c, s, _, _) = Fit.fitGaussian(xs, ys)
    assert(math.abs(a - 10.0) < 0.5)
    assert(math.abs(c - 120.0) < 1.0)
    assert(math.abs(s - 15.0) < 1.0)
  }

  test("fitTraces distributes across a Dataset of traces") {
    import spark.implicits._
    val traces = Seq(
      Fit.Trace("a", Array.tabulate(80)(_.toDouble),
        Array.tabulate(80)(i => Fit.gaussian(5.0, 30.0, 4.0, i))),
      Fit.Trace("b", Array.tabulate(80)(_.toDouble),
        Array.tabulate(80)(i => Fit.gaussian(2.0, 55.0, 7.0, i)))
    ).toDS().repartition(2)
    val fits = Fit.fitTraces(traces).collect().map(f => f.key -> f).toMap
    assert(math.abs(fits("a").center - 30.0) < 1e-6)
    assert(math.abs(fits("b").center - 55.0) < 1e-6)
  }

  test("tracesFromHistogram + fitTraces recover planted Gaussians binned by histogramNd") {
    // the fit_traces_gauss chain: events → per-key 1-D histogram →
    // one trace per key → one Gaussian fit per trace. Centres and
    // sigmas are planted in value units; the value axis has unit-width
    // bins from 0, so bin i holds [i, i+1) and a fit over bin indices
    // sees the centre at c - 0.5 and the sigma at s (plus the bin
    // width's sqrt(1/12) smear)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.binning.{BinAxis, Binning}
    val planted = Seq((0, 20.3, 2.0), (1, 41.7, 3.5), (2, 12.0, 1.2), (3, 55.5, 5.0))
    val rnd = new scala.util.Random(20261019L)
    val events = planted.flatMap { case (k, c, s) =>
      Seq.fill(20000)((k, c + s * rnd.nextGaussian()))
    }.toDF("key", "value")
    val hist = Binning.histogramNd(events, Seq(
      col("key") -> BinAxis("key", 4, 0.0, 4.0),
      col("value") -> BinAxis("value", 80, 0.0, 80.0)))
    val traces = Fit.tracesFromHistogram(spark, hist, "bin_key", "bin_value", "cnt")
    val xs = traces.collect().map(t => t.key -> t.xs.toSeq).toMap
    assert(xs.keySet == planted.map(_._1.toString).toSet)
    xs.foreach { case (k, x) => assert(x == x.sorted && x.distinct == x, s"trace $k: xs not sorted by bin") }
    val fits = Fit.fitTraces(traces).collect().map(f => f.key -> f).toMap
    planted.foreach { case (k, c, s) =>
      val f = fits(k.toString)
      assert(math.abs(f.center - (c - 0.5)) < 1.0, s"key $k: centre ${f.center} vs ${c - 0.5}")
      assert(math.abs(math.abs(f.sigma) - s) < 1.0, s"key $k: sigma ${f.sigma} vs $s")
    }
  }

  test("Faddeeva wofz matches published values to 1e-6 (and well beyond)") {
    import graft.fit.Faddeeva.wofz
    // w(0) = 1 exactly
    val (r0, i0) = wofz(0.0, 0.0)
    assert(math.abs(r0 - 1.0) < 1e-12 && math.abs(i0) < 1e-12)
    // pure imaginary: w(iy) = erfcx(y) = e^(y²)·erfc(y), real — built
    // from the same published erf values pinned in DetectFilterSpec
    val erfcx05 = (1.0 - 0.5204998778130465) * math.exp(0.25)
    val erfcx1 = (1.0 - 0.8427007929497149) * math.exp(1.0)
    val erfcx2 = (1.0 - 0.9953222650189527) * math.exp(4.0)
    for ((y, want) <- Seq(0.5 -> erfcx05, 1.0 -> erfcx1, 2.0 -> erfcx2)) {
      val (re, im) = wofz(0.0, y)
      assert(math.abs(re - want) < 1e-6 * want, s"w(${y}i): $re vs $want")
      assert(math.abs(im) < 1e-10)
    }
    // real axis: Re w(x) = e^(−x²) exactly
    for (x <- Seq(0.7, 1.3, 2.4)) {
      val (re, _) = wofz(x, 0.0)
      val want = math.exp(-x * x)
      assert(math.abs(re - want) < 1e-6 * want, s"Re w($x): $re vs $want")
    }
    // libcerf's published complex fixture: w(1+1i)
    val (re11, im11) = wofz(1.0, 1.0)
    assert(math.abs(re11 - 0.3047442052569126) < 1e-6)
    assert(math.abs(im11 - 0.2082189382028316) < 1e-6)
    // symmetry w(−x+iy) = conj(w(x+iy))
    val (ra, ia) = wofz(1.7, 0.4); val (rb, ib) = wofz(-1.7, 0.4)
    assert(math.abs(ra - rb) < 1e-12 && math.abs(ia + ib) < 1e-12)
  }

  test("true Voigt: gaussian limit at γ=0, lorentzian limit at σ→0") {
    // γ=0: exactly the area-normalized gaussian
    for (x <- Seq(-2.0, 0.0, 0.9, 3.1)) {
      val got = Fit.voigt(2.5, 0.4, 1.2, 0.0, x)
      val want = 2.5 * math.exp(-(x - 0.4) * (x - 0.4) / (2 * 1.2 * 1.2)) /
        (1.2 * math.sqrt(2 * math.Pi))
      assert(math.abs(got - want) < 1e-9 * math.max(want, 1e-6), s"x=$x")
    }
    // σ→0: approaches the lorentzian γ/(π((x−ctr)²+γ²))
    for (x <- Seq(0.0, 0.5, 2.0)) {
      val got = Fit.voigt(1.0, 0.0, 1e-4, 0.8, x)
      val want = 0.8 / (math.Pi * (x * x + 0.64))
      assert(math.abs(got - want) < 1e-4 * want, s"x=$x: $got vs $want")
    }
  }

  test("fitVoigt recovers parameters from a clean trace; fitTracesVoigt distributes") {
    import SparkTestSession._
    val xs = (-60 to 60).map(_ * 0.1).toArray
    val ys = xs.map(x => Fit.voigt(5.0, 0.7, 0.9, 0.5, x))
    val (a, c, s, g, sse, _) = Fit.fitVoigt(xs, ys)
    assert(math.abs(a - 5.0) < 0.05, s"amp $a")
    assert(math.abs(c - 0.7) < 0.01, s"ctr $c")
    assert(math.abs(s - 0.9) < 0.02, s"sigma $s")
    assert(math.abs(g - 0.5) < 0.02, s"gamma $g")
    assert(sse < 1e-6)
    // distributed form returns the same fit per trace
    import spark.implicits._
    val traces = Seq(
      Fit.Trace("t0", xs, ys),
      Fit.Trace("t1", xs, xs.map(x => Fit.voigt(3.0, -1.1, 0.6, 0.9, x)))).toDS()
    val fits = Fit.fitTracesVoigt(traces).collect().map(f => f.key -> f).toMap
    assert(math.abs(fits("t0").center - 0.7) < 0.01)
    assert(math.abs(fits("t1").center - (-1.1)) < 0.01)
    assert(math.abs(fits("t1").gamma - 0.9) < 0.05)
  }

  test("multimodal stub features match direct byte computation") {
    val df = graft.multimodal.Multimodal.extractFeatures(
      graft.multimodal.Multimodal.payloads(spark, sfDir))
    val rows = df.collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(20).foreach { r =>
      val bytes = docs(r.getAs[Long]("doc_id")).getBytes("UTF-8")
      assert(r.getAs[Int]("n_bytes") == bytes.length)
      assert(r.getAs[Int]("head_byte") == (bytes(0) & 0xff))
      assert(r.getAs[Long]("byte_sum_mod") == bytes.map(_ & 0xff).map(_.toLong).sum % 997L)
    }
  }
}

class Fit2Spec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.fit.Fit
  import graft.analysis.Analysis

  test("bootstrapFit propagates parameters across a drifting sequence") {
    val xs = Array.tabulate(100)(_.toDouble)
    val traces = (0 until 5).map { k =>
      Fit.Trace(s"t$k", xs, xs.map(x => Fit.gaussian(4.0, 30.0 + k, 5.0, x)))
    }
    val fits = Fit.bootstrapFit(traces)
    fits.zipWithIndex.foreach { case (f, k) =>
      assert(math.abs(f.center - (30.0 + k)) < 1e-4, s"trace $k")
    }
    val dyn = Fit.buildDynamicMatrix(fits)
    assert(dyn.length == 3 * 5)
    val centerDeltas = dyn.filter(_._1 == "center").map(_._4)
    centerDeltas.zipWithIndex.foreach { case (d, k) => assert(math.abs(d - k) < 1e-3) }
  }

  test("shirley2d applies row-wise; vertexGenerator; symmetryAverage") {
    val x = Array.tabulate(100)(i => 50.0 - i * 0.5)
    val y = Array.tabulate(100)(i => 20.0 * math.exp(-math.pow((i - 50) / 6.0, 2)) +
      (if (i < 50) 5.0 else 1.0))
    val bgs = Analysis.shirley2d(x, Array(y, y))
    assert(bgs.length == 2 && bgs(0).toSeq == bgs(1).toSeq)

    val v = Analysis.vertexGenerator((0.0, 0.0), 2.0, 6)
    assert(v.length == 6)
    assert(math.abs(v(0)._1 - 2.0) < 1e-12)
    v.foreach { case (a, b) => assert(math.abs(math.hypot(a, b) - 2.0) < 1e-12) }

    // a radially symmetric field is invariant under symmetry averaging
    val g = Array.tabulate(41, 41)((i, j) =>
      math.exp(-((i - 20.0) * (i - 20.0) + (j - 20.0) * (j - 20.0)) / 60.0))
    val avg = Analysis.symmetryAverage(g, 20.0, 20.0, 4)
    for (i <- 10 until 30; j <- 10 until 30)
      assert(math.abs(avg(i)(j) - g(i)(j)) < 1e-6, s"($i,$j)")
  }
}
