package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.{Alignment, Analysis2D, Dtw, GridOps}

class Analysis2DSpec extends AnyFunSuite {
  import SparkTestSession._

  private def gauss2d(rows: Int, cols: Int, peaks: Seq[(Double, Double, Double)]): GridOps.Grid =
    Array.tabulate(rows, cols) { (i, j) =>
      peaks.map { case (r, c, a) =>
        a * math.exp(-((i - r) * (i - r) + (j - c) * (j - c)) / 18.0)
      }.sum
    }

  test("peakDetect2d finds planted 2D peaks strongest-first") {
    val g = gauss2d(80, 80, Seq((20.0, 30.0, 5.0), (60.0, 50.0, 3.0)))
    val peaks = Analysis2D.peakDetect2d(g, radius = 3, minHeight = 1.0)
    assert(peaks.length == 2)
    assert(peaks(0).row == 20 && peaks(0).col == 30)
    assert(peaks(1).row == 60 && peaks(1).col == 50)
  }

  test("segment2d separates two blobs into two labels") {
    val g = gauss2d(80, 80, Seq((20.0, 20.0, 5.0), (60.0, 60.0, 5.0)))
    val (labels, n) = Analysis2D.segment2d(g, radius = 8, offset = 0.1)
    assert(n >= 2)
    val l1 = labels(20)(20); val l2 = labels(60)(60)
    assert(l1 != 0 && l2 != 0 && l1 != l2)
  }

  test("ridgeDetect traces a horizontal band") {
    // band along row ~10 across all columns
    val g: GridOps.Grid = Array.tabulate(30, 40)((i, j) =>
      math.exp(-(i - 10.0) * (i - 10.0) / 4.0))
    val mask = Array.tabulate(30, 40)((i, _) => math.abs(i - 10) <= 2)
    val (labels, n) = Analysis2D.labelComponents(mask)
    assert(n == 1)
    val ridges = Analysis2D.ridgeDetect(g, labels)
    assert(ridges.length == 40)
    ridges.foreach(r => assert(math.abs(r.meanRow - 10.0) < 0.01))
  }

  test("bilinear + bandPath sample a linear field exactly") {
    val g: GridOps.Grid = Array.tabulate(50, 50)((i, j) => 2.0 * i + 3.0 * j)
    assert(math.abs(Analysis2D.bilinear(g, 10.5, 20.25) - (2 * 10.5 + 3 * 20.25)) < 1e-12)
    val path = Analysis2D.bandPath(g, Seq((0.0, 0.0), (10.0, 10.0), (10.0, 30.0)), 10)
    assert(path.length == 21)
    assert(math.abs(path(0) - 0.0) < 1e-12)
    assert(math.abs(path(10) - (2 * 10 + 3 * 10)) < 1e-12)
    assert(math.abs(path.last - (2 * 10 + 3 * 30)) < 1e-12)
  }

  test("DTW of a shifted trace has near-diagonal path and identical-trace distance 0") {
    val a = Array.tabulate(100)(i => math.sin(i / 8.0))
    val (d0, p0) = Dtw.dtw(a, a)
    assert(d0 == 0.0)
    assert(p0.forall { case (i, j) => i == j })
    val b = Array.tabulate(100)(i => math.sin((i - 5) / 8.0))
    val (_, path) = Dtw.dtw(a, b)
    // the warp should map index i in a to roughly i+5 in b (mid-trace)
    val mid = path.filter { case (i, _) => i > 20 && i < 80 }
    val meanOff = mid.map { case (i, j) => j - i }.sum.toDouble / mid.length
    assert(math.abs(meanOff - 5.0) < 2.0)
    val conv = Dtw.rangeConvert(path, Seq(30, 50))
    assert(math.abs(conv(0) - 35) <= 3 && math.abs(conv(1) - 55) <= 3)
  }

  test("DTW distance equals a plain recursive DTW on short random traces") {
    def naive(a: Array[Double], b: Array[Double]): Double = {
      val memo = scala.collection.mutable.Map.empty[(Int, Int), Double]
      // cost of aligning a(0..i) with b(0..j)
      def d(i: Int, j: Int): Double =
        if (i < 0 || j < 0) Double.PositiveInfinity
        else memo.getOrElseUpdate((i, j), {
          val here = math.abs(a(i) - b(j))
          if (i == 0 && j == 0) here else here + Seq(d(i - 1, j), d(i, j - 1), d(i - 1, j - 1)).min
        })
      d(a.length - 1, b.length - 1)
    }
    val rng = new java.util.Random(5)
    for (_ <- 1 to 20) {
      val a = Array.fill(1 + rng.nextInt(12))(rng.nextGaussian())
      val b = Array.fill(1 + rng.nextInt(12))(rng.nextGaussian())
      assert(Dtw.dtw(a, b)._1 == naive(a, b), s"${a.toSeq} vs ${b.toSeq}")
    }
  }

  test("volume alignment recovers per-pixel shifts distributively") {
    import spark.implicits._
    val ref = Array.tabulate(120)(i => math.exp(-(i - 60.0) * (i - 60.0) / 50.0))
    // pixel (x, y) trace samples ref at i+x, so aligning it back needs shift -x
    val traces = (0 until 4).flatMap(x => (0 until 3).map(y =>
      Alignment.PixelTrace(x, y, Alignment.applyShiftScale(ref, x.toDouble, 1.0))))
    val res = Alignment.alignVolume(traces.toDS().repartition(3), ref,
      shifts = (-5 to 5).map(_.toDouble), scales = Seq(1.0))
      .collect().map(r => (r.x, r.y) -> r.shift).toMap
    for (x <- 0 until 4; y <- 0 until 3)
      assert(res((x, y)) == -x.toDouble, s"pixel ($x,$y)")
  }
}
