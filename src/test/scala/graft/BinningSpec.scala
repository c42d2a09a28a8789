package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.binning.{BinAxis, Binning, NdHistogramSql}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

class BinningSpec extends AnyFunSuite {
  import SparkTestSession._

  private val ax = BinAxis("v", 10, 0.0, 100.0)

  test("bin-edge ownership: floor semantics, left-closed right-open, range guard") {
    import spark.implicits._
    // reference numba kernels (fprocessing.py:3538-3541): pure floor,
    // out-of-range dropped; 100.0 (== hi) must be dropped, 0.0 lands in bin 0
    val df = Seq(-0.001, 0.0, 9.999999, 10.0, 99.999, 100.0, 150.0).toDF("v")
    val got = Binning.histogramNd(df, Seq(col("v") -> ax))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 1L, 9L -> 1L)) // -0.001, 100.0, 150.0 dropped
  }

  test("hi-epsilon rounding edge stays in the last bin (clamp parity)") {
    import spark.implicits._
    // axis where width is not a power of two: (x-lo)*nbins/width can
    // round up to exactly nbins for x = hi - ulp
    val ax2 = BinAxis("v", 7, 0.1, 0.8)
    val edge = math.nextDown(0.8)
    val df = Seq(edge, 0.1, 0.45).toDF("v")
    val got = Binning.histogramNd(df, Seq(col("v") -> ax2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keys.forall(b => b >= 0 && b < 7), s"bin out of range: $got")
    assert(got.values.sum == 3)
    // nd_histogram agrees bin-for-bin on the same edge data
    val dense = NdHistogramSql.cells(df, Seq(col("v") -> ax2)).map { case (b, c) => b.head -> c }
    assert(dense == got)
  }

  test("sum of counts == number of in-range rows") {
    val ev = Tables.events(spark, sfDir)
    val h = Binning.histogramNd(ev, Seq(col("value") -> BinAxis("value", 100, 0.0, 500.0)))
    val total = h.agg(sum("cnt")).collect()(0).getLong(0)
    val inRange = ev.filter(col("value") >= 0.0 && col("value") < 500.0).count()
    assert(total == inRange)
  }

  test("histogram invariant under repartitioning") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i % 97) * 1.03).toDF("v")
    def run(parts: Int) =
      Binning.histogramNd(df.repartition(parts), Seq(col("v") -> ax))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == run(2) && run(2) == run(8))
  }

  test("dense TypedImperativeAggregate path == relational groupBy path") {
    val ev = Tables.events(spark, sfDir)
    val axes = Seq(
      col("user_id").cast("double") -> BinAxis("user", 40, 0.0, 200.0),
      col("value") -> BinAxis("value", 100, 0.0, 500.0))
    val rel = Binning.histogramNd(ev, axes).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // nd_histogram through SQL
    val dense = NdHistogramSql.cells(ev, axes).map { case (b, c) => (b(0), b(1)) -> c }
    assert(dense == rel)
  }

  test("sharded dense path == relational path (distributed final merge)") {
    // the tiled driver-grid path: 40 x 1000 = 40000 cells, three tiles
    val ev = Tables.events(spark, sfDir)
    val axes = Seq(
      col("user_id").cast("double") -> BinAxis("user", 40, 0.0, 200.0),
      col("value") -> BinAxis("value", 1000, 0.0, 500.0))
    val rel = Binning.histogramNd(ev, axes).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val resultTasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        resultTasks.set(e.stageInfos.maxBy(_.stageId).numTasks)
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val grid = try {
      val g = Binning.histogramGrid(ev, axes)
      org.apache.spark.ListenerBusDrain(sc)
      g
    } finally sc.removeSparkListener(listener)
    val shard = NdHistogramSql.cells(grid.data, grid.shape).map { case (b, c) => (b(0), b(1)) -> c }
    assert(shard == rel)
    // the final merge is keyed by tile: tiles merge over more than one reducer
    assert(resultTasks.get > 1, s"${resultTasks.get} reduce tasks")
  }

  test("4D: relational == dense == sharded dense on the headline 4-axis grid") {
    // dense: nd_histogram; sharded: the tiled histogramGrid
    // the reference's actual headline case (kx, ky, E, delay scans;
    // dedicated 4D kernels fprocessing.py:3594-3609), stood in by the
    // user x hour x value x minute axes of hist_4d
    val ev = Tables.events(spark, sfDir)
    val axes = graft.ops.EventQueries.cols4d(ev).zip(graft.ops.EventQueries.axes4d)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) -> r.getLong(4)).toMap
    val rel = toMap(Binning.histogramNd(ev, axes))
    val dense = NdHistogramSql.cells(ev, axes).map { case (b, c) => (b(0), b(1), b(2), b(3)) -> c }
    val g = Binning.histogramGrid(ev, axes)
    val shard = NdHistogramSql.cells(g.data, g.shape).map { case (b, c) => (b(0), b(1), b(2), b(3)) -> c }
    assert(rel.nonEmpty && rel.values.sum > 0)
    assert(dense == rel, "nd_histogram 4D grid diverges from relational")
    assert(shard == rel, "histogramGrid 4D grid diverges from relational")
    // and the query surface runs the same grid
    val viaQuery = toMap(SparkEntry.queries("hist_4d")(spark, sfDir))
    assert(viaQuery == rel)
  }

  test("4D grid: V0..Vn sliced export matches rollaxis semantics, round-trips") {
    import graft.binning.BinnedGrid
    val ev = Tables.events(spark, sfDir)
    val axes = graft.ops.EventQueries.cols4d(ev).zip(graft.ops.EventQueries.axes4d)
    val grid = Binning.histogramGrid(ev, axes)
    assert(grid.totalCount > 0)
    // slice along the trailing (delay-analogue) axis, the reference's
    // default cutaxis=3 (saveDict, fprocessing.py:931-955)
    val slices = grid.sliceAlong(3)
    assert(slices.length == grid.shape(3))
    // rollaxis semantics: slice i's cell (a,b,c) == grid(a,b,c,i);
    // probe every non-empty cell through a random-ish stride
    for (i <- slices.indices; a <- 0 until grid.shape(0) by 7;
         b <- 0 until grid.shape(1) by 5; c <- 0 until grid.shape(2) by 11) {
      assert(slices(i)(a, b, c) == grid(a, b, c, i), s"($a,$b,$c,$i)")
    }
    // counts conserved across the cut
    assert(slices.map(_.totalCount).sum == grid.totalCount)
    // full save/load round-trip of the V0..Vn layout
    val dir = java.nio.file.Files.createTempDirectory("sliced4d").toString
    BinnedGrid.saveSliced(grid, spark, dir, cutAxis = 3)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/binned/V0")))
    val back = BinnedGrid.loadSliced(spark, dir)
    assert(back.axes == grid.axes)
    assert(back.data.sameElements(grid.data))
  }

  test("dense path refuses oversized grids with a clear message") {
    // 65536 x 65536 would wrap Int nbins.product without the guard;
    // nd_histogram via GraftExtensions is the dense path's one surface
    GraftExtensions.register(spark)
    val e2 = intercept[Exception] {
      spark.sql("SELECT nd_histogram(v, v, 65536, 0.0, 1.0, 65536, 0.0, 1.0) FROM VALUES (1.0) t(v)").collect()
    }
    assert(e2.getMessage.contains("dense-grid limit"))
    assert(e2.getMessage.contains("Binning.histogramNd"))
  }

  test("dense path invariant under repartitioning (merge correctness)") {
    val ev = Tables.events(spark, sfDir)
    val axes = Seq(col("value") -> BinAxis("value", 100, 0.0, 500.0))
    def run(parts: Int) = NdHistogramSql.cells(ev.repartition(parts), axes)
    assert(run(1) == run(3) && run(3) == run(8))
  }

  test("rebin conserves counts") {
    val ev = Tables.events(spark, sfDir)
    val fine = Binning.histogramNd(ev, Seq(col("value") -> BinAxis("value", 200, 0.0, 500.0)))
    val coarse = Binning.rebin(fine, Seq("bin_value"), Seq(2))
    val a = fine.agg(sum("cnt")).collect()(0).getLong(0)
    val b = coarse.agg(sum("cnt")).collect()(0).getLong(0)
    assert(a == b)
    assert(coarse.count() <= 100)
  }

  test("axis midpoints and edges") {
    val a = BinAxis("x", 4, 0.0, 8.0)
    assert(a.midpoints.toSeq == Seq(1.0, 3.0, 5.0, 7.0))
    assert(a.edges.toSeq == Seq(0.0, 2.0, 4.0, 6.0, 8.0))
  }

  test("jitter-off determinism: two runs identical") {
    val ev = Tables.events(spark, sfDir)
    val axes = Seq(col("value") -> BinAxis("value", 100, 0.0, 500.0))
    val a = Binning.histogramNd(ev, axes).collect().toSeq.sortBy(_.getLong(0))
    val b = Binning.histogramNd(ev, axes).collect().toSeq.sortBy(_.getLong(0))
    assert(a == b)
  }
}
