package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.EventPipeline
import graft.binning.{BinAxis, BinnedGrid}
import graft.io.Sources

final case class Ctx(spark: SparkSession, c: Collector, look: Look, work: String,
                     seed: Long, scale: Double, fault: Boolean)

final class Mismatch(msg: String) extends RuntimeException(msg)

/** Operations attempted and failed. A thrown error or a failed check fails
  * the one operation it happened in; the run goes on. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        if (failed <= 5) System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }
  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new Mismatch(what)
}

abstract class Workload(ctx: Ctx) {
  import ctx._
  def name: String
  /** Build the inputs and the expected answers. Idempotent. */
  def prepare(): Unit
  /** One closed-loop pass. Returns the latencies of its requests (s), or
    * nothing when the pass is itself the one request. */
  def pass(t: Tally, traced: Boolean): Seq[Double]
  /** Input events behind one pass. */
  def eventsPerPass: Long
  /** Events that reach a binning aggregate in one pass. */
  def binnedPerPass: Long
  /** On-disk bytes of the input files one pass scans. */
  def inputBytesPerPass: Long
  /** Non-empty cells collected and bytes saved in the last pass. */
  var collectRows = 0L
  var savedBytes = 0L

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Traced passes first run the Spark chain as cumulative prefixes —
    * scan; + transforms; + aggregate — each forced through the noop sink,
    * so each layer's share is the difference of two prefixes. A scan that
    * counts toward no layer runs first, so every timed prefix finds the
    * file listing and the footers equally warm. */
  protected def prefixes(traced: Boolean, scan: => DataFrame, transformed: => DataFrame,
                         aggregated: => DataFrame): Unit = if (traced) {
    c.time("prefix.warm")(noop(scan))
    c.time("io.scan")(noop(scan))
    c.time("transforms")(noop(transformed))
    c.time("binning.agg")(noop(aggregated))
  }

  protected def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()
}

/** e1_bin3d: the reference E1 session end to end. */
final class E1(ctx: Ctx, n: Long) extends Workload(ctx) {
  import ctx._
  val name = "e1_bin3d"
  private val raw = s"$work/e1_raw"
  private val out = s"$work/e1_grid"
  private var expected = -1L
  def eventsPerPass: Long = n
  def binnedPerPass: Long = expected
  def inputBytesPerPass: Long = du(new java.io.File(raw))

  private val (series, biases, plantedPos) = Model.calibSeries(6, 400, seed)

  private def save(g: BinnedGrid, path: String): Unit = {
    c.time("binning.save")(BinnedGrid.save(g, spark, path))
    savedBytes += du(new java.io.File(path))
  }

  def prepare(): Unit = {
    Sources.writeParquet(Model.events(spark, n, seed, Workloads.parts(n)), raw)
    expected = Model.inWindowCount(spark.read.parquet(raw)) + (if (fault) 1 else 0)
  }

  def pass(t: Tally, traced: Boolean): Seq[Double] = {
    collectRows = 0; savedBytes = 0
    t.op(name) {
      val read = EventPipeline.read(spark, raw)
      val p = Model.e1Pipeline(read, seed)
      val axes = Model.E1Axes
      prefixes(traced,
        read.applyFilter("X", Model.FilterX._1, Model.FilterX._2)
          .applyFilter("Y", Model.FilterY._1, Model.FilterY._2).df.select("X", "Y", "t"),
        p.df.select(axes.map(a => col(a.name)): _*),
        p.binnedTable(axes))
      val grid = c.time("binning.bin")(p.distributedBinning(axes))
      collectRows += grid.data.count(_ > 0)
      save(grid, out)
      val back = c.time("binning.load")(BinnedGrid.load(spark, out))
      t.check(grid.totalCount == expected, s"grid total ${grid.totalCount} != in-window count $expected")
      t.check(java.util.Arrays.equals(back.data, grid.data), "reloaded volume differs from the saved one")
      quickLook(back, 128)
      val (kLo, kHi) = (grid.shape(0) / 2 - 10, grid.shape(0) / 2 + 10)
      val (eLo, eHi) = (eBin(grid, -1.45), eBin(grid, -0.3))
      look.fits(back.slice(Seq((kLo, kHi), (49, 51), (eLo, eHi))))
      val (pos, coeffs) = look.calibrate(series, biases)
      checkCalibration(t, pos, coeffs)
    }
    Nil
  }

  /** Sum a 3-D grid over index windows of two axes into a 2-D array. */
  private def sum2d(g: BinnedGrid, keep: (Int, Int), window: (Int, (Int, Int))): Array[Array[Double]] = {
    val (a, b) = keep
    val (w, (from, until)) = window
    val out = Array.ofDim[Double](g.shape(a), g.shape(b))
    val idx = new Array[Int](3)
    for (i <- 0 until g.shape(a); j <- 0 until g.shape(b); k <- from until until) {
      idx(a) = i; idx(b) = j; idx(w) = k
      out(i)(j) += g(idx.toIndexedSeq: _*)
    }
    out
  }

  private def eBin(g: BinnedGrid, e: Double): Int = {
    val ax = g.axes(2)
    math.min(ax.nbins - 1, math.max(0, ((e - ax.lo) / ax.step).toInt))
  }

  private def checkCalibration(t: Tally, pos: Array[Double], coeffs: Array[Double]): Unit = {
    val planted = if (fault) plantedPos.map(_ + 5) else plantedPos
    pos.zip(planted).foreach { case (p, q) =>
      t.check(math.abs(p - q) <= 1.5, f"calibration peak at $p%.1f, planted at $q%.1f")
    }
    // the fitted polynomial reproduces every planted bias step within 0.03
    def e(x: Double) = coeffs.foldLeft(0.0)((acc, a) => acc * x + a) * x
    planted.zip(biases).foreach { case (q, b) =>
      t.check(math.abs((e(q) - e(planted(0))) - b) <= 0.03,
        f"calibrated bias step ${e(q) - e(planted(0))}%.4f, planted $b%.4f")
    }
  }

  /** The quick look at the reloaded volume: the Γ EDC, the spot-energy
    * kx–ky map and the E–kx cut through Γ. */
  private def quickLook(g: BinnedGrid, field: Int): Unit = {
    val (nk, nE) = (g.shape(0), g.shape(2))
    val mid = nk / 2
    val eAxis = g.axes(2).midpoints
    look.edc(eAxis, g.slice(Seq((mid - 2, mid + 2), (mid - 2, mid + 2), (0, nE))).profile(2).map(_.toDouble))
    val iS = eBin(g, Model.SpotE)
    look.map(sum2d(g, (0, 1), (2, (iS - 1, iS + 2))), field)
    look.curvature(sum2d(g, (0, 2), (1, (mid - 1, mid + 1))))
  }
}

/** explore: a seeded sequence of small re-binning requests over a
  * pre-calibrated event table. Each request is read → filter →
  * `distributedBinning` and nothing else, so per-query fixed cost and the
  * scan dominate, not binning or analysis. */
final class Explore(ctx: Ctx, n: Long, nRequests: Int) extends Workload(ctx) {
  import ctx._
  val name = "explore"
  private val cal = s"$work/explore_cal"
  private val requests = Workloads.requests(seed, nRequests)
  private var expected: Array[Long] = Array.empty
  def eventsPerPass: Long = n * nRequests
  def binnedPerPass: Long = expected.sum
  def inputBytesPerPass: Long = du(new java.io.File(cal)) * nRequests

  def prepare(): Unit = {
    val events = EventPipeline(Model.events(spark, n, seed, Workloads.parts(n)))
    Sources.writeParquet(Model.calibrated(events).df.select("kx", "ky", "E"), cal)
    // every request's exact in-range count, in one plain filtered pass
    val df = spark.read.parquet(cal)
    val counts = requests.map { r =>
      val strict = r.filters.map { case (cn, lo, hi) => col(cn) > lo && col(cn) < hi }
      val inAxes = r.axes.map(a => col(a.name) >= a.lo && col(a.name) < a.hi)
      sum(when((strict ++ inAxes).reduce(_ && _), 1L).otherwise(0L))
    }
    val row = df.agg(counts.head, counts.tail: _*).collect()(0)
    expected = Array.tabulate(requests.length)(i => row.getLong(i) + (if (fault) 1 else 0))
  }

  def pass(t: Tally, traced: Boolean): Seq[Double] = {
    collectRows = 0; savedBytes = 0
    requests.zipWithIndex.map { case (r, i) =>
      val t0 = System.nanoTime()
      t.op(s"$name request $i (${r.kind})") {
        val base = r.filters.foldLeft(EventPipeline.read(spark, cal)) {
          case (p, (cn, lo, hi)) => p.applyFilter(cn, lo, hi)
        }
        val cols = (r.filters.map(_._1) ++ r.axes.map(_.name)).distinct.map(col)
        prefixes(traced, base.df.select(cols: _*), base.df.select(cols: _*), base.binnedTable(r.axes))
        val g = c.time("binning.bin")(base.distributedBinning(r.axes))
        collectRows += g.data.count(_ > 0)
        t.check(g.totalCount == expected(i), s"request $i total ${g.totalCount} != ${expected(i)}")
      }
      (System.nanoTime() - t0) / 1e9
    }
  }
}

object Workloads {
  /** One partition per million events, at least four: a property of the
    * input size only, so a seed gives the same files on any machine. */
  def parts(n: Long): Int = math.max(4, math.ceil(n / 1e6).toInt)

  final case class Req(kind: String, filters: Seq[(String, Double, Double)], axes: Seq[BinAxis])

  /** The explore request sequence, in rounds of three: an EDC on E
    * (256 bins) of a kx–ky box, a kx–ky map (128 × 128) of an E slab and
    * an E–kx cut (128 × 200) of a ky slab. Round r puts its windows at the
    * r-th of four fixed places (box centres on a ring round Γ, E slabs
    * across both bands and the spots, ky slabs across the zone); the seed
    * shifts every window and axis range by a few per cent of its size.
    * Grid shapes and the share of events each window selects stay nearly
    * the same, so the work of a pass does not depend on the seed. */
  def requests(seed: Long, n: Int): IndexedSeq[Req] = {
    val rng = new java.util.SplittableRandom(seed * 31 + 7)
    def u(a: Double, b: Double) = a + (b - a) * rng.nextDouble()
    def k(nb: Int, name: String) = BinAxis(name, nb, -1.4 + u(0, 0.1), 1.4 - u(0, 0.1))
    def e(nb: Int) = BinAxis("E", nb, Model.ELo + u(0, 0.2), Model.EHi - u(0, 0.2))
    (0 until n).map { i =>
      val slot = (i / 3) % 4
      (i % 3: @unchecked) match {
        case 0 =>
          val ang = math.Pi / 4 + slot * math.Pi / 2
          val (cx, cy, w) = (0.5 * math.cos(ang) + u(-0.05, 0.05), 0.5 * math.sin(ang) + u(-0.05, 0.05),
            0.2 + u(-0.02, 0.02))
          Req("edc", Seq(("kx", cx - w, cx + w), ("ky", cy - w, cy + w)), Seq(e(256)))
        case 1 =>
          val (en, w) = (-0.8 - 0.45 * slot + u(-0.05, 0.05), 0.06 + u(-0.01, 0.01))
          Req("map", Seq(("E", en - w, en + w)), Seq(k(128, "kx"), k(128, "ky")))
        case 2 =>
          val (cy, w) = (-0.3 + 0.2 * slot + u(-0.03, 0.03), 0.1 + u(-0.01, 0.01))
          Req("cut", Seq(("ky", cy - w, cy + w)), Seq(k(128, "kx"), e(200)))
      }
    }
  }
}
