package graft.binning

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.commons.io.FileUtils

import org.apache.spark.{ListenerBusDrain, SparkConf}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.serializer.{JavaSerializer, KryoSerializer}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession._
import graft.{EventPipeline, Tables}
import graft.io.Sources
import graft.ops.EventQueries

/** The three binning entry points — [[Binning.histogramGrid]] (the
  * engine behind `EventPipeline.distributedBinning`),
  * [[Binning.histogramNd]]'s rows and the `nd_histogram` SQL function —
  * against a plain-Scala reference binner on the edge inputs real
  * detector data brings, from in-memory rows and from parquet written by
  * the engine's event sink (which [[Binning.histogramGrid]] counts from
  * column batches, [[BatchBinner]]); plus the choice between batches and
  * rows, on plain and snappy pages, [[BinAxis]]'s and
  * [[BinnedGrid]]'s checks, [[TileCounter]]'s and [[TileTally]]'s merge
  * and serialization, and the guard that keeps the tiled kernel the only
  * counting kernel. */
class GridBinningSpec extends AnyFunSuite {

  /** Reference binner, independent of Catalyst: coordinate d of a row is
    * axis d's value (null, Float or Double); an event counts when every
    * coordinate is in `[lo, hi)`, at `min(floor((x - lo) · nbins / width),
    * nbins - 1)` per axis, row-major. */
  private def reference(rows: Seq[Row], axes: Seq[BinAxis]): Array[Long] = {
    val data = new Array[Long](axes.map(_.nbins).product)
    rows.foreach { r =>
      val xs = axes.indices.map { d =>
        if (r.isNullAt(d)) Double.NaN
        else r.get(d) match {
          case f: Float => f.toDouble
          case v: Double => v
        }
      }
      if (axes.zip(xs).forall { case (a, x) => x >= a.lo && x < a.hi }) {
        val flat = axes.zip(xs).foldLeft(0L) { case (acc, (a, x)) =>
          acc * a.nbins + math.min(math.floor((x - a.lo) * a.nbins / a.width).toLong, a.nbins - 1L)
        }
        data(flat.toInt) += 1
      }
    }
    data
  }

  private def frame(rows: Seq[Row], axes: Seq[BinAxis], t: DataType = DoubleType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(axes.map(a => StructField(a.name, t, nullable = true))))

  private def grid(df: DataFrame, axes: Seq[BinAxis]): BinnedGrid =
    Binning.histogramGrid(df, axes.map(a => col(a.name) -> a))

  /** The ids of the merged tiles [[Binning.foreachTile]] hands to the
    * driver, in arrival order. */
  private def mergedTiles(df: DataFrame, axes: Seq[BinAxis]): Seq[Int] = {
    val tiles = Seq.newBuilder[Int]
    Binning.foreachTile(df, axes.map(a => col(a.name) -> a))((t, _) => tiles += t)
    tiles.result()
  }

  /** Sums of the task result sizes and shuffle write bytes of the tasks
    * that end while `body` runs. */
  private def taskBytes[T](body: => T): (T, Long, Long) = {
    val results = new AtomicLong
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
        results.addAndGet(e.taskMetrics.resultSize)
        shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, results.get, shuffled.get)
    } finally sc.removeSparkListener(listener)
  }

  /** [[Binning.histogramNd]]'s rows spread into a flat row-major grid. */
  private def relationalGrid(df: DataFrame, axes: Seq[(Column, BinAxis)]): Array[Long] = {
    val str = BinnedGrid.strides(axes.map(_._2.nbins))
    val out = new Array[Long](axes.map(_._2.nbins).product)
    Binning.histogramNd(df, axes).collect().foreach { r =>
      out(axes.indices.map(d => r.getLong(d) * str(d)).sum.toInt) = r.getLong(axes.length)
    }
    out
  }

  /** Whether [[Binning.foreachTile]] counts `df` over `axes` from column
    * batches. */
  private def columnar(df: DataFrame, axes: Seq[BinAxis]): Boolean = {
    val cols = axes.map(a => col(a.name) -> a)
    BatchBinner.of(Binning.keyQuery(df, cols).executedPlan, axes).isDefined
  }

  /** `body` over `df` written to parquet and read back through
    * [[EventPipeline.read]], the files removed after. The engine's event
    * sink writes plain pages; `snappy` writes with Spark's default codec
    * instead, as files a user brings may be. */
  private def viaParquet[T](df: DataFrame, snappy: Boolean = false)(body: DataFrame => T): T = {
    val dir = Files.createTempDirectory("grid_binning").resolve("events").toString
    try {
      if (snappy) df.write.parquet(dir) else Sources.writeParquet(df, dir)
      body(EventPipeline.read(spark, dir).df)
    } finally FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
  }

  /** All three entry points over `rows`, and [[Binning.histogramGrid]]
    * over the same rows read from parquet (counted from column batches),
    * equal the reference binner. */
  private def checkAgainstReference(rows: Seq[Row], axes: Seq[BinAxis], t: DataType = DoubleType): BinnedGrid = {
    val df = frame(rows, axes, t)
    val cols = axes.map(a => col(a.name) -> a)
    val g = grid(df, axes)
    val want = reference(rows, axes)
    val parquet = viaParquet(df) { p =>
      assert(columnar(p, axes), "a parquet input is counted from column batches")
      grid(p, axes).data
    }
    assert(g.axes == axes)
    for ((path, got) <- Seq("histogramGrid" -> g.data, "histogramNd" -> relationalGrid(df, cols),
                            "nd_histogram" -> NdHistogramSql.grid(df, cols), "parquet batches" -> parquet))
      assert(got.sameElements(want),
        s"$path: first differing cell: ${got.indices.find(i => got(i) != want(i))}")
    g
  }

  private def uniform(n: Int, axes: Seq[BinAxis], seed: Long): Seq[Row] = {
    val rng = new java.util.Random(seed)
    Seq.fill(n)(Row.fromSeq(axes.map(a => a.lo + rng.nextDouble() * a.width)))
  }

  test("NaN, ±Inf and null coordinates are dropped like out-of-range values") {
    val axes = Seq(BinAxis("x", 10, 0.0, 10.0), BinAxis("y", 4, -2.0, 2.0))
    val rows = Seq(
      Row(1.5, 0.5), Row(Double.NaN, 0.5), Row(1.5, Double.NaN),
      Row(Double.PositiveInfinity, 0.5), Row(Double.NegativeInfinity, 0.5),
      Row(1.5, Double.PositiveInfinity), Row(null, 0.5), Row(1.5, null), Row(null, null),
      Row(-0.5, 0.5), Row(9.5, -1.5))
    val g = checkAgainstReference(rows, axes)
    assert(g.totalCount == 2)
  }

  test("x = lo lands in bin 0, x = hi is dropped, nextDown(hi) is clamped into the last bin") {
    // (nextDown(0.9) - 0.2) · 7 / 0.7 rounds up to 7
    val ax = BinAxis("v", 7, 0.2, 0.9)
    val edge = Math.nextDown(0.9)
    assert(math.floor((edge - ax.lo) * ax.nbins / ax.width) == ax.nbins)
    val g = checkAgainstReference(Seq(Row(0.2), Row(0.9), Row(edge), Row(0.5), Row(Math.nextDown(0.2))), Seq(ax))
    assert(g.data.toSeq == Seq(1L, 0L, 0L, 1L, 0L, 0L, 1L))
  }

  test("float32 columns bin like the reference's widened doubles") {
    val axes = Seq(BinAxis("kx", 50, -1.5, 1.5), BinAxis("E", 40, -3.0, 0.5))
    val rng = new java.util.Random(7)
    val rows = Seq.fill(20000)(Row(((rng.nextDouble() * 3.4) - 1.7).toFloat,
      ((rng.nextDouble() * 4.0) - 3.25).toFloat)) ++
      Seq(Row(-1.5f, 0.5f), Row(1.5f, -3.0f), Row(Float.NaN, 0f), Row(0f, Float.NegativeInfinity))
    checkAgainstReference(rows, axes, FloatType)
  }

  test("empty input, fully filtered input and empty partitions") {
    import spark.implicits._
    val ax = BinAxis("v", 5, 0.0, 5.0)
    def all(df: DataFrame): Seq[Seq[Long]] = {
      val cols = Seq(col("v") -> ax)
      val parquet = viaParquet(df) { p =>
        assert(columnar(p, Seq(ax)))
        grid(p, Seq(ax)).data
      }
      Seq(grid(df, Seq(ax)).data, relationalGrid(df, cols), NdHistogramSql.grid(df, cols), parquet).map(_.toSeq)
    }
    assert(all(Seq.empty[Double].toDF("v")).forall(_ == Seq.fill(5)(0L)))
    assert(all(Seq(7.0, -1.0).toDF("v")).forall(_.sum == 0))
    // round-robin of 3 rows over 8 partitions leaves at least 5 empty
    val sparse = Seq(0.5, 2.5, 2.7).toDF("v").repartition(8)
    assert(all(sparse).forall(_ == Seq(1L, 0L, 2L, 0L, 0L)))
  }

  test("one hot cell holding most events") {
    val axes = Seq(BinAxis("X", 64, 0.0, 64.0), BinAxis("Y", 64, 0.0, 64.0))
    val rows = Seq.fill(9000)(Row(31.5, 12.25)) ++ uniform(1000, axes, 3)
    val g = checkAgainstReference(rows, axes)
    assert(g(31, 12) >= 9000)
  }

  test("a well-filled grid whose cell count is not a multiple of the tile size") {
    // 200 x 200 = 40000 cells: tiles of 16384, 16384 and 7232 cells
    val axes = Seq(BinAxis("x", 200, 0.0, 1.0), BinAxis("y", 200, 0.0, 1.0))
    val rows = uniform(200000, axes, 11)
    checkAgainstReference(rows, axes)
    val tiles = mergedTiles(frame(rows, axes), axes)
    assert(tiles.sorted == Seq(0, 1, 2))
  }

  test("a 2M-cell grid with few events: each touched tile reaches the driver once") {
    val axes = Seq(BinAxis("x", 2000, 0.0, 1.0), BinAxis("y", 1000, 0.0, 1.0))
    val rows = uniform(3000, axes, 13)
    checkAgainstReference(rows, axes)
    val df = frame(rows, axes)
    val tiles = mergedTiles(df, axes)
    assert(tiles.length > 100 && tiles.distinct.length == tiles.length)
    // only non-zero cells travel: dense tiles would be 128 KB each (~16 MB)
    // of shuffle and of task results
    val (g, results, shuffled) = taskBytes(grid(df, axes))
    assert(g.totalCount == 3000)
    val dense = tiles.length.toLong * TileCounter.Cells * 8
    assert(results < dense / 64, s"$results bytes of task results for ${tiles.length} tiles")
    assert(shuffled > 0 && shuffled < dense / 64, s"$shuffled shuffle bytes for ${tiles.length} tiles")
    // nd_histogram's partial aggregates are the same packed tiles, not
    // one whole grid per task
    val (sql, _, sqlShuffled) = taskBytes(NdHistogramSql.grid(df, axes.map(a => col(a.name) -> a)))
    assert(sql.sameElements(g.data))
    assert(sqlShuffled > 0 && sqlShuffled < dense / 64, s"nd_histogram: $sqlShuffled shuffle bytes for ${tiles.length} tiles")
  }

  test("nd_histogram per group equals the reference when the aggregate falls back to sorting") {
    // 40000 cells (3 tiles) in 7 groups over 4 partitions: with the
    // fallback threshold at 2 groups, the partial and the final aggregate
    // both serialize tallies mid-aggregation and merge them after the sort
    val axes = Seq(BinAxis("x", 200, 0.0, 1.0), BinAxis("y", 200, 0.0, 1.0))
    val rows = uniform(20000, axes, 19)
    val groups = 7
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i % groups)) }, 4),
      StructType(axes.map(a => StructField(a.name, DoubleType)) :+ StructField("g", IntegerType)))
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    val q = NdHistogramSql.grouped(df, axes.map(a => col(a.name) -> a), col("g"))
    val got = try q.collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(got.keySet == (0 until groups).toSet)
    object stages extends AdaptiveSparkPlanHelper
    val fellBack = stages.collect(q.queryExecution.executedPlan) {
      case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
    }.sum
    assert(fellBack >= 4, s"$fellBack aggregate tasks fell back to sorting")
    for (g <- 0 until groups) {
      val want = reference(rows.indices.filter(_ % groups == g).map(rows), axes)
      assert(got(g).sameElements(want), s"group $g: first differing cell: ${want.indices.find(i => got(g)(i) != want(i))}")
    }
  }

  test("3-D grid of 7 x 11 x 300 cells (a partial last tile)") {
    val axes = Seq(BinAxis("a", 7, 0.0, 7.0), BinAxis("b", 11, -1.0, 1.0), BinAxis("c", 300, 0.0, 3.0))
    checkAgainstReference(uniform(5000, axes, 17) ++ Seq(Row(6.999, 0.999, 2.9999)), axes)
  }

  test("the executed plan chooses column batches or rows; both give the same grid") {
    val axes = Seq(BinAxis("x", 40, 0.0, 10.0), BinAxis("y", 30, -2.0, 2.0))
    val rows = uniform(20000, axes, 23) ++ Seq(Row(null, 0.5), Row(Double.NaN, 1.0), Row(2.5, null))
    def filtered(df: DataFrame) = EventPipeline(df).applyFilter("x", 1.0, 9.0).applyFilter("y", -1.5, 1.75)
    val rowGrid = filtered(frame(rows, axes)).distributedBinning(axes).data
    assert(rowGrid.sum > 0)
    def run(pl: EventPipeline) = (columnar(pl.df, axes), pl.distributedBinning(axes).data)
    def readerOff[T](body: => T): T = {
      val key = "spark.sql.parquet.enableVectorizedReader"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    viaParquet(frame(rows, axes)) { p =>
      val snappy = viaParquet(frame(rows, axes), snappy = true)(p => run(filtered(p)))
      // a zero-amplitude jitter keeps every value's bin, but rand() is no scan column
      for ((what, batches, (chosen, got)) <- Seq(
        ("parquet -> applyFilter", true, run(filtered(p))),
        ("snappy parquet -> applyFilter", true, snappy),
        ("createDataFrame", false, run(filtered(frame(rows, axes)))),
        ("rand() jitter column", false, run(filtered(p).applyJitter(Seq("x" -> 0.0), seed = 5))),
        ("vectorized reader off", false, readerOff(run(filtered(p)))))) {
        assert(chosen == batches, s"$what: counted from ${if (chosen) "column batches" else "rows"}")
        assert(got.sameElements(rowGrid), s"$what: first differing cell: ${got.indices.find(i => got(i) != rowGrid(i))}")
      }
    }
  }

  test("BatchBinner's ranges keep exactly what Catalyst's comparisons keep") {
    import BatchBinner._
    val in = Input(0, float = false)
    val edges = Seq(Double.NaN, Double.NegativeInfinity, Double.PositiveInfinity, 0.0, -0.0,
      Double.MinPositiveValue, -Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue,
      1.0, math.nextUp(1.0), math.nextDown(1.0), -2.5)
    val ops = Seq[(Op, Int => Boolean)](Gt -> (_ > 0), Ge -> (_ >= 0), Lt -> (_ < 0), Le -> (_ <= 0), Eq -> (_ == 0))
    for (lit <- edges; (op, want) <- ops; x <- edges)
      assert(range(in, op, lit).keeps(x) == want(SQLOrderingUtil.compareDoubles(x, lit)), s"$x $op $lit")
    // a column's conjuncts intersect
    val ranges = for (lit <- edges; (op, _) <- ops) yield range(in, op, lit)
    for (a <- ranges; b <- ranges; x <- edges)
      assert(a.and(b).keeps(x) == (a.keeps(x) && b.keeps(x)), s"$x in $a and $b")
    // float comparisons order like their widened doubles
    val floats = Seq(Float.NaN, Float.NegativeInfinity, Float.PositiveInfinity, 0f, -0f, Float.MinPositiveValue,
      Float.MaxValue, 0.1f, math.nextUp(0.1f), -3.75f)
    for (x <- floats; y <- floats)
      assert(Integer.signum(SQLOrderingUtil.compareFloats(x, y)) ==
        Integer.signum(SQLOrderingUtil.compareDoubles(x.toDouble, y.toDouble)), s"$x vs $y")
  }

  test("BinAxis refuses an infinite lo, hi or width") {
    for ((lo, hi) <- Seq((Double.NegativeInfinity, 10.0), (0.0, Double.PositiveInfinity), (-1e308, 1e308)))
      intercept[IllegalArgumentException](BinAxis("x", 10, lo, hi))
    assert(BinAxis("x", 10, -1e307, 1e307).width == 2e307)
  }

  test("equals histogramNd's rows on the events table in 1-D to 4-D") {
    val ev = Tables.events(spark, sfDir)
    val all = EventQueries.cols4d(ev).zip(EventQueries.axes4d)
    for (axes <- Seq(all.take(1), Seq(all(0), all(2)), all.take(3), all)) {
      val g = Binning.histogramGrid(ev, axes)
      assert(g.totalCount > 0)
      assert(g.data.sameElements(relationalGrid(ev, axes)), s"${axes.length}-D grid differs from histogramNd")
    }
  }

  test("invariant under repartition(1/3/8)") {
    val ev = Tables.events(spark, sfDir)
    val axes = EventQueries.cols4d(ev).zip(EventQueries.axes4d).take(3)
    val grids = Seq(1, 3, 8).map(p => Binning.histogramGrid(ev.repartition(p), axes).data)
    assert(grids.forall(_.sameElements(grids.head)))
  }

  test("shuffles at most input partitions x tiles records") {
    val axes = Seq(BinAxis("x", 300, 0.0, 300.0), BinAxis("y", 200, 0.0, 200.0)) // 60000 cells, 4 tiles
    val df = spark.range(0, 200000, 1, 6)
      .select((col("id") % 300).cast("double").as("x"), (col("id") % 199).cast("double").as("y"))
    val records = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val g = grid(df, axes)
      ListenerBusDrain(sc)
      assert(g.totalCount == 200000)
      assert(records.get > 0 && records.get <= 6 * TileCounter.tiles(60000), s"${records.get} shuffle records")
    } finally sc.removeSparkListener(listener)
  }

  test("refuses a grid above the JVM array limit and names binnedTable") {
    import spark.implicits._
    val huge = Seq(col("v") -> BinAxis("a", 65536, 0.0, 1.0), col("v") -> BinAxis("b", 65536, 0.0, 1.0))
    val e = intercept[IllegalArgumentException](Binning.histogramGrid(Seq(0.5).toDF("v"), huge))
    assert(e.getMessage.contains("binnedTable"))
  }

  test("BinnedGrid checks every index against its axis and the shape in Long") {
    val axes = Seq(BinAxis("a", 100, 0.0, 1.0), BinAxis("b", 100, 0.0, 1.0), BinAxis("c", 200, 0.0, 1.0))
    val data = new Array[Long](2000000)
    data(20000) = 5 // cell (1, 0, 0)
    val g = BinnedGrid(data, axes)
    assert(g(1, 0, 0) == 5)
    intercept[IndexOutOfBoundsException](g(0, 100, 0))
    intercept[IndexOutOfBoundsException](g(0, 0, -1))
    intercept[IllegalArgumentException](g(0, 0))
    // 65536 x 65536 wraps to 0 as an Int product
    intercept[IllegalArgumentException](
      BinnedGrid(Array.empty[Long], Seq(BinAxis("a", 65536, 0.0, 1.0), BinAxis("b", 65536, 0.0, 1.0))))
  }

  test("TileCounter: the packed form round-trips through Java and Kryo serialization") {
    def dense(c: TileCounter, len: Int): Seq[Long] = {
      val out = new Array[Long](len)
      TileCounter.addPacked(c.pack(), out, 0)
      out.toSeq
    }
    def counter(len: Int, offs: Seq[Int]): TileCounter = {
      val c = new TileCounter(len)
      c.addAll(offs.toArray, offs.length)
      c
    }
    val full = TileCounter.Cells
    // every cell of a full tile, counts 1..3
    val everyCell = counter(full, (0 until full).flatMap(i => Seq.fill(i % 3 + 1)(i)))
    // the first and last cell of a partial last tile, counted 2^35 and 2^36
    // times: adding a tile's packed form into itself doubles it
    val huge = counter(7232, Seq(0, 7231, 7231))
    (1 to 35).foreach(_ => huge.addPacked(huge.pack()))
    val sparse = counter(full, Seq(0, 1, 1, 200, 16383))
    val tiles = Seq(0 -> (new TileCounter(full), full), 1 -> (everyCell, full), 2 -> (sparse, full),
      3 -> (huge, 7232))
    assert(dense(huge, 7232)(7231) == 1L << 36)

    // a tally over the same grid holding tiles 1 and 2's counts (tile 1
    // fills its staging buffer many times over) and a few in tile 3
    val cells = 3 * full + 7232
    def tally(): TileTally = {
      val t = new TileTally(cells)
      (0 until full).foreach(i => (0 to i % 3).foreach(_ => t.add(full + i)))
      Seq(0, 1, 1, 200, 16383).foreach(i => t.add(2 * full + i))
      Seq(0, 7231, 7231).foreach(i => t.add(3 * full + i))
      t
    }
    val tallied = new Array[Long](cells)
    tally().addInto(tallied)
    assert(tallied.slice(0, full).forall(_ == 0))
    assert(tallied.slice(full, 2 * full).toSeq == dense(everyCell, full))
    assert(tallied.slice(2 * full, 3 * full).toSeq == dense(sparse, full))
    assert(tallied.sum == dense(everyCell, full).sum + 5 + 3)

    val conf = new SparkConf(false)
    for (ser <- Seq(new JavaSerializer(conf).newInstance(), new KryoSerializer(conf).newInstance())) {
      // a grid of 3 full tiles and the partial one, filled from the packed records
      val data = new Array[Long](cells)
      for ((t, (c, len)) <- tiles) {
        val rec = ser.deserialize[(Int, Array[Byte])](ser.serialize(t -> c.pack()))
        assert(rec._1 == t)
        TileCounter.addPacked(rec._2, data, t * full)
        assert(dense(new TileCounter(len).addPacked(rec._2), len) == dense(c, len), s"tile $t via $ser")
        assert(data.slice(t * full, t * full + len).toSeq == dense(c, len), s"tile $t via $ser")
      }
      // the tally's bytes read back to the same cells, and merge adds
      val back = new TileTally(cells).read(ser.deserialize[Array[Byte]](ser.serialize(tally().write())))
      val twice = new Array[Long](cells)
      back.merge(new TileTally(cells).read(tally().write())).addInto(twice)
      assert(twice.toSeq == tallied.map(_ * 2).toSeq, s"tally via $ser")
    }
    assert(new TileTally(cells).write().isEmpty)
    // an all-zero tile packs to its length; cells below 2^21 counts take at most 6 bytes
    assert(new TileCounter(full).pack().length == 3)
    assert(everyCell.pack().length <= 3 + 6 * full)
    assert(huge.pack().length <= 3 + 2 * 12)
    // a tile never lands outside the grid
    intercept[IllegalArgumentException](TileCounter.addPacked(sparse.pack(), new Array[Long](full), 1))
  }

  test("one counting kernel: TileCounter is built only in TileCounter.scala, no whole-grid buffer") {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    def holders(piece: String): Seq[String] =
      sources.collect { case (p, text) if text.contains(piece) => p.getFileName.toString }.toSeq
    assert(holders("new TileCounter(") == Seq("TileCounter.scala"),
      s"tiles are counted through TileTally; found in: ${holders("new TileCounter(").mkString(", ")}")
    // a whole-grid aggregation buffer per task grows with the grid, not the events
    assert(holders("TypedImperativeAggregate[Array[Long]]").isEmpty,
      s"whole-grid aggregation buffer in: ${holders("TypedImperativeAggregate[Array[Long]]").mkString(", ")}")
  }
}
