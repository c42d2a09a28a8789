package graft.binning

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** One histogram axis: a regular grid of `nbins` bins over [lo, hi).
  *
  * Semantics follow the reference's floor-binning kernels
  * (`/root/reference/mpes/fprocessing.py:3525-3609`): bin index
  * `floor((x - lo) * nbins / (hi - lo))`, left-closed right-open bins,
  * out-of-range events dropped (range guard, `fprocessing.py:3538-3541`).
  * This is the reference's own default ("numba") semantics, which differs
  * from `np.histogramdd` only at the exact right edge (SURVEY.md §7.4.5).
  *
  * `sqlBin`/`sqlPred` emit the *textually identical* arithmetic for the
  * DuckDB oracle so both engines evaluate the same IEEE-754 expression
  * tree — a single source of truth for bin math.
  */
case class BinAxis(name: String, nbins: Int, lo: Double, hi: Double) {
  val width: Double = hi - lo
  // an infinite lo, hi or width (hi - lo overflowing) sends every event to bin 0
  require(nbins > 0 && hi > lo && !lo.isInfinite && !hi.isInfinite && !width.isInfinite,
    s"bad axis $name: $nbins bins over [$lo, $hi)")
  def step: Double = width / nbins

  /** Bin index expression (LongType) for a value column. Clamped to
    * nbins-1: for x just below hi, `(x-lo)*nbins/width` can round up to
    * exactly nbins even though the range predicate passed — without the
    * clamp that bin index overflows dense grids. The clamp appears
    * identically in [[sqlBin]] so Spark and the oracle agree
    * bit-for-bit. */
  def bin(c: Column): Column =
    least(floor((c - lit(lo)) * lit(nbins.toDouble) / lit(width)),
      lit((nbins - 1).toLong)).cast(LongType)

  /** In-range predicate: lo <= x < hi. */
  def pred(c: Column): Column = c >= lit(lo) && c < lit(hi)

  /** Same bin arithmetic as ANSI SQL over column expression `col`. */
  def sqlBin(col: String): String =
    s"LEAST(CAST(floor(($col - $lo) * ${nbins.toDouble} / $width) AS BIGINT), ${nbins - 1})"

  def sqlPred(col: String): String = s"($col >= $lo AND $col < $hi)"

  /** Axis coordinate vector: bin midpoints (reference `utils.calcax`,
    * `utils.py:336-353`, ret='midpoint'). */
  def midpoints: Array[Double] = Array.tabulate(nbins)(i => lo + (i + 0.5) * step)

  /** Axis coordinate vector: bin edges (nbins + 1 values). */
  def edges: Array[Double] = Array.tabulate(nbins + 1)(i => lo + i * step)
}

/** N-D histogram binning — the reference's core aggregation
  * (`distributedBinning`, `fprocessing.py:2448-2486`). Every entry point
  * range-filters and keys events with the same Catalyst expressions
  * ([[BinAxis.pred]], [[BinAxis.bin]], row-major flat key, built by
  * [[rangedFlatKey]]), and counts with one of two kernels, chosen by the
  * result's shape:
  *
  *  - a dense result is counted in tiles ([[TileTally]]): runs of 2^14
  *    flat cells — Spangle's chunking, PAPERS.md — of which a task holds
  *    and ships only those its events touched, packed to their non-zero
  *    cells. This is the reference's per-partition histogram + combine
  *    (`fprocessing.py:1722-1740`). [[histogramGrid]]
  *    (`EventPipeline.distributedBinning`) returns a driver-resident
  *    [[BinnedGrid]]: one reducer per tile adds the tasks' tiles, and the
  *    driver adds every non-empty tile into the grid once, as its reduce
  *    task's result arrives, so the combine is distributed by tile. Its
  *    map side is chosen by the executed plan: a columnar file scan →
  *    literal-comparison filter → key on scan columns is counted straight
  *    from the scan's column batches ([[BatchBinner]]), any other plan
  *    from Catalyst's rows. The `nd_histogram` SQL function
  *    (`GraftExtensions`, [[NdHistogramAgg]]) returns the grid as one SQL
  *    array, merged by tile in its final aggregate, for grids of up to
  *    [[NdHistogramAgg.DENSE_MAX_CELLS]] cells.
  *
  *  - distributed rows are aggregated by cell in Catalyst:
  *    [[histogramNd]] (`EventPipeline.binnedTable`, the registered
  *    `hist_*` queries) returns `bin_<axis>…, cnt` rows through
  *    `groupBy(flat key).count()`, partial + final hash aggregation
  *    keyed by cell. Its output stays distributed, so it scales to grids
  *    no driver array could hold.
  */
object Binning {

  /** The range predicate (every axis's `lo <= x < hi`) and the row-major
    * flat bin key over `axes` — the one place the entry points build
    * their bin math, from [[BinAxis.pred]]/[[BinAxis.bin]]. */
  private[binning] def rangedFlatKey(axes: Seq[(Column, BinAxis)]): (Column, Column) = {
    val pred = axes.map { case (c, a) => a.pred(c) }.reduce(_ && _)
    val flat = axes.tail.foldLeft(axes.head._2.bin(axes.head._1)) {
      case (acc, (c, a)) => acc * lit(a.nbins.toLong) + a.bin(c)
    }
    (pred, flat)
  }

  /** Cells of a grid of shape `nbins`, exact: an `Int` or `Long` product
    * of large axes wraps. Each entry point checks it against its own
    * limit before it sizes anything. */
  private[binning] def cellCount(nbins: Seq[Int]): BigInt = nbins.map(BigInt(_)).product

  /** `df` range-filtered on `axes`, and the flat key ([[rangedFlatKey]]). */
  private def filteredFlatKey(df: DataFrame, axes: Seq[(Column, BinAxis)]): (DataFrame, Column) = {
    val (pred, flat) = rangedFlatKey(axes)
    (df.filter(pred), flat)
  }

  /** Relational N-D histogram: returns DataFrame[bin_<axis>..., cnt: Long],
    * empty bins absent (sparse). Scales to arbitrary grid sizes.
    *
    * Multi-axis grids aggregate on a single flattened row-major bin key
    * and decompose afterwards: grouping on one long instead of N columns
    * is ~40% faster at high key cardinality (measured at 50M rows /
    * 480k bins) — narrower hash-map keys in both partial and final
    * aggregation — and produces identical bin tuples (exact integer
    * div/mod decomposition).
    */
  def histogramNd(df: DataFrame, axes: Seq[(Column, BinAxis)]): DataFrame = {
    val (filtered, flat) = filteredFlatKey(df, axes)
    if (axes.length == 1) {
      filtered
        .groupBy(flat.as(s"bin_${axes.head._2.name}"))
        .agg(count(lit(1)).as("cnt"))
    } else {
      // flat keys must stay below 2^53 because decomposition strides
      // multiply back up through long arithmetic
      val cells = cellCount(axes.map(_._2.nbins))
      require(cells < (BigInt(1) << 53), s"grid of $cells cells too large for flat key")
      val strides = BinnedGrid.strides(axes.map(_._2.nbins))
      val binCols = axes.zipWithIndex.map { case ((_, a), i) =>
        // integral `div`, not `/`: Divide on longs goes through Double and
        // mis-decomposes keys above 2^53 — div keeps it exact
        (expr(s"_flat div ${strides(i)}") % lit(a.nbins.toLong)).as(s"bin_${a.name}")
      }
      filtered
        .groupBy(flat.as("_flat"))
        .agg(count(lit(1)).as("cnt"))
        .select(binCols :+ col("cnt"): _*)
    }
  }

  /** Largest grid [[histogramGrid]] builds: the JVM's array length limit. */
  private val MaxGridCells: Int = Int.MaxValue - 8

  /** Bin `df` straight into a driver-resident [[BinnedGrid]] over `axes`
    * (same cells and counts as [[histogramNd]]'s rows). The range filter
    * and the flat key are Catalyst's, evaluated from column batches on a
    * columnar scan → filter → key plan and as rows otherwise (the
    * executed plan chooses, [[foreachTile]]); each task counts its events
    * into a [[TileTally]] and emits the tiles it touched, packed,
    * which `min(tiles, spark.sql.shuffle.partitions)` reducers merge by
    * tile; the driver adds each non-empty tile's packed cells into the
    * grid as its reduce task's result arrives ([[foreachTile]]). The
    * query runs as one SQL execution, so query listeners see it. */
  def histogramGrid(df: DataFrame, axes: Seq[(Column, BinAxis)]): BinnedGrid = {
    val data = new Array[Long](gridCells(axes))
    foreachTile(df, axes)((t, p) => TileCounter.addPacked(p, data, t * TileCounter.Cells))
    BinnedGrid(data, axes.map(_._2))
  }

  /** Cell count of the grid over `axes`, refused above [[MaxGridCells]]. */
  private def gridCells(axes: Seq[(Column, BinAxis)]): Int = {
    val cells = cellCount(axes.map(_._2.nbins))
    require(cells <= MaxGridCells,
      s"grid ${axes.map(_._2.nbins).mkString("x")} = $cells cells exceeds the driver-array " +
        s"limit of $MaxGridCells; keep it distributed with EventPipeline.binnedTable " +
        "(Binning.histogramNd)")
    cells.toInt
  }

  /** Run [[histogramGrid]]'s job and hand each merged, non-empty tile to
    * `f` on the driver in its packed form ([[TileCounter.pack]]), one
    * reduce partition at a time, so the driver holds only the packed
    * tiles of the results in flight besides what `f` keeps.
    *
    * Tiles are dense in memory and packed on the wire: map tasks emit
    * `(tile, packed)`, one record per touched tile, partitioned by tile;
    * each reduce task adds its records into one [[TileTally]] and returns
    * its tiles packed again. Shuffle records and task results are plain
    * `(Int, Array[Byte])` pairs, the same under any serializer.
    *
    * The executed key query chooses the map side ([[BatchBinner.of]]): a
    * columnar file scan under a filter of column-vs-literal comparisons,
    * keyed on scan columns — a pre-calibrated event table re-binned —
    * is counted from its column batches by [[BatchBinner]]; every other
    * plan (computed axis columns such as a calibration or a jitter, a
    * non-file input, a disabled vectorized reader) runs as rows
    * (`qe.toRdd`) through [[TileCounter.countTiles]]. Both emit the same
    * records. */
  private[binning] def foreachTile(df: DataFrame, axes: Seq[(Column, BinAxis)])(
      f: (Int, Array[Byte]) => Unit): Unit = {
    val n = gridCells(axes)
    val qe = keyQuery(df, axes)
    val reducers = math.min(TileCounter.tiles(n), qe.sparkSession.sessionState.conf.numShufflePartitions)
    SQLExecution.withNewExecutionId(qe, Some("histogramGrid")) {
      val counted = BatchBinner.of(qe.executedPlan, axes.map(_._2)) match {
        case Some((scan, kernel)) => scan.executeColumnar().mapPartitions(kernel.countTiles(_, n))
        case None => qe.toRdd.mapPartitions(rows => TileCounter.countTiles(rows, n))
      }
      val merged = counted
        .partitionBy(new HashPartitioner(reducers))
        .mapPartitions(tiles => new TileTally(n).addPacked(tiles).packed())
      merged.sparkContext.runJob(merged, (it: Iterator[(Int, Array[Byte])]) => it.toArray,
        (_: Int, part: Array[(Int, Array[Byte])]) => part.foreach { case (t, p) => f(t, p) })
    }
  }

  /** The query [[foreachTile]] runs: `df` range-filtered on `axes`,
    * projected to the flat key. */
  private[binning] def keyQuery(df: DataFrame, axes: Seq[(Column, BinAxis)]): QueryExecution = {
    val (filtered, flat) = filteredFlatKey(df, axes)
    filtered.select(flat).queryExecution
  }

  /** Oracle SQL for [[histogramNd]] over a named table. `cols(i)` is the
    * SQL expression feeding axis i. */
  def histogramNdSql(table: String, axes: Seq[(String, BinAxis)]): String = {
    val pred = axes.map { case (c, a) => a.sqlPred(c) }.mkString(" AND ")
    val bins = axes.map { case (c, a) => s"${a.sqlBin(c)} AS bin_${a.name}" }.mkString(", ")
    val names = axes.map { case (_, a) => s"bin_${a.name}" }.mkString(", ")
    s"SELECT $bins, count(*) AS cnt FROM $table WHERE $pred GROUP BY $names"
  }

  /** Per-axis 1D histograms for QC — reference `viewEventHistogram`
    * (`fprocessing.py:2763-2805`): one [[histogramNd]] per axis, one row
    * per (axis, bin). */
  def eventHistograms(df: DataFrame, axes: Seq[(Column, BinAxis)]): DataFrame =
    axes.map { case (c, a) =>
      histogramNd(df, Seq(c -> a)).select(lit(a.name).as("axis"), col(s"bin_${a.name}").as("bin"), col("cnt"))
    }.reduce(_.unionByName(_))

  /** Block-rebin of a sparse histogram by integer factors per axis —
    * reference `utils.arraybin` (`utils.py:295-333`), expressed as
    * re-aggregation (counts are conserved: sum semantics). */
  def rebin(hist: DataFrame, binCols: Seq[String], factors: Seq[Int]): DataFrame = {
    val coarse = binCols.zip(factors).map { case (c, f) =>
      floor(col(c) / lit(f.toLong)).cast(LongType).as(c)
    }
    hist.groupBy(coarse: _*).agg(sum(col("cnt")).as("cnt"))
  }
}
