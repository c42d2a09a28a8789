package graft.binning

import graft.binning.MetaNode.{MArr, MInt, MNum, MObj, MStr}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Driver-resident dense N-D histogram volume — the engine's analogue of
  * the reference's "histdict" / xarray containers (SURVEY.md §1.1 B/C:
  * `fprocessing.py:1199-1210`, `bandstructure.py:22-57`): a flat
  * row-major count array plus one axis-coordinate vector (midpoints) per
  * dimension and a name per axis.
  *
  * Grids are small relative to the event table (≤ ~1e8 cells) — the
  * cluster reduces 100 TB of events to this; analysis then runs on the
  * driver (§2.10 ops).
  */
case class BinnedGrid(data: Array[Long], axes: Seq[BinAxis]) {
  val shape: Seq[Int] = axes.map(_.nbins)
  private val strides: Array[Long] = BinnedGrid.strides(shape)
  private val nbins: Array[Int] = shape.toArray
  private val cells: Long = nbins.map(_.toLong).product
  require(data.length == cells, s"data ${data.length} != ${shape.mkString("x")} = $cells cells")

  /** Count of the cell at one index per axis; each index must lie in
    * `[0, nbins)` of its axis. */
  def apply(idx: Int*): Long = {
    require(idx.length == axes.length, s"${idx.length} indices into a ${axes.length}-D grid")
    var flat = 0L
    var d = 0
    while (d < strides.length) {
      val i = idx(d)
      if (i < 0 || i >= nbins(d))
        throw new IndexOutOfBoundsException(s"index $i out of [0, ${nbins(d)}) on axis ${axes(d).name}")
      flat += i * strides(d)
      d += 1
    }
    data(flat.toInt)
  }

  def totalCount: Long = {
    var sum = 0L
    var i = 0
    while (i < data.length) { sum += data(i); i += 1 }
    sum
  }

  /** Axis coordinate vectors (midpoints, reference `utils.calcax`). */
  def axisValues: Seq[Array[Double]] = axes.map(_.midpoints)

  /** Crop by per-axis index ranges [from, until) — reference
    * `updateHistogram` slicing (`fprocessing.py:3263-3290`). */
  def slice(ranges: Seq[(Int, Int)]): BinnedGrid = {
    require(ranges.length == axes.length)
    val newAxes = axes.zip(ranges).map { case (a, (f, u)) =>
      require(f >= 0 && u <= a.nbins && f < u, s"bad slice ($f,$u) on ${a.name}")
      BinAxis(a.name, u - f, a.lo + f * a.step, a.lo + u * a.step)
    }
    val newShape = ranges.map { case (f, u) => u - f }
    val out = new Array[Long](newShape.product)
    val newStrides = newShape.indices.map(i => newShape.drop(i + 1).product)
    def walk(dim: Int, srcBase: Long, dstBase: Int): Unit =
      if (dim == axes.length) out(dstBase) = data(srcBase.toInt)
      else {
        val (f, u) = ranges(dim)
        var i = f
        while (i < u) {
          walk(dim + 1, srcBase + i * strides(dim), dstBase + (i - f) * newStrides(dim))
          i += 1
        }
      }
    walk(0, 0L, 0)
    BinnedGrid(out, newAxes)
  }

  /** Block-sum rebin by integer factors (reference `utils.arraybin`,
    * `utils.py:295-333`; counts conserved). Axis length must divide. */
  def rebin(factors: Seq[Int]): BinnedGrid = {
    require(factors.length == axes.length)
    axes.zip(factors).foreach { case (a, f) =>
      require(a.nbins % f == 0, s"${a.name}: ${a.nbins} % $f != 0")
    }
    val newAxes = axes.zip(factors).map { case (a, f) => BinAxis(a.name, a.nbins / f, a.lo, a.hi) }
    val newShape = newAxes.map(_.nbins)
    val newStrides = newShape.indices.map(i => newShape.drop(i + 1).product)
    val out = new Array[Long](newShape.product)
    var flat = 0
    while (flat < data.length) {
      var rem = flat.toLong
      var dst = 0
      var d = 0
      while (d < axes.length) {
        val i = (rem / strides(d)).toInt
        rem %= strides(d)
        dst += (i / factors(d)) * newStrides(d)
        d += 1
      }
      out(dst) += data(flat)
      flat += 1
    }
    BinnedGrid(out, newAxes)
  }

  /** Roll `cutAxis` to the front and return one (N−1)-D grid per index
    * along it — the reference's 4D→3D sliced-export cut (`saveDict`,
    * `fprocessing.py:931-955`: `np.rollaxis(data, cutaxis)`, slice i
    * saved as `V{i}`). Slice i's cell (c₀…ĉ…c₋₁) equals this grid's
    * cell with `i` re-inserted at `cutAxis`; remaining axes keep their
    * relative order.
    */
  def sliceAlong(cutAxis: Int): Seq[BinnedGrid] = {
    require(axes.length >= 2 && cutAxis >= 0 && cutAxis < axes.length,
      s"sliceAlong($cutAxis) on a ${axes.length}D grid")
    val restAxes = axes.patch(cutAxis, Nil, 1)
    val restLen = restAxes.map(_.nbins).product
    val n = shape(cutAxis)
    val out = Array.fill(n)(new Array[Long](restLen))
    val dst = new Array[Int](n)
    // one row-major pass: with one coordinate fixed, lexicographic order
    // over the full tuple restricts to lexicographic order over the rest
    var flat = 0
    while (flat < data.length) {
      val ci = ((flat / strides(cutAxis)) % n).toInt
      out(ci)(dst(ci)) = data(flat)
      dst(ci) += 1
      flat += 1
    }
    out.toSeq.map(BinnedGrid(_, restAxes))
  }

  /** 1D profile along `axis`, summing all other axes (EDC/MDC extraction
    * shape). */
  def profile(axis: Int): Array[Long] = {
    val out = new Array[Long](shape(axis))
    var flat = 0
    while (flat < data.length) {
      out(((flat / strides(axis)) % shape(axis)).toInt) += data(flat)
      flat += 1
    }
    out
  }

  /** Back to the sparse relational layout (`bin_<axis>…, cnt`, one row
    * per non-empty cell) for further distributed work. The cells travel
    * as two primitive arrays in one partition; rows are built in the task. */
  def toDF(spark: SparkSession): DataFrame = {
    var n = 0
    var i = 0
    while (i < data.length) { if (data(i) != 0) n += 1; i += 1 }
    val flats = new Array[Int](n)
    val counts = new Array[Long](n)
    var flat = 0
    var k = 0
    while (flat < data.length) {
      if (data(flat) != 0) { flats(k) = flat; counts(k) = data(flat); k += 1 }
      flat += 1
    }
    val schema = StructType(axes.map(a => StructField(s"bin_${a.name}", LongType)) :+
      StructField("cnt", LongType))
    spark.createDataFrame(BinnedGrid.cellRows(spark, flats, counts, shape), schema)
  }
}

object BinnedGrid {

  /** Physical-units registry (reference `default_units`,
    * `fprocessing.py:195-210`): column → unit string. */
  val defaultUnits: Map[String, String] = Map(
    "X" -> "step", "Y" -> "step", "t" -> "step", "ADC" -> "step",
    "kx" -> "1/A", "ky" -> "1/A", "E" -> "eV", "delay" -> "ps",
    "value" -> "a.u.", "user" -> "id", "hour" -> "h")

  /** Row-major strides of `shape`: flat index = Σ bin(d) · strides(d). */
  private[binning] def strides(shape: Seq[Int]): Array[Long] =
    shape.indices.map(i => shape.drop(i + 1).map(_.toLong).product).toArray

  /** One partition holding the (flat index, count) arrays, expanded into
    * `bin_<axis>…, cnt` rows inside the task. */
  private def cellRows(spark: SparkSession, flats: Array[Int], counts: Array[Long],
                       shape: Seq[Int]): RDD[Row] = {
    val dims = shape.map(_.toLong).toArray
    val str = strides(shape)
    spark.sparkContext.parallelize(Seq((flats, counts)), 1).flatMap { case (fs, cs) =>
      fs.indices.iterator.map(k => Row.fromSeq(dims.indices.map(d => (fs(k) / str(d)) % dims(d)) :+ cs(k)))
    }
  }

  /** Persist as a parquet of sparse cells plus a JSON axes sidecar —
    * the engine's equivalent of the reference's `binned/ + axes/` HDF5
    * layout (`xarray_to_h5`, `fprocessing.py:3354-3416`).
    *
    * Like the reference, the volume is written on the driver, with no
    * Spark job: `path/binned/` becomes one parquet file holding only the
    * non-empty cells, columns `bin_<axis>…: long, cnt: long` — readable
    * by `spark.read.parquet` and equal to [[BinnedGrid.toDF]]. A second
    * save to the same path replaces the first. `axes.json` and
    * `metadata.json` sit beside `binned/`.
    *
    * `meta` carries the reference's NESTED metadata tree (the
    * `gather_metadata` dict written group-by-group by the recursive
    * `xarray_to_h5` writer, `fprocessing.py:3392-3415`) — assemble it
    * with [[MetaTree.gather]] and read it back with [[loadMeta]]. When
    * `meta` is absent the legacy flat `metadata` map is written instead
    * (still readable by [[loadMetadata]] and [[loadMeta]]); either way
    * `metadata`'s `unit_<axis>` entries override the axis units in
    * `axes.json`. */
  def save(grid: BinnedGrid, spark: SparkSession, path: String,
           metadata: Map[String, String] = Map.empty,
           meta: Option[MetaNode.MObj] = None): Unit = {
    CellsParquet.write(grid, spark.sparkContext.hadoopConfiguration, s"$path/binned")
    writeAxes(path, grid.axes, metadata)
    writeText(path, "metadata.json", MetaTree.render(
      meta.getOrElse(MObj(metadata.toSeq.map { case (k, v) => k -> MStr(v) }))))
  }

  /** Load a volume written by [[save]] — on the driver, like the write.
    * Every `*.parquet` under `path/binned/` is read, so volumes that an
    * older Spark-job writer saved as several parts still load. */
  def load(spark: SparkSession, path: String): BinnedGrid =
    CellsParquet.read(spark.sparkContext.hadoopConfiguration, s"$path/binned", readAxes(path))

  /** Persist a ≥2-D grid as separated per-slice datasets `V0..Vn` along
    * `cutAxis` — the reference's 4D export layout (`saveDict` h5 branch,
    * `fprocessing.py:931-955`: 4D data is rolled on `cutaxis` (default
    * 3, the delay axis) and written as 3D datasets `binned/V{i}`, with
    * every original axis vector under `axes/`). Here: one sparse parquet
    * per slice at `path/binned/<sliceName><i>`, written like [[save]]'s,
    * the FULL original axes in `axes.json`, and the cut parameters in
    * `sliced.json`.
    */
  def saveSliced(grid: BinnedGrid, spark: SparkSession, path: String,
                 cutAxis: Int = 3, sliceName: String = "V",
                 metadata: Map[String, String] = Map.empty): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val binned = new org.apache.hadoop.fs.Path(s"$path/binned")
    binned.getFileSystem(conf).delete(binned, true)
    val slices = grid.sliceAlong(cutAxis)
    slices.zipWithIndex.foreach { case (g, i) =>
      CellsParquet.write(g, conf, s"$path/binned/$sliceName$i")
    }
    writeAxes(path, grid.axes, metadata)
    writeText(path, "sliced.json", MetaTree.render(MObj.of(
      "cutAxis" -> MInt(cutAxis), "sliceName" -> MStr(sliceName), "n" -> MInt(slices.length))))
  }

  /** Load a [[saveSliced]] layout back into the full N-D grid (slices
    * re-stacked at the recorded cut axis). */
  def loadSliced(spark: SparkSession, path: String): BinnedGrid = {
    val axes = readAxes(path)
    val sliced = MetaTree.parse(readText(path, "sliced.json")).asInstanceOf[MObj]
    val cutAxis = sliced.int("cutAxis").toInt
    val sliceName = sliced.str("sliceName")
    val n = sliced.int("n").toInt
    require(n == axes(cutAxis).nbins, s"slice count $n != axis ${axes(cutAxis).name}")
    val restAxes = axes.patch(cutAxis, Nil, 1)
    val conf = spark.sparkContext.hadoopConfiguration
    val slices = (0 until n).map { i =>
      CellsParquet.read(conf, s"$path/binned/$sliceName$i", restAxes)
    }
    // inverse of sliceAlong's single row-major pass
    val shape = axes.map(_.nbins)
    val str = strides(shape)
    val data = new Array[Long](shape.product)
    val src = new Array[Int](n)
    var flat = 0
    while (flat < data.length) {
      val ci = ((flat / str(cutAxis)) % n).toInt
      data(flat) = slices(ci).data(src(ci))
      src(ci) += 1
      flat += 1
    }
    BinnedGrid(data, axes)
  }

  /** The `axes.json` sidecar [[save]] and [[saveSliced]] share: one
    * object per axis with its binning and unit (`metadata`'s
    * `unit_<axis>`, else [[defaultUnits]], else `a.u.`). */
  private def writeAxes(path: String, axes: Seq[BinAxis], metadata: Map[String, String]): Unit =
    writeText(path, "axes.json", MetaTree.render(MArr(axes.map { a =>
      val unit = metadata.getOrElse(s"unit_${a.name}", defaultUnits.getOrElse(a.name, "a.u."))
      MObj.of("name" -> MStr(a.name), "nbins" -> MInt(a.nbins), "lo" -> MNum(a.lo),
        "hi" -> MNum(a.hi), "unit" -> MStr(unit))
    })))

  private def readAxes(path: String): Seq[BinAxis] =
    MetaTree.parse(readText(path, "axes.json")) match {
      case MArr(items) => items.map {
        case o: MObj => BinAxis(o.str("name"), o.int("nbins").toInt, o.num("lo"), o.num("hi"))
        case other => throw new IllegalArgumentException(s"$path/axes.json: bad axis $other")
      }
      case other => throw new IllegalArgumentException(s"$path/axes.json root must be an array, got $other")
    }

  private def writeText(path: String, name: String, text: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/$name"), text)

  private def readText(path: String, name: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"$path/$name"))

  /** Export a 2D grid as a float32 TIFF or 16-bit PNG image — the
    * reference's `saveDict(form='tiff'/'png')` branches
    * (`fprocessing.py:859-980`); codecs are not needed, see
    * [[graft.io.ImageSinks]]. Higher-rank grids export one image per
    * leading-axis slice elsewhere (slice first, then export). */
  def saveImage(grid: BinnedGrid, path: String): Unit = {
    require(grid.axes.length == 2, s"image export needs a 2D grid, got ${grid.axes.length}D")
    val img = Array.tabulate(grid.shape(0), grid.shape(1))((i, j) => grid(i, j).toDouble)
    path.toLowerCase match {
      case p if p.endsWith(".png") => graft.io.ImageSinks.writePng16Gray(path, img)
      case p if p.endsWith(".tif") || p.endsWith(".tiff") =>
        graft.io.ImageSinks.writeTiffGray32f(path, img)
      case _ => throw new IllegalArgumentException(
        s"saveImage: unsupported extension in '$path' (use .tiff/.tif or .png)")
    }
  }

  /** Load the metadata sidecar written by [[save]] as the full nested
    * tree — the round-trip of the recursive `xarray_to_h5` metadata
    * layout. Parses both the nested-tree and legacy flat-map forms
    * (a flat map is just a one-level tree of string leaves). */
  def loadMeta(path: String): Option[MetaNode.MObj] = {
    val p = java.nio.file.Paths.get(s"$path/metadata.json")
    if (!java.nio.file.Files.exists(p)) None
    else MetaTree.parse(java.nio.file.Files.readString(p)) match {
      case o: MetaNode.MObj => Some(o)
      case other => throw new IllegalArgumentException(
        s"metadata.json root must be an object, got $other")
    }
  }

  /** Load the metadata sidecar written by [[save]] as a flat map: its
    * top-level string fields, with every JSON escape decoded. Nested
    * trees (the `meta` form of [[save]]) are read with [[loadMeta]]. */
  def loadMetadata(path: String): Map[String, String] =
    loadMeta(path).fold(Map.empty[String, String])(_.fields.collect {
      case (k, MetaNode.MStr(v)) => k -> v
    }.toMap)
}
