package graft

import java.nio.file.{Files, Paths}

import graft.binning.{BinAxis, BinnedGrid}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The saved volume's on-disk contract: `binned/` is parquet of the
  * non-empty cells with columns `bin_<axis>…: long, cnt: long`, readable
  * by `spark.read.parquet`, and `load` reads any parquet laid out that
  * way, including the multi-part directories a Spark writer leaves. */
class BinnedGridIoSpec extends AnyFunSuite {
  import SparkTestSession._

  private val axes3 = Seq(BinAxis("kx", 12, -2.0, 2.0), BinAxis("ky", 10, -2.0, 2.0),
    BinAxis("E", 20, -3.0, 1.0))

  /** About one cell in `every` filled with a seeded count. */
  private def sparseGrid(axes: Seq[BinAxis], seed: Long, every: Int = 3): BinnedGrid = {
    val rnd = new scala.util.Random(seed)
    BinnedGrid(Array.fill(axes.map(_.nbins).product)(
      if (rnd.nextInt(every) == 0) 1L + rnd.nextInt(1000) else 0L), axes)
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def partFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).sorted

  test("3-D round trip keeps every cell, including one above the uint32 ceiling") {
    val grid = sparseGrid(axes3, 1)
    grid.data(77) = 5000000000L
    val dir = tmp("grid_io_3d")
    BinnedGrid.save(grid, spark, dir)
    assert(partFiles(s"$dir/binned") == Seq("part-00000.parquet"))
    val back = BinnedGrid.load(spark, dir)
    assert(back.axes == grid.axes)
    assert(back.data.sameElements(grid.data))
    assert(back.data(77) > (1L << 32))
  }

  test("an all-zero grid saves and loads; Spark reads zero rows with the cell schema") {
    val grid = BinnedGrid(new Array[Long](axes3.map(_.nbins).product), axes3)
    val dir = tmp("grid_io_zero")
    BinnedGrid.save(grid, spark, dir)
    assert(BinnedGrid.load(spark, dir).data.forall(_ == 0L))
    val df = spark.read.parquet(s"$dir/binned")
    assert(df.count() == 0)
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("bin_kx" -> LongType, "bin_ky" -> LongType, "bin_E" -> LongType, "cnt" -> LongType))
  }

  test("the written cells are exactly toDF's rows under the bin_<axis>/cnt long schema") {
    val grid = sparseGrid(axes3, 2)
    val dir = tmp("grid_io_schema")
    BinnedGrid.save(grid, spark, dir)
    val onDisk = spark.read.parquet(s"$dir/binned")
    val viaDf = grid.toDF(spark)
    assert(onDisk.schema.map(f => f.name -> f.dataType) ==
      Seq("bin_kx" -> LongType, "bin_ky" -> LongType, "bin_E" -> LongType, "cnt" -> LongType))
    assert(viaDf.schema.map(f => f.name -> f.dataType) == onDisk.schema.map(f => f.name -> f.dataType))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    val expected = rows(viaDf)
    assert(expected.length == grid.data.count(_ != 0))
    assert(rows(onDisk) == expected)
  }

  test("a multi-part directory written by a Spark job loads to the same grid") {
    val grid = sparseGrid(axes3, 3)
    val dir = tmp("grid_io_parts")
    BinnedGrid.save(grid, spark, dir)
    grid.toDF(spark).repartition(3).write.mode("overwrite").parquet(s"$dir/binned")
    assert(partFiles(s"$dir/binned").length == 3)
    assert(BinnedGrid.load(spark, dir).data.sameElements(grid.data))
  }

  test("a second save to the same path replaces the first") {
    val first = sparseGrid(axes3, 4, every = 2)
    val second = sparseGrid(axes3, 5, every = 9)
    val dir = tmp("grid_io_overwrite")
    BinnedGrid.save(first, spark, dir)
    BinnedGrid.save(second, spark, dir)
    assert(partFiles(s"$dir/binned") == Seq("part-00000.parquet"))
    assert(BinnedGrid.load(spark, dir).data.sameElements(second.data))
  }

  test("saveSliced/loadSliced round-trip a 4-D grid; units with quotes stay valid JSON") {
    val axes4 = axes3 :+ BinAxis("delay", 4, 0.0, 2.0)
    val grid = sparseGrid(axes4, 6)
    val dir = tmp("grid_io_sliced")
    val unit = "a \"quoted\" \\ unit"
    BinnedGrid.saveSliced(grid, spark, dir, cutAxis = 3, metadata = Map("unit_kx" -> unit))
    assert((0 until 4).forall(i => partFiles(s"$dir/binned/V$i") == Seq("part-00000.parquet")))
    val back = BinnedGrid.loadSliced(spark, dir)
    assert(back.axes == grid.axes)
    assert(back.data.sameElements(grid.data))
    val axesJson = graft.binning.MetaTree.parse(Files.readString(Paths.get(s"$dir/axes.json")))
    val kx = axesJson.asInstanceOf[graft.binning.MetaNode.MArr].items.head
      .asInstanceOf[graft.binning.MetaNode.MObj]
    assert(kx.str("unit") == unit)
  }
}
