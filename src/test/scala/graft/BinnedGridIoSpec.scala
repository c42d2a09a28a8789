package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.binning.{BinAxis, BinnedGrid, CellsWriter}
import graft.fit.Fit
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{PrimitiveType, Type}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, sum}
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

  /** The non-empty cells of `grid` in flat order, as (bins…, count). */
  private def cellsOf(grid: BinnedGrid): Seq[Seq[Long]] = {
    val str = grid.shape.indices.map(i => grid.shape.drop(i + 1).product)
    grid.data.indices.filter(grid.data(_) != 0).map { f =>
      grid.shape.indices.map(d => ((f / str(d)) % grid.shape(d)).toLong) :+ grid.data(f)
    }
  }

  private def withFooter[T](dir: String)(body: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(s"$dir/binned/part-00000.parquet"),
      spark.sparkContext.hadoopConfiguration))
    try body(r) finally r.close()
  }

  test("cells spanning several pages and row groups round-trip, counts of 2^31 and 2^32 included") {
    val grid = sparseGrid(axes3, 7)
    grid.data(5) = 1L << 31
    grid.data(grid.data.length - 1) = 1L << 32
    val dir = tmp("grid_io_pages")
    CellsWriter.save(grid, spark, dir, pageCells = 7, groupCells = 100)
    val n = grid.data.count(_ != 0)
    withFooter(dir) { r =>
      val groups = r.getRowGroups.asScala.toSeq
      assert(groups.map(_.getRowCount) == Seq.fill(n / 100)(100L) ++ Seq(n % 100L).filter(_ > 0))
      groups.foreach { g =>
        g.getColumns.asScala.foreach { c =>
          assert(r.readOffsetIndex(c).getPageCount == (g.getRowCount + 6) / 7, s"${c.getPath}")
        }
      }
    }
    val back = BinnedGrid.load(spark, dir)
    assert(back.data.sameElements(grid.data))
    assert(back.data(5) == (1L << 31) && back.data.last == (1L << 32))
  }

  test("the footer holds REQUIRED INT64 delta-packed SNAPPY chunks with each chunk's min/max") {
    val grid = sparseGrid(axes3, 8)
    grid.data(0) = 1L << 40
    val dir = tmp("grid_io_stats")
    CellsWriter.save(grid, spark, dir, pageCells = 16, groupCells = 150)
    val cells = cellsOf(grid)
    withFooter(dir) { r =>
      val schema = r.getFooter.getFileMetaData.getSchema
      assert(schema.getFields.asScala.map(_.getName) == Seq("bin_kx", "bin_ky", "bin_E", "cnt"))
      schema.getFields.asScala.foreach { f =>
        assert(f.isRepetition(Type.Repetition.REQUIRED))
        assert(f.asPrimitiveType.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT64)
      }
      val groups = r.getRowGroups.asScala.toSeq
      assert(groups.length == (cells.length + 149) / 150)
      groups.zipWithIndex.foreach { case (g, gi) =>
        val rows = cells.slice(gi * 150, gi * 150 + 150)
        g.getColumns.asScala.zipWithIndex.foreach { case (c, ci) =>
          val st = c.getStatistics
          assert(c.getCodec == CompressionCodecName.SNAPPY)
          assert(c.getEncodings.contains(Encoding.DELTA_BINARY_PACKED))
          assert(c.getValueCount == rows.length)
          assert(st.getNumNulls == 0)
          assert(st.genericGetMin == rows.map(_(ci)).min && st.genericGetMax == rows.map(_(ci)).max,
            s"row group $gi, ${c.getPath}: [${st.genericGetMin}, ${st.genericGetMax}]")
        }
      }
    }
  }

  test("Spark-written cells with a null column, a bin at nbins or no cnt column are refused") {
    import spark.implicits._
    val dir = tmp("grid_io_refused")
    BinnedGrid.save(sparseGrid(axes3, 9), spark, dir)
    def refused(df: DataFrame): String = {
      df.write.mode("overwrite").parquet(s"$dir/binned")
      intercept[IllegalArgumentException](BinnedGrid.load(spark, dir)).getMessage
    }
    val withNull = Seq((1L, 2L, 3L, Option(4L)), (1L, 2L, 4L, None)).toDF("bin_kx", "bin_ky", "bin_E", "cnt")
    assert(refused(withNull).endsWith(": a cell has a null column"))
    val atNbins = Seq((3L, 2L, 1L, 5L), (12L, 0L, 0L, 1L)).toDF("bin_kx", "bin_ky", "bin_E", "cnt")
    assert(refused(atNbins).endsWith(": bin_kx = 12 outside [0, 12)"))
    val noCnt = Seq((1L, 2L, 3L)).toDF("bin_kx", "bin_ky", "bin_E")
    assert(refused(noCnt).endsWith(" has no column cnt"))
  }

  test("a filter on a bin column reads the same cells from disk as from toDF") {
    val grid = sparseGrid(axes3, 10)
    val dir = tmp("grid_io_filter")
    BinnedGrid.save(grid, spark, dir)
    def rows(df: DataFrame) = df.filter(col("bin_kx") === 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    val expected = rows(grid.toDF(spark))
    assert(expected.nonEmpty)
    assert(rows(spark.read.parquet(s"$dir/binned")) == expected)
  }

  test("toDF is one declared partition: a groupBy over it plans no exchange and sums to profile") {
    val grid = sparseGrid(axes3, 11)
    val df = grid.toDF(spark).groupBy("bin_kx").agg(sum("cnt"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plan = df.queryExecution.executedPlan
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty, s"expected no exchange:\n$plan")
    val profile = grid.profile(0)
    assert(got == profile.indices.filter(profile(_) != 0).map(i => i.toLong -> profile(i)).toMap)
  }

  test("Gaussian fits of toDF's traces are bit-equal to fitGaussian on the same traces") {
    val axes = Seq(BinAxis("kx", 4, -1.0, 1.0), BinAxis("ky", 3, -1.0, 1.0), BinAxis("E", 40, 0.0, 4.0))
    val rnd = new scala.util.Random(12)
    val data = Array.tabulate(4 * 3 * 40) { f =>
      val (key, e) = (f / 40, f % 40)
      math.round(500 * math.exp(-0.5 * math.pow((e - 10 - 2 * key) / 3.0, 2))) + rnd.nextInt(3)
    }
    val grid = BinnedGrid(data, axes)
    assert(data.contains(0L))
    val hist = grid.toDF(spark).withColumn("key", col("bin_kx") * 3 + col("bin_ky"))
    val got = Fit.fitTraces(Fit.tracesFromHistogram(spark, hist, "key", "bin_E", "cnt"))
      .collect().map(f => f.key -> f).toMap
    val expected = (0 until 12).map { key =>
      val es = (0 until 40).filter(e => data(key * 40 + e) != 0).toArray
      val (a, c, s, sse, it) = Fit.fitGaussian(es.map(_.toDouble), es.map(e => data(key * 40 + e).toDouble))
      key.toString -> Fit.GaussFit(key.toString, a, c, s, sse, it)
    }.toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, f) =>
      assert(java.lang.Double.doubleToRawLongBits(got(k).center) == java.lang.Double.doubleToRawLongBits(f.center),
        s"trace $k: ${got(k).center} vs ${f.center}")
      assert(got(k) == f)
    }
  }
}
