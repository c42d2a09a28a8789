package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.GridOps
import graft.binning.BinAxis
import graft.io.Sources

class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("EventPipeline: full reference-shaped workflow end-to-end") {
    val grid = EventPipeline.fromEvents(spark, sfDir)
      .applyFilter("value", 0.0, 400.0)
      .appendColumn("X", col("value"))
      .appendColumn("Y", col("user_id").cast("double"))
      .applyECorrectionSpherical("X", "X", "Y", xc = 200, yc = 100, d = 100, t0 = 0.06, amplitude = -1)
      .appendEAxis("value", d = 900.0, t0 = -50.0, e0 = 10.0, binwidth = 1.0, binning = 0)
      .appendKAxis("X", "Y", 0, 0, 100, 50, 0.01, 0.02, 1.0, 1.0)
      .appendMarker("value", Seq((0.0, 100.0, 1.0), (100.0, 400.0, 2.0)))
      .distributedBinning(Seq(BinAxis("kx", 20, -2.0, 2.0), BinAxis("E", 20, 10.0, 10.5)))
    assert(grid.shape == Seq(20, 20))
    assert(grid.totalCount > 0)
    // counts conserved vs direct computation of the same plan
    val direct = EventPipeline.fromEvents(spark, sfDir)
      .applyFilter("value", 0.0, 400.0).count()
    assert(grid.totalCount <= direct)
  }

  test("EventPipeline: transformColumn2D + deleteColumn + appendRows") {
    val p = EventPipeline.fromEvents(spark, sfDir)
      .transformColumn2D("value", "user_id", "a", "b",
        (x, y) => (x * 2.0, y.cast("double") + 1.0))
      .deleteColumn("props")
    assert(p.columns.contains("a") && p.columns.contains("b") && !p.columns.contains("props"))
    val doubled = p.appendRows(p.df)
    assert(doubled.count() == 2 * p.count())
  }

  test("jitter-then-bin changes edge bins but conserves totals approximately") {
    val axes = Seq(BinAxis("value", 100, 0.0, 500.0))
    val plain = EventPipeline.fromEvents(spark, sfDir).distributedBinning(axes)
    val jit = EventPipeline.fromEvents(spark, sfDir)
      .applyJitter(Seq("value" -> 5.0), seed = 42).distributedBinning(axes)
    // jitter amp 0.5*5 may push borderline events outside [0,500) but not many
    assert(math.abs(jit.totalCount - plain.totalCount) < plain.totalCount / 20)
  }

  test("GridOps: masks, dilation, curvature, blockNorm") {
    val g = Array.tabulate(20, 20)((i, j) => (i * j).toDouble)
    val m = GridOps.circMask(20, 20, 10, 10, 5)
    assert(m(10)(10) && !m(0)(0))
    val r = GridOps.rectMask(20, 20, 5, 10, 5, 10)
    val both = GridOps.and(m, r)
    assert(both(7)(7) && !both(12)(12))
    assert(GridOps.invert(m)(0)(0))
    val masked = GridOps.applyMask(g, r)
    assert(masked(7)(7) == 49.0 && masked(0)(0) == 0.0)
    val dil = GridOps.dilate(r, 2)
    assert(dil(3)(7) && !dil(2)(7))
    // curvature of a linear ramp is ~zero in the interior
    val ramp = Array.tabulate(20, 20)((i, j) => 2.0 * i + 3.0 * j)
    val curv = GridOps.curvature2d(ramp)
    for (i <- 3 until 17; j <- 3 until 17) assert(math.abs(curv(i)(j)) < 1e-9)
    val bn = GridOps.blockNorm(Array(1.0, 2.0, 4.0, 2.0), 2)
    assert(bn.toSeq == Seq(0.5, 0.5, 1.0, 1.0))
    // degenerate single-row/column grids must not crash
    val (gr1, gc1) = GridOps.grad(Array(Array(1.0, 2.0, 4.0)))
    assert(gr1(0).forall(_ == 0.0) && gc1(0)(0) == 1.0)
    val (gr2, gc2) = GridOps.grad(Array(Array(1.0), Array(3.0)))
    assert(gc2.forall(_(0) == 0.0) && gr2(0)(0) == 2.0)
  }

  /** The codecs of every column chunk of the parquet files in `dir`. */
  private def codecs(dir: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(_.getCodec.name))
      finally r.close()
    }.toSet
  }

  test("Sources: natural sort, gather, select, tsv read, split write") {
    assert(Sources.naturalSort(Seq("f10", "f2", "f1")) == Seq("f1", "f2", "f10"))
    assert(Sources.naturalSort(Seq("a2b10", "a2b2", "a10b1")) == Seq("a2b2", "a2b10", "a10b1"))

    val tmp = java.nio.file.Files.createTempDirectory("graft_io")
    for (i <- Seq(1, 2, 10)) java.nio.file.Files.writeString(tmp.resolve(s"run_$i.txt"), "x")
    java.nio.file.Files.writeString(tmp.resolve("other.dat"), "x")
    val got = Sources.gather(tmp.toString, "run_*.txt").map(p => new java.io.File(p).getName)
    assert(got == Seq("run_1.txt", "run_2.txt", "run_10.txt"))
    assert(Sources.select(got, Seq(0, 2)) == Seq("run_1.txt", "run_10.txt"))

    // fnmatch patterns: only *, ?, [seq] and [!seq] are special; dot-files
    // only for a pattern that starts with a dot
    val globDir = tmp.resolve("glob")
    java.nio.file.Files.createDirectory(globDir)
    val names = Seq("scan(1).parquet", "scan1.parquet", "a+b.parquet", "aab.parquet", "x[1.txt",
      "^.txt", "-.txt", "b.txt", ".part-00000.crc", "._SUCCESS.crc")
    names.foreach(n => java.nio.file.Files.writeString(globDir.resolve(n), "x"))
    def gather(pattern: String) = Sources.gather(globDir.toString, pattern).map(p => new java.io.File(p).getName).toSet
    assert(gather("scan(1)*") == Set("scan(1).parquet"))
    assert(gather("a+b*") == Set("a+b.parquet"))
    assert(gather("*") == names.filterNot(_.startsWith(".")).toSet)
    assert(gather(".*") == Set(".part-00000.crc", "._SUCCESS.crc"))
    assert(gather("scan?.parquet") == Set("scan1.parquet"))
    assert(gather("[ab]*.parquet") == Set("a+b.parquet", "aab.parquet"))
    assert(gather("[!a]*.parquet") == Set("scan(1).parquet", "scan1.parquet"))
    assert(gather("[a-c].txt") == Set("b.txt"))
    assert(gather("[c-a].txt").isEmpty)
    assert(gather("[^-].txt") == Set("^.txt", "-.txt"))
    assert(gather("x[1*") == Set("x[1.txt"))
    assert(gather("*.{txt}").isEmpty)

    java.nio.file.Files.writeString(tmp.resolve("t.tsv"), "a\tb\n1\t2\n3\t4\n")
    val df = Sources.readFiles(spark, Seq(tmp.resolve("t.tsv").toString), "tsv")
    assert(df.count() == 2 && df.columns.toSeq == Seq("a", "b"))

    val out = tmp.resolve("split").toString
    Sources.splitWrite(Tables.events(spark, sfDir).select("event_id", "value"), out, 4)
    val files = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 4)
    assert(spark.read.parquet(out).count() == Tables.events(spark, sfDir).count())

    // the event-table sinks write uncompressed pages; an append onto a
    // table Spark wrote with its snappy default reads back both writes
    assert(codecs(out) == Set("UNCOMPRESSED"))
    def rows(from: Long, until: Long) = spark.range(from, until, 1, 3).selectExpr("id", "CAST(id / 8 AS FLOAT) AS v")
    val plain = tmp.resolve("plain").toString
    Sources.writeParquet(rows(0, 500), plain)
    assert(codecs(plain) == Set("UNCOMPRESSED"))
    val mixed = tmp.resolve("mixed").toString
    rows(0, 1000).write.parquet(mixed)
    assert(codecs(mixed) == Set("SNAPPY"))
    Sources.writeParquet(rows(1000, 1500), mixed, append = true)
    assert(codecs(mixed) == Set("SNAPPY", "UNCOMPRESSED"))
    val back = Sources.parquet(spark, mixed).collect().map(r => r.getLong(0) -> r.getFloat(1)).sortBy(_._1)
    assert(back.toSeq == (0L until 1500L).map(i => i -> i.toFloat / 8))
    // the corpus sink keeps the session's snappy
    val sorted = tmp.resolve("sorted").toString
    Sources.writeSorted(rows(0, 500), sorted, Seq("id"), nPartitions = 2, maxRecordsPerFile = 1000)
    assert(codecs(sorted) == Set("SNAPPY"))
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
