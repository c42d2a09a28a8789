package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.{ArpesTxt, IgorIbw, IgorPxp}

class IoFormatsSpec extends AnyFunSuite {

  test("ibw v5 write/read round-trip preserves data, shape, scaling, name") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ibw")
    val data = Array.tabulate(12 * 8)(i => math.sin(i * 0.1) * 100)
    val w = IgorIbw.Wave("testwave", data, Seq(12, 8), Seq(0.5, 2.0), Seq(-3.0, 10.0))
    val p = tmp.resolve("w.ibw").toString
    IgorIbw.write(p, w)
    val r = IgorIbw.read(p)
    assert(r.name == "testwave")
    assert(r.shape == Seq(12, 8))
    assert(r.sfA == Seq(0.5, 2.0) && r.sfB == Seq(-3.0, 10.0))
    // float32 round-trip precision
    r.data.zip(data).foreach { case (a, b) => assert(math.abs(a - b) < 1e-3) }
    // axis scaling: x_p = sfA*p + sfB
    assert(r.axis(0)(0) == -3.0 && r.axis(0)(2) == -2.0)
    assert(r.axis(1)(3) == 16.0)
  }

  test("pxp packed experiment round-trips nested folders with multiple waves") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pxp")
    val w1 = IgorIbw.Wave("spectrum", Array.tabulate(50)(i => i * 0.5), Seq(50),
      Seq(0.1), Seq(-2.0))
    val w2 = IgorIbw.Wave("image", Array.tabulate(6 * 4)(i => 100.0 - i), Seq(6, 4),
      Seq(1.0, 2.0), Seq(0.0, 5.0))
    val w3 = IgorIbw.Wave("toplevel", Array(1.0, 2.0, 3.0), Seq(3), Seq(1.0), Seq(0.0))
    val p = tmp.resolve("exp.pxp").toString
    IgorPxp.write(p, Seq(
      IgorPxp.Entry(Seq("root", "run1"), w1),
      IgorPxp.Entry(Seq("root", "run2"), w2),
      IgorPxp.Entry(Seq.empty, w3)))
    val back = IgorPxp.read(p)
    assert(back.length == 3)
    assert(back.map(_.folder) == Seq(Seq("root", "run1"), Seq("root", "run2"), Seq.empty))
    assert(back(0).wave.name == "spectrum" && back(0).wave.shape == Seq(50))
    assert(back(1).wave.name == "image" && back(1).wave.shape == Seq(6, 4))
    assert(back(1).wave.sfA == Seq(1.0, 2.0) && back(1).wave.sfB == Seq(0.0, 5.0))
    assert(back(2).wave.name == "toplevel")
    back(0).wave.data.zip(w1.data).foreach { case (a, b) => assert(math.abs(a - b) < 1e-3) }
    back(1).wave.data.zip(w2.data).foreach { case (a, b) => assert(math.abs(a - b) < 1e-3) }
    // unknown record types (history/procedure) are skipped, not fatal
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val hist = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hist.putShort(0, 2).putShort(2, 1).putInt(4, 5)
    val withHist = hist.array() ++ "hello".getBytes ++ raw
    assert(IgorPxp.fromBytes(withHist).length == 3)
  }

  test("ibw reader rejects corrupted checksum") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ibw2")
    val p = tmp.resolve("bad.ibw").toString
    IgorIbw.write(p, IgorIbw.Wave("x", Array(1.0, 2.0), Seq(2), Seq(1.0), Seq(0.0)))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    bytes(20) = (bytes(20) ^ 0xff).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
    val e = intercept[IllegalArgumentException](IgorIbw.read(p))
    assert(e.getMessage.contains("checksum"))
  }

  test("BinnedGrid exports to ibw and round-trips counts") {
    import org.apache.spark.sql.functions._
    import SparkTestSession._
    val axes = Seq(graft.binning.BinAxis("value", 20, 0.0, 500.0))
    val grid = graft.binning.Binning.histogramGrid(Tables.events(spark, sfDir),
      Seq(col("value") -> axes(0)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ibw3")
    val p = tmp.resolve("hist.ibw").toString
    // histogram sink → ibw (reference saveDict(form='ibw'))
    IgorIbw.write(p, IgorIbw.Wave("hist", grid.data.map(_.toDouble), grid.shape,
      Seq(axes(0).step), Seq(axes(0).lo + axes(0).step / 2)))
    val r = IgorIbw.read(p)
    assert(r.data.map(_.toLong).toSeq == grid.data.toSeq)
    assert(math.abs(r.axis(0)(0) - axes(0).midpoints(0)) < 1e-9)
  }

  test("BinnedGrid exports a 2D histogram to tiff and counts round-trip") {
    import org.apache.spark.sql.functions._
    import SparkTestSession._
    val axes = Seq(graft.binning.BinAxis("user", 10, 0.0, 200.0),
      graft.binning.BinAxis("value", 20, 0.0, 500.0))
    val grid = graft.binning.Binning.histogramGrid(Tables.events(spark, sfDir), Seq(
      col("user_id").cast("double") -> axes(0), col("value") -> axes(1)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_tiff")
    val p = tmp.resolve("hist.tiff").toString
    graft.binning.BinnedGrid.saveImage(grid, p)
    val img = graft.io.ImageSinks.readTiffGray32f(p)
    assert(img.length == 10 && img(0).length == 20)
    for (i <- 0 until 10; j <- 0 until 20)
      assert(img(i)(j).toLong == grid(i, j)) // counts < 2^24 exact in f32
    // png branch writes a valid scaled image of the same shape
    val pp = tmp.resolve("hist.png").toString
    graft.binning.BinnedGrid.saveImage(grid, pp)
    assert(graft.io.ImageSinks.readPng16Gray(pp).length == 10)
  }

  test("ARPES txt write/read round-trip") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_arpes")
    val d = ArpesTxt.ArpesData(
      matrix = Array(Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      energies = Array(10.5, 11.5),
      angles = Array(-5.0, 0.0, 5.0))
    val p = tmp.resolve("a.txt").toString
    ArpesTxt.write(p, d)
    val r = ArpesTxt.read(p)
    assert(r.energies.toSeq == Seq(10.5, 11.5))
    assert(r.angles.toSeq == Seq(-5.0, 0.0, 5.0))
    assert(r.matrix.map(_.toSeq).toSeq == d.matrix.map(_.toSeq).toSeq)
  }

  test("writeSorted: bounded files, in-file sort order, lossless content") {
    import SparkTestSession._
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val out = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    graft.io.Sources.writeSorted(docs, out, Seq("lang", "doc_id"),
      nPartitions = 4, maxRecordsPerFile = 50L)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length >= 4, s"expected >= 4 files, got ${files.length}")
    files.foreach { f =>
      val rows = spark.read.parquet(f)
        .select(col("lang"), col("doc_id")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.length <= 50, s"$f holds ${rows.length} rows > maxRecordsPerFile")
      assert(rows.sameElements(rows.sortBy(identity)),
        s"$f is not sorted by (lang, doc_id)")
    }
    // lossless: the union of all files is exactly the input
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val want = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
  }
}

class MatFileSpec extends AnyFunSuite {
  import graft.io.MatFile

  test("MAT5 write/read round-trip of multiple named arrays") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mat")
    val p = tmp.resolve("cal.mat").toString
    val edcs = MatFile.MatArray(Array.tabulate(6)(_.toDouble * 1.5), Seq(3, 2))
    val biases = MatFile.MatArray(Array(10.0, 20.0), Seq(2, 1))
    MatFile.write(p, Map("EDCs" -> edcs, "biases" -> biases))
    val got = MatFile.read(p)
    assert(got.keySet == Set("EDCs", "biases"))
    assert(got("EDCs").shape == Seq(3, 2))
    assert(got("EDCs").data.toSeq == edcs.data.toSeq)
    assert(got("biases").data.toSeq == Seq(10.0, 20.0))
    // column-major indexing
    assert(got("EDCs")(1, 1) == edcs.data(1 + 1 * 3))
  }

  test("MAT5 on-disk layout matches the published format (header tags, element types)") {
    // format-level checks: header endian tag, element tag layout
    val tmp = java.nio.file.Files.createTempDirectory("graft_mat2")
    val p = tmp.resolve("x.mat").toString
    MatFile.write(p, Map("v" -> MatFile.MatArray(Array(7.5), Seq(1, 1))))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(new String(bytes.slice(126, 128)) == "IM")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt(128) == 14) // miMATRIX
    assert(bb.getShort(124) == 0x0100)
  }
}
