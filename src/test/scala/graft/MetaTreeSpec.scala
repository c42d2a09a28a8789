package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.binning.{BinAxis, BinnedGrid, Binning, MetaNode, MetaTree}
import graft.binning.MetaNode._
import org.apache.spark.sql.functions._

/** Nested metadata-tree sidecar parity (`gather_metadata`,
  * `fprocessing.py:2488-2689`; recursive write `fprocessing.py:
  * 3392-3415`): the tree assembles timing + file attrs + binning spec +
  * instrument config resolution, writes through `BinnedGrid.save`, and
  * round-trips losslessly with grouped keys mirroring the reference's
  * HDF5 group layout.
  */
class MetaTreeSpec extends AnyFunSuite {
  import SparkTestSession._

  test("non-finite doubles round-trip through render/parse/num") {
    val tree = MObj.of(
      "nan" -> MNum(Double.NaN),
      "pinf" -> MNum(Double.PositiveInfinity),
      "ninf" -> MNum(Double.NegativeInfinity))
    val back = MetaTree.parse(MetaTree.render(tree)).asInstanceOf[MObj]
    assert(back.num("nan").isNaN)
    assert(back.num("pinf") == Double.PositiveInfinity)
    assert(back.num("ninf") == Double.NegativeInfinity)
  }

  private def ts(s: String): Long =
    java.time.LocalDateTime.parse(s).toEpochSecond(java.time.ZoneOffset.UTC)

  /** 16 electrode voltages of lens mode 6kV_kmodem4.0_20VTOF_v3.sav
    * (`InstrumentConfig.lensModeRows`), optionally perturbed. */
  private def lensAttrs(scale: Double): Seq[(String, MetaNode)] = {
    val vs = graft.config.InstrumentConfig.lensModeRows
      .collectFirst { case ("6kV_kmodem4.0_20VTOF_v3.sav", v) => v }.get
    MetaTree.lensList.zip(vs).map { case (l, v) => s"KTOF:Lens:$l:V" -> MNum(v * scale) }
  }

  test("JSON render/parse round-trips every node type") {
    val tree = MObj.of(
      "s" -> MStr("quote \" backslash \\ tab \t newline \n unicode  done"),
      "i" -> MInt(-42L),
      "f" -> MNum(3.5e-4),
      "b" -> MBool(true),
      "z" -> MNull,
      "arr" -> MArr(Seq(MInt(1), MStr("two"), MArr(Nil), MObj(Nil))),
      "nested" -> MObj.of("deep" -> MObj.of("deeper" -> MArr(Seq(MNum(1.5), MBool(false))))))
    assert(MetaTree.parse(MetaTree.render(tree)) == tree)
    // insertion order survives (the reference's dict-order groups)
    val parsed = MetaTree.parse(MetaTree.render(tree)).asInstanceOf[MObj]
    assert(parsed.fields.map(_._1) == tree.fields.map(_._1))
  }

  test("non-finite doubles round-trip as the documented string form") {
    val t = MObj.of("nan" -> MNum(Double.NaN))
    val back = MetaTree.parse(MetaTree.render(t)).asInstanceOf[MObj]
    assert(back("nan") == MStr("NaN"))
    assert(back.num("nan").isNaN)
  }

  test("gather assembles the reference's tree: timing, VSet rename, aperture as-of, lens mode") {
    val attrs = lensAttrs(1.003) ++ Seq( // within the 0.5% rtol
      "KTOF:Apertures:m1.RBV" -> MNum(-2.0),
      "KTOF:Apertures:m2.RBV" -> MNum(-5.0),
      "KTOF:Apertures:m3.RBV" -> MNum(8.2),
      "Sample:BiasVSet" -> MNum(30.0)) // exercises the VSet -> V rename
    val axes = Seq(BinAxis("user", 40, 0.0, 200.0), BinAxis("value", 100, 0.0, 500.0))
    val tree = MetaTree.gather(
      ts("2019-06-01T12:00:00"), ts("2019-06-01T12:30:00"),
      attrs, "run_0042", axes,
      userMeta = Seq("comment" -> MStr("manual entry")))

    val timing = tree.obj("timing")
    assert(timing.str("acquisition_start") == "2019-06-01T12:00:00+00:00")
    assert(timing.str("acquisition_stop") == "2019-06-01T12:30:00+00:00")
    assert(timing.int("acquisition_duration") == 1800L)
    assert(timing("collection_time") == MNum(1800.0))

    val file = tree.obj("file")
    assert(file("Sample:BiasV") == MNum(30.0), "VSet must rename to V")
    assert(file.get("Sample:BiasVSet").isEmpty)

    assert(tree.str("entry_identifier") == "run_0042")
    val binning = tree.obj("binning")
    assert(binning("binaxes") == MArr(Seq(MStr("user"), MStr("value"))))
    assert(binning("nbins") == MArr(Seq(MInt(40), MInt(100))))
    assert(binning("ranges") == MArr(Seq(
      MArr(Seq(MNum(0.0), MNum(200.0))), MArr(Seq(MNum(0.0), MNum(500.0))))))

    // 2019 start -> the 2018-01-23 aperture epoch is in force:
    // fa (-2.0, -5.0) sits in the '750' window, ca 8.2 in the '50' window
    val an = tree.obj("instrument").obj("analyzer")
    assert(an("fa_size") == MNum(750.0) && an("ca_size") == MNum(50.0))
    assert(an("fa_shape") == MStr("circle") && an("ca_shape") == MStr("circle"))
    assert(an.str("lens_mode") == "6kV_kmodem4.0_20VTOF_v3.sav")
    assert(an.str("projection") == "reciprocal") // kmode -> reciprocal

    // manual metadata rides first and is never overwritten
    assert(tree.fields.head == ("comment" -> MStr("manual entry")))
  }

  test("aperture as-of selection switches epochs; non-numeric label lands in fa_shape") {
    // 2021 start -> the 2020-01-23 epoch; fa (-5.0, -0.5) hits 'grid'
    val tree = MetaTree.gather(
      ts("2021-03-01T00:00:00"), ts("2021-03-01T01:00:00"),
      Seq("KTOF:Apertures:m1.RBV" -> MNum(-5.0),
        "KTOF:Apertures:m2.RBV" -> MNum(-0.5),
        "KTOF:Apertures:m3.RBV" -> MNum(10.0)),
      "run_2021", Seq(BinAxis("value", 10, 0.0, 1.0)))
    val an = tree.obj("instrument").obj("analyzer")
    assert(an("fa_shape") == MStr("grid"), "non-numeric label is a shape, not a size")
    assert(an.num("fa_size").isNaN, "no numeric fa window matched")
    assert(an("ca_size") == MNum(50.0)) // 2020 epoch ca '50' = (9.0, 11.0)
    assert(MetaTree.apertureEpochAsOf(ts("2019-01-01T00:00:00")) == "2018-01-23T19:35:15")
    assert(MetaTree.apertureEpochAsOf(ts("2021-01-01T00:00:00")) == "2020-01-23T19:35:15")
  }

  test("lens mode: no match outside the 0.5% tolerance; spatial modes project real") {
    val off = MetaTree.gather(0L, 1L, lensAttrs(1.05), "x", Nil)
    val an = off.obj("instrument").obj("analyzer")
    assert(an.get("lens_mode").isEmpty && an.get("projection").isEmpty)

    val spatialVs = graft.config.InstrumentConfig.lensModeRows
      .collectFirst { case ("6kV_spatialx4_110mumFOV_20VTOF.sav", v) => v }.get
    val spatial = MetaTree.gather(0L, 1L,
      MetaTree.lensList.zip(spatialVs).map { case (l, v) => s"KTOF:Lens:$l:V" -> MNum(v) },
      "x", Nil)
    assert(spatial.obj("instrument").obj("analyzer").str("projection") == "real")
  }

  test("BinnedGrid.save writes the nested tree and load round-trips it") {
    val axes = Seq(BinAxis("user", 40, 0.0, 200.0), BinAxis("value", 100, 0.0, 500.0))
    val grid = Binning.histogramGrid(Tables.events(spark, sfDir),
      Seq(col("user_id").cast("double") -> axes(0), col("value") -> axes(1)))

    val tree = MetaTree.gather(
      ts("2019-06-01T12:00:00"), ts("2019-06-01T12:30:00"),
      lensAttrs(1.0) ++ Seq(
        "KTOF:Apertures:m1.RBV" -> MNum(-2.0),
        "KTOF:Apertures:m2.RBV" -> MNum(-5.0),
        "KTOF:Apertures:m3.RBV" -> MNum(8.2)),
      s"$sfDir/events.parquet", axes)

    val tmp = java.nio.file.Files.createTempDirectory("graft_meta_tree").toString
    BinnedGrid.save(grid, spark, tmp, meta = Some(tree))
    val loadedGrid = BinnedGrid.load(spark, tmp)
    assert(loadedGrid.axes == grid.axes && loadedGrid.data.toSeq == grid.data.toSeq)

    val back = BinnedGrid.loadMeta(tmp).get
    assert(back == tree, "nested tree must round-trip losslessly")
    // grouped layout mirrors the reference's metadata/<group>/<key> HDF5 tree
    assert(back.fields.map(_._1) ==
      Seq("timing", "file", "entry_identifier", "binning", "instrument"))
    assert(back.obj("instrument").obj("analyzer").str("lens_mode")
      == "6kV_kmodem4.0_20VTOF_v3.sav")
    assert(back.obj("binning")("axes").asInstanceOf[MArr].items.size == 2)
  }

  test("legacy flat sidecars parse as one-level trees (loadMeta) and via loadMetadata") {
    val grid = BinnedGrid(Array.fill(4)(1L), Seq(BinAxis("value", 4, 0.0, 4.0)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_meta_flat").toString
    // every JSON escape the writer emits: quote, backslash, newline,
    // carriage return, tab and a bare control character (U+0001)
    val note = "line 1\nline 2\r\tC:\\data \u0001 end"
    BinnedGrid.save(grid, spark, tmp, metadata = Map("run" -> "demo \"42\"", "note" -> note))
    assert(BinnedGrid.loadMetadata(tmp) == Map("run" -> "demo \"42\"", "note" -> note))
    assert(BinnedGrid.loadMeta(tmp).get("run") == MStr("demo \"42\""))
    assert(BinnedGrid.loadMeta(tmp).get("note") == MStr(note))
  }
}
