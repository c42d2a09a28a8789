package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.text.SpanDedup

/** The span-dedup core ([[graft.text.SpanDedup]]): its one scrub
  * projection against a plain-Scala reference scrubber at all three
  * granularities, and the guard that keeps it the only copy.
  */
class SpanDedupSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def md5Of(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The semantics definition: the covered unit set is the union of
    * the windows at `starts`; (unit count, covered count, maximal
    * covered runs, md5 of the uncovered units re-joined). */
  private def reference(g: SpanDedup.Grain, text: String,
                        starts: Option[Seq[Int]]): (Int, Int, Int, String) = {
    val units: IndexedSeq[String] =
      if (g.textUnits) text.codePoints().toArray.toIndexedSeq.map(cp => new String(Character.toChars(cp)))
      else text.split(java.util.regex.Pattern.quote(g.sep), -1).toIndexedSeq
    val covered = starts.getOrElse(Nil).flatMap(p => p until p + g.window).toSet
    val kept = units.indices.filterNot(covered).map(units).mkString(g.sep)
    (units.length, covered.size, covered.count(c => !covered(c - 1)), md5Of(kept))
  }

  /** A random text of `g`'s units: empty and non-BMP units included,
    * none holding the separator. */
  private def unitsGen(g: SpanDedup.Grain): Gen[Seq[String]] = {
    val unit: Gen[String] =
      if (g.textUnits) Gen.oneOf("a", "b", " ", "\n", "é", "😀")
      else if (g.sep == " ") Gen.oneOf("the", "a", "spark", "", "😀x", "é")
      else Gen.oneOf("x y", "", "boiler plate", "z", "😀 tail")
    Gen.chooseNum(if (g.textUnits) 0 else 1, 30).flatMap(n => Gen.listOfN(n, unit))
  }

  /** Window starts over `n` units: null, empty, or an unsorted mix of
    * runs that are duplicated, overlapping, adjacent or gapped, biased
    * to the first and the last window. */
  private def startsGen(n: Int, w: Int): Gen[Option[Seq[Int]]] = {
    val empty = Gen.oneOf(None, Some(Seq.empty[Int]))
    if (n < w) empty
    else {
      val last = n - w
      val one = Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(last), 3 -> Gen.choose(0, last))
      val run = for {
        b <- one
        step <- Gen.oneOf(0, 1, w - 1, w, w + 1)
        len <- Gen.choose(1, 4)
      } yield (0 until len).map(i => math.min(b + i * step, last))
      val mixed = for {
        runs <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, run))
        flat = runs.flatten
        keys <- Gen.listOfN(flat.size, Gen.choose(0, 1 << 20))
      } yield Option(flat.zip(keys).sortBy(_._2).map(_._1))
      Gen.frequency(1 -> empty, 4 -> mixed)
    }
  }

  test("scrub projection == reference scrubber at every granularity, batch and streaming keys") {
    val grains = Seq(SpanDedup.tokens(2, portableHash = true), SpanDedup.tokens(5, portableHash = true),
      SpanDedup.chars(2, portableHash = true), SpanDedup.chars(4, portableHash = true),
      SpanDedup.paragraphs)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    for ((g, gi) <- grains.zipWithIndex; sample <- 0 until 3) {
      val cases = (0 until 120).map { d =>
        val s = Seed(100000L * gi + 1000L * sample + d)
        val units = unitsGen(g)(Gen.Parameters.default, s).get
        val starts = startsGen(units.size, g.window)(Gen.Parameters.default, s.next).get
        (d.toLong, units.mkString(g.sep), starts)
      }
      val want = cases.map { case (id, t, st) => id -> reference(g, t, st) }.toMap
      assert(want.values.exists(_._3 > 1) && want.values.exists(_._2 == 0),
        s"${g.count} sample $sample: the fixture must hold multi-span and untouched rows")
      val df = cases.toDF("doc_id", "text", "starts").withColumn(g.unit, g.units)
      val forms = Seq(
        Seq("doc_id") -> df,
        Seq("batch_id", "ts") -> df.withColumn("batch_id", col("doc_id")).withColumn("ts", lit(ts)))
      for ((keys, in) <- forms) {
        val out = SpanDedup.scrub(g, in, keys)
        assert(out.columns.toSeq == keys ++ Seq(g.count, "n_removed") ++
          (if (g.spans) Seq("n_spans") else Nil) :+ "clean_hash")
        val got = out.collect().map { r =>
          r.getLong(0) -> ((r.getAs[Int](g.count), r.getAs[Int]("n_removed"),
            if (g.spans) r.getAs[Int]("n_spans") else -1, r.getAs[String]("clean_hash")))
        }.toMap
        val expected = if (g.spans) want else want.map { case (k, v) => k -> v.copy(_3 = -1) }
        val bad = expected.filter { case (k, v) => !got.get(k).contains(v) }
        assert(bad.isEmpty, s"${g.count} w=${g.window} keys=$keys sample $sample: " +
          bad.take(3).map { case (k, v) => s"row $k ${cases(k.toInt)}: got ${got.get(k)} want $v" }.mkString("; "))
      }
    }
  }

  test("gate == batch index probe at every granularity, window-less and null-text documents included") {
    // the gate's plan minus the stream: on a static frame the watermark
    // is a no-op, so its rows must equal the batch composition's
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val corpus = Seq((0L, "a b c d\nshared para\ne f"), (1L, "x y z w v")).toDF("doc_id", "text")
    val batch = Seq[(Long, String)]((10L, "a b c d q\nshared para"), (11L, "x y"),
      (12L, ""), (13L, null), (14L, "nothing known here")).toDF("doc_id", "text")
    val grains = Seq(SpanDedup.tokens(3, portableHash = true),
      SpanDedup.chars(4, portableHash = true), SpanDedup.paragraphs)
    for (g <- grains) {
      val want = SpanDedup.against(g, batch.withColumnRenamed("doc_id", g.key),
        corpus.withColumnRenamed("doc_id", g.key), None)
      val got = SpanDedup.gate(g, batch.withColumn("ts", lit(ts)),
        SpanDedup.index(g, corpus, None), "1 minute")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.drop("ts").collect().map(r => r.toSeq.map(Option(_))).toSet
      assert(rows(want).exists(_(2).contains(0)) && rows(want).exists(r => r(2).exists(_ != 0)),
        s"${g.count}: the fixture must hold matched and unmatched documents")
      assert(rows(got) == rows(want), s"${g.count}: gate ${rows(got)} vs batch ${rows(want)}")
    }
  }

  test("the scrub sweep lives only in SpanDedup.scala; no per-element probe anywhere") {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    def holders(piece: String): Seq[String] =
      sources.collect { case (p, text) if text.contains(piece) => p.getFileName.toString }.toSeq
    Seq("array_sort(coalesce(starts", "zip_with(ss, nxt").foreach { piece =>
      assert(holders(piece) == Seq("SpanDedup.scala"),
        s"'$piece' must be written once, in graft.text.SpanDedup; found in: ${holders(piece).mkString(", ")}")
    }
    // the quadratic rebuild: one membership probe of the removed set per
    // unit, len² on a fully-duplicated long document
    Seq("array_contains(coalesce(removed", "array_contains(coalesce(covered", "array_contains(covered")
      .foreach { piece =>
        assert(holders(piece).isEmpty,
          s"'$piece' is the per-element scrub probe; found in: ${holders(piece).mkString(", ")}")
      }
  }
}
