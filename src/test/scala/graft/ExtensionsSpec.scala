package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.binning.{BinAxis, Binning}

class ExtensionsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("nd_histogram registered on the SQL surface equals the relational path") {
    GraftExtensions.register(spark)
    Tables.events(spark, sfDir).createOrReplaceTempView("ev")
    val dense = spark.sql(
      "SELECT nd_histogram(value, 50, 0.0, 500.0) AS grid FROM ev")
      .collect()(0).getSeq[Long](0)
    val ax = BinAxis("value", 50, 0.0, 500.0)
    val rel = Binning.histogramNd(Tables.events(spark, sfDir), Seq(col("value") -> ax))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(dense.length == 50)
    (0 until 50).foreach(i => assert(dense(i) == rel.getOrElse(i, 0L), s"bin $i"))
  }

  test("nd_histogram casts non-double columns (bigint user_id) correctly") {
    GraftExtensions.register(spark)
    Tables.events(spark, sfDir).createOrReplaceTempView("ev")
    val dense = spark.sql(
      "SELECT nd_histogram(user_id, 40, 0.0, 200.0) AS grid FROM ev")
      .collect()(0).getSeq[Long](0)
    val ax = BinAxis("user", 40, 0.0, 200.0)
    val rel = Binning.histogramNd(Tables.events(spark, sfDir),
      Seq(col("user_id").cast("double") -> ax))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(dense.sum > 0, "all counts zero — bigint column was bit-reinterpreted")
    (0 until 40).foreach(i => assert(dense(i) == rel.getOrElse(i, 0L), s"bin $i"))
  }

  test("mg_candidates on the SQL surface covers every true heavy hitter") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .createOrReplaceTempView("mg_toks")
    val cands = spark.sql("SELECT mg_candidates(tok, 511) AS c FROM mg_toks")
      .collect()(0).getSeq[String](0).toSet
    val freqs = spark.table("mg_toks").groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val n = freqs.map(_._2).sum
    val heavy = freqs.filter(_._2 * 512 > n).map(_._1).toSet
    assert(heavy.nonEmpty, "fixture must have heavy tokens")
    assert(heavy.subsetOf(cands),
      s"MG guarantee violated: missing ${heavy -- cands}")
    // the sketch is k-bounded
    assert(cands.size <= 511)
    // malformed arg lists fail loudly
    intercept[Exception] {
      spark.sql("SELECT mg_candidates(tok) FROM mg_toks").collect()
    }
  }

  test("qdot_e12 registered on the SQL surface equals the Scala kernel") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      """SELECT qdot_e12(CAST(array(1.5, -2.0) AS ARRAY<FLOAT>),
        |                CAST(array(0.5, 3.25) AS ARRAY<FLOAT>)) AS d""".stripMargin)
      .collect()(0).getLong(0)
    // 1.5*0.5*1e12 = 7.5e11; -2.0*3.25*1e12 = -6.5e12 -> sum -5.75e12
    assert(got == 750000000000L - 6500000000000L)
    // on the embeddings table: norm via SQL == norm via the query surface
    val sqlNorms = spark.sql(
      s"SELECT vec_id, qdot_e12(embedding, embedding) AS n FROM parquet.`$sfDir/embeddings.parquet`")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val apiNorms = graft.sim.SimilarityQueries.queries("emb_norms")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sqlNorms == apiNorms)
  }

  test("blocklist_stats registered on the SQL surface equals the Scala path") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sfDir).createOrReplaceTempView("bl_docs")
    val sql = spark.sql(
      "SELECT doc_id, blocklist_stats(text, 'dup', 'slow query', 'big data', 'a a') AS s FROM bl_docs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val api = graft.text.TextQueries.blocklistFilter(
      Tables.documents(spark, sfDir), Seq("dup", "slow query", "big data", "a a"))
      .collect().map(r => r.getLong(0) -> Seq(r.getInt(1), r.getInt(2))).toMap
    assert(sql == api)
    // non-literal phrase args fail loudly
    intercept[Exception] {
      spark.sql("SELECT blocklist_stats(text, text) FROM bl_docs").collect()
    }
  }

  test("nd_histogram rejects malformed argument lists") {
    GraftExtensions.register(spark)
    Tables.events(spark, sfDir).createOrReplaceTempView("ev")
    val e = intercept[Exception] {
      spark.sql("SELECT nd_histogram(value, 50, 0.0) FROM ev").collect()
    }
    assert(e.getMessage.contains("nd_histogram") || e.getCause != null)
    // lo > hi, lo == hi and nbins = 0 are refused by BinAxis, naming the axis
    for (axis <- Seq("4, 5.0, 1.0", "4, 1.0, 1.0", "0, 0.0, 1.0")) {
      val bad = intercept[Exception] {
        spark.sql(s"SELECT nd_histogram(v, $axis) FROM VALUES (2.0), (3.0), (CAST('NaN' AS DOUBLE)) t(v)")
          .collect()
      }
      assert(bad.getMessage.contains("bad axis t.v"), s"($axis): ${bad.getMessage}")
    }
  }
}

/** Property-based invariants of the histogram core (SURVEY.md §5 test
  * plan): Σcounts = #in-range rows; invariance under partition count.
  */
class BinningPropertySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val dataGen = Gen.listOfN(300, Gen.chooseNum(-50.0, 150.0))
  private def samples(n: Int): Seq[List[Double]] =
    (0 until n).map(i => dataGen(Gen.Parameters.default, Seed(42L + i)).get)

  test("sum of counts equals in-range rows for arbitrary data") {
    for (xs <- samples(10)) {
      val ax = BinAxis("v", 10, 0.0, 100.0)
      val total = Binning.histogramNd(xs.toDF("v"), Seq(col("v") -> ax))
        .agg(sum("cnt")).collect()(0)
      val got = if (total.isNullAt(0)) 0L else total.getLong(0)
      assert(got == xs.count(x => x >= 0.0 && x < 100.0))
    }
  }

  test("histogram invariant under partitioning for arbitrary data") {
    for (xs <- samples(5)) {
      val ax = BinAxis("v", 7, 0.0, 100.0)
      def run(parts: Int) =
        Binning.histogramNd(xs.toDF("v").repartition(parts), Seq(col("v") -> ax))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(run(1) == run(5))
    }
  }
}
