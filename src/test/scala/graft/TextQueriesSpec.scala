package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.TextQueries
import graft.ops.Components

/** Survivor-policy and singleton-path pins for the dedup
  * materialization step ([[TextQueries.dedupKeep]]).
  */
class TextQueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  private def keepSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val labelMap: Map[Long, Long] = {
    val pairs = TextQueries.queries("dedup_lsh_pairs")(spark, sfDir)
      .select(col("d1"), col("d2"))
    Components.connectedComponents(pairs, "d1", "d2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("explicit keepBy=doc_id ascending equals the default min-doc_id fast path") {
    val fast = keepSet(TextQueries.dedupKeep(docs))
    val generic = keepSet(TextQueries.dedupKeep(docs, keepBy = Some(col("doc_id"))))
    assert(labelMap.nonEmpty, "fixture must produce clusters")
    assert(generic == fast)
  }

  test("quality-keyed survivor policy keeps the best doc per cluster (longest text)") {
    val got = keepSet(TextQueries.dedupKeep(docs,
      keepBy = Some(length(col("text"))), ascending = false))
    // driver-side expectation: per cluster keep max length, ties to the
    // smaller doc_id; singletons (never labeled) always survive
    val lens = docs.select(col("doc_id"), length(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = labelMap.groupBy(_._2).values.map { members =>
      members.keys.maxBy(id => (lens(id), -id))
    }.toSet
    val expected = (lens.keySet -- labelMap.keySet) ++ survivors
    assert(got == expected)
    assert(got.size == keepSet(TextQueries.dedupKeep(docs)).size,
      "policy changes WHICH doc survives, never HOW MANY")
  }

  test("dedup_keep survivors == connectedComponentsTotal self-labeled set (singleton-path parity)") {
    // the canonical broadcast-anti path and the explicit total-labeling
    // API must agree on the survivor set — pinned so the two singleton
    // paths cannot drift (total labels: every doc gets a row; survivors
    // are exactly the self-labeled ones)
    val pairs = TextQueries.queries("dedup_lsh_pairs")(spark, sfDir)
      .select(col("d1"), col("d2"))
    val total = Components.connectedComponentsTotal(pairs, "d1", "d2", docs, "doc_id")
    val viaTotal = total.filter(col("node") === col("component"))
      .select(col("node")).collect().map(_.getLong(0)).toSet
    val viaAnti = keepSet(SparkEntry.queries("dedup_keep")(spark, sfDir))
    assert(total.count() == docs.count(), "total labeling must cover the universe")
    assert(viaAnti == viaTotal)
  }

  // ---- Gopher/C4-style quality filter + n-gram repetition ----

  test("qualityStats: hand-computed metrics and keep flag") {
    import spark.implicits._
    // 24 words: 4 distinct stopwords + "x y" x 10; vocab {the,a,of,and,x,y}
    val text = "the a of and " + Seq.fill(10)("x y").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextQueries.qualityStats(df).collect()(0)
    assert(r.getAs[Int]("n_words") === 24)
    val expMean = (text.length - 23).toDouble / 24
    assert(r.getAs[Double]("mean_word_len") === expMean)
    assert(r.getAs[Double]("frac_distinct") === 6.0 / 24)
    assert(r.getAs[Int]("stop_distinct") === 4)
    // frac_distinct 0.25 < 0.35 → dropped despite passing everything else
    assert(!r.getAs[Boolean]("keep"))
  }

  test("qualityStats: a diverse doc with stopwords is kept") {
    import spark.implicits._
    val text = (1 to 19).map(i => s"word$i").mkString("the ", " ", "")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextQueries.qualityStats(df).collect()(0)
    assert(r.getAs[Int]("n_words") === 20)
    assert(r.getAs[Int]("stop_distinct") === 1)
    assert(r.getAs[Boolean]("keep"))
  }

  test("repetitionSignals: the Gopher trio in one pass, hand-computed") {
    import spark.implicits._
    val df = Seq(
      // bigrams (a b),(b a),(a b),(b a),(a b): 5 total, 2 distinct → 3/5
      // trigrams (a b a),(b a b),(a b a),(b a b): 4 total, 2 distinct → 1/2
      // 4-grams (a b a b),(b a b a),(a b a b): 3 total, 2 distinct → 1/3
      (1L, "a b a b a b"),
      (2L, "x y"), // only bigrams exist; one instance → 0.0; n=3,4 → 0.0
      (3L, "w")    // too short for every order → all 0.0
    ).toDF("doc_id", "text")
    val rows = TextQueries.repetitionSignals(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Double]("dup_frac_2") === 3.0 / 5)
    assert(rows(1L).getAs[Double]("dup_frac_3") === 2.0 / 4)
    assert(rows(1L).getAs[Double]("dup_frac_4") === 1.0 / 3)
    assert(rows(2L).getAs[Double]("dup_frac_2") === 0.0)
    assert(rows(2L).getAs[Double]("dup_frac_3") === 0.0)
    assert(rows(3L).getAs[Double]("dup_frac_2") === 0.0)
  }

  test("repetitionSignals dup_frac_2 == topNgram dup_gram_frac on the corpus") {
    // the per-row one-pass form must agree with the shuffle-based
    // per-gram-count form on the signal they share
    val rep = TextQueries.repetitionSignals(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_frac_2")).toMap
    val top = TextQueries.topNgram(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_gram_frac")).toMap
    assert(top.nonEmpty)
    top.foreach { case (id, f) =>
      assert(rep(id) == f, s"doc $id: per-row ${rep(id)} vs counted $f") }
  }

  test("packChunks: hand-computed slices, straddles, and long-doc spans") {
    import spark.implicits._
    // token counts 3, 4, 9 laid head-to-tail, budget 5:
    //   doc 1 spans [0,3)            → chunk 0 slice [0,3)
    //   doc 2 spans [3,7)            → chunk 0 slice [0,2), chunk 1 slice [2,4)
    //   doc 3 spans [7,16) (> budget)→ chunk 1 [0,3), chunk 2 [3,8), chunk 3 [8,9)
    val df = Seq(
      (1L, "a b c"),
      (2L, "d e f g"),
      (3L, "h i j k l m n o p")).toDF("doc_id", "text")
    val got = TextQueries.packChunks(df, budget = 5L, chunkWidth = 2L)
      .collect()
      .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Long]("doc_id"))
        -> (r.getAs[Long]("off_start"), r.getAs[Long]("off_len"))).toMap
    assert(got == Map(
      (0L, 1L) -> (0L, 3L),
      (0L, 2L) -> (0L, 2L), (1L, 2L) -> (2L, 2L),
      (1L, 3L) -> (0L, 3L), (2L, 3L) -> (3L, 5L), (3L, 3L) -> (8L, 1L)))
  }

  test("packChunks invariants on the corpus: full chunks, tiling doc slices") {
    val budget = 512L
    val packed = TextQueries.packChunks(docs, budget).collect()
      .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("off_start"), r.getAs[Long]("off_len")))
    // every chunk except the last holds exactly `budget` tokens
    val byChunk = packed.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val lastChunk = byChunk.keys.max
    byChunk.foreach { case (c, tot) =>
      if (c != lastChunk) assert(tot == budget, s"chunk $c holds $tot tokens")
      else assert(tot >= 1 && tot <= budget)
    }
    // per doc, the slices tile [0, n_tokens) without gap or overlap
    val lens = docs.select(col("doc_id"),
      TextQueries.wsTokenCount("text").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    packed.groupBy(_._2).foreach { case (d, slices) =>
      val sorted = slices.sortBy(_._3)
      assert(sorted.head._3 == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3, s"doc $d gap at ${b._3}")
        case _ =>
      }
      assert(sorted.map(_._4).sum == lens(d), s"doc $d slices != n_tokens")
    }
    // chunk ids are assigned in doc order: a later doc never lands in
    // an earlier chunk than any earlier doc's last chunk
    val lastPerDoc = packed.groupBy(_._2).view.mapValues(_.map(_._1).max).toMap
    val firstPerDoc = packed.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    lastPerDoc.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) => assert(firstPerDoc(b) >= lastPerDoc(a))
      case _ =>
    }
  }

  test("topNgram: counts, repetition fractions, and deterministic tie-break") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b c"), // bigrams: "a b" x2, "b a", "b c" → top "a b"
      (2L, "x y y x")    // all bigrams unique → tie broken to smallest gram
    ).toDF("doc_id", "text")
    val rows = TextQueries.topNgram(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = rows(1L)
    assert(r1.getAs[String]("top_gram") === "a b")
    assert(r1.getAs[Long]("top_cnt") === 2L)
    assert(r1.getAs[Long]("n_grams") === 4L)
    assert(r1.getAs[Long]("n_distinct_grams") === 3L)
    assert(r1.getAs[Double]("dup_gram_frac") === 1.0 / 4)
    assert(r1.getAs[Double]("top_char_frac") === (2 * 3).toDouble / 9)
    val r2 = rows(2L)
    assert(r2.getAs[String]("top_gram") === "x y",
      "count ties must break to the lexicographically smallest gram")
    assert(r2.getAs[Double]("dup_gram_frac") === 0.0)
  }

  test("topNgram: trigrams via the generalized builder; single-word docs drop out") {
    import spark.implicits._
    val df = Seq((1L, "a b a b a"), (2L, "solo")).toDF("doc_id", "text")
    val rows = TextQueries.topNgram(df, n = 3).collect()
    assert(rows.length === 1, "a doc shorter than n has no n-grams")
    val r = rows(0)
    // trigrams: "a b a" x2, "b a b" → top "a b a"
    assert(r.getAs[String]("top_gram") === "a b a")
    assert(r.getAs[Long]("top_cnt") === 2L)
    assert(r.getAs[Long]("n_grams") === 3L)
  }

  test("random docs match a driver-side brute-force top-ngram oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val rdocs = (0L until 40L).map { id =>
      val n = 2 + rnd.nextInt(30)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    def expect(text: String): (String, Long, Long, Long) = {
      val grams = text.split(" ").sliding(2).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).map { case (g, o) => g -> o.size.toLong }
      val (topGram, topCnt) = counts.toSeq.minBy { case (g, c) => (-c, g) }
      (topGram, topCnt, grams.size.toLong, counts.size.toLong)
    }
    val got = TextQueries.topNgram(rdocs.toDF("doc_id", "text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("top_gram"), r.getAs[Long]("top_cnt"),
          r.getAs[Long]("n_grams"), r.getAs[Long]("n_distinct_grams"))).toMap
    rdocs.foreach { case (id, text) =>
      assert(got(id) == expect(text), s"doc $id: '$text'")
    }
  }

  test("BPE-ish token count splits contractions, digits, and punctuation") {
    import spark.implicits._
    val df = Seq(
      (1L, "don't stop-gap 99 bowls"), // don|'t|( stop|-|gap)|( 99)|( bowls) = 7
      (2L, "plain words only"),        // coincides with whitespace count = 3
      (3L, "a1b2")                     // a|1|b|2 = 4
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextQueries.wsTokenCount("text").as("ws"),
      TextQueries.bpeishTokenCount("text").as("bpe"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(got(1L) === (4, 7))
    assert(got(2L) === (3, 3))
    assert(got(3L) === (1, 4))
  }

  test("BPE-ish pattern is cross-engine safe on the corpus (no lookahead, leftmost-first)") {
    // on the plain-word synthetic corpus the two counts coincide —
    // pinned so a pattern edit that breaks RE2 parity shows up here
    val diff = docs.select(
      TextQueries.wsTokenCount("text").as("ws"),
      TextQueries.bpeishTokenCount("text").as("bpe"))
      .filter(col("ws") =!= col("bpe")).count()
    assert(diff === 0L)
  }

  // ---- incremental dedup: batch vs existing corpus ----

  test("lshPairsAgainst finds the batch dup and ranks the best corpus match first") {
    import spark.implicits._
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (0L, base),                                          // exact target
      (2L, ((1 to 11).map(i => s"w$i") :+ "zz").mkString(" ")), // near-dup
      (4L, (1 to 12).map(i => s"q$i").mkString(" ")))      // unrelated
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, base),                                          // dup of 0 (and near 2)
      (3L, (1 to 12).map(i => s"z$i").mkString(" ")))      // novel
      .toDF("doc_id", "text")
    val got = TextQueries.lshPairsAgainst(batch, corpus).collect()
    assert(got.length === 1, "one row per duplicated batch doc, novel docs absent")
    assert(got(0).getAs[Long]("batch_id") === 1L)
    assert(got(0).getAs[Long]("dup_of") === 0L, "exact match must outrank the near-dup")
    assert(got(0).getAs[Double]("jaccard") === 1.0)
  }

  test("lshPairsAgainst with pre-materialized corpus bands is identical") {
    import spark.implicits._
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val fresh = TextQueries.lshPairsAgainst(batch, corpus).collect().toSet
    val preBands = TextQueries.bandSignatures(corpus)
    val viaIndex = TextQueries.lshPairsAgainst(batch, corpus,
      corpusBands = Some(preBands)).collect().toSet
    assert(fresh.nonEmpty, "fixture must produce incremental matches")
    assert(viaIndex == fresh)
  }

  // ---- benchmark decontamination + training-mix allocation ----

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "x a b c d e y z w v"),   // contains benchmark 5-gram "a b c d e"
      (11L, "p q r s t u v w x y"),   // clean
      (12L, "a b c x d e f g h i")    // shares words but no 5-gram
    ).toDF("doc_id", "text")
    val got = TextQueries.decontaminate(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(11L, 12L))
  }

  test("corpusMix keeps floor(budget x weight) per language, best score first") {
    import spark.implicits._
    val df = (1L to 10L).map(i =>
      (i, if (i <= 6) "en" else "de", s"t$i", i * 10)) // score = 10..100
      .toDF("doc_id", "lang", "text", "n_chars")
    val got = TextQueries.corpusMix(df,
      Map("en" -> 0.3, "de" -> 0.2), budget = 10L, score = col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // en: k=3 → top scores are docs 6,5,4; de: k=2 → docs 10,9
    assert(got === Set((6L, "en", 1), (5L, "en", 2), (4L, "en", 3),
      (10L, "de", 1), (9L, "de", 2)))
  }

  test("corpusMix ties on score break to the smaller doc_id") {
    import spark.implicits._
    val df = Seq((3L, "en", "t", 50), (1L, "en", "t", 50), (2L, "en", "t", 50))
      .toDF("doc_id", "lang", "text", "n_chars")
    val got = TextQueries.corpusMix(df, Map("en" -> 0.2), budget = 10L,
      score = col("n_chars")).collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(got === Set((1L, 1), (2L, 2)))
  }

  test("corpus_clean == manual stage composition (decontaminate, quality, dedup)") {
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 10)
    val got = keepSet(TextQueries.corpusClean(corpus, bench))
    // stage-by-stage driver-side composition through the public API
    val afterDecon = TextQueries.decontaminate(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val passQuality = TextQueries.qualityStats(corpus).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stage2 = corpus.filter(col("doc_id").isin((afterDecon & passQuality).toSeq: _*))
    val want = keepSet(TextQueries.dedupKeep(stage2))
    assert(want.nonEmpty && want.size < corpus.count())
    assert(got == want)
  }

  test("repetitionKeep == thresholds applied to repetitionSignals") {
    val sig = TextQueries.repetitionSignals(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("dup_frac_2"), r.getAs[Double]("dup_frac_3"),
          r.getAs[Double]("dup_frac_4"))).toMap
    val keep = docs.select(col("doc_id"), TextQueries.repetitionKeep().as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keep.size == sig.size)
    keep.foreach { case (id, k) =>
      val (d2, d3, d4) = sig(id)
      assert(k == (d2 <= 0.20 && d3 <= 0.18 && d4 <= 0.16), s"doc $id")
    }
  }

  test("corpusClean extraFilter composes repetitionKeep into the quality stage") {
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 10)
    val got = keepSet(TextQueries.corpusClean(corpus, bench,
      extraFilter = Some(TextQueries.repetitionKeep())))
    val afterDecon = TextQueries.decontaminate(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val passQuality = TextQueries.qualityStats(corpus).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val passRep = corpus.filter(TextQueries.repetitionKeep())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stage2 = corpus.filter(
      col("doc_id").isin((afterDecon & passQuality & passRep).toSeq: _*))
    val want = keepSet(TextQueries.dedupKeep(stage2))
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("txt_quality splits the corpus non-degenerately") {
    val out = TextQueries.queries("txt_quality")(spark, sfDir)
    val kept = out.filter(col("keep")).count()
    val total = out.count()
    assert(kept > 0 && kept < total,
      s"keep flag is degenerate: $kept of $total")
  }

  // ---- unigram LM scoring ----

  test("unigramScore: hand-computed corpus-unigram NLL") {
    import spark.implicits._
    // counts: a=2, b=2, c=3; tot=7
    val d = Seq((1L, "a a b"), (2L, "b c c c")).toDF("doc_id", "text")
    val got = TextQueries.unigramScore(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp1 = r6(-math.log(2.0 / 7)) // all three tokens have count 2
    val exp2 = r6((-math.log(2.0 / 7) - 3 * math.log(3.0 / 7)) / 4)
    assert(got(1L) == ((3L, exp1)))
    assert(got(2L) == ((4L, exp2)))
  }

  test("unigramScore topV: out-of-vocabulary tokens score with the OOV pseudo-count") {
    import spark.implicits._
    val d = Seq((1L, "a a b"), (2L, "b c c c")).toDF("doc_id", "text")
    // topV=1 keeps only c (count 3); a and b become OOV (pseudo-count 0.5)
    val got = TextQueries.unigramScore(d, topV = Some(1))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == r6(-math.log(0.5 / 7)))
    assert(got(2L) == r6((-math.log(0.5 / 7) - 3 * math.log(3.0 / 7)) / 4))
  }

  test("unigramScore is invariant under input partitioning") {
    val base = TextQueries.unigramScore(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rep = TextQueries.unigramScore(docs.repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(base == rep)
  }

  // ---- frequent-n-gram scrub ----

  test("scrubFrequentNgrams removes cross-document boilerplate spans, overlaps unioned") {
    import spark.implicits._
    val d = Seq(
      (1L, "x y z w ta"), (2L, "x y z w tb"), (3L, "x y z w tc"),
      (4L, "p q p q p q p"), // repetition only WITHIN one doc: df=1, untouched
      (5L, "x y")            // shorter than n: no grams, untouched
    ).toDF("doc_id", "text")
    // "x y z" and "y z w" both have df=3 > 2; "z w t?" have df=1
    val got = TextQueries.scrubFrequentNgrams(d, n = 3, maxDf = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // covered = {0,1,2} U {1,2,3} -> four tokens removed, tail survives
    assert(got(1L) == ((5, 4, md5("ta"))))
    assert(got(2L) == ((5, 4, md5("tb"))))
    assert(got(3L) == ((5, 4, md5("tc"))))
    assert(got(4L) == ((7, 0, md5("p q p q p q p"))))
    assert(got(5L) == ((2, 0, md5("x y"))))
  }

  test("scrubFrequentNgrams is invariant under input partitioning") {
    val base = TextQueries.scrubFrequentNgrams(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val rep = TextQueries.scrubFrequentNgrams(docs.repartition(7))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(base == rep)
    assert(base.exists(_._3 > 0), "fixture must actually scrub something")
    assert(base.exists(_._3 == 0), "fixture must leave some docs untouched")
  }

  // ---- exact-substring dedup (Lee et al. 2021 granularity) ----

  test("exactSubstringDedup: cross-doc runs, within-doc repeats, maximal spans") {
    import spark.implicits._
    // k=5: docs 1/2 share a 7-token run (3 duplicated windows each,
    // merging into ONE maximal span); doc 3 is unique; doc 4 repeats
    // its own 5-token window (within-doc duplication counts too, and
    // the two spans stay separate because position 5 breaks them)
    val a = "a0 a1 s0 s1 s2 s3 s4 s5 s6 a2 a3"
    val b = "b0 s0 s1 s2 s3 s4 s5 s6 b1 b2"
    val c = "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"
    val d = "r0 r1 r2 r3 r4 d0 r0 r1 r2 r3 r4"
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "text")
    val got = TextQueries.exactSubstringDedup(df, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(got(1L) == ((11, 7, 1, md5hex("a0 a1 a2 a3"))))
    assert(got(2L) == ((10, 7, 1, md5hex("b0 b1 b2"))))
    assert(got(3L) == ((10, 0, 0, md5hex(c))))
    assert(got(4L) == ((11, 10, 2, md5hex("d0"))))
  }

  test("exactSubstringDedup: docs shorter than k emit zero windows, never error") {
    import spark.implicits._
    val df = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    val got = TextQueries.exactSubstringDedup(df, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got == Map(1L -> ((3, 0, 0)), 2L -> ((3, 0, 0))))
  }

  test("exactSubstringDedup: partitioning invariance and portable/native hash parity") {
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    val base = snap(TextQueries.exactSubstringDedup(docs, k = 10))
    assert(base.exists(_._3 > 0), "fixture must contain duplicated windows")
    assert(base.exists(_._3 == 0), "fixture must contain clean docs")
    assert(base == snap(TextQueries.exactSubstringDedup(docs.repartition(7), k = 10)))
    // the hash only decides dup membership — md5-portable and native
    // xxhash64 configurations must produce identical results
    assert(base == snap(TextQueries.exactSubstringDedup(docs, k = 10, portableHash = false)))
  }

  test("exactSubstringDedupKeep: first occurrence survives, all later copies scrub") {
    import spark.implicits._
    // same fixture as the remove-all test: docs 1/2 share a 7-token
    // run — doc 1 (smaller doc_id) KEEPS it, doc 2 loses it; doc 4's
    // within-doc repeat keeps the first (pos 0) window and scrubs the
    // second (pos 6)
    val a = "a0 a1 s0 s1 s2 s3 s4 s5 s6 a2 a3"
    val b = "b0 s0 s1 s2 s3 s4 s5 s6 b1 b2"
    val c = "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"
    val d = "r0 r1 r2 r3 r4 d0 r0 r1 r2 r3 r4"
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "text")
    val got = TextQueries.exactSubstringDedupKeep(df, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(got(1L) == ((11, 0, 0, md5hex(a))))
    assert(got(2L) == ((10, 7, 1, md5hex("b0 b1 b2"))))
    assert(got(3L) == ((10, 0, 0, md5hex(c))))
    assert(got(4L) == ((11, 5, 1, md5hex("r0 r1 r2 r3 r4 d0"))))
  }

  test("exactSubstringDedupKeep: invariance, hash parity, and keeps >= remove-all") {
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    val base = snap(TextQueries.exactSubstringDedupKeep(docs, k = 10))
    assert(base.exists(_._3 > 0), "fixture must scrub some later copies")
    assert(base == snap(TextQueries.exactSubstringDedupKeep(docs.repartition(7), k = 10)))
    assert(base == snap(TextQueries.exactSubstringDedupKeep(docs, k = 10, portableHash = false)))
    // keep-one never removes more than remove-all, and removes strictly
    // less overall (every duplicated hash retains one occurrence)
    val all = TextQueries.exactSubstringDedup(docs, k = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val keep = base.map(t => t._1 -> t._3).toMap
    assert(keep.forall { case (id, n) => n <= all(id) })
    assert(keep.values.sum < all.values.sum)
  }

  test("exactSubstringDedupAgainst: corpus spans scrub, batch-internal dups do not") {
    import spark.implicits._
    // corpus holds one 7-token run; batch doc 11 contains it (scrubs),
    // batch docs 12/13 share a run with EACH OTHER only (stays — the
    // incremental form scrubs against the corpus index, not the batch)
    val corpus = Seq((2L, "x0 s0 s1 s2 s3 s4 s5 s6 x1")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "a0 s0 s1 s2 s3 s4 s5 s6 a1"),
      (12L, "b0 q0 q1 q2 q3 q4 b1"),
      (13L, "c0 q0 q1 q2 q3 q4 c1")).toDF("doc_id", "text")
    val got = TextQueries.exactSubstringDedupAgainst(batch, corpus, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(got(11L) == ((9, 7, 1, md5hex("a0 a1"))))
    assert(got(12L)._2 == 0 && got(13L)._2 == 0,
      "batch-internal duplication must NOT scrub in the incremental form")
    assert(got.keySet == Set(11L, 12L, 13L), "output covers batch docs only")
  }

  test("exactSubstringDedupAgainst == full dedup restricted to cross-split spans on the fixture") {
    // on the odd/even driver split, a batch doc whose every duplicated
    // window comes from the corpus side must scrub identically to the
    // full remove-all run restricted to odd docs — pinned on the
    // planted %100==1 dups (odd copy of an even doc)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val even = docs.filter(col("doc_id") % 2 === 0)
    val incr = TextQueries.exactSubstringDedupAgainst(odd, even, k = 10).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(incr.exists(_._2 > 0), "fixture must scrub some cross-split spans")
    // and it is invariant under batch partitioning
    val rep = TextQueries.exactSubstringDedupAgainst(odd.repartition(7), even, k = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(rep == incr)
    // cross-check: no incremental scrub can exceed the full-corpus scrub
    val full = TextQueries.exactSubstringDedup(docs, k = 10).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(incr.forall { case (id, n) => n <= full(id) })
  }

  // ---- character-granularity (any-offset) exact-substring dedup ----

  test("exactSubstringDedupChars: catches a mid-token run the token form misses") {
    import spark.implicits._
    // the shared run " SHAREDRUNXYZ " (14 chars incl. both spaces) sits
    // between CHARACTER-DISJOINT neighbor tokens, so every k>=2 TOKEN
    // window containing it differs across docs — the token form finds
    // nothing; the char form covers exactly the 14 shared chars (L=6
    // windows at starts 3..11 merge into one maximal span, chars 3..16)
    val a = "aQc SHAREDRUNXYZ aWd"
    val b = "bRe SHAREDRUNXYZ bTf"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val tok = TextQueries.exactSubstringDedup(df, k = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(tok == Map(1L -> 0, 2L -> 0), "token windows must all be unique here")
    val got = TextQueries.exactSubstringDedupChars(df, L = 6).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(got(1L) == ((20, 14, 1, md5hex("aQcaWd"))))
    assert(got(2L) == ((20, 14, 1, md5hex("bRebTf"))))
  }

  test("exactSubstringDedupChars: within-doc repeats, separate spans, short docs") {
    import spark.implicits._
    // doc 1 repeats its own 6-char run "qwerty" twice with a unique
    // char between the copies -> two maximal spans; doc 2 is unique;
    // doc 3 is shorter than L and must pass through untouched
    val d1 = "qwertyXqwerty"
    val df = Seq((1L, d1), (2L, "abcdefghijk"), (3L, "tiny")).toDF("doc_id", "text")
    val got = TextQueries.exactSubstringDedupChars(df, L = 6).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(got(1L) == ((13, 12, 2, md5hex("X"))))
    assert(got(2L) == ((11, 0, 0, md5hex("abcdefghijk"))))
    assert(got(3L) == ((4, 0, 0, md5hex("tiny"))))
  }

  test("RollingHashWindows kernel == naive polynomial recompute, code-point windows") {
    import graft.functions.RollingHashKernels
    import org.apache.spark.unsafe.types.UTF8String
    val P = BigInt(RollingHashKernels.P)
    val B = BigInt(RollingHashKernels.B)
    def naive(s: String, L: Int): Seq[Long] = {
      val cps = s.codePoints.toArray
      (0 to cps.length - L).map { i =>
        cps.slice(i, i + L).foldLeft(BigInt(0))((h, c) => (h * B + c) mod P).toLong
      }
    }
    for (s <- Seq("", "ab", "abcdef", "qwertyXqwerty",
                  "a😀b😀a😀b😀c",
                  "die Zeichenkette läuft über die Bänder " * 3);
         l <- Seq(2, 4, 6)) {
      val got = RollingHashKernels
        .windowHashes(UTF8String.fromString(s), l).toLongArray().toSeq
      assert(got == naive(s, l), s"kernel != naive for s='$s' L=$l")
      // equal windows hash equal; the fixture's distinct windows differ
      val wins = {
        val cps = s.codePoints.toArray
        (0 to cps.length - l).map(i => new String(cps.slice(i, i + l), 0, l))
      }
      assert(wins.zip(got).groupBy(_._1).forall(_._2.map(_._2).distinct.size == 1))
    }
  }

  test("exactSubstringDedupChars: rolling-kernel path == md5 path on astral-plane text") {
    import spark.implicits._
    // windows count CODE POINTS: the shared run carries non-BMP chars,
    // so a UTF-16-unit or byte-offset kernel would draw different
    // window boundaries than the substring-materialized md5 path
    val shared = "😀😀SHARED😀RUN"
    val df = Seq((1L, s"xx$shared yy"), (2L, s"zw$shared vu"),
      (3L, "no duplicated content here")).toDF("doc_id", "text")
    def snap(pf: Boolean) = TextQueries.exactSubstringDedupChars(df, L = 5, portableHash = pf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    val md5Side = snap(true)
    assert(md5Side.exists(_._3 > 0), "fixture must flag the shared run")
    assert(md5Side == snap(false), "kernel path must draw identical spans")
  }

  test("scrub rebuild: pathological fully-duplicated LONG docs == brute-force reference") {
    import spark.implicits._
    // the long-doc pathology the linear sweep exists for: a fully-
    // duplicated multi-kB doc makes the start list maximally dense
    // (one per character) — the prior per-character array_contains
    // rebuild paid len^2 here. Reference below is the SEMANTICS
    // definition (covered set, maximal runs, filtered text), computed
    // independently of the plan.
    val L = 6
    val fixture: Seq[(Long, String)] = Seq(
      1L -> ("abcdefghij" * 400),            // 4000 chars, every window dups
      2L -> ("abcdefghij" * 400),            // exact twin of doc 1
      3L -> ("u3 " + ("qwerty" * 50) + " end of doc three"), // long shared run
      4L -> ("v4 " + ("qwerty" * 50) + " tail differs here"),
      5L -> "entirely unique content with no repeats at all",
      6L -> "tiny")
    def md5hexLocal(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val winCounts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for ((_, t) <- fixture; i <- 0 to t.length - L)
      winCounts(t.substring(i, i + L)) += 1
    val expected = fixture.map { case (id, t) =>
      val starts = (0 to t.length - L).filter(i => winCounts(t.substring(i, i + L)) >= 2)
      val covered = starts.flatMap(p => p until p + L).toSet
      val clean = t.indices.filterNot(covered).map(t.charAt).mkString
      (id, t.length, covered.size, covered.count(c => !covered(c - 1)),
        md5hexLocal(clean))
    }.toSet
    val got = TextQueries.exactSubstringDedupChars(
        fixture.toDF("doc_id", "text"), L = L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    assert(got == expected,
      s"diff=${(got diff expected) ++ (expected diff got)}")
    // the fully-duplicated docs are scrubbed to nothing in ONE span
    assert(got.contains((1L, 4000, 4000, 1, md5hexLocal(""))))
    // keep-one on the twin pair: keep-one is per WINDOW — the periodic
    // text self-duplicates internally, so only doc 1's first period
    // (the corpus-wide first occurrence of every distinct window)
    // survives: starts 10..3994 cover chars 10..3999; doc 2 scrubs
    // fully
    val keep = TextQueries.exactSubstringDedupCharsKeep(
        fixture.take(2).toDF("doc_id", "text"), L = L).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(keep(1L) == 3990 && keep(2L) == 4000)
  }

  test("scrubFrequentNgrams: fully-duplicated LONG docs == brute-force reference (linear sweep)") {
    import spark.implicits._
    // the word-gram sibling of the char-scrub pathology: boilerplate
    // shared across > maxDf docs makes the start list maximally dense
    // (one per token position) — the prior per-token array_contains
    // rebuild paid len^2 here. Reference below is the SEMANTICS
    // definition (doc-frequent grams, covered union, filtered tokens),
    // computed independently of the plan.
    val n = 3; val maxDf = 2L
    val boiler = ("terms of service apply to all content " * 250).trim // 2000 tokens
    val spam = ("buy now " * 1500).trim                                // 3000 tokens
    val fixture: Seq[(Long, String)] = Seq(
      1L -> s"intro one $boiler outro one",
      2L -> s"intro two $boiler outro two",
      3L -> s"intro three $boiler outro three",
      4L -> spam, 5L -> spam, 6L -> spam, 7L -> spam,
      8L -> "entirely unique content with no shared grams at all",
      9L -> "tiny")
    def gramsOf(t: String): Seq[String] = {
      val toks = t.split(" ", -1)
      if (toks.length < n) Seq.empty
      else (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" "))
    }
    val docFreq = fixture.flatMap { case (_, t) => gramsOf(t).distinct }
      .groupBy(identity).map { case (g, occ) => g -> occ.size.toLong }
    def md5hexLocal(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = fixture.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val grams = gramsOf(t)
      val covered = grams.indices
        .filter(i => docFreq(grams(i)) > maxDf)
        .flatMap(p => p until p + n).toSet
      val clean = toks.indices.filterNot(covered).map(toks).mkString(" ")
      (id, toks.length, covered.size, md5hexLocal(clean))
    }.toSet
    val got = TextQueries.scrubFrequentNgrams(
        fixture.toDF("doc_id", "text"), n = n, maxDf = maxDf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got == expected, s"diff=${(got diff expected) ++ (expected diff got)}")
    // the pathological docs scrub to nothing; clean docs stay intact
    assert(got.contains((4L, 3000, 3000, md5hexLocal(""))))
    assert(got.exists(r => r._1 == 8L && r._3 == 0))
  }

  test("keep-variants: persistLineage pins the fan-out ONCE; no duplicate posexplode subtree") {
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    // the PRINTED plan includes each cached relation's own definition,
    // so the pin traverses the optimized logical plan programmatically:
    // InMemoryRelation is a leaf there, so any Generate the collect
    // still sees is a RE-INSTANTIATED fan-out, not the cache's one copy
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def nGen(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case g: Generate => g }.size
    def nCacheScan(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case r: InMemoryRelation => r }.size
    // token form
    val unpinned = TextQueries.exactSubstringDedupKeep(docs, k = 10)
    assert(nGen(unpinned) == 2,
      "without the knob both consumers instantiate the fan-out")
    val base = snap(unpinned)
    val pinned = TextQueries.exactSubstringDedupKeep(docs, k = 10, persistLineage = true)
    assert(nCacheScan(pinned) == 2,
      "both consumers must read the cached fan-out")
    assert(nGen(pinned) == 0,
      "the fan-out must live once inside the cached relation")
    assert(snap(pinned) == base, "persistLineage must not change the result")
    spark.catalog.clearCache()
    // char form (the rolling-hash kernel + posexplode is the dominant cost)
    val unpinnedC = TextQueries.exactSubstringDedupCharsKeep(docs, L = 100)
    assert(nGen(unpinnedC) == 2)
    val baseC = snap(unpinnedC)
    val pinnedC = TextQueries.exactSubstringDedupCharsKeep(docs, L = 100, persistLineage = true)
    assert(nCacheScan(pinnedC) == 2 && nGen(pinnedC) == 0,
      "char keep-variant must pin the kernel fan-out once")
    assert(snap(pinnedC) == baseC)
    spark.catalog.clearCache()
  }

  test("corpusSampleK: non-string and NULL strata are exact groups, never dropped") {
    import spark.implicits._
    // an INT stratum with nulls: the driver passes must not getString a
    // non-string, and a null stratum is a real group — cut to exactly k
    // like any other, never silently dropped from the keep predicate
    val df = (1L to 40L)
      .map(i => (i, if (i % 4 == 0) None else Some((i % 3).toInt)))
      .toDF("doc_id", "grp")
    def groups(rows: Array[org.apache.spark.sql.Row]): Map[Option[Int], Int] =
      rows.map(r => (if (r.isNullAt(1)) None else Some(r.getInt(1))))
        .groupBy(identity).view.mapValues(_.length).toMap
    val totals = groups(df.collect())
    val kept = TextQueries.corpusSampleK(df, k = 3, strataCol = "grp", buckets = 8)
    assert(kept.schema("grp").dataType ==
      org.apache.spark.sql.types.IntegerType,
      "the original stratum column must ride through with its own type")
    val got = groups(kept.collect())
    assert(got.keySet == totals.keySet, s"no stratum may vanish: $got vs $totals")
    for ((g, n) <- totals)
      assert(got(g) == math.min(3, n), s"stratum $g must keep min(k, total): $got")
    // deterministic under repartitioning
    def snap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSet
    assert(snap(TextQueries.corpusSampleK(df.repartition(5), k = 3,
      strataCol = "grp", buckets = 8)) ==
      snap(TextQueries.corpusSampleK(df, k = 3, strataCol = "grp", buckets = 8)))
  }

  test("corpusSampleK: exact k per stratum == window reference; plan is window-free") {
    import org.apache.spark.sql.expressions.Window
    val out = TextQueries.corpusSampleK(docs, k = 7)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"no per-stratum window may appear:\n${p.take(1500)}")
    assert(!graft.ops.Scale.hasSinglePartitionExchange(out))
    val got = out.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    val ref = docs.select(col("doc_id"), col("source"),
        TextQueries.phash(concat(lit("topk_"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 7)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == ref, "driver-cutoff order statistic must equal the window reference")
    val bySrc = got.groupBy(_._2).map { case (s, m) => s -> m.size }
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.forall { case (s, n) => bySrc.getOrElse(s, 0) == math.min(7L, n) },
      "each stratum keeps exactly min(k, |stratum|) docs")
    // degenerate single-stratum corpus: still exact, still parallel
    val one = TextQueries.corpusSampleK(
      docs.withColumn("only", lit("all")), k = 7, strataCol = "only")
    assert(!graft.ops.Scale.hasSinglePartitionExchange(one))
    assert(one.count() == 7)
  }

  // ---- exact-threshold similarity join (prefix filtering) ----

  test("jaccardJoin == brute-force all-pairs join (recall 1 is the contract)") {
    // brute force from the public shingle expression: every pair with
    // inter/uni >= t, no pruning anywhere
    def brute(t: Double): Set[(Long, Long, Long, Long)] = {
      val tPpm = math.round(t * 1e6)
      val sh = docs.select(col("doc_id"),
        explode(TextQueries.ngramShinglesExpr("text", 3)).as("s"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      sh.as("a").join(sh.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.as("n1"), col("d1") === col("n1.doc_id"))
        .join(sizes.as("n2"), col("d2") === col("n2.doc_id"))
        .select(col("d1"), col("d2"), col("inter"),
          (col("n1.n") + col("n2.n") - col("inter")).as("uni"))
        .filter(col("inter") * lit(1000000L) >= lit(tPpm) * col("uni"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    def got(t: Double) = TextQueries.jaccardJoin(docs, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val g8 = got(0.8)
    assert(g8.nonEmpty, "fixture must contain >=0.8 pairs")
    assert(g8 == brute(0.8))
    // a lower threshold widens the prefix and must stay exact too
    assert(got(0.5) == brute(0.5))
    assert(g8.forall { case (d1, d2, inter, uni) => d1 < d2 && inter <= uni })
    // the corpus-scale lineage-cached path is the same computation
    val persisted = TextQueries.jaccardJoin(docs, 0.8, persistLineage = true)
    try assert(persisted.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet == g8)
    finally spark.catalog.clearCache()
  }

  test("containJoin == brute force; catches a paragraph swallowed by a document") {
    import spark.implicits._
    // the asymmetric point: a paragraph fully contained in a long doc
    // has near-zero Jaccard but containment 1
    val para = "alpha beta gamma delta epsilon zeta eta theta"
    val tail = (1 to 60).map(i => s"unique$i").mkString(" ")
    val fx = Seq((1L, para), (2L, s"$para $tail"), (3L, "wholly unrelated words here"))
      .toDF("doc_id", "text")
    val got = TextQueries.containJoin(fx, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 1000000L,
      s"the contained paragraph must be found at containment 1: $got")
    assert(!got.contains((2L, 1L)), "the container is NOT contained in the paragraph")
    assert(!TextQueries.jaccardJoin(fx, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet.contains((1L, 2L)),
      "Jaccard at 0.8 must be blind to this pair — that is containJoin's reason to exist")
    // full-fixture equality against a brute-force ordered-pairs join
    val sh = docs.select(col("doc_id"),
      explode(TextQueries.ngramShinglesExpr("text", 3)).as("s"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sh.groupBy("doc_id").agg(count(lit(1)).as("n1")),
        col("d1") === col("doc_id")).drop("doc_id")
      .filter(col("inter") * lit(1000000L) >= lit(800000L) * col("n1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("d1", "d2", "inter", "n1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val full = rows(TextQueries.containJoin(docs, threshold = 0.8))
    assert(full.nonEmpty && full == brute)
    // the corpus-scale lineage-cached path is the same computation
    try assert(rows(TextQueries.containJoin(docs, threshold = 0.8, persistLineage = true)) == brute)
    finally spark.catalog.clearCache()
  }

  test("containJoin salted (hot-key) path equals the plain path — detect-then-salt changes distribution, never output") {
    // force the detection to fire: at hotThreshold=2 the fixture's
    // shared shingles are "hot", so the salted cold/hot union runs;
    // at the default threshold nothing is hot and the plain join runs.
    // Both must produce the identical pair set (the selfPairs contract
    // in asymmetric form).
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("d1", "d2", "inter", "n1", "contain_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val plain = snap(TextQueries.containJoin(docs, threshold = 0.8))
    val salted = snap(TextQueries.containJoin(docs, threshold = 0.8, hotThreshold = 2L))
    assert(plain.nonEmpty && salted == plain)
  }

  test("jaccardJoinAgainst == brute-force batch x corpus; pre-built index path identical") {
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // brute force from the public shingle expression, across the split
    val shB = batch.select(col("doc_id"),
      explode(TextQueries.ngramShinglesExpr("text", 3)).as("s"))
    val shC = corpus.select(col("doc_id"),
      explode(TextQueries.ngramShinglesExpr("text", 3)).as("s"))
    val brute = shB.as("b").join(shC.as("c"), col("b.s") === col("c.s"))
      .groupBy(col("b.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"))
      .agg(count(lit(1)).as("inter"))
      .join(shB.groupBy("doc_id").agg(count(lit(1)).as("bn")),
        col("batch_id") === col("doc_id")).drop("doc_id")
      .join(shC.groupBy("doc_id").agg(count(lit(1)).as("cn")),
        col("corpus_id") === col("doc_id")).drop("doc_id")
      .select(col("batch_id"), col("corpus_id"), col("inter"),
        (col("bn") + col("cn") - col("inter")).as("uni"))
      .filter(col("inter") * lit(1000000L) >= lit(800000L) * col("uni"))
    val got = TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8)
      .select("batch_id", "corpus_id", "inter", "uni")
    assert(snap(got).nonEmpty, "fixture must contain cross-split pairs at 0.8")
    assert(snap(got) == snap(brute))
    // production path: df table + prefix index + doc side pre-materialized
    val dfT = TextQueries.jaccardCorpusStats(corpus)
    val idx = TextQueries.jaccardIndex(corpus, threshold = 0.8, corpusDf = Some(dfT))
    val side = TextQueries.docHashSide(corpus)
    val viaIndex = TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8,
      corpusDf = Some(dfT), index = Some(idx), docSide = Some(side))
      .select("batch_id", "corpus_id", "inter", "uni")
    assert(snap(viaIndex) == snap(got))
  }

  test("containJoinAgainst == brute-force batch x corpus containment; pre-built index identical") {
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val shB = batch.select(col("doc_id"),
      explode(TextQueries.ngramShinglesExpr("text", 3)).as("s"))
    val shC = corpus.select(col("doc_id"),
      explode(TextQueries.ngramShinglesExpr("text", 3)).as("s"))
    val brute = shB.as("b").join(shC.as("c"), col("b.s") === col("c.s"))
      .groupBy(col("b.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"))
      .agg(count(lit(1)).as("inter"))
      .join(shB.groupBy("doc_id").agg(count(lit(1)).as("bn")),
        col("batch_id") === col("doc_id")).drop("doc_id")
      .filter(col("inter") * lit(1000000L) >= lit(800000L) * col("bn"))
      .select(col("batch_id"), col("corpus_id"), col("inter"), col("bn"),
        expr("inter * 1000000L div bn").as("contain_ppm"))
    val got = TextQueries.containJoinAgainst(batch, corpus, threshold = 0.8)
    assert(snap(got).nonEmpty, "fixture must contain contained-in-corpus pairs at 0.8")
    assert(snap(got) == snap(brute))
    // pre-built full-token index + doc side: the production probe path
    val viaIndex = TextQueries.containJoinAgainst(batch, corpus, threshold = 0.8,
      index = Some(TextQueries.containIndex(corpus)),
      docSide = Some(TextQueries.docHashSide(corpus)))
    assert(snap(viaIndex) == snap(got))
  }

  test("bucketed index tables: the probe joins read the doc side without re-shuffling it") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("batch_id", "corpus_id", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the cand<->side join to SMJ so the bucketing claim is
    // actually exercised (the broadcast() hints inside the join are
    // unaffected by the threshold)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      TextQueries.writeJaccardIndexTables(corpus, "jidx_t", threshold = 0.8, buckets = 4)
      // the compatibility stamps survive the session catalog, so the
      // plan-time guards stay armed on the production table path too
      assert(spark.table("jidx_t_idx").schema("h").metadata
        .getString("graft.index.kind") == "jaccard_prefix",
        "index metadata must ride through saveAsTable/spark.table")
      val out = TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8,
        corpusDf = Some(spark.table("jidx_t_df")),
        index = Some(spark.table("jidx_t_idx")),
        docSide = Some(spark.table("jidx_t_side")))
      assert(snap(out) == snap(
        TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8)),
        "the bucketed-table path must be result-identical")
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"),
        s"the doc-side scan must engage its bucketing (no array re-shuffle):\n${p.take(3000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Seq("jidx_t_df", "jidx_t_idx", "jidx_t_side")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("exact-join indexes are LINEAR: O(1) payload per bucket row, metadata-gated thresholds") {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    // the bucket indexes carry NO array payload — each row is exactly
    // (h LONG, doc_id LONG): a doc's hash set must never repeat per
    // bucket entry (the O(n^2)-per-doc layout this pins against)
    for (idx <- Seq(TextQueries.jaccardIndex(corpus, threshold = 0.8),
                    TextQueries.containIndex(corpus))) {
      assert(idx.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        Seq("h" -> LongType, "doc_id" -> LongType),
        s"bucket index must be compact (h, doc_id): ${idx.schema.treeString}")
    }
    // the verification payload lives ONCE per doc on the doc side
    val side = TextQueries.docHashSide(corpus)
    assert(side.schema.fieldNames.toSeq == Seq("doc_id", "hs", "n"))
    assert(side.schema("hs").dataType == ArrayType(LongType, containsNull = false) ||
      side.schema("hs").dataType.isInstanceOf[ArrayType])
    assert(side.groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "doc side must hold exactly one row per document")
    // build-threshold coupling: probing a prefix index BELOW its build
    // threshold would silently break recall 1 — the schema metadata
    // stamped at build time fails it loudly instead
    val idx08 = TextQueries.jaccardIndex(corpus, threshold = 0.8)
    intercept[IllegalArgumentException] {
      TextQueries.jaccardJoinAgainst(docs.filter(col("doc_id") % 2 === 1),
        corpus, threshold = 0.7, index = Some(idx08), docSide = Some(side))
    }
    // token-order coupling: a df-ordered index under a hash-ordered
    // consumer (and vice versa) breaks the common-total-order
    // precondition of the prefix theorem
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingJaccardGate(
        spark.readStream.schema(
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, ts TIMESTAMP, text STRING"))
          .parquet(java.nio.file.Files.createTempDirectory("graft_meta").toString),
        idx08, side, threshold = 0.8)
    }
    // metadata survives a parquet round-trip (the persisted-index path)
    val outDir = java.nio.file.Files.createTempDirectory("graft_idxmeta")
    idx08.write.mode("overwrite").parquet(outDir.toString)
    val reread = spark.read.parquet(outDir.toString)
    assert(reread.schema("h").metadata.contains("graft.index.t_ppm") &&
      reread.schema("h").metadata.getLong("graft.index.t_ppm") == 800000L,
      "build threshold must ride the schema through parquet")
    // KIND coupling: a prefix-cut jaccard index has the identical
    // (h, doc_id) schema as the full-token containment index, but is
    // the documented recall hole for the containment predicate — and
    // vice versa; both directions must fail at plan time
    val batch = docs.filter(col("doc_id") % 2 === 1)
    intercept[IllegalArgumentException] {
      TextQueries.containJoinAgainst(batch, corpus, threshold = 0.8,
        index = Some(idx08), docSide = Some(side))
    }
    intercept[IllegalArgumentException] {
      TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8,
        index = Some(TextQueries.containIndex(corpus)), docSide = Some(side))
    }
    // HASH-KIND coupling: an xxhash64-built index probed by a consumer
    // hashing with the portable md5 matches ZERO tokens — every
    // duplicate would be silently waved through; both the index and
    // the doc side reject the mismatch
    intercept[IllegalArgumentException] {
      TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8,
        index = Some(TextQueries.jaccardIndex(corpus, threshold = 0.8,
          portableHash = false)),
        docSide = Some(side))
    }
    intercept[IllegalArgumentException] {
      TextQueries.containJoinAgainst(batch, corpus, threshold = 0.8,
        docSide = Some(TextQueries.docHashSide(corpus, portableHash = false)))
    }
    // a WRONG FRAME passed as the doc side (e.g. the bucket index) is
    // caught by the kind stamp even when column names half-align
    assert(side.schema("hs").metadata.getString("graft.index.kind") == "doc_hash_side")
  }

  test("STRIPPED index metadata fails loudly on every recall-1 consumer") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    // cast+alias rebuilds the column without its metadata — the
    // schema-stripping transform class the strict mode exists for
    // (schema checked to prove the strip actually happened)
    def stripped(df: org.apache.spark.sql.DataFrame, c: String) = {
      val out = df.withColumn(c, col(c).cast(df.schema(c).dataType.sql))
      assert(out.schema(c).metadata.json == "{}", "fixture must actually strip")
      out
    }
    val idx = TextQueries.jaccardIndex(corpus, threshold = 0.8)
    val side = TextQueries.docHashSide(corpus)
    val cidx = TextQueries.containIndex(corpus)
    val sIdx = stripped(idx, "h")
    val sSide = stripped(side, "hs")
    val sCidx = stripped(cidx, "h")
    // batch consumers: stripped index OR stripped side → loud plan-time failure
    for ((i, s) <- Seq(sIdx -> side, idx -> sSide)) {
      val e = intercept[IllegalArgumentException] {
        TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8,
          index = Some(i), docSide = Some(s))
      }
      assert(e.getMessage.contains("no build metadata"), e.getMessage)
    }
    intercept[IllegalArgumentException] {
      TextQueries.containJoinAgainst(batch, corpus, threshold = 0.8,
        index = Some(sCidx), docSide = Some(side))
    }
    // streaming gates: same strictness on both static inputs
    val streamDir = java.nio.file.Files.createTempDirectory("graft_strict").toString
    def stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, ts TIMESTAMP, text STRING")).parquet(streamDir)
    val hIdx = TextQueries.jaccardIndex(corpus, threshold = 0.8, hashOrdered = true)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingJaccardGate(
        stream, stripped(hIdx, "h"), side, threshold = 0.8)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingContainGate(stream, sCidx, side)
    }
    // the stamped pair handed in is result-identical to the lazy build
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("batch_id", "corpus_id", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(snap(TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8,
        index = Some(idx), docSide = Some(side))) ==
      snap(TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8)))
  }

  test("a STALE doc side (different corpus version) fails LOUDLY at plan time via the build-id stamp") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    // two corpus VERSIONS: every per-frame axis (kind/hash/threshold/
    // order) matches between v1 and v2 frames — only the build id can
    // tell them apart, which is exactly the silent-recall-loss scenario
    // (an inner verification join would drop candidates missing from
    // the stale side without a trace)
    val v1 = Some("corpus-v1")
    val v2 = Some("corpus-v2")
    val idxV2 = TextQueries.jaccardIndex(corpus, threshold = 0.8, buildId = v2)
    val sideV1 = TextQueries.docHashSide(
      corpus.filter(col("doc_id") =!= corpus.agg(min("doc_id")).collect()(0).getLong(0)),
      buildId = v1)
    val e = intercept[IllegalArgumentException] {
      TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8,
        index = Some(idxV2), docSide = Some(sideV1))
    }
    assert(e.getMessage.contains("different corpus versions"), e.getMessage)
    intercept[IllegalArgumentException] {
      TextQueries.containJoinAgainst(batch, corpus, threshold = 0.8,
        index = Some(TextQueries.containIndex(corpus, buildId = v2)),
        docSide = Some(sideV1))
    }
    // matching ids pass and are result-identical to the unstamped path
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("batch_id", "corpus_id", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(snap(TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8,
        index = Some(idxV2), docSide = Some(TextQueries.docHashSide(corpus, buildId = v2)))) ==
      snap(TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8)))
    // the WRITER stamps one fresh id per call across its tables: two
    // writes of the same layout get DIFFERENT ids, so cross-call table
    // mixes fail while same-call tables compose
    try {
      TextQueries.writeJaccardIndexTables(corpus, "bid_a", threshold = 0.8, buckets = 2)
      TextQueries.writeJaccardIndexTables(corpus, "bid_b", threshold = 0.8, buckets = 2)
      val metaOf = (t: String, c: String) =>
        spark.table(t).schema(c).metadata.getString("graft.index.build_id")
      assert(metaOf("bid_a_idx", "h") == metaOf("bid_a_side", "hs"))
      assert(metaOf("bid_a_idx", "h") != metaOf("bid_b_idx", "h"))
      intercept[IllegalArgumentException] {
        TextQueries.jaccardJoinAgainst(batch, corpus, threshold = 0.8,
          corpusDf = Some(spark.table("bid_a_df")),
          index = Some(spark.table("bid_a_idx")),
          docSide = Some(spark.table("bid_b_side")))
      }
    } finally Seq("bid_a_df", "bid_a_idx", "bid_a_side",
      "bid_b_df", "bid_b_idx", "bid_b_side")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("the similarity-join pieces live only in SimJoin.scala: no re-forked prefix slice or shingle hash") {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val pieces = Seq("999999) div 1000000 as int) + 1", "xxhash64(col(\"shingle\"))")
    val sources = Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    pieces.foreach { piece =>
      val holders = sources.collect { case (p, text) if text.contains(piece) => p.getFileName.toString }
      assert(holders.toSeq == Seq("SimJoin.scala"),
        s"'$piece' must be written once, in graft.text.SimJoin; found in: ${holders.mkString(", ")}")
    }
  }

  test("materializeCompact storage: Dataset.unpersist is a NO-OP, releaseCompact frees it") {
    import graft.ops.Scale
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val frame = Scale.materializeCompact(
      docs.select(col("doc_id"), length(col("text")).as("len")))
    val created = sc.getPersistentRDDs.keySet.toSet -- before
    assert(created.nonEmpty, "a localCheckpoint must register persistent RDD blocks")
    // the trap this spec pins: Dataset.unpersist only uncaches
    // CacheManager entries — the checkpoint's RDD blocks stay pinned
    frame.unpersist(blocking = true)
    assert(created.subsetOf(sc.getPersistentRDDs.keySet.toSet),
      "if this ever frees the blocks, Spark changed semantics — simplify releaseCompact")
    // the real release path
    Scale.releaseCompact(frame)
    assert((sc.getPersistentRDDs.keySet.toSet & created).isEmpty,
      "releaseCompact must unpersist the checkpoint's RDD blocks")
  }

  test("lshRecallAudit: caught <= exact, recall_ppm bounded, identical-clique recall") {
    val r = TextQueries.lshRecallAudit(docs, threshold = 0.5).collect()(0)
    val (nExact, nCaught, ppm) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nExact > 0, "fixture must contain exact pairs at 0.5")
    assert(nCaught <= nExact && ppm <= 1000000L && ppm >= 0L)
    assert(ppm == nCaught * 1000000L / nExact)
    // lshPairs' corpus-scale lineage-cached path emits the same rows
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val plain = pairs(TextQueries.lshPairs(docs, threshold = 0.5))
    assert(plain.size == nCaught)
    try assert(pairs(TextQueries.lshPairs(docs, threshold = 0.5, persistLineage = true)) == plain)
    finally spark.catalog.clearCache()
    // identical docs collide in every band -> a pure clique corpus is
    // caught completely
    import spark.implicits._
    val tpl = "the quick brown fox jumps over the lazy dog again and again"
    val clique = Seq.tabulate(4)(i => (i.toLong, tpl)).toDF("doc_id", "text")
    val c = TextQueries.lshRecallAudit(clique, threshold = 0.5).collect()(0)
    assert((c.getLong(0), c.getLong(1), c.getLong(2)) == ((6L, 6L, 1000000L)))
  }

  // ---- counting Bloom filter (deletable membership index) ----

  test("counting Bloom: forget == rebuild cell-for-cell; membership delete-correct") {
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val forget = docs.filter(col("doc_id") % 10 === 0)
    val remaining = docs.filter(col("doc_id") % 10 =!= 0)
    val viaForget = TextQueries.cbfForget(TextQueries.cbfCounters(docs), forget)
    assert(cells(viaForget) == cells(TextQueries.cbfCounters(remaining)),
      "subtracting the slice's counters must equal the rebuild")
    // the plain filter CANNOT forget: clearing the slice's bits from
    // bloomBuild would lose bits shared with remaining docs — the
    // counting form keeps exactly the still-referenced ones
    val hits = TextQueries.bloomProbe(docs, TextQueries.cbfBits(viaForget))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val remIds = remaining.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(remIds.forall(hits), "no false negatives for remaining docs")
    // forgotten docs whose text no remaining doc shares must now miss
    // (modulo the deterministic FP rate — assert most drop, not all)
    val remTexts = remaining.select("text").collect().map(_.getString(0)).toSet
    val uniqueForgotten = forget.collect()
      .filter(r => !remTexts(r.getString(r.fieldIndex("text"))))
      .map(_.getLong(0))
    assert(uniqueForgotten.nonEmpty, "fixture must forget some unique texts")
    val stillHit = uniqueForgotten.count(hits)
    assert(stillHit * 10 <= uniqueForgotten.length,
      s"forgotten uniques should miss (fp-rate-bounded): $stillHit/${uniqueForgotten.length}")
  }

  test("counting Bloom: counters sum-merge across disjoint shards") {
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shardCounters = (0 until 3).map(p =>
      TextQueries.cbfCounters(docs.filter(pmod(col("doc_id"), lit(3)) === p)))
    val merged = shardCounters.reduce(_ unionAll _)
      .groupBy("bit").agg(sum("cnt").cast("long").as("cnt"))
    assert(cells(merged) == cells(TextQueries.cbfCounters(docs)),
      "per-shard counter tables must sum-merge to the one-shot table")
  }

  test("exactSubstringDedupChars: partitioning invariance and hash parity on the fixture") {
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    val base = snap(TextQueries.exactSubstringDedupChars(docs, L = 100))
    assert(base.exists(_._3 > 0), "fixture must contain duplicated char runs")
    assert(base.exists(_._3 == 0), "fixture must contain clean docs")
    assert(base == snap(TextQueries.exactSubstringDedupChars(docs.repartition(7), L = 100)))
    assert(base == snap(TextQueries.exactSubstringDedupChars(docs, L = 100, portableHash = false)))
  }

  test("exactSubstringDedupCharsKeep: first occurrence survives; keeps >= remove-all") {
    import spark.implicits._
    val a = "aQc SHAREDRUNXYZ aWd"
    val b = "bRe SHAREDRUNXYZ bTf"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = TextQueries.exactSubstringDedupCharsKeep(df, L = 6).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getString(4)))).toMap
    assert(got(1L) == ((0, md5hex(a))), "doc 1 keeps the first occurrence")
    assert(got(2L) == ((14, md5hex("bRebTf"))), "doc 2 loses its later copy")
    val all = TextQueries.exactSubstringDedupChars(docs, L = 100)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val keep = TextQueries.exactSubstringDedupCharsKeep(docs, L = 100)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(keep.forall { case (id, n) => n <= all(id) })
    assert(keep.values.sum < all.values.sum,
      "keep-one must retain at least one copy of some duplicated run")
  }

  test("exactSubstringDedupCharsAgainst: corpus spans scrub, batch-internal dups do not") {
    import spark.implicits._
    val corpus = Seq((2L, "xQc SHAREDRUNXYZ xWd")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "aRe SHAREDRUNXYZ aTf"),
      (12L, "bGh BATCHONLYJKMN bJk"),
      (13L, "cMn BATCHONLYJKMN cPq")).toDF("doc_id", "text")
    val got = TextQueries.exactSubstringDedupCharsAgainst(batch, corpus, L = 6).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got(11L) == 14, "corpus-shared run scrubs")
    assert(got(12L) == 0 && got(13L) == 0,
      "batch-internal duplication must NOT scrub in the incremental form")
    assert(got.keySet == Set(11L, 12L, 13L))
    // incremental scrub never exceeds the full-corpus scrub on the fixture
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val even = docs.filter(col("doc_id") % 2 === 0)
    val incr = TextQueries.exactSubstringDedupCharsAgainst(odd, even, L = 100)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(incr.exists(_._2 > 0), "fixture must scrub some cross-split char spans")
    val full = TextQueries.exactSubstringDedupChars(docs, L = 100).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(incr.forall { case (id, n) => n <= full(id) })
  }

  // ---- token-budget temperature mixing ----

  /** Driver-side window-cumsum reference for [[TextQueries.corpusMixTokens]]:
    * per lang order by (n_chars desc, doc_id), keep while inclusive
    * token cumsum fits the budget the engine cached for the run. */
  private def tokenMixReference(rows: Seq[(Long, String, Int, Int)],
                                budgets: Map[String, Long]): Set[Long] =
    rows.groupBy(_._2).flatMap { case (l, docs) =>
      var cum = 0L
      docs.sortBy(d => (-d._4, d._1)).flatMap { case (id, _, ntok, _) =>
        cum += ntok
        if (cum <= budgets.getOrElse(l, 0L)) Some(id) else None
      }
    }.toSet

  test("corpusMixTokens: cutoff + stitched tie pass match the window-cumsum reference") {
    import spark.implicits._
    // lang a: scores force a cutoff INSIDE a tie group (three docs at
    // n_chars=50 competing for the remaining budget); lang b fits
    // entirely; lang c has its very first score group overflow
    val rows = Seq(
      (1L, "a", 4, 90), (2L, "a", 4, 50), (3L, "a", 4, 50), (4L, "a", 4, 50),
      (5L, "b", 2, 10), (6L, "b", 3, 5),
      (7L, "c", 30, 70), (8L, "c", 30, 70))
    val df = rows.map { case (id, l, ntok, nc) =>
      (id, Seq.fill(ntok)("w").mkString(" "), l, "src", nc.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextQueries.corpusMixTokens(df, alpha = 0.5, tokenBudget = 40L)
    val ids = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val budgets = TextQueries.cachedTokenBudgets.get.toMap
    assert(ids == tokenMixReference(rows, budgets))
    // the fixture must actually exercise a partial tie group: some but
    // not all of lang a's 50-char docs survive
    val aTies = ids.intersect(Set(2L, 3L, 4L))
    assert(aTies.nonEmpty && aTies.size < 3, s"partial tie expected, got $aTies")
    // n_tokens column carries the whitespace token count
    val n = got.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(n.forall { case (id, t) => t == rows.find(_._1 == id).get._3 })
  }

  test("corpusMixTokens: fully-degenerate scores run entirely through the tie path") {
    import spark.implicits._
    // every doc the same score — the per-language window would be one
    // task; here the stitched cumsum must still produce the exact
    // doc_id-ordered prefix
    val rows = (1L to 40L).map(i => (i, if (i % 2 == 0) "e" else "o", 3, 7))
    val df = rows.map { case (id, l, ntok, nc) =>
      (id, Seq.fill(ntok)("w").mkString(" "), l, "src", nc.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = TextQueries.corpusMixTokens(df, alpha = 1.0, tokenBudget = 33L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val budgets = TextQueries.cachedTokenBudgets.get.toMap
    assert(base == tokenMixReference(rows, budgets))
    assert(base.nonEmpty && base.size < 40, "budget must bind")
    // invariance under input partitioning (tie groups split arbitrarily)
    val rep = TextQueries.corpusMixTokens(df.repartition(7), alpha = 1.0, tokenBudget = 33L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rep == base)
  }

  // ---- BPE tokenizer training ----

  /** Driver-side reference BPE (Sennrich et al. 2016 Algorithm 1):
    * count adjacent pairs over the char vocab (+</w>) weighted by word
    * freq, merge the argmax greedily left-to-right, ties lexicographic. */
  private def refBpeMerges(wordFreqs: Map[String, Long], numMerges: Int): Seq[(Int, String, String)] = {
    def mergeSeq(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]; var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
        else { out += syms(i); i += 1 }
      }
      out.result()
    }
    var vocab: Map[Vector[String], Long] =
      wordFreqs.map { case (w, f) => (w.map(_.toString).toVector :+ "</w>") -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val stats = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        if (syms.length >= 2)
          syms.sliding(2).foreach { w => stats((w(0), w(1))) += f }
      }
      if (stats.isEmpty) done = true
      else {
        val ((l, r), _) = stats.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((rank, l, r))
        vocab = vocab.map { case (syms, f) => mergeSeq(syms, l, r) -> f }
        rank += 1
      }
    }
    out.toSeq
  }

  test("bpeTrain matches the reference algorithm on the classic corpus") {
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val freqs = text.split(" ").groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = TextQueries.bpeTrain(d, numMerges = 8)
    assert(got == refBpeMerges(freqs, 8))
    assert(got.size == 8)
  }

  test("bpeTrain matches the reference algorithm on the real corpus (incl. CJK chars)") {
    val freqs = docs.select(org.apache.spark.sql.functions.explode(
        split(col("text"), " ")).as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = TextQueries.bpeTrain(docs, numMerges = 6)
    assert(got == refBpeMerges(freqs, 6))
  }

  test("bpeTrain stops early when every word is fully merged (no pairs left)") {
    import spark.implicits._
    // "aa" x3: pairs (a,a) and (a,</w>) tie at 3; '<' sorts before 'a',
    // so (a,</w>) merges first, then (a,a</w>) — two merges exhaust the
    // pair space and the single-symbol words exercise the slice guard
    val d = Seq((1L, "aa aa aa")).toDF("doc_id", "text")
    val got = TextQueries.bpeTrain(d, numMerges = 10)
    assert(got == Seq((0, "a", "</w>"), (1, "a", "a</w>")))
  }

  test("bpeTrain is invariant under input partitioning") {
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val d = (1L to 8L).map(i => (i, text)).toDF("doc_id", "text")
    assert(TextQueries.bpeTrain(d.repartition(7), 5) == TextQueries.bpeTrain(d, 5))
  }

  test("bpeTrain driver and distributed paths produce identical merge tables") {
    // the driver path (default) vs the overflow fallback, on the real
    // corpus AND on a maxDriverVocab=0 forcing — both must match the
    // reference algorithm and each other, including tie-breaks
    val got = TextQueries.bpeTrain(docs, numMerges = 6)
    val dist = TextQueries.bpeTrain(docs, numMerges = 6, maxDriverVocab = 0L)
    assert(got == dist)
    import spark.implicits._
    // adjacent-occurrence words stress the incremental pair-stat updates
    val d = Seq((1L, "abab abab aaaa low low lower")).toDF("doc_id", "text")
    assert(TextQueries.bpeTrain(d, 8) == TextQueries.bpeTrain(d, 8, maxDriverVocab = 0L))
  }

  test("bpeEncode merges adjacent pair occurrences (the 'abab' overlap case)") {
    import spark.implicits._
    // merge (a,b) applies at positions 0 and 2 of 'abab': both must
    // merge ([ab, ab, </w>]), matching the reference greedy scan — and
    // the DuckDB oracle's doubled-delimiter replace chain (a
    // single-space replace chain merges only the first occurrence)
    val d = Seq((1L, "abab abab ababab aaaa")).toDF("doc_id", "text")
    val merges = TextQueries.bpeTrain(d, numMerges = 3)
    val got = TextQueries.bpeEncode(d, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val toks = refEncode("abab abab ababab aaaa", merges)
    assert(got(1L) == ((4L, toks.size.toLong, md5hex(toks.mkString(" ")))))
  }

  // ---- temperature-scaled mixture ----

  test("corpusMixTemp: budgets follow n^alpha; alpha=1 proportional, alpha~0 uniform") {
    val counts = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def expected(alpha: Double, budget: Long): Map[String, Long] = {
      val pows = counts.view.mapValues(n => math.pow(n.toDouble, alpha)).toMap
      val tot = pows.values.sum
      pows.map { case (l, p) => l -> math.floor(budget * p / tot).toLong }
    }
    def gotSizes(alpha: Double, budget: Long): Map[String, Long] =
      TextQueries.corpusMixTemp(docs, alpha, budget)
        .groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(0.5, 1.0, 0.01).foreach { a =>
      val exp = expected(a, 200L).filter(_._2 > 0)
      assert(gotSizes(a, 200L) == exp, s"alpha=$a")
    }
    // alpha < 1 strictly upsamples the rarest language vs proportional
    val rare = counts.minBy(_._2)._1
    assert(expected(0.3, 200L)(rare) >= expected(1.0, 200L)(rare))
    assert(counts.size >= 3, "fixture needs a multi-language corpus")
  }

  // ---- BPE encoding (applying learned merges) ----

  /** Greedy left-to-right merge of one pair — the reference rewrite
    * shared with [[refBpeMerges]]'s inner step. */
  private def refMergeSeq(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]; var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def refEncode(text: String, merges: Seq[(Int, String, String)]): Vector[String] =
    text.split(" ").toVector.flatMap { w =>
      var syms = w.map(_.toString).toVector :+ "</w>"
      merges.sortBy(_._1).foreach { case (_, l, r) => syms = refMergeSeq(syms, l, r) }
      syms
    }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("bpeEncode driver and fold paths produce identical encodings") {
    // real corpus (CJK incl.) + an adjacent-occurrence stress doc: the
    // collected min-rank-iteration encode vs the distributed
    // mergePairExpr fold must agree row for row
    val merges = TextQueries.bpeTrain(docs, numMerges = 6)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(snap(TextQueries.bpeEncode(docs, merges)) ==
      snap(TextQueries.bpeEncode(docs, merges, maxDriverVocab = 0L)))
    import spark.implicits._
    val d = Seq((1L, "abab ababab aaaa low lower")).toDF("doc_id", "text")
    val m2 = TextQueries.bpeTrain(d, numMerges = 5)
    assert(snap(TextQueries.bpeEncode(d, m2)) ==
      snap(TextQueries.bpeEncode(d, m2, maxDriverVocab = 0L)))
  }

  test("bpeEncode matches the reference encoder on the classic corpus") {
    import spark.implicits._
    val d = Seq((1L, "low lower newest"), (2L, "widest newest low low")).toDF("doc_id", "text")
    val merges = TextQueries.bpeTrain(d, numMerges = 6)
    assert(merges.size == 6)
    val got = TextQueries.bpeEncode(d, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    Seq(1L -> "low lower newest", 2L -> "widest newest low low").foreach { case (id, text) =>
      val toks = refEncode(text, merges)
      assert(got(id) == ((text.split(" ").length.toLong, toks.size.toLong,
        md5hex(toks.mkString(" ")))), s"doc $id")
    }
  }

  test("bpeEncode on the real corpus: reference parity and partitioning invariance") {
    val merges = TextQueries.bpeTrain(docs, numMerges = 4)
    val got = TextQueries.bpeEncode(docs, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val raw = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == raw.keySet)
    raw.foreach { case (id, text) =>
      val toks = refEncode(text, merges)
      assert(got(id) == ((text.split(" ").length.toLong, toks.size.toLong,
        md5hex(toks.mkString(" ")))), s"doc $id")
    }
    val rep = TextQueries.bpeEncode(docs.repartition(7), merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rep == got)
  }

  // ---- CCNet-style perplexity bucketing ----

  test("perplexityBuckets: ntile sizes, score-ordered bands, labels, invariance") {
    val got = TextQueries.perplexityBuckets(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3)))
    val n = got.length
    assert(n > 0)
    val sizes = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.keySet == Set(1, 2, 3), s"buckets: ${sizes.keySet}")
    assert(sizes.values.max - sizes.values.min <= 1, s"ntile sizes: $sizes")
    // the sort key (nll, doc_id) never decreases across bucket borders
    val ord = Ordering[(Double, Long)]
    (1 to 2).foreach { b =>
      val hi = got.filter(_._3 == b).map(r => (r._2, r._1)).max(ord)
      val lo = got.filter(_._3 == b + 1).map(r => (r._2, r._1)).min(ord)
      assert(ord.lteq(hi, lo), s"bucket $b overlaps ${b + 1}: $hi > $lo")
    }
    assert(got.forall(r => r._4 == (r._3 match {
      case 1 => "head"; case 2 => "middle"; case _ => "tail" })))
    val rep = TextQueries.perplexityBuckets(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3)))
    assert(rep.toSet == got.toSet)
  }

  // ---- deterministic stratified sampling ----

  test("stratifiedSample: rate 1.0 keeps the whole stratum, 0.0 drops; deterministic") {
    import spark.implicits._
    val d = (0L until 600L).map(i => (i, if (i % 3 == 0) "A" else if (i % 3 == 1) "B" else "C"))
      .toDF("doc_id", "source")
    val got = TextQueries.stratifiedSample(d, Map("A" -> 1.0, "B" -> 0.5), defaultRate = 0.0)
    val byStratum = got.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byStratum.getOrElse("A", Set.empty).size == 200, "rate 1.0 keeps every doc")
    assert(!byStratum.contains("C"), "default rate 0.0 drops the stratum")
    val b = byStratum.getOrElse("B", Set.empty)
    assert(b.nonEmpty && b.size < 200, "rate 0.5 keeps a strict, non-empty subset")
    // decision is a pure function of doc_id: partitioning cannot change it
    val rep = TextQueries.stratifiedSample(d.repartition(11), Map("A" -> 1.0, "B" -> 0.5),
      defaultRate = 0.0).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rep == got.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("bigramScore: hand-computed stupid-backoff NLL, incl. the backoff path") {
    import spark.implicits._
    val d = Seq((0L, "a b a c"), (1L, "b a b"), (2L, "c a")).toDF("doc_id", "text")
    // reference model driver-side
    val toks = Map(0L -> Seq("a", "b", "a", "c"), 1L -> Seq("b", "a", "b"), 2L -> Seq("c", "a"))
    val uni = toks.values.flatten.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val big = toks.values.flatMap(t => t.sliding(2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val tot = toks.values.map(_.size).sum.toDouble
    def nll(id: Long, keep: Set[String], keepUni: Set[String]): Double = {
      val terms = toks(id).sliding(2).map { p =>
        val bg = p.mkString(" ")
        if (keep(bg)) -math.log(big(bg) / uni(p.head))
        // topV truncates the unigram table too: an evicted right word
        // backs off through the OOV pseudo-count, like any fixed-vocab LM
        else -math.log(0.4 * keepUni.filter(_ == p(1)).headOption.fold(0.5)(uni) / tot)
      }.toSeq
      BigDecimal(terms.sum / terms.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val full = TextQueries.bigramScore(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(full.keySet == Set(0L, 1L, 2L))
    assert(full(0L)._1 == 3 && full(2L)._1 == 1)
    for (id <- Seq(0L, 1L, 2L))
      assert(full(id)._2 == nll(id, big.keySet, uni.keySet), s"doc $id full-table NLL")
    // topV=2 keeps the 2 most frequent bigrams (count desc, gram asc):
    // "a b"(2), "b a"(2) — every other transition takes the backoff arm —
    // and the 2 most frequent unigrams (a:4, b:3), so right-word c is OOV
    val trunc = TextQueries.bigramScore(d, topV = Some(2)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for (id <- Seq(0L, 1L, 2L))
      assert(trunc(id) == nll(id, Set("a b", "b a"), Set("a", "b")), s"doc $id truncated NLL")
    // invariant under input partitioning
    val rep = TextQueries.bigramScore(d.repartition(5)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rep == full.view.mapValues(_._2).toMap)
  }

  test("kneserNeyScore: hand-computed interpolated-KN NLL") {
    import spark.implicits._
    val d = Seq((0L, "a b a c"), (1L, "b a b"), (2L, "c a")).toDF("doc_id", "text")
    val toks = Map(0L -> Seq("a", "b", "a", "c"), 1L -> Seq("b", "a", "b"), 2L -> Seq("c", "a"))
    val D = 0.75
    val big = toks.values.flatMap(t => t.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toDouble).toMap
    // KN denominator: left-context token count, not the unigram count
    val lc = big.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val types = big.keySet
    val contL = types.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val contR = types.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val nTypes = types.size.toDouble
    def p(l: String, r: String): Double =
      math.max(big.getOrElse((l, r), 0.0) - D, 0.0) / lc(l) +
        D * contL(l) / lc(l) * (contR.getOrElse(r, 0.5) / nTypes)
    def nll(id: Long): Double = {
      val terms = toks(id).sliding(2).map(t => -math.log(p(t(0), t(1)))).toSeq
      BigDecimal(terms.sum / terms.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = TextQueries.kneserNeyScore(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(0L, 1L, 2L) && got(0L)._1 == 3 && got(2L)._1 == 1)
    for (id <- Seq(0L, 1L, 2L)) assert(got(id)._2 == nll(id), s"doc $id KN NLL")
    // probability mass sanity on the reference model: for each seen left
    // context, sum over the full right vocabulary is ~1 (interpolated KN
    // is a proper distribution when every right word has a continuation)
    for (l <- Seq("a", "b", "c")) {
      val mass = Seq("a", "b", "c").map(r => p(l, r)).sum
      assert(math.abs(mass - 1.0) < 1e-12, s"context $l: mass $mass")
    }
    val rep = TextQueries.kneserNeyScore(d.repartition(5)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rep == got.view.mapValues(_._2).toMap)
    // topV=2 prunes the type inventory to the 2 most frequent bigrams
    // (count desc, gram asc): "a b"(2), "b a"(2). All derived tables
    // describe the pruned model; a context with no retained bigram
    // ("c") falls back to the pure continuation probability.
    val keep = Map(("a", "b") -> 2.0, ("b", "a") -> 2.0)
    val lcP = keep.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val clP = keep.keySet.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val crP = keep.keySet.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    def pP(l: String, r: String): Double = {
      val cont = crP.getOrElse(r, 0.5) / keep.size
      if (!lcP.contains(l)) cont
      else math.max(keep.getOrElse((l, r), 0.0) - D, 0.0) / lcP(l) +
        D * clP(l) / lcP(l) * cont
    }
    def nllP(id: Long): Double = {
      val terms = toks(id).sliding(2).map(t => -math.log(pP(t(0), t(1)))).toSeq
      BigDecimal(terms.sum / terms.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val pruned = TextQueries.kneserNeyScore(d, topV = Some(2)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for (id <- Seq(0L, 1L, 2L)) assert(pruned(id) == nllP(id), s"doc $id pruned-KN NLL")
  }

  test("kneserNeyScore3: hand-computed recursive interpolated-KN NLL, mass pin, pruning") {
    import spark.implicits._
    val d = Seq((0L, "a b a b c"), (1L, "b a b a"), (2L, "c a b"), (3L, "x y"))
      .toDF("doc_id", "text")
    val toks = Map(0L -> Seq("a", "b", "a", "b", "c"),
      1L -> Seq("b", "a", "b", "a"), 2L -> Seq("c", "a", "b"))
    val D = 0.75
    val triFull = toks.values.flatMap(_.sliding(3).map(x => (x(0), x(1), x(2))))
      .groupBy(identity).view.mapValues(_.size.toDouble).toMap
    // reference model: every table derived from the trigram count table
    def model(tc: Map[(String, String, String), Double]) = {
      val ctx = tc.groupBy(t => (t._1._1, t._1._2))
        .view.mapValues(v => (v.values.sum, v.size.toDouble)).toMap
      val bt = tc.keySet.groupBy(t => (t._2, t._3)).view.mapValues(_.size.toDouble).toMap
      val mid = bt.groupBy(_._1._1).view.mapValues(v => (v.values.sum, v.size.toDouble)).toMap
      val uc = bt.keySet.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
      val T = bt.size.toDouble
      def pcont(w3: String) = uc.getOrElse(w3, 0.5) / T
      def pbi(w2: String, w3: String) = mid.get(w2) match {
        case None => pcont(w3)
        case Some((nmid, n2dot)) =>
          math.max(bt.getOrElse((w2, w3), 0.0) - D, 0.0) / nmid + D * n2dot / nmid * pcont(w3)
      }
      def p(w1: String, w2: String, w3: String) = ctx.get((w1, w2)) match {
        case None => pbi(w2, w3)
        case Some((lcnt, cont12)) =>
          math.max(tc.getOrElse((w1, w2, w3), 0.0) - D, 0.0) / lcnt +
            D * cont12 / lcnt * pbi(w2, w3)
      }
      (p _, ctx.keySet, uc.keySet)
    }
    val (p, ctxKeys, w3s) = model(triFull)
    def nllOf(pf: (String, String, String) => Double)(id: Long): Double = {
      val terms = toks(id).sliding(3).map(t => -math.log(pf(t(0), t(1), t(2)))).toSeq
      BigDecimal(terms.sum / terms.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = TextQueries.kneserNeyScore3(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(0L, 1L, 2L), "docs under 3 tokens are omitted")
    assert(got(0L)._1 == 3 && got(2L)._1 == 1)
    for (id <- Seq(0L, 1L, 2L)) assert(got(id)._2 == nllOf(p)(id), s"doc $id KN3 NLL")
    // mass pin THROUGH the recursive backoff: for every retained
    // context, the distribution over the seen-w3 universe telescopes to
    // exactly 1 at each level
    for ((w1, w2) <- ctxKeys) {
      val mass = w3s.toSeq.map(w3 => p(w1, w2, w3)).sum
      assert(math.abs(mass - 1.0) < 1e-12, s"context ($w1,$w2): mass $mass")
    }
    val rep = TextQueries.kneserNeyScore3(d.repartition(5)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rep == got.view.mapValues(_._2).toMap)
    // topV prunes the trigram type inventory (count desc, gram asc);
    // all derived tables describe the pruned model, and a context with
    // no retained trigram backs off with lambda = 1 at that level
    val keep = triFull.toSeq
      .sortBy { case ((a, b, c), n) => (-n, s"$a $b $c") }.take(2).toMap
    val (pP, _, _) = model(keep)
    val pruned = TextQueries.kneserNeyScore3(d, topV = Some(2)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for (id <- Seq(0L, 1L, 2L)) assert(pruned(id) == nllOf(pP)(id), s"doc $id pruned-KN3 NLL")
  }

  test("kneserNeyScoreN: order-4 recursive reference model, mass pin through every level, pruning") {
    import spark.implicits._
    val d = Seq((0L, "a b a b a c"), (1L, "b a b a b"), (2L, "c a b a"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val toks = Map(0L -> Seq("a", "b", "a", "b", "a", "c"),
      1L -> Seq("b", "a", "b", "a", "b"), 2L -> Seq("c", "a", "b", "a"))
    val n = 4
    val D = 0.75
    val gramsFull = toks.values.flatMap(_.sliding(n).map(_.toList))
      .groupBy(identity).view.mapValues(_.size.toDouble).toMap
    // recursive reference: level n on raw counts; level i < n on type
    // counts t_i (distinct left extensions among (i+1)-gram types),
    // each level derived from the one above — the engine's derivation,
    // re-built independently from Chen & Goodman's definitions
    def model(tc: Map[List[String], Double]) = {
      val ctxN = tc.groupBy(_._1.init).view
        .mapValues(v => (v.values.sum, v.size.toDouble)).toMap
      var bs = Map((n - 1) -> tc.keySet.groupBy(_.tail).view.mapValues(_.size.toDouble).toMap)
      var mids = Map.empty[Int, Map[List[String], (Double, Double)]]
      for (i <- (n - 1) to 2 by -1) {
        mids += i -> bs(i).groupBy(_._1.init).view
          .mapValues(v => (v.values.sum, v.size.toDouble)).toMap
        bs += (i - 1) -> bs(i).keySet.groupBy(_.tail).view.mapValues(_.size.toDouble).toMap
      }
      val tot = bs(2).size.toDouble
      def pLevel(i: Int, g: List[String]): Double =
        if (i == 1) bs(1).getOrElse(g.takeRight(1), 0.5) / tot
        else {
          val key = g.takeRight(i)
          val (den, ty, cnt) =
            if (i == n) {
              val c = ctxN.get(key.init)
              (c.map(_._1), c.map(_._2), tc.getOrElse(key, 0.0))
            } else {
              val c = mids(i).get(key.init)
              (c.map(_._1), c.map(_._2), bs(i).getOrElse(key, 0.0))
            }
          den match {
            case None => pLevel(i - 1, g) // pruned/unseen context: lambda = 1
            case Some(dn) =>
              math.max(cnt - D, 0.0) / dn + D * ty.get / dn * pLevel(i - 1, g)
          }
        }
      ((g: List[String]) => pLevel(n, g), ctxN.keySet, bs(1).keySet.map(_.head))
    }
    def nllOf(pf: List[String] => Double)(id: Long): Double = {
      val terms = toks(id).sliding(n).map(g => -math.log(pf(g.toList))).toSeq
      BigDecimal(terms.sum / terms.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (p, ctxKeys, w4s) = model(gramsFull)
    val got = TextQueries.kneserNeyScoreN(d, n).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(0L, 1L, 2L), "docs under n tokens are omitted")
    assert(got(0L)._1 == 3 && got(2L)._1 == 1)
    for (id <- Seq(0L, 1L, 2L)) assert(got(id)._2 == nllOf(p)(id), s"doc $id KN4 NLL")
    // mass pin THROUGH the full recursion: every retained context's
    // distribution over the seen-word universe telescopes to exactly 1
    for (ctx <- ctxKeys) {
      val mass = w4s.toSeq.map(w => p(ctx :+ w)).sum
      assert(math.abs(mass - 1.0) < 1e-12, s"context $ctx: mass $mass")
    }
    val rep = TextQueries.kneserNeyScoreN(d.repartition(5), n).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rep == got.view.mapValues(_._2).toMap)
    // topV pruning: derived tables describe the pruned model, missing
    // contexts back off with lambda = 1 at their level
    val keep = gramsFull.toSeq
      .sortBy { case (g, c) => (-c, g.mkString(" ")) }.take(2).toMap
    val (pP, _, _) = model(keep)
    val pruned = TextQueries.kneserNeyScoreN(d, n, topV = Some(2)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for (id <- Seq(0L, 1L, 2L)) assert(pruned(id) == nllOf(pP)(id), s"doc $id pruned-KN4 NLL")
  }

  test("qualityClassifierTrain: separable fixture converges, deterministic, bounded sample") {
    import spark.implicits._
    // two perfectly separable vocabularies: the classifier must push
    // the classes apart and reproduce bit-identical weights on retrain
    val d = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "clean prose with careful structure and real words here", "good")
      else (i, "spam spam buy now click here free free free win prize", "crawl")
    }.toDF("doc_id", "text", "source")
    val pred = col("source") === "good"
    val (b1, w1) = TextQueries.qualityClassifierTrain(d, pred, buckets = 256)
    val (b2, w2) = TextQueries.qualityClassifierTrain(d, pred, buckets = 256)
    assert(b1 == b2 && w1.sameElements(w2), "training must be deterministic")
    val probs = TextQueries.qualityClassifierScore(d, b1, w1)
      .select("doc_id", "prob").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (good, bad) = (probs.filter(_._1 % 2 == 0).values, probs.filter(_._1 % 2 == 1).values)
    assert(good.forall(_ > 0.9), s"target-class probs must converge high: ${good.take(3)}")
    assert(bad.forall(_ < 0.1), s"crawl-class probs must converge low: ${bad.take(3)}")
    // the bounded sample really bounds: training on 4 docs must ignore
    // the rest (same fixture, flipped labels beyond the sample would
    // otherwise drag the weights)
    val flip = d.withColumn("source",
      when(col("doc_id") >= 4, when(pred, lit("crawl")).otherwise(lit("good")))
        .otherwise(col("source")))
    val (_, wCap) = TextQueries.qualityClassifierTrain(flip, pred, buckets = 256, sampleN = 4)
    val capIds = flip
      .select(col("doc_id"),
        expr(s"CAST(conv(substring(md5(concat('qc_sample_', doc_id)), 1, 15), 16, 10) AS BIGINT)").as("ord"))
      .orderBy("ord").limit(4).collect().map(_.getLong(0)).toSet
    val (_, wRef) = TextQueries.qualityClassifierTrain(
      flip.filter(col("doc_id").isin(capIds.toSeq: _*)), pred, buckets = 256)
    assert(wCap.sameElements(wRef), "sampleN must select exactly the hash-ordered prefix")
  }

  test("qualityClassifierScore: hand-computed logit/prob under fixed weights, repartition-stable") {
    import spark.implicits._
    val d = Seq((0L, "a b c"), (1L, "b b"), (2L, "z")).toDF("doc_id", "text")
    val B = 16
    val w = Array.tabulate(B)(i => (i % 5) * 0.25 - 0.5)
    val bias = 0.125
    def bucket(g: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (BigInt(md.substring(0, 15), 16) % B).toInt
    }
    def expect(toks: Seq[String]): (Long, Double, Double) = {
      val grams = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val logit = bias + grams.map(g => w(bucket(g))).sum / grams.size
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (grams.size.toLong, r6(logit), r6(1.0 / (1.0 + math.exp(-logit))))
    }
    val got = TextQueries.qualityClassifierScore(d, bias, w).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val toks = Map(0L -> Seq("a", "b", "c"), 1L -> Seq("b", "b"), 2L -> Seq("z"))
    for ((id, t) <- toks) {
      val (n, lg, p) = expect(t)
      assert(got(id) == ((n, lg, p)), s"doc $id: ${got(id)} vs ($n, $lg, $p)")
    }
    val rep = TextQueries.qualityClassifierScore(d.repartition(5), bias, w).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rep == got)
  }

  test("dupNgramCoverage: hand-computed char coverage, overlaps counted once") {
    import spark.implicits._
    // doc 0: "x y z x y z w" — trigram "x y z" occurs at 0 and 3,
    // covering token indices 0..5 (overlap-free here): covered chars =
    // 6 of 7, frac = 6/7. doc 1: no repeated trigram -> 0. doc 2:
    // "a a a a a" — "a a a" at 0,1,2 covers ALL 5 tokens (overlaps
    // counted once): frac = 1. doc 3: too short for a trigram -> 0.
    val d = Seq(
      (0L, "x y z x y z w"),
      (1L, "p q r s t"),
      (2L, "a a a a a"),
      (3L, "u v")).toDF("doc_id", "text")
    val got = TextQueries.dupNgramCoverage(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(got(0L) == ((7, BigDecimal(6.0 / 7).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got(1L) == ((5, 0.0)))
    assert(got(2L) == ((5, 1.0)))
    assert(got(3L) == ((2, 0.0)), "short docs report zero coverage, not absence")
    val rep = TextQueries.dupNgramCoverage(d.repartition(3)).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rep == got.view.mapValues(_._2).toMap)
  }

  test("tokenEntropy: hand-computed Shannon entropy over within-doc counts") {
    import spark.implicits._
    val d = Seq((0L, "a a b"), (1L, "x x x x"), (2L, "p q r s")).toDF("doc_id", "text")
    val got = TextQueries.tokenEntropy(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def h(cs: Seq[Int]): Double = {
      val n = cs.sum.toDouble
      BigDecimal(math.log(n) - cs.map(c => c * math.log(c)).sum / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got(0L) == ((3L, h(Seq(2, 1)))))
    assert(got(1L) == ((4L, h(Seq(4)))), "uniform repetition has zero entropy")
    assert(got(1L)._2 == 0.0)
    assert(got(2L) == ((4L, h(Seq(1, 1, 1, 1)))), "all-distinct maximizes entropy")
  }

  test("corpus_split: total, ~98/1/1, and stable under corpus growth") {
    val full = TextQueries.corpusSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full.size == docs.count(), "every document gets exactly one split")
    val sizes = full.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes("train") > full.size * 0.9, s"train fraction off: $sizes")
    assert(sizes.getOrElse("val", 0) + sizes.getOrElse("test", 0) > 0,
      s"holdout splits empty at ${full.size} docs: $sizes")
    // the assignment is a pure function of (salt, doc_id): a document's
    // split never changes when the corpus shrinks, grows, or reshards
    val sub = TextQueries.corpusSplit(docs.filter(col("doc_id") % 3 === 0).repartition(7))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(sub.nonEmpty && sub.forall { case (id, s) => full(id) == s })
  }

  test("dsir: weights separate domains on a synthetic two-vocabulary corpus") {
    import spark.implicits._
    // two disjoint vocabularies; the target slice speaks vocabulary A
    val a = "proton lattice spectrum orbital phonon"
    val b = "invoice ledger payroll audit receipt"
    val d = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) a else b
      (i, s"$base $base item$i", if (i % 2 == 0) "en" else "xx")
    }.toDF("doc_id", "text", "lang")
    val w = TextQueries.dsirWeights(d, d.filter(col("lang") === "en"), buckets = 512)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val (ws, wo) = (0L until 40L).partition(_ % 2 == 0)
    assert(ws.map(w).min > wo.map(w).max,
      "every target-vocabulary doc must outscore every off-domain doc")
    // n_grams = 2*|toks| - 1 (unigrams + bigrams)
    val n = TextQueries.dsirWeights(d, d.limit(1), buckets = 512)
      .filter(col("doc_id") === 0L).head.getLong(1)
    assert(n == 2 * 11 - 1)
    // top-k keeps the k best by (logw desc, doc_id): all target docs first
    val top = TextQueries.dsirTopk(d, d.filter(col("lang") === "en"), k = 20, buckets = 512)
      .collect().map(_.getLong(0)).toSet
    assert(top == ws.toSet, s"top-20 must be exactly the target-domain docs, got $top")
    // the fused predicate-target form is value-identical to the
    // two-frame form (same counts, same totals, same smoothing)
    val fused = TextQueries.dsirWeightsOf(d, col("lang") === "en", buckets = 512)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val twoFrame = TextQueries.dsirWeights(d, d.filter(col("lang") === "en"), buckets = 512)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fused == twoFrame)
  }

  test("dsirRatioTable keeps target-only buckets (external reference target)") {
    import spark.implicits._
    // disjoint vocabularies: the external target's grams occupy buckets
    // the raw corpus never hits — those rows must survive with ratio
    // ABOVE the smoothed default (a raw-spine left join used to drop
    // them, handing the most target-indicative unseen grams the neutral
    // default in the streaming gate)
    val raw = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val ext = Seq((9L, "zeta eta theta iota")).toDF("doc_id", "text")
    val rt = TextQueries.dsirRatioTable(raw, ext, buckets = 512).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val default = rt.head._3
    val above = rt.count(_._2 > default)
    val below = rt.count(_._2 < default)
    assert(above >= 1, "target-only buckets must keep their high target ratio")
    assert(below >= 1, "raw-only buckets must score below the default")
    // the gate's one-row form carries the same buckets
    val row = TextQueries.dsirRatioRow(raw, ext, buckets = 512).head
    assert(row.getMap[Long, Double](0).size == rt.length)
  }

  test("dsir_topk equals sorting the full weight table on the fixture corpus") {
    val target = docs.filter(col("lang") === "en")
    val all = TextQueries.dsirWeights(docs, target).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val expect = all.sortBy { case (id, lw) => (-lw, id) }.take(50).map(_._1).toSeq
    val got = TextQueries.dsirTopk(docs, target, k = 50)
      .collect().map(_.getLong(0)).toSeq
    assert(got == expect)
  }

  // -------------------------------------------------------------------
  // source-level curation (sourceStats / sourceFilter)
  // -------------------------------------------------------------------

  test("sourceFilter condemns the failing domain wholesale, keeps the rest") {
    import spark.implicits._
    // domain "junk": every doc under the 20-word floor; domain "good":
    // long stopword-bearing docs that pass the per-row gate
    val goodText = ("the " + (1 to 30).map(i => s"word$i").mkString(" "))
    val d = ((0L until 10L).map(i => (i, "tiny doc", "junk")) ++
      (10L until 20L).map(i => (i, s"$goodText extra$i", "good")))
      .toDF("doc_id", "text", "source")
    val kept = TextQueries.sourceFilter(d).collect().map(_.getLong(0)).toSet
    assert(kept == (10L until 20L).toSet,
      s"whole junk domain must fall, whole good domain survive: $kept")
    val stats = TextQueries.sourceStats(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(stats("junk") == ((10L, 0.0)) && stats("good") == ((10L, 1.0)))
  }

  test("sourceStats dup_rate counts exact duplicates within the domain") {
    import spark.implicits._
    val d = Seq(
      (0L, "alpha beta gamma", "s"), (1L, "alpha beta gamma", "s"),
      (2L, "alpha beta gamma", "s"), (3L, "delta epsilon zeta", "s"))
      .toDF("doc_id", "text", "source")
    val r = TextQueries.sourceStats(d).collect()(0)
    // 4 docs, 2 distinct hashes -> dup_rate = (4-2)/4
    assert(r.getAs[Double]("dup_rate") == 0.5)
    assert(r.getAs[Long]("n_tokens") == 12L)
  }

  // -------------------------------------------------------------------
  // deterministic epoch shuffle (corpusShuffle)
  // -------------------------------------------------------------------

  test("corpusShuffle: exact balanced permutation matching the driver-side sort") {
    val nShards = 7
    val got = TextQueries.corpusShuffle(docs, nShards = nShards).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = docs.count()
    assert(got.length == n, "every document is dealt exactly once")
    assert(got.map(r => (r._2, r._3)).distinct.length == n,
      "(shard, pos) slots are unique")
    val sizes = got.groupBy(_._2).view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 1, s"round-robin shards balance to ±1: $sizes")
    // the exact global rank: recompute the salted hash and sort driver-side
    val hs = docs.select(col("doc_id"),
      conv(substring(md5(concat(lit("epoch1_"), col("doc_id").cast("string"))), 1, 15),
        16, 10).cast("long").as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = hs.sortBy { case (id, h) => (h, id) }.zipWithIndex.map {
      case ((id, _), rk) => (id, (rk % nShards).toLong, (rk / nShards).toLong)
    }.toSet
    assert(got.toSet == expected, "engine rank must equal the exact sort rank")
  }

  test("corpusShuffle is invariant under repartitioning and chunk granularity; salt reshuffles") {
    val base = TextQueries.corpusShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rep = TextQueries.corpusShuffle(docs.repartition(11), chunkBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rep == base, "partitioning and stitch granularity must be invisible")
    val epoch2 = TextQueries.corpusShuffle(docs, salt = "epoch2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(epoch2 != base, "a fresh salt must permute differently")
    assert(epoch2.map(_._1) == base.map(_._1), "same documents either way")
  }

  test("simhashPairs == brute-force hamming<=3 over all pairs (banding is lossless)") {
    // Manku's pigeonhole: 4 bands over 60 bits lose NOTHING at hamming
    // <= 3 — pin the banded + distinct-hash-collapsed output against
    // the quadratic reference
    val fps = TextQueries.simhashFrameWide(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (d1, h1) <- fps; (d2, h2) <- fps if d1 < d2
      hd = java.lang.Long.bitCount(h1 ^ h2) if hd <= 3
    } yield (d1, d2, hd)).toSet
    val got = TextQueries.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute,
      s"banded=${got.size} brute=${brute.size}; diff=${(got diff brute).take(3)} ${(brute diff got).take(3)}")
  }

  test("heavyHitters == the exact full-groupBy reference, under any partitioning") {
    val ref = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val n = ref.agg(sum("freq")).collect()(0).getLong(0)
    val exact = ref.filter(col("freq") * lit(256L) > lit(n)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = TextQueries.heavyHitters(docs, denom = 256).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact, s"got=${got.size} exact=${exact.size}")
    // the sketch's merge order is partition-dependent; the published
    // exact counts must not be
    val rep = TextQueries.heavyHitters(docs.repartition(13), denom = 256).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == exact)
  }

  test("heavyHitters on a uniform stream (no heavy hitter) is empty; guarantee precondition enforced") {
    import spark.implicits._
    val uniform = (0 until 2000).map(i => (i.toLong, s"u$i")).toDF("doc_id", "text")
    assert(TextQueries.heavyHitters(uniform, denom = 256).collect().isEmpty)
    intercept[IllegalArgumentException] {
      TextQueries.heavyHitters(docs, denom = 256, k = 100) // k+1 < denom
    }
  }

  test("bm25 ranks a doc with more query-term mass above one with less; absent terms score 0") {
    import spark.implicits._
    val tiny = Seq(
      (0L, "spark join data spark join data spark"),
      (1L, "spark table scan merge window batch row"),
      (2L, "key value store merge window batch row")).toDF("doc_id", "text")
    val got = TextQueries.bm25(tiny, Seq("spark", "join", "data"), topK = 5).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L),
      s"doc 2 has no query term and must not appear: ${got.mkString(",")}")
    assert(got(0).getDouble(1) > got(1).getDouble(1))
  }
}

/** Harness-integrity pins for the driver-contract main, its `--scans`
  * and `--plans` modes, and the one session factory. */
class VerifySpec extends AnyFunSuite {
  import SparkTestSession._

  /** What `body` prints to `Console.out`. */
  private def stdout(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  test("Verify.main fails loudly on unknown query names before any work") {
    spark // force the shared session so Verify.main joins it
    val out = java.nio.file.Files.createTempDirectory("graft_verify_bad").toString
    val modes = Seq(Seq(sfDir, out), Seq("--scans", sfDir), Seq("--plans", sfDir, out, "t"))
    modes.foreach { mode =>
      val printed = stdout {
        val e = intercept[IllegalArgumentException] {
          Verify.main((mode ++ Seq("case_expr", "no_such_query")).toArray)
        }
        assert(e.getMessage.contains("no_such_query"), mode.head)
      }
      assert(printed.isEmpty, s"${mode.head}: printed before failing: $printed")
    }
    assert(new java.io.File(out).list().isEmpty,
      "a failed run must not leave a partial oracle dump or plan")
  }

  test("Verify --scans prints each named query's ScanCountGate count, in name order") {
    spark
    val names = Seq("sketch_quantiles", "q5_nation_revenue", "case_expr")
    val printed = stdout(Verify.main(("--scans" +: sfDir +: names).toArray))
    assert(printed.linesIterator.toSeq ==
      names.sorted.map(n => s"$n ${ScanCountGate.expected(n)}"))
    assert(!spark.sparkContext.isStopped, "--scans must not stop a session it did not create")
  }

  test("Verify --plans writes <query>_<tag>.txt holding the formatted physical plan") {
    spark
    val out = java.nio.file.Files.createTempDirectory("graft_verify_plans").toString
    Verify.main(Array("--plans", sfDir, out, "before", "q1_agg"))
    assert(new java.io.File(out).list().toSeq == Seq("q1_agg_before.txt"))
    val plan = java.nio.file.Files.readString(java.nio.file.Paths.get(out, "q1_agg_before.txt"))
    assert(plan.startsWith("== Physical Plan ==") && plan.contains("Scan parquet"), plan)
    assert(!spark.sparkContext.isStopped, "--plans must not stop a session it did not create")
  }

  test("no source file outside Session.scala calls SparkSession.builder") {
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val call = "SparkSession.builder" + "(" // split so this file does not match itself
    // code only: block and line comments do not count
    def code(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val offenders = Files.walk(root).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Session.scala")
      .filter(p => code(p).contains(call)).toSeq
    assert(offenders.isEmpty, s"get sessions from graft.Session: ${offenders.mkString(", ")}")
  }

  test("filtered Verify.main fails loudly when a selected query errors at execution") {
    spark
    val out = java.nio.file.Files.createTempDirectory("graft_verify_err").toString
    // a nonexistent data dir makes the query itself throw (name is valid)
    val e = intercept[RuntimeException] {
      Verify.main(Array("/nonexistent_sf_dir", out, "q1_agg"))
    }
    assert(e.getMessage.contains("q1_agg"))
  }

  test("filtered Verify.main dumps only the selected queries and oracles") {
    spark
    val out = java.nio.file.Files.createTempDirectory("graft_verify_sel").toString
    Verify.main(Array(sfDir, out, "case_expr", "q1_agg"))
    val written = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(written.contains("case_expr") && written.contains("q1_agg"))
    assert(!written.contains("hist_1d"), s"unselected query dumped: $written")
    val oracles = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"))
    val keys = graft.binning.MetaTree.parse(oracles)
      .asInstanceOf[graft.binning.MetaNode.MObj].fields.map(_._1).toSet
    assert(keys == Set("case_expr", "q1_agg"),
      s"oracle dump must match the selection, got $keys")
    assert(!spark.sparkContext.isStopped,
      "Verify.main must not stop a session it did not create")
  }
}

/** Pins for the sliding-window chunker, the Bloom dedup gate, and the
  * containment-fraction decontamination signal. */
class ChunkBloomSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val docs = Tables.documents(spark, sfDir)

  test("chunkDocs windows step by stride and reconstruct the token stream") {
    val chunkLen = 64
    val stride = 48
    val got = TextQueries.chunkDocs(docs, chunkLen, stride).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3)))
      .toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    docs.select("doc_id", "text").collect().foreach { r =>
      val toks = r.getString(1).split(" ", -1)
      val nChunks = 1 + math.ceil(math.max(toks.length - chunkLen, 0) / stride.toDouble).toInt
      val mine = got.filter(_._1._1 == r.getLong(0))
      assert(mine.size == nChunks, s"doc ${r.getLong(0)}: ${mine.size} vs $nChunks chunks")
      // chunk j = toks[j*stride, j*stride+chunkLen); dropping the overlap
      // from every later chunk re-concatenates to exactly the original
      val slices = (0 until nChunks).map(j => toks.slice(j * stride, j * stride + chunkLen))
      slices.zipWithIndex.foreach { case (sl, j) =>
        val (n, hash) = mine((r.getLong(0), j.toLong))
        assert(n == sl.length && hash == h(sl.mkString(" ")), s"doc ${r.getLong(0)} chunk $j")
      }
      val rebuilt = slices.head ++ slices.tail.flatMap(_.drop(chunkLen - stride))
      assert(rebuilt.toSeq == toks.toSeq, s"doc ${r.getLong(0)} does not reconstruct")
    }
  }

  test("bloom probe has no false negatives and unions incrementally") {
    val seen = docs.filter(col("doc_id") % 2 === 0)
    val bits = TextQueries.bloomBuild(seen)
    val hits = TextQueries.bloomProbe(docs, bits).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val seenIds = seen.select("doc_id").collect().map(_.getLong(0)).toSet
    seenIds.foreach(id => assert(hits(id), s"seen doc $id must always flag"))
    // false positives exist but must be rare at m=2^24, k=5, n=250
    val odd = hits.filterNot { case (id, _) => seenIds(id) }
    assert(odd.count(_._2) <= odd.size / 10, s"fp rate too high: ${odd.count(_._2)}/${odd.size}")
    // incremental ingest: union+distinct of two half-filters == one build
    val bitsA = TextQueries.bloomBuild(docs.filter(col("doc_id") % 4 === 0))
    val bitsB = TextQueries.bloomBuild(seen.filter(col("doc_id") % 4 =!= 0))
    val merged = bitsA.union(bitsB).distinct()
    assert(merged.collect().map(_.getLong(0)).toSet ==
      bits.collect().map(_.getLong(0)).toSet)
  }

  test("signalSweep agrees with the standalone quality and entropy queries") {
    val sweep = TextQueries.signalSweep(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val quality = TextQueries.qualityStats(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val entropy = TextQueries.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(sweep.keySet == quality.keySet && sweep.keySet == entropy.keySet)
    sweep.foreach { case (id, s) =>
      val q = quality(id)
      assert(s.getLong(1) == q.getInt(1).toLong, s"doc $id n_tokens vs n_words")
      assert(math.abs(s.getDouble(3) - q.getDouble(3)) < 1e-6, s"doc $id frac_distinct")
      // single-spaced fixture: the token-length and text-length forms of
      // mean word length coincide
      assert(math.abs(s.getDouble(4) - q.getDouble(2)) < 1e-6, s"doc $id mean_word_len")
      assert(s.getInt(5) == q.getInt(4), s"doc $id stop_distinct")
      assert(s.getLong(1) == entropy(id)._1 && s.getDouble(6) == entropy(id)._2,
        s"doc $id entropy")
    }
  }

  test("winnowing guarantees a shared fingerprint for runs of >= w+k-1 tokens") {
    import spark.implicits._
    // k=3, w=4: any shared run of >= 6 tokens must share a fingerprint.
    // Build pairs with a 6-token shared run embedded in different
    // surroundings, and a disjoint pair as the negative control.
    val run = "alpha beta gamma delta epsilon zeta"
    val d = Seq(
      (0L, s"one two $run three four"),
      (1L, s"nine eight seven $run"),
      (2L, "p q r s t u v w x y z")
    ).toDF("doc_id", "text")
    // equal fp_hash would be too strong (different surroundings change
    // the set), so recompute the fingerprint SETS with the same
    // expressions and check intersection
    val sets = d.withColumn("toks", split(col("text"), " "))
      .withColumn("hashes", expr(
        "transform(transform(slice(toks, 1, greatest(size(toks) - 2, 0)), " +
          "(t, i) -> concat_ws(' ', t, element_at(toks, i + 2), element_at(toks, i + 3))), " +
          "g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT))"))
      .withColumn("fps", expr(
        """CASE WHEN size(hashes) = 0 THEN CAST(array() AS ARRAY<BIGINT>)
          |ELSE array_distinct(transform(
          |  sequence(1, greatest(size(hashes) - 4 + 1, 1)),
          |  i -> array_min(slice(hashes, i, 4)))) END""".stripMargin))
      .select(col("doc_id"), col("fps")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((sets(0L) & sets(1L)).nonEmpty, "shared 6-token run must share a fingerprint")
    assert((sets(0L) & sets(2L)).isEmpty && (sets(1L) & sets(2L)).isEmpty,
      "disjoint docs must not collide on this fixture")
    // and the query output is consistent with the sets
    val out = TextQueries.winnowFingerprints(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L)._2 == sets(0L).size && out(1L)._2 == sets(1L).size)
    // density: fingerprints are a strict subset of grams on real docs
    val corpus = TextQueries.winnowFingerprints(docs).collect()
    assert(corpus.forall(r => r.getLong(2) <= r.getLong(1)))
    assert(corpus.exists(r => r.getLong(2) < r.getLong(1)),
      "winnowing must select fewer fingerprints than grams somewhere")
    // the pair matcher surfaces exactly the sharing pair on this fixture
    val pairs = TextQueries.winnowPairs(d, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet == Set((0L, 1L)), s"got $pairs")
    assert(pairs((0L, 1L)) == (sets(0L) & sets(1L)).size)
    // the incremental matcher finds the corpus twin through the index
    // alone (batch = doc 1, corpus = docs 0 and 2) with the same
    // shared-fingerprint count, and a pre-built index is equivalent
    val batch = d.filter(col("doc_id") === 1L)
    val corp = d.filter(col("doc_id") =!= 1L)
    val incr = TextQueries.winnowDedupAgainst(batch, corp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(incr.toSeq == Seq((1L, 0L, (sets(0L) & sets(1L)).size.toLong,
      sets(1L).size.toLong)), s"got ${incr.toSeq}")
    val viaIdx = TextQueries.winnowDedupAgainst(batch, corp,
      corpusIndex = Some(TextQueries.winnowIndex(corp))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(viaIdx.toSeq == incr.toSeq)
  }

  test("corpus funnel counts are monotone and consistent with the pipeline") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") >= 10)
    val bench = docs.filter(col("doc_id") < 10)
    val r = TextQueries.corpusFunnel(corpus, bench).collect()(0)
    val (a, b, c, d) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(a >= b && b >= c && c >= d && d > 0, s"funnel $a >= $b >= $c >= $d")
    assert(a == corpus.count())
    assert(d == TextQueries.corpusClean(corpus, bench,
      persistIntermediate = false).count())
  }

  test("zipf profile recovers the planted power-law slope") {
    import spark.implicits._
    // token r repeated floor(240/r) times, r = 1..40 -> log-log slope ~ -1
    val text = (1 to 40).flatMap(r => Seq.fill(240 / r)(s"t$r")).mkString(" ")
    val d = Seq((0L, text)).toDF("doc_id", "text")
    val row = TextQueries.zipfProfile(d, topV = 40).collect()(0)
    assert(row.getLong(0) == 40, "vocab size")
    assert(row.getLong(2) == 1000000L, "topV covers the whole corpus")
    val slope = row.getDouble(3)
    assert(math.abs(slope + 1.0) < 0.08, s"slope $slope must be ~ -1")
    // flat (uniform) corpus -> slope ~ 0
    val flat = Seq((0L, (1 to 40).flatMap(r => Seq.fill(6)(s"t$r")).mkString(" ")))
      .toDF("doc_id", "text")
    val fs = TextQueries.zipfProfile(flat, topV = 40).collect()(0).getDouble(3)
    assert(math.abs(fs) < 1e-6, s"uniform corpus slope $fs must be 0")
  }

  test("quality outliers: Tukey fences flag the planted extremes only") {
    import spark.implicits._
    val docs = ((1 to 20).map(i => (i.toLong, Array.fill(30)("w").mkString(" "))) :+
      (21L, Array.fill(500)("w").mkString(" ")) :+          // length outlier
      (22L, "w" + "a" * 38)                                 // mean-word-len outlier
      ).toDF("doc_id", "text")
    val out = TextQueries.qualityOutliers(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    // 20 identical docs pin q1 = q3 -> zero-width fences: only the
    // planted extremes flag
    assert(out(21L)._1 && !out(21L)._2 && !out(21L)._3)
    assert(out(22L)._2 && !out(22L)._3)
    assert((1 to 20).forall(i => out(i.toLong)._3), "bulk must keep")
  }

  test("containment fraction is exact on constructed overlap") {
    import spark.implicits._
    val bench = Seq((0L, "a b c d e f g h")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "a b c d e f g h"),     // every 5-gram contained -> 1.0
      (11L, "x y z w v u t s"),     // disjoint -> 0.0
      (12L, "a b c d e zz x y z w") // exactly one of six 5-grams hits
    ).toDF("doc_id", "text")
    val got = TextQueries.containmentFraction(corpus, bench, n = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(10L) == ((4L, 4L, 1.0)))
    assert(got(11L) == ((4L, 0L, 0.0)))
    assert(got(12L) == ((6L, 1L, 0.166667)))
  }

  test("tokenizer fertility is exact on a constructed bilingual corpus") {
    import spark.implicits._
    val fx = Seq(
      (0L, "ab ab", "aa"),  // 2 words, 4 chars + 2 </w> = 6 subwords pre-merge
      (1L, "abc", "bb")     // 1 word, 3 chars + 1 </w> = 4 subwords pre-merge
    ).toDF("doc_id", "text", "lang")
    // no merges: every word encodes to |chars| + 1 symbols
    val none = TextQueries.tokenizerFertility(fx, Seq.empty).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(none("aa") == ((2L, 6L, 3.0)))
    assert(none("bb") == ((1L, 4L, 4.0)))
    // one merge (a,b): 'ab</w>' = [ab, </w>] (2), 'abc</w>' = [ab, c, </w>] (3)
    val m = TextQueries.tokenizerFertility(fx, Seq((0, "a", "b"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
    assert(m("aa") == ((4L, 2.0)), "merged fertility drops for the covered language")
    assert(m("bb") == ((3L, 3.0)))
  }

  test("editDistPairs maxPairsPerDoc caps fan-in; 0 stays oracle-exact") {
    import spark.implicits._
    // a 4-doc identical-template clique (6 pairs) + one near-duplicate
    val tpl = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (Seq.tabulate(4)(i => (i.toLong, tpl)) :+
      (10L, tpl + " extra")).toDF("doc_id", "text")
    val full = TextQueries.editDistPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
      .subsetOf(full), full.toString)
    val capped = TextQueries.editDistPairs(docs, maxPairsPerDoc = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(full), "capped output must be a subset of the exact result")
    assert(capped.groupBy(_._1).forall(_._2.size <= 1),
      s"each d1 keeps at most maxPairsPerDoc candidates: $capped")
    // the deterministic keep rule: strongest n_shared, then smallest d2
    assert(capped.contains((0L, 1L)), capped.toString)
  }
}
