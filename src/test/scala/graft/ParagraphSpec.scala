package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.ParagraphQueries

/** Semantics pins for the paragraph/line-level curation family
  * ([[graft.text.ParagraphQueries]]): CCNet keep-first paragraph dedup,
  * RefinedWeb boilerplate-line scrub (document frequency, all
  * occurrences), the C4 line+page rule set, and the incremental form —
  * on constructed multi-line fixtures the synthetic corpus can't
  * express, plus the map-only / broadcast plan shapes.
  */
class ParagraphSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def md5Of(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Int, String)] =
    df.collect().map(r => r.getLong(r.fieldIndex("page_id")) ->
      ((r.getInt(r.fieldIndex("n_paras")), r.getInt(r.fieldIndex("n_removed")),
        r.getString(r.fieldIndex("clean_hash"))))).toMap

  test("paragraphDedup keeps the corpus-wide first occurrence and scrubs the rest") {
    val pages = Seq(
      (0L, "x\ny\nz"), // y's first occurrence: (0, 1)
      (1L, "y\nw"),
      (2L, "y")
    ).toDF("page_id", "text")
    val got = rowsOf(ParagraphQueries.paragraphDedup(pages))
    assert(got(0L) == ((3, 0, md5Of("x\ny\nz"))), "first occurrence survives intact")
    assert(got(1L) == ((2, 1, md5Of("w"))))
    assert(got(2L) == ((1, 1, md5Of(""))), "a fully-scrubbed page hashes the empty text")
  }

  test("paragraphDedup scrubs a WITHIN-page repeat (the second copy)") {
    val pages = Seq((7L, "p\np\nq")).toDF("page_id", "text")
    val got = rowsOf(ParagraphQueries.paragraphDedup(pages))
    assert(got(7L) == ((3, 1, md5Of("p\nq"))))
  }

  test("scrubFrequentLines counts DOCUMENT frequency and removes every occurrence") {
    val pages = Seq(
      (0L, "nav\na\nnav"), // nav twice in one page: df = 1, survives at maxDf=1
      (1L, "b\nfoot"),
      (2L, "foot\nc") // foot in two pages: df = 2 > 1, removed everywhere
    ).toDF("page_id", "text")
    val got = rowsOf(ParagraphQueries.scrubFrequentLines(pages, maxDf = 1))
    assert(got(0L) == ((3, 0, md5Of("nav\na\nnav"))),
      "within-page repetition alone is not boilerplate (df counts distinct pages)")
    assert(got(1L) == ((2, 1, md5Of("b"))), "the FIRST occurrence is removed too")
    assert(got(2L) == ((2, 1, md5Of("c"))))
  }

  test("paragraphDedup and scrubFrequentLines on a LONG page == brute-force reference") {
    // the fixtures of the two tests above plus a 2400-paragraph page
    // whose paragraphs mostly repeat (within the page and across a
    // second long page) — the dense removed-position list the scrub
    // must rebuild linearly. The reference is the semantics definition
    // over paragraph STRINGS, computed independently of the plan.
    val pool = (0 until 40).map(i => s"boiler plate line $i")
    val long1 = (0 until 2400).map(i =>
      if (i % 25 == 7) s"unique one $i" else pool(i % pool.size)).mkString("\n")
    val long2 = (Seq("y", "foot") ++ (0 until 300).map(i => pool((i * 7) % pool.size)) ++
      Seq("own tail")).mkString("\n")
    val fixture = Seq(
      (0L, "x\ny\nz"), (1L, "y\nw"), (2L, "y"),
      (3L, "nav\na\nnav"), (4L, "b\nfoot"), (5L, "foot\nc"),
      (6L, long1), (7L, long2))
    val occ = for ((id, t) <- fixture; (p, j) <- t.split("\n", -1).zipWithIndex)
      yield (id, j, p)
    def expect(removed: ((Long, Int, String)) => Boolean): Map[Long, (Int, Int, String)] =
      fixture.map { case (id, t) =>
        val paras = t.split("\n", -1)
        val gone = occ.filter(o => o._1 == id && removed(o)).map(_._2).toSet
        id -> ((paras.length, gone.size,
          md5Of(paras.indices.filterNot(gone).map(paras).mkString("\n"))))
      }.toMap
    val first = occ.groupBy(_._3).map { case (p, os) => p -> os.map(o => (o._1, o._2)).min }
    val copies = occ.groupBy(_._3).map { case (p, os) => p -> os.size }
    val pagesWith = occ.groupBy(_._3).map { case (p, os) => p -> os.map(_._1).distinct.size }
    val pages = fixture.toDF("page_id", "text")
    val dedupWant = expect(o => copies(o._3) >= 2 && first(o._3) != ((o._1, o._2)))
    assert(dedupWant(6L)._2 > 2000, "the long page must be mostly repeats")
    assert(rowsOf(ParagraphQueries.paragraphDedup(pages)) == dedupWant)
    assert(rowsOf(ParagraphQueries.scrubFrequentLines(pages, maxDf = 1)) ==
      expect(o => pagesWith(o._3) > 1))
  }

  test("paragraphDedupAgainst scrubs corpus-known paragraphs, not batch-internal dups") {
    val corpus = Seq((0L, "old\nshared")).toDF("page_id", "text")
    val batch = Seq((10L, "shared\nnew\nnew")).toDF("page_id", "text")
    val got = rowsOf(ParagraphQueries.paragraphDedupAgainst(
      batch, ParagraphQueries.paragraphIndex(corpus)))
    // 'shared' is in the index → scrubbed; the batch-internal 'new'
    // repeat is deliberately untouched (composes with paragraphDedup)
    assert(got(10L) == ((3, 1, md5Of("new\nnew"))))
  }

  test("c4Filter applies line rules (min words, punct, phrase block) and page rules") {
    val pages = Seq(
      // line 0 long+punct, line 1 too short, line 2 blocked phrase
      (0L, "one two three four.\nshort one\nclick here for JavaScript magic five"),
      (1L, "one two three four five\nsix seven eight nine ten."), // no-punct line dies under requirePunct
      (2L, "function() { return }\nvalid line of five words."), // brace page drop
      (3L, "badword one two three four.\nfive six seven eight nine.") // page-block token
    ).toDF("page_id", "text")
    val out = ParagraphQueries.c4Filter(pages, minWords = 4, minKeptLines = 1,
      lineBlock = Seq("javascript"), pageBlock = Seq("badword"), requirePunct = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(3), r.getString(4)))).toMap
    assert(out(0L) == ((3, 1, true, md5Of("one two three four."))),
      "short and phrase-blocked lines die; the lowercased substring match catches 'JavaScript'")
    assert(out(1L) == ((2, 1, true, md5Of("six seven eight nine ten."))),
      "requirePunct drops the unterminated line")
    assert(out(2L)._3 == false, "a '{' anywhere drops the page")
    assert(out(3L)._3 == false, "a blocked token anywhere drops the page")
    assert(out(3L)._1 == 2 && out(3L)._2 == 2,
      "page rules don't change line accounting")
  }

  test("c4Filter page blocklist matches whole tokens, not substrings") {
    val pages = Seq((0L, "dups are fine here one two three")).toDF("page_id", "text")
    val out = ParagraphQueries.c4Filter(pages, minWords = 1, minKeptLines = 1,
      lineBlock = Seq.empty, pageBlock = Seq("dup"))
      .collect().head
    assert(out.getBoolean(out.fieldIndex("kept")), "'dups' must not trip the 'dup' token block")
  }

  test("segmentPages re-renders the original text with newlines every SegLen tokens") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val bad = ParagraphQueries.segmentPages(docs)
      .select(col("page_id"), regexp_replace(col("text"), "\n", " ").as("rt"))
      .join(docs, col("page_id") === col("doc_id"))
      .filter(col("rt") =!= col("text"))
      .count()
    assert(bad == 0, "joining segments with spaces must reconstruct the source text")
  }

  test("txt_c4_filter is map-only: zero exchanges in the executed plan") {
    val p = SparkEntry.queries("txt_c4_filter")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"C4 line+page rules are per-row arithmetic — must not shuffle:\n${p.take(1200)}")
  }

  test("txt_scrub_lines broadcasts the bounded frequent set; dedup_paragraph never does") {
    val scrub = SparkEntry.queries("txt_scrub_lines")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(scrub.contains("BroadcastHashJoin"),
      s"the df>maxDf set is bounded by construction and must broadcast:\n${scrub.take(1200)}")
    // keep-first's dup set is corpus-derived (Zipf-large): the engine
    // must not FORCE a broadcast — with the size-based auto-broadcast
    // off (the 100 TB regime, where the stats side exceeds any
    // threshold) the h-join degrades to a shuffle join, no funnel
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = SparkEntry.queries("dedup_paragraph")(spark, sfDir)
      val dedup = df.queryExecution.executedPlan.toString
      assert(!dedup.contains("BroadcastHashJoin"),
        "no hint may force a broadcast of the corpus-derived dup set")
      assert(!graft.ops.Scale.hasSinglePartitionExchange(df),
        "no single-partition funnel anywhere in keep-first dedup")
    } finally spark.conf.set(key, saved)
  }

  test("paragraph hashes, not strings, cross the keep-first shuffle") {
    val p = SparkEntry.queries("dedup_paragraph")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(ex.subsetOf(Set("h", "page_id")),
      s"only the 60-bit hash and page_id may key exchanges, got $ex")
  }
}
