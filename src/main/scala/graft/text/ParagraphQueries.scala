package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Paragraph/line-level curation — the sub-document granularity the
  * big production pipelines actually dedup and scrub at, next to the
  * repo's document-level (exact/MinHash/SimHash) and span-level
  * (exact-substring window) families:
  *
  *  - CCNet (Wenzek et al. 2020 §3.1) deduplicates by PARAGRAPH hash:
  *    a duplicated paragraph survives at its corpus-wide first
  *    occurrence and is scrubbed everywhere else — [[paragraphDedup]];
  *  - RefinedWeb (Penedo et al. 2023 §3.4) / Dolma remove BOILERPLATE
  *    lines whose document frequency exceeds a threshold (nav junk,
  *    cookie banners) from every page including the first —
  *    [[scrubFrequentLines]];
  *  - C4 (Raffel et al. 2020 §2.2) applies per-LINE keep rules
  *    (minimum word count, terminal punctuation, phrase blocklist) and
  *    per-PAGE rules (minimum surviving lines, bad-word/code-marker
  *    page drop) — [[c4Filter]];
  *  - the incremental member ([[paragraphDedupAgainst]]): a new batch
  *    scrubs every paragraph already present in the existing corpus,
  *    whose only contribution is its persistable distinct
  *    paragraph-hash index ([[paragraphIndex]] — the
  *    `corpusIndex`/`substringIndex` discipline).
  *
  * Scale shape (100 TB): paragraph STRINGS never cross the network —
  * every occurrence reduces to a compact (page_id, idx, 60-bit hash)
  * row before any exchange, the same discipline as the exact-substring
  * family. Keep-first dedup shuffle-joins two compact h-keyed frames
  * (the dup set is corpus-derived and Zipf-large, NOT broadcastable);
  * the boilerplate scrub's frequent set IS broadcastable by
  * construction (at most total_lines/maxDf entries); the C4 filter is
  * a pure map-only pass with zero exchanges.
  *
  * The synthetic documents table carries no newlines, so the demo
  * adapter [[segmentPages]] derives a multi-line page per document
  * (newline-separated fixed-token segments — map-only, replayed
  * verbatim by the DuckDB oracles). Real corpora pass their own
  * newline-separated pages straight to the operators.
  */
object ParagraphQueries {
  import TextQueries.phashSql

  type Q = (SparkSession, String) => DataFrame

  /** Tokens per derived paragraph in the demo page adapter. */
  val SegLen = 10

  /** Demo adapter: one page per document, text re-rendered as
    * newline-separated segments of `segLen` tokens (last segment may be
    * shorter). Map-only; exists only because the synthetic corpus has
    * no newlines — production pages skip it.
    */
  def segmentPages(docs: DataFrame, segLen: Int = SegLen): DataFrame = {
    require(segLen >= 1, s"segment length must be >= 1, got $segLen")
    docs.select(col("doc_id").as("page_id"), split(col("text"), " ").as("toks"))
      .select(col("page_id"), concat_ws("\n", expr(
        s"""transform(sequence(0, CAST(ceil(size(toks) / ${segLen}.0) AS INT) - 1),
           |  b -> concat_ws(' ', slice(toks, b * $segLen + 1, $segLen)))""".stripMargin))
        .as("text"))
  }

  /** CCNet paragraph-level dedup, keep-first: a paragraph whose hash
    * occurs ≥ 2 times corpus-wide is scrubbed everywhere EXCEPT its
    * corpus-wide first (page_id, idx) occurrence. Emits
    * (page_id, n_paras, n_removed, clean_hash).
    *
    * Scale shape: the span-dedup core's keep-one pipeline at paragraph
    * grain ([[SpanDedup.paragraphs]]): the (h → count, min(struct(
    * page_id, idx))) aggregate combines map-side — one compact
    * 60-bit-keyed shuffle of O(corpus paragraphs) 24-byte rows; the
    * occurrence frame shuffle-joins it on h (the dup set is Zipf-large
    * — a boilerplate paragraph shared by millions of pages — so it is
    * NOT broadcast; each occurrence row emits exactly once, bounded);
    * the removed positions collect per page and the linear scrub
    * rebuilds each page with its kept paragraphs.
    */
  def paragraphDedup(pages: DataFrame): DataFrame =
    SpanDedup.dedup(SpanDedup.paragraphs, pages, SpanDedup.allButFirst(_, "page_id"))

  /** RefinedWeb/Dolma boilerplate-line scrub: lines whose DOCUMENT
    * frequency (distinct pages containing them) exceeds `maxDf` are
    * removed from every page, first occurrence included — nav junk and
    * cookie banners, not content dedup. Emits the [[paragraphDedup]]
    * shape.
    *
    * Scale shape: the frequent set is bounded at total_lines/maxDf
    * entries by construction (each needs > maxDf supporting pages), so
    * it broadcasts — the [[TextQueries.scrubFrequentNgrams]] precedent;
    * the corpus-side pass never shuffles on a line key.
    */
  def scrubFrequentLines(pages: DataFrame, maxDf: Long = 1): DataFrame =
    SpanDedup.dedup(SpanDedup.paragraphs, pages, SpanDedup.frequent(_, "page_id", maxDf))

  /** Incremental paragraph dedup: scrub from `batch` every paragraph
    * whose hash already exists in `corpusIdx` ([[paragraphIndex]] of
    * the existing corpus — persistable, the incremental-family
    * discipline). Batch-internal duplication deliberately does NOT
    * scrub (composes with [[paragraphDedup]] over the batch itself).
    *
    * The index is checked STRICT at plan time (kind + hash kind — a
    * char-window or token index under this consumer, or an index
    * rebuilt with a native hash, matches zero paragraph hashes and
    * every known paragraph survives the scrub unseen); a stripped
    * index fails loudly.
    */
  def paragraphDedupAgainst(batch: DataFrame, corpusIdx: DataFrame): DataFrame = {
    IndexContract.paragraphHash.check(corpusIdx)
    SpanDedup.dedup(SpanDedup.paragraphs, batch, SpanDedup.present(_, corpusIdx.select("h")))
  }

  /** The persistable corpus paragraph-hash index: one distinct 60-bit
    * hash per paragraph ever seen. Unions cheaply as the corpus grows.
    * Stamped kind + hash-kind (+ optional build id) on `h` — the
    * [[TextQueries.winnowIndex]] metadata contract, checked by
    * [[paragraphDedupAgainst]] and the streaming gate.
    */
  def paragraphIndex(corpus: DataFrame, buildId: Option[String] = None): DataFrame =
    SpanDedup.index(SpanDedup.paragraphs, corpus, buildId)

  /** Persist [[paragraphIndex]] as a BUCKETED catalog table (bucketed +
    * sorted by `h`, the probe key) — the production layout: at probe
    * time the static index side carries no Exchange; only the batch's
    * paragraph-hash rows move. Rebuild (or union a delta) per corpus
    * version. */
  def writeParagraphIndexTable(corpus: DataFrame, table: String,
                               buckets: Int = 64,
                               buildId: Option[String] = None): Unit =
    SpanDedup.writeIndexTable(SpanDedup.paragraphs, corpus, table, buckets, buildId)

  /** C4-style line + page filtering (Raffel et al. 2020 §2.2): a line
    * survives iff it has ≥ `minWords` words, (optionally) ends in
    * terminal punctuation, and contains no `lineBlock` phrase
    * (lowercased substring match — C4's "javascript"/"lorem ipsum"
    * line rules); a page is kept iff ≥ `minKeptLines` lines survive,
    * no `pageBlock` word appears as a token anywhere on the page, and
    * the page carries no `{` code marker. Emits (page_id, n_lines,
    * n_kept, kept, clean_hash) — clean_hash over the surviving lines.
    *
    * Scale shape: pure map-only per-row arithmetic — zero exchanges,
    * zero joins, whole-stage codegen (PlanSpec-pinned); at 100 TB this
    * is scan-bound by construction.
    */
  def c4Filter(pages: DataFrame,
               minWords: Int = 5,
               minKeptLines: Int = 3,
               lineBlock: Seq[String] = Seq("javascript", "lorem ipsum"),
               pageBlock: Seq[String] = Seq.empty,
               requirePunct: Boolean = false): DataFrame = {
    val lineBlockArr =
      if (lineBlock.isEmpty) "CAST(array() AS ARRAY<STRING>)"
      else lineBlock.map(p => s"'${p.toLowerCase}'").mkString("array(", ", ", ")")
    val punctCond = if (requirePunct) " AND l RLIKE '[.!?\"]$'" else ""
    val keptExpr =
      s"""filter(lines, l -> size(split(l, ' ')) >= $minWords$punctCond
         |  AND NOT exists($lineBlockArr, b -> contains(lower(l), b)))""".stripMargin
    val pageBlocked: Column =
      if (pageBlock.isEmpty) lit(false)
      else arrays_overlap(split(col("text"), "[ \n]"),
        array(pageBlock.map(lit(_)): _*))
    pages
      .select(col("page_id"), col("text"), split(col("text"), "\n").as("lines"))
      .select(col("page_id"), col("text"), col("lines"), expr(keptExpr).as("keptLines"))
      .select(
        col("page_id"),
        size(col("lines")).as("n_lines"),
        size(col("keptLines")).as("n_kept"),
        (size(col("keptLines")) >= minKeptLines &&
          !pageBlocked && !col("text").contains("{")).as("kept"),
        md5(concat_ws("\n", col("keptLines"))).as("clean_hash"))
  }

  // ---------------------------------------------------------------
  // driver-facing queries + DuckDB oracles
  // ---------------------------------------------------------------

  private def pagedDocs(s: SparkSession, dir: String): DataFrame =
    segmentPages(Tables.documents(s, dir))

  val queries: Map[String, Q] = Map(
    "dedup_paragraph" -> { (s, dir) => paragraphDedup(pagedDocs(s, dir)) },
    "txt_scrub_lines" -> { (s, dir) => scrubFrequentLines(pagedDocs(s, dir)) },
    // incremental form: odd pages (the new batch) scrubbed of
    // paragraphs already present in the even-page corpus index
    "dedup_paragraph_incr" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      paragraphDedupAgainst(
        segmentPages(docs.filter(col("doc_id") % 2 === 1)),
        paragraphIndex(segmentPages(docs.filter(col("doc_id") % 2 === 0))))
    },
    // line rule discriminates on the short tail segment + the 'slow'
    // phrase; page rules on surviving-line count + the rare planted
    // 'dup' marker token
    "txt_c4_filter" -> { (s, dir) =>
      c4Filter(pagedDocs(s, dir), minWords = 6, minKeptLines = 4,
        lineBlock = Seq("slow"), pageBlock = Seq("dup"))
    })

  /** Shared oracle prologue: replay [[segmentPages]] (1-based DuckDB
    * list slices) and explode 0-based paragraph positions.
    */
  private def pagesCte(where: String = ""): String =
    s"""t0 AS (SELECT doc_id AS page_id, string_split(text, ' ') AS toks
       |       FROM documents$where),
       |t AS (SELECT page_id, list_transform(range(0, CAST(ceil(len(toks) / $SegLen.0) AS BIGINT)),
       |        b -> array_to_string(toks[b * $SegLen + 1 : b * $SegLen + $SegLen], ' ')) AS paras
       |      FROM t0),
       |occ AS (SELECT page_id, i - 1 AS idx, ${phashSql("paras[i]")} AS h
       |        FROM t, LATERAL (SELECT unnest(range(1, len(paras) + 1)) AS i))""".stripMargin

  private val rebuildSelect: String =
    """SELECT t.page_id,
      |  CAST(len(t.paras) AS INT) AS n_paras,
      |  CAST(coalesce(len(r.removed), 0) AS INT) AS n_removed,
      |  md5(coalesce(array_to_string(list_filter(t.paras,
      |    (p, j) -> NOT list_contains(coalesce(r.removed, CAST([] AS BIGINT[])), j - 1)), chr(10)), '')) AS clean_hash
      |FROM t LEFT JOIN rem r USING (page_id)""".stripMargin

  private val paragraphDedupOracle: String =
    s"""WITH ${pagesCte()},
       |d AS (SELECT page_id, idx,
       |        count(*) OVER (PARTITION BY h) AS c,
       |        row_number() OVER (PARTITION BY h ORDER BY page_id, idx) AS rn
       |      FROM occ),
       |rem AS (SELECT page_id, list(idx) AS removed
       |        FROM d WHERE c >= 2 AND rn > 1 GROUP BY page_id)
       |$rebuildSelect""".stripMargin

  private def scrubLinesOracle(maxDf: Long): String =
    s"""WITH ${pagesCte()},
       |freq AS (SELECT h FROM (
       |    SELECT h, count(DISTINCT page_id) AS df FROM occ GROUP BY h) WHERE df > $maxDf),
       |rem AS (SELECT page_id, list(idx) AS removed
       |        FROM occ JOIN freq USING (h) GROUP BY page_id)
       |$rebuildSelect""".stripMargin

  private val paragraphIncrOracle: String =
    s"""WITH ${pagesCte(" WHERE doc_id % 2 = 1")},
       |cidx AS (SELECT DISTINCT ${phashSql("paras[i]")} AS h
       |  FROM (SELECT list_transform(range(0, CAST(ceil(len(toks) / $SegLen.0) AS BIGINT)),
       |          b -> array_to_string(toks[b * $SegLen + 1 : b * $SegLen + $SegLen], ' ')) AS paras
       |        FROM (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 2 = 0)),
       |       LATERAL (SELECT unnest(range(1, len(paras) + 1)) AS i)),
       |rem AS (SELECT page_id, list(occ.idx) AS removed
       |        FROM occ JOIN cidx USING (h) GROUP BY page_id)
       |$rebuildSelect""".stripMargin

  private def c4Oracle(minWords: Int, minKeptLines: Int,
                       lineBlock: Seq[String], pageBlock: Seq[String]): String = {
    val lb = lineBlock.map(p => s"'${p.toLowerCase}'").mkString("[", ", ", "]")
    val pb = pageBlock.map(p => s"'$p'").mkString("[", ", ", "]")
    s"""WITH ${pagesCte()},
       |f AS (SELECT page_id, paras AS lines,
       |        list_filter(paras, l -> len(string_split(l, ' ')) >= $minWords
       |          AND NOT len(list_filter($lb, b -> contains(lower(l), b))) > 0) AS kept_lines,
       |        list_has_any(flatten(list_transform(paras, l -> string_split(l, ' '))), $pb) AS blocked,
       |        contains(array_to_string(paras, chr(10)), '{') AS has_brace
       |      FROM t)
       |SELECT page_id,
       |  CAST(len(lines) AS INT) AS n_lines,
       |  CAST(len(kept_lines) AS INT) AS n_kept,
       |  (len(kept_lines) >= $minKeptLines AND NOT blocked AND NOT has_brace) AS kept,
       |  md5(coalesce(array_to_string(kept_lines, chr(10)), '')) AS clean_hash
       |FROM f""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "dedup_paragraph" -> paragraphDedupOracle,
    "txt_scrub_lines" -> scrubLinesOracle(maxDf = 1),
    "dedup_paragraph_incr" -> paragraphIncrOracle,
    "txt_c4_filter" -> c4Oracle(minWords = 6, minKeptLines = 4,
      lineBlock = Seq("slow"), pageBlock = Seq("dup")))
}
