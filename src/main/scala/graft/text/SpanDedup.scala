package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The occurrence→scrub core of span-level dedup: every piece the
  * token-window, char-window and paragraph forms
  * ([[TextFuzzyDedupOps.exactSubstringDedup]] and its keep-one,
  * incremental and char-granularity siblings,
  * [[TextFuzzyDedupOps.scrubFrequentNgrams]], [[ParagraphQueries]]'
  * dedup, scrub and index) and their streaming gates
  * ([[graft.streaming.StreamOps]]) share, written once. Each operator
  * is a composition of four steps:
  *  1. hash the positional occurrences of a [[Grain]]'s windows into the
  *     compact `(key, pos, h)` frame ([[occurrences]]);
  *  2. select the occurrences to remove — repeated corpus-wide
  *     ([[repeated]], Lee et al. 2022 remove-all), all but the first
  *     ([[allButFirst]], keep-one / CCNet keep-first), more frequent
  *     than `maxDf` ([[frequent]], boilerplate), or present in a corpus
  *     index ([[present]], the incremental forms and the gates);
  *  3. `collect_set` the selected start positions per document;
  *  4. rebuild the text with the one linear scrub projection
  *     ([[scrub]]).
  *
  * Window strings exist only partition-locally between the explode and
  * the hash projection: what shuffles is compact (h, key, pos) rows.
  */
private[graft] object SpanDedup {
  import TextQueries.{phash, phashFrag}

  // ---- granularity ----

  /** A span granularity.
    *
    * @param key     the row key of the input (`doc_id`; pages: `page_id`)
    * @param unit    name of the per-row units column the scrub reads
    * @param units   that column, derived from `text`
    * @param windows the per-position window array, an expression over
    *                `unit` or `text`: window strings, or (chars) the
    *                window hashes themselves. Never a bare column: a
    *                generator over an attribute gets an inferred
    *                `size(...) > 0` filter that Catalyst pushes down to
    *                the scan, evaluating the input's derivation twice
    * @param hash    window → occurrence key `h`
    * @param window  units one window covers: k, L or 1
    * @param sep     separator the kept units re-join with; the char
    *                grain slices `text` itself and joins with ""
    * @param count   name of the unit-count output column
    * @param spans   whether the output carries the maximal-span count
    * @param contract the contract of the grain's corpus index on `h`
    */
  final case class Grain(key: String, unit: String, units: Column, windows: Column,
                         hash: Column => Column, window: Int, sep: String,
                         count: String, spans: Boolean, contract: IndexContract) {
    /** The char grain's units are the code points of `text` itself. */
    def textUnits: Boolean = unit == "text"
  }

  /** k-token windows (Lee et al. 2022's granularity): units
    * `split(text, ' ')`, windows the space-joined k-grams, hashed md5→60
    * bits or with native xxhash64. */
  def tokens(k: Int, portableHash: Boolean): Grain = {
    require(k >= 2, s"window length must be >= 2 tokens, got $k")
    Grain("doc_id", "toks", split(col("text"), " "), expr(TextQueries.ngramArrayExpr(k)),
      if (portableHash) phash else (c => xxhash64(c)), k, " ", "n_tokens",
      spans = true, IndexContract.substringTok(k, portableHash))
  }

  /** L-char windows at every code-point offset (the suffix-array tool's
    * any-offset semantics); the window array is already hashed. */
  def chars(L: Int, portableHash: Boolean): Grain = {
    require(L >= 2, s"window length must be >= 2 chars, got $L")
    Grain("doc_id", "text", col("text"), charWinHashCol(L, portableHash), c => c,
      L, "", "n_chars", spans = true, IndexContract.substringChar(L, portableHash))
  }

  /** Newline-separated paragraphs of a page (CCNet's granularity): a
    * window of one unit, re-joined with "\n", no span count. */
  def paragraphs: Grain = {
    val paras = split(col("text"), "\n")
    Grain("page_id", "paras", paras, paras, phash,
      1, "\n", "n_paras", spans = false, IndexContract.paragraphHash)
  }

  /** Every length-`L` character window of `text` at every character
    * offset, as an array expression. Guarded: shorter-than-L docs get
    * an empty array (a bare `sequence(0, len-L)` would count DOWN for
    * negative bounds). */
  private def charWinExpr(L: Int): String =
    s"""CASE WHEN length(text) < $L THEN CAST(array() AS ARRAY<STRING>)
       |ELSE transform(sequence(0, length(text) - $L),
       |  i -> substring(text, i + 1, $L)) END""".stripMargin

  /** The per-doc array of HASHED L-char windows (element k = window at
    * char offset k). `portableHash=true` materializes each window
    * string and md5-digests it (O(n·L) bytes, what the DuckDB oracle
    * replays); `portableHash=false` is the O(n) rolling-polynomial
    * kernel ([[graft.functions.RollingHashWindows]]) that never
    * materializes a window. Same window boundaries by construction
    * (both count code points); result-level parity is spec-pinned. */
  private[graft] def charWinHashCol(L: Int, portableHash: Boolean): Column =
    if (portableHash)
      expr(s"transform(${charWinExpr(L)}, w -> ${phashFrag("w")})")
    else
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.RollingHashWindows(
          org.apache.spark.sql.GraftBridge.expression(col("text")), L))

  // ---- occurrence frame ----

  /** `carry` ++ (pos, h): one row per window of `df`'s `unit` column,
    * `pos` its 0-based start. `outer` keeps a window-less row (null pos
    * and h) so a short document still reaches a streaming gate. */
  def occurrences(g: Grain, df: DataFrame, carry: Seq[String],
                  outer: Boolean = false): DataFrame = {
    val gen = if (outer) posexplode_outer(g.windows) else posexplode(g.windows)
    df.select(carry.map(col) :+ gen.as(Seq("pos", "w")): _*)
      .select(carry.map(col) ++ Seq(col("pos"), g.hash(col("w")).as("h")): _*)
  }

  /** (h): the window hashes of `df`'s text without positions, read
    * straight off the scan — what the distinct index and an unclustered
    * corpus-wide count need. */
  def hashes(g: Grain, df: DataFrame): DataFrame =
    df.withColumn(g.unit, g.units)
      .select(explode(g.windows).as("w"))
      .select(g.hash(col("w")).as("h"))

  // ---- selection policies ----

  /** Occurrences whose hash occurs ≥ 2 times in `counted` (an `h`
    * frame: the occurrences themselves, or [[hashes]] of an unclustered
    * scan) — repeated within or across documents. The (h, count)
    * aggregate combines map-side; the dup set is corpus-derived
    * (Zipf-large for a template clique), so the semi-join is left to
    * the planner, never forced to broadcast. */
  def repeated(occ: DataFrame, counted: DataFrame): DataFrame =
    present(occ, counted.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h"))

  /** Occurrences of a repeated hash except its corpus-wide first, the
    * lexicographically smallest (key, pos): the argmin rides the count
    * aggregate (16 extra bytes per hash), and each occurrence tests
    * itself against the winner row-locally after the h-join. */
  def allButFirst(occ: DataFrame, key: String): DataFrame = {
    val dup = occ.groupBy("h")
      .agg(count(lit(1)).as("c"), min(struct(col(key), col("pos"))).as("first"))
      .filter(col("c") >= 2)
      .select(col("h"), col("first"))
    occ.join(dup, Seq("h"))
      .filter(!(col(key) === col(s"first.$key") && col("pos") === col("first.pos")))
  }

  /** Occurrences whose hash appears in more than `maxDf` distinct keys,
    * every occurrence included. The frequent set holds at most
    * occurrences/maxDf hashes by construction, so it broadcasts. */
  def frequent(occ: DataFrame, key: String, maxDf: Long): DataFrame =
    present(occ, broadcast(occ.groupBy("h")
      .agg(countDistinct(col(key)).as("df"))
      .filter(col("df") > maxDf)
      .select("h")))

  /** Occurrences whose hash is in `set` (an `h` column): a left-semi
    * equi-join on the compact key. A bucketed index table meets it
    * without an Exchange on its side. */
  def present(occ: DataFrame, set: DataFrame): DataFrame =
    occ.join(set, Seq("h"), "left_semi")

  // ---- batch pipeline ----

  /** Cluster `docs` by key, derive the occurrences above the clustering
    * (window rows never cross the network), select with `policy`,
    * collect the selected starts per key and scrub the join-back onto
    * the same clustering. The occurrence side and the rebuild read one
    * clustered frame, and the key is made non-null on both up front:
    * left to the optimizer, only the occurrence side would get the
    * `isnotnull` the join infers, the two exchanges would differ, and
    * the full text would cross the network twice instead of once (AQE
    * reuses identical exchanges). Rows without a key are not documents
    * and are dropped. `persist` pins the occurrence fan-out for a policy
    * that reads it twice (see [[SimJoin.persistIf]]; the cache is
    * session-owned). */
  def dedup(g: Grain, docs: DataFrame, policy: DataFrame => DataFrame,
            persist: Boolean = false): DataFrame = {
    val clustered = docs.filter(col(g.key).isNotNull).repartition(col(g.key))
    val occ = SimJoin.persistIf(
      occurrences(g, clustered.withColumn(g.unit, g.units), Seq(g.key)), persist)
    val starts = policy(occ).groupBy(g.key).agg(collect_set(col("pos")).as("starts"))
    scrub(g, clustered.select(col(g.key), g.units.as(g.unit))
      .join(starts, Seq(g.key), "left"), Seq(g.key))
  }

  /** The span-scrub PROJECTION over a frame carrying the grain's `unit`
    * column and `starts` (selected 0-based window starts, possibly null
    * or empty): pure per-row expressions, so the batch join-back and
    * the streaming gates run it verbatim. LINEAR in document length:
    * the sorted start list is walked once as pairwise (start,
    * next-start) comparisons. Sorted ascending, the immediately
    * preceding start always owns the maximal prior coverage end, so
    * every overlap/gap decision is local to the pair:
    *  - removed units sum each start's marginal coverage min(w, next−cur);
    *  - a span opens where the gap next−cur exceeds w;
    *  - the clean text is the head slice plus each start's
    *    post-coverage gap slice, md5-hashed.
    * Never a per-unit membership probe of the start set, which is
    * O(len·|starts|): len² on a fully-duplicated long document.
    * Emits `keyCols` ++ (count, n_removed, [n_spans,] clean_hash). */
  def scrub(g: Grain, df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val (u, w) = (g.unit, g.window)
    val size = if (g.textUnits) s"length($u)" else s"size($u)"
    def piece(from: String, len: String): String =
      if (g.textUnits) s"substring($u, $from, $len)" else s"slice($u, $from, greatest($len, 0))"
    val gaps = s"zip_with(ss, nxt, (a, b) -> ${piece(s"a + $w + 1", s"b - a - $w")})"
    val kept = expr(
      s"""CASE WHEN size(ss) = 0 THEN $u
         |ELSE concat(${piece("1", "element_at(ss, 1)")},
         |  ${if (g.textUnits) s"concat_ws('', $gaps)" else s"flatten($gaps)"}) END""".stripMargin)
    val spans =
      if (!g.spans) Nil
      else Seq(expr(
        s"""CASE WHEN size(ss) = 0 THEN 0
           |ELSE 1 + size(filter(zip_with(slice(ss, 2, size(ss) - 1),
           |  slice(ss, 1, size(ss) - 1), (cur, prev) -> cur > prev + $w), x -> x)) END""".stripMargin)
        .as("n_spans"))
    df
      .withColumn("ss", expr("array_sort(coalesce(starts, CAST(array() AS ARRAY<INT>)))"))
      // each start's coverage is bounded by the NEXT start; the last
      // runs to its own window end (every window start p satisfies
      // p + w <= the unit count, which therefore caps it at exactly w)
      .withColumn("nxt", expr(
        s"""CASE WHEN size(ss) = 0 THEN CAST(array() AS ARRAY<INT>)
           |ELSE concat(slice(ss, 2, size(ss) - 1), array($size)) END""".stripMargin))
      .select(keyCols.map(col) ++ Seq(
        expr(size).as(g.count),
        expr(s"aggregate(zip_with(ss, nxt, (a, b) -> least($w, b - a)), 0, (acc, x) -> acc + x)")
          .as("n_removed")) ++ spans :+
        md5(if (g.textUnits) kept else concat_ws(g.sep, kept)).as("clean_hash"): _*)
  }

  // ---- corpus index ----

  /** The persistable side of the incremental forms: the DISTINCT window
    * hashes of a corpus, stamped with the grain's kind, hash kind,
    * window length and optional build id. One explode and a
    * map-side-combined distinct; union it as the corpus grows. */
  def index(g: Grain, corpus: DataFrame, buildId: Option[String]): DataFrame =
    hashes(g, corpus)
      // a select after the generator's: generator aliases drop explicit metadata
      .select(g.contract.stamped(col("h"), buildId))
      .distinct()

  /** Persist [[index]] as a catalog table bucketed + sorted by `h`, the
    * probe key, under one fresh build id unless `buildId` is given: the
    * per-batch probe then meets the static side Exchange-free. */
  def writeIndexTable(g: Grain, corpus: DataFrame, table: String, buckets: Int,
                      buildId: Option[String]): Unit =
    g.contract.write(index(g, corpus, IndexContract.buildId(buildId)), table, buckets)

  /** The batch incremental form: scrub every window of `batch` already
    * in `corpus`, which contributes only its [[index]] (pre-built and
    * checked, or derived here). A handed-in index built for another
    * grain, window length or hash kind matches zero windows, so it is
    * rejected at plan time, as is one of another corpus snapshot.
    * Within-batch duplication is not scrubbed; run the self-dedup on the
    * batch for that. */
  def against(g: Grain, batch: DataFrame, corpus: DataFrame,
              corpusIndex: Option[DataFrame]): DataFrame = {
    corpusIndex.foreach { idx =>
      g.contract.check(idx)
      g.contract.checkBuild(idx, corpus)
    }
    dedup(g, batch, present(_, corpusIndex.getOrElse(index(g, corpus, None))))
  }

  // ---- streaming gate ----

  /** Stream-static scrub gate over (doc_id, ts, text): the occurrences
    * probe the static index in a stateless LEFT OUTER equi-join (an
    * unmatched window keeps its document alive with a null hit), the
    * ONLY stateful operator is the watermark-scoped per-document
    * collect_set of matched starts, and the scrub is [[scrub]] — so a
    * gate emits the batch [[against]] contract with key columns
    * (batch_id, ts), bit-identical on the same split, window-less
    * documents included. */
  def gate(g: Grain, docs: DataFrame, corpusIndex: DataFrame, watermark: String): DataFrame = {
    g.contract.check(corpusIndex)
    val group = Seq("batch_id", "ts", "text")
    val occ = occurrences(g, docs.withWatermark("ts", watermark)
      .select(col("doc_id").as("batch_id"), col("ts"), col("text"))
      .withColumn(g.unit, g.units), group, outer = true)
    val starts = occ
      .join(corpusIndex.select(col("h"), lit(1).as("hit")), Seq("h"), "left_outer")
      .groupBy(group.map(col): _*)
      .agg(collect_set(when(col("hit") === 1, col("pos"))).as("starts"))
    scrub(g, starts.withColumn(g.unit, g.units), Seq("batch_id", "ts"))
  }
}
