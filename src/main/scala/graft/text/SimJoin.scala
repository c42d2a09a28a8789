package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.Scale

/** The candidate→verify core of the similarity-join family: every
  * piece the batch joins ([[TextDedupOps.lshPairs]],
  * [[TextDedupOps.lshMatchesAgainst]], [[TextDedupOps.jaccardJoin]],
  * [[TextDedupOps.jaccardJoinAgainst]], [[TextDedupOps.containJoin]],
  * [[TextDedupOps.containJoinAgainst]]) and their streaming gates
  * ([[graft.streaming.StreamOps]]) share, written once. Each join is a
  * composition: a hash frame, a candidate generator (band self-join,
  * prefix self-join, prefix × full-token salted join, or index probe),
  * a verifier (count-only fan-out or per-pair `array_intersect`), and a
  * gate (integer ppm, or the LSH chain's double `jaccard >= t`, which
  * the `dedup_lsh_pairs` oracle replays).
  *
  * Tokens ride as 60-bit shingle hashes, never shingle strings:
  * |A∩B|/|A∪B| over 60-bit hashes equals the string measure up to a
  * ~2⁻⁶⁰ collision probability, and every shuffle row shrinks from
  * (doc_id, ~40-byte string) to (doc_id, long).
  */
private[graft] object SimJoin {
  import TextQueries.{phash, shingles}

  // ---- hash frame ----

  /** `persist` caches a lineage several consumers re-derive. Measured
    * trade-off: at sf0.1 the recompute wins (lshPairs 2.0 s vs 5.4 s
    * with MEMORY_AND_DISK — the columnar cache build costs more than
    * the tokenize+explode chain), at corpus scale the chain dominates
    * and caching once pays per consumer (~5× on the composed dedup
    * pipeline, BENCH_LARGE.json `corpus_clean`). Callers choose per
    * scale; the caches stay session-owned. */
  def persistIf(df: DataFrame, persist: Boolean): DataFrame =
    if (persist) df.persist(StorageLevel.MEMORY_AND_DISK) else df

  /** The 60-bit shingle hash: md5-hex→conv (bit-portable to the DuckDB
    * oracle and to the md5-based streaming expressions) or native
    * xxhash64 (codegen'd, no hex-string round-trip). The LSH chain's
    * pair set is argmin-of-hash, so it depends on this choice; the
    * exact joins do not (recall-1 candidates + exact verify). At 2M
    * docs the two chains measured within ~10% of each other with the
    * sign flipping between rounds — choose by requirement, not speed. */
  def shingleHash(portableHash: Boolean): Column =
    if (portableHash) phash(col("shingle"))
    else pmod(xxhash64(col("shingle")), lit(1L << 60))

  /** The compact (doc_id, h) frame: one row per distinct word-3-gram of
    * a document. */
  def shingleHashes(docs: DataFrame, portableHash: Boolean,
                    persist: Boolean = false): DataFrame =
    persistIf(shingles(docs).select(col("doc_id"), shingleHash(portableHash).as("h")), persist)

  /** (doc_id, n): distinct-shingle count per document. */
  def docSizes(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n"))

  /** (h, df): corpus document frequency per token. */
  def docFreq(sh: DataFrame): DataFrame =
    sh.groupBy("h").agg(count(lit(1)).as("df"))

  // ---- threshold and prefix ----

  /** The threshold as exact integer ppm: ⌈t·n⌉ and every gate compare
    * in long arithmetic, so no float-boundary row can differ from the
    * DuckDB oracle. */
  def thresholdPpm(threshold: Double): Long = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    math.round(threshold * 1e6)
  }

  /** The first n − ⌈t·n⌉ + 1 tokens of the ordered hash array `hs`
    * (`n` defaults to `size(hs)`). Prefix filtering: two sets with
    * J ≥ t (or |A∩B|/|A| ≥ t) must share a prefix token under any
    * common total order, so bucketing on prefix tokens loses nothing. */
  def prefix(hs: String, tPpm: Long, n: Option[String] = None): Column = {
    val len = n.getOrElse(s"size($hs)")
    expr(s"slice($hs, 1, $len - cast(($tPpm * $len + 999999) div 1000000 as int) + 1)")
  }

  /** (doc_id, ord): each document's tokens as (df, h) structs in the
    * canonical (df asc, h asc) order — rarest first, one global total
    * order, so prefix buckets are as small as the corpus allows.
    * `fillUnseen` left-joins the df table and gives tokens it lacks
    * df 0 (a batch against a corpus: a df-0 token can never match, so
    * the slots it occupies cost nothing). [[OrdHashes]] projects the
    * hashes out of `ord`. */
  def dfOrdered(sh: DataFrame, dfT: DataFrame, fillUnseen: Boolean = false): DataFrame = {
    val withDf =
      if (fillUnseen) sh.join(dfT, Seq("h"), "left").na.fill(0L, Seq("df"))
      else sh.join(dfT, Seq("h"))
    withDf.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
  }

  val OrdHashes = "transform(ord, x -> x.h)"

  /** (doc_id, `name`): each document's hash set, h-ascending. */
  def sortedHashes(sh: DataFrame, name: String): DataFrame =
    sh.groupBy("doc_id").agg(sort_array(collect_list(col("h"))).as(name))

  /** (doc_id, h) prefix rows of a whole corpus in its own df order —
    * one shuffle keyed on doc_id, array work bounded by doc length.
    * [[Scale.materializeCompact]]-pinned: selfPairs' skew detection and
    * both join consumers would otherwise re-run the sort-and-slice
    * aggregate per consumer. */
  def dfPrefix(sh: DataFrame, freq: DataFrame, tPpm: Long): DataFrame =
    Scale.materializeCompact(dfOrdered(sh, freq)
      .select(col("doc_id"), explode(prefix(OrdHashes, tPpm, Some("size(ord)"))).as("h")))

  /** (batch_id, h) prefix rows of a one-row-per-doc `bhs` side. */
  def prefixRows(batchSide: DataFrame, tPpm: Long): DataFrame =
    batchSide.select(col("batch_id"), explode(prefix("bhs", tPpm)).as("h"))

  // ---- candidates ----

  /** (d1, d2), d1 < d2, distinct: documents sharing a key — the band
    * (band, sig) or prefix-token (h) self-join, skew-aware: degenerate
    * "identical template" buckets are triangle-salted so their n²
    * pair-work spreads across reducers ([[Scale.selfPairs]]); the
    * output is exactly the all-pairs result. */
  def selfCandidates(rows: DataFrame, keys: Seq[String]): DataFrame =
    Scale.selfPairs(rows, keys, "doc_id")
      .select(col("doc_id_1").as("d1"), col("doc_id_2").as("d2")).distinct()

  /** Ordered (d1, d2), d1 ≠ d2, distinct: d1's prefix tokens against
    * EVERY token of d2 — containment lets only the contained side's
    * prefix shorten. Detect-then-salt, the selfPairs discipline for
    * this asymmetric join: keys with df > hotThreshold (≤
    * |sh|/hotThreshold of them by construction — broadcastable) take
    * [[Scale.saltedJoin]] so a template-clique shingle's prefDf×df
    * fan-out spreads across reducers; cold keys pay only a
    * broadcast-probe. The hot set stays a LAZY subtree on purpose: its
    * three consumers' freq aggregations are byte-identical, so runtime
    * exchange reuse executes freq once inside the main job — an eager
    * collected detection and an eager checkpoint (both measured) cost
    * a serialized extra pass (5.2 s / 5.1 s vs 4.6 s warm at sf0.1). */
  def containCandidates(pref: DataFrame, sh: DataFrame, freq: DataFrame,
                        hotThreshold: Long): DataFrame = {
    val prefK = pref.withColumnRenamed("doc_id", "d1")
    val shK = sh.select(col("h"), col("doc_id").as("d2"))
    val hot = freq.filter(col("df") > hotThreshold).select("h")
    val candCold = prefK.join(broadcast(hot), Seq("h"), "left_anti")
      .join(shK, Seq("h"))
    val candHot = Scale.saltedJoin(
      prefK.join(broadcast(hot), Seq("h"), "left_semi"),
      shK.join(broadcast(hot), Seq("h"), "left_semi"), "h", saltFactor = 8)
    candCold.select("d1", "d2")
      .unionAll(candHot.select("d1", "d2"))
      .filter(col("d1") =!= col("d2"))
      .distinct()
  }

  /** Distinct (batch_id, corpus_id) candidates of a batch probing a
    * corpus index on `on`: the batch rows (aliased `b`) broadcast, the
    * index (aliased `c`) streams. */
  def probe(index: DataFrame, rows: DataFrame, on: Seq[String],
            batchId: Column = col("batch_id"),
            corpusId: Column = col("doc_id").as("corpus_id")): DataFrame =
    index.as("c").join(broadcast(rows).as("b"), on)
      .select(batchId, corpusId).distinct()

  // ---- verifiers ----

  /** Count-only verify over ONE consumption of the candidate set: fan
    * side `a`'s compact (doc_id, h) rows out once per candidate,
    * LEFT-join side `b`'s rows on (b, h), and take both counts from the
    * same aggregation — count(1) over the fan-out IS |A| (`nA`), the
    * matched rows are |A∩B| (`inter`). That drops a second evaluation
    * of the candidate subtree, a per-doc sizes pass for A, and a
    * pair-keyed rejoin. Equivalence: a candidate sharing no token
    * aggregates to inter = 0, the row a left-join-and-fill would give.
    * count(1) equals A's size only while (doc_id, h) is unique per doc,
    * so a 60-bit intra-doc hash collision (~2⁻⁶⁰) skews |A| as well as
    * |A∩B|. Grouped by the candidate columns, in their order. */
  def countVerify(cand: DataFrame, a: String, b: String,
                  shA: DataFrame, shB: DataFrame, nA: String): DataFrame =
    cand
      .join(shA.as("sa"), col(a) === col("sa.doc_id"))
      .join(shB.as("sb"), col(b) === col("sb.doc_id") && col("sa.h") === col("sb.h"), "left")
      .groupBy(cand.columns.head, cand.columns.tail: _*)
      .agg(count(lit(1)).as(nA), count(col("sb.doc_id")).as("inter"))

  /** |A∩B| of two hash-array columns. */
  def interOf(a: String, b: String): Column = size(array_intersect(col(a), col(b)))

  /** (|A∩B|, |A∪B|) of two hash-array columns, as expressions: the
    * LSH streaming verify needs no join. */
  def overlap(a: String, b: String): (Column, Column) = {
    val inter = interOf(a, b)
    (inter, size(col(a)) + size(col(b)) - inter)
  }

  /** Per-pair `array_intersect` verify of (batch_id, corpus_id)
    * candidates: the corpus doc's hash set joins in from the
    * one-row-per-doc `side` (doc_id, hs, n) by id, the batch's `bhs`
    * by broadcast; emits (batch_id, corpus_id, inter, `out`...).
    *
    * INNER verification join on purpose: a LEFT join (to raise on a
    * candidate missing from a stale side) forfeits the
    * broadcast-candidate inner plan — BroadcastHashJoin cannot preserve
    * the stream side, so the corpus-sized hash-array side is forced
    * through a sort-merge shuffle (measured 3.0x at 2M docs). Corpus
    * version mismatch is caught at plan time by the build-id stamp
    * ([[IndexContract.checkWithSide]]). */
  def arrayVerify(cand: DataFrame, side: DataFrame, batchSide: DataFrame,
                  sideCols: Seq[Column], out: Seq[Column]): DataFrame =
    cand
      .join(side.select(col("doc_id").as("corpus_id") +: col("hs") +: sideCols: _*),
        Seq("corpus_id"))
      .join(broadcast(batchSide), Seq("batch_id"))
      .select(col("batch_id") +: col("corpus_id") +:
        interOf("bhs", "hs").cast("long").as("inter") +: out: _*)

  /** The streaming twin of [[probe]] + [[arrayVerify]], stateless per
    * row: the incoming doc's sorted hash set (`bhs`, `bn`) and its
    * plain-hash-order prefix are expressions; candidates meet in a
    * stream-static equi-join on the compact (h, doc_id) index, and a
    * second stream-static join by dup_of pulls the corpus hash set once
    * per candidate — the arrays never ride a bucket row. Emits the
    * joined rows with `inter`; the gate and the watermark-scoped
    * verdict dedup stay with the caller. */
  def streamVerify(docs: DataFrame, watermark: String, tPpm: Long,
                   index: DataFrame, side: DataFrame,
                   sideCols: Seq[Column]): DataFrame =
    docs.withWatermark("ts", watermark)
      .select(col("doc_id").as("batch_id"), col("ts"),
        sort_array(TextQueries.shingleHashesExpr("text")).as("bhs"))
      .withColumn("bn", size(col("bhs")))
      .select(col("batch_id"), col("ts"), col("bhs"), col("bn"),
        explode(prefix("bhs", tPpm)).as("h"))
      .join(index.select(col("h"), col("doc_id").as("dup_of")), Seq("h"))
      .join(side.select(col("doc_id").as("dup_of") +: sideCols :+ col("hs"): _*),
        Seq("dup_of"))
      .withColumn("inter", interOf("bhs", "hs").cast("long"))

  // ---- gates ----

  /** Integer-ppm gate `inter·10⁶ ≥ tPpm·denom`: Jaccard with `uni`,
    * containment with the contained side's size. */
  def ppmGate(tPpm: Long, denom: String): Column =
    col("inter") * lit(1000000L) >= lit(tPpm) * col(denom)

  /** Floor-ppm containment of `inter` in `n`. */
  def containPpm(n: String): Column = expr(s"inter * 1000000L div $n")

  def jaccard(inter: Column, uni: Column): Column = inter.cast("double") / uni
}
