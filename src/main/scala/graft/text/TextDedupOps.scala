package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact/MinHash-LSH dedup, decontamination, Bloom membership, and chunking.
  *
  * Mixed into [[TextQueries]] (`this: TextQueries.type`): one of the
  * line-range-preserving module splits of the original single file —
  * zero behavior change, member order (and therefore val
  * initialization order) identical to the pre-split layout.
  */
private[text] trait TextDedupOps { this: TextQueries.type =>
  type Q = (SparkSession, String) => DataFrame

  /** Portable 60-bit hash of a string expression. */
  private[graft] def phash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private[graft] def phashSql(c: String): String =
    s"CAST(concat('0x', substr(md5($c), 1, 15)) AS BIGINT)"

  // MinHash parameters: k permutations in b bands of r rows
  private[graft] val K = 16
  private[graft] val BANDS = 4
  private[text] val P = 1073741789L // prime < 2^30
  private[text] val H30 = 1073741824L // 2^30

  private[text] val STOP = Seq("the", "a", "of", "and")

  /** SQL fragment producing the positional word-n-gram array from a
    * bound `toks` column — the ONE definition of gram construction the
    * n-gram operators share ([[topNgram]], [[scrubFrequentNgrams]],
    * [[bigramScore]], [[dsirBucketsExpr]]). Space-joined, order
    * preserved, (size - n + 1) grams. */
  private[graft] def ngramArrayExpr(n: Int): String = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    val rest = (1 until n).map(j => s", toks[i + $j]").mkString
    s"transform(slice(toks, 1, greatest(size(toks) - ${n - 1}, 0)), (t, i) -> concat_ws(' ', t$rest))"
  }

  /** documents → (doc_id, shingle) distinct word-n-gram shingles. */
  private[text] def ngramShingles(docs: DataFrame, n: Int): DataFrame = {
    val parts = (0 until n)
      .map(j => if (j == 0) "element_at(toks, i)" else s"element_at(toks, i + $j)")
      .mkString(", ")
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        expr(s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', $parts))")
      )).as("shingle"))
  }

  /** documents → (doc_id, shingle) distinct word-3-gram shingles (the
    * MinHash/LSH chain's unit). */
  private[text] def shingles(docs: DataFrame): DataFrame = ngramShingles(docs, 3)

  /** BPE-ish pre-tokenizer alternation (GPT-2 shape: contraction
    * suffixes, space-prefixed letter runs, digit runs, symbol runs,
    * whitespace) with the lookahead dropped so the SAME pattern runs
    * identically under Java regex (Spark) and RE2 (DuckDB) — RE2 has
    * no lookahead, and both engines resolve alternation leftmost-first.
    */
  val BpeishPattern: String =
    """'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** Whitespace token count of a text field. */
  def wsTokenCount(textField: String): Column =
    size(split(col(textField), " "))

  /** BPE-ish token count: matches of [[BpeishPattern]] — on plain-word
    * corpora it coincides with [[wsTokenCount]]; punctuation,
    * contractions, and digit runs split further, approximating subword
    * tokenizer budgets for data-sizing decisions. */
  def bpeishTokenCount(textField: String): Column =
    size(regexp_extract_all(col(textField), lit(BpeishPattern), lit(0)))

  /** Per-row distinct word-n-gram array over a text field — the
    * explode-free form of [[ngramShingles]] for streaming/stateless
    * consumers; empty array below n tokens. */
  def ngramShinglesExpr(textField: String, n: Int): Column = {
    val parts = (0 until n)
      .map(j => if (j == 0) "element_at(toks, i)" else s"element_at(toks, i + $j)")
      .mkString(", ")
    expr(
      s"""element_at(transform(array(split($textField, ' ')), toks ->
         |  CASE WHEN size(toks) >= $n THEN
         |    array_distinct(transform(sequence(1, size(toks) - ${n - 1}),
         |      i -> concat_ws(' ', $parts)))
         |  ELSE CAST(array() AS ARRAY<STRING>) END), 1)""".stripMargin)
  }

  /** DuckDB-oracle twin of [[ngramShingles]], over any source relation
    * (a table name or a parenthesized subquery) so the incremental-dedup
    * and decontamination oracles can shingle arbitrary splits. */
  private[text] def ngramShinglesSqlFor(src: String, n: Int): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) "toks[i]" else s"toks[i + $j]")
      .mkString(", ' ', ")
    s"""SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(toks) - ${n - 2}),
       |      i -> concat($parts)))) AS shingle
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $src)
       |WHERE len(toks) >= $n""".stripMargin
  }

  private[text] def shinglesSqlFor(src: String): String = ngramShinglesSqlFor(src, 3)

  private[text] val shinglesSql: String = shinglesSqlFor("documents")

  /** (doc_id, seed, minh): the MinHash signature, k rows per doc.
    *
    * One aggregation pass with K parallel `min` columns (then unpivoted
    * via `stack`) instead of a K-fold row explosion — at 100 TB the
    * explode variant would shuffle K× the shingle volume for no reason.
    */
  private[text] def minhashSig(docs: DataFrame): DataFrame =
    minhashSigFromShingles(SimJoin.shingleHashes(docs, portableHash = true))

  /** Wide signature frame (doc_id, m0..m15) from the compact
    * hashed-shingle frame (doc_id, h): the 30-bit minhash input is just
    * `h % 2^30`, and all K permutation minima come out of ONE
    * aggregation pass. */
  private[text] def minhashWide(sh: DataFrame): DataFrame = {
    val hashed = sh.withColumn("h30", col("h") % lit(H30))
    val aggs = (0 until K).map { s =>
      min((col("h30") * lit(2L * s + 1) + lit(7919L * s)) % lit(P)).as(s"m$s")
    }
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  private[text] def minhashSigFromShingles(sh: DataFrame): DataFrame = {
    val stackExpr = s"stack($K, " +
      (0 until K).map(s => s"$s, m$s").mkString(", ") + ") AS (seed, minh)"
    minhashWide(sh).select(col("doc_id"), expr(stackExpr))
  }

  private[text] def minhashSigSqlFor(src: String): String =
    s"""SELECT doc_id, seed, min((h30 * (seed * 2 + 1) + seed * 7919) % $P) AS minh
       |FROM (SELECT doc_id, ${phashSql("shingle")} % $H30 AS h30
       |      FROM (${shinglesSqlFor(src)})) CROSS JOIN (SELECT unnest(range($K)) AS seed)
       |GROUP BY doc_id, seed""".stripMargin

  private[text] val minhashSigSql: String = minhashSigSqlFor("documents")

  /** Band-signature oracle twin of [[bandSignatures]]. */
  private[text] def bandsSqlFor(src: String): String =
    s"""SELECT doc_id, CAST(seed // ${K / BANDS} AS INT) AS band,
       |  string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS sig
       |FROM (${minhashSigSqlFor(src)}) GROUP BY doc_id, band""".stripMargin

  /** Per-row LSH band-signature array over a text field — the SAME
    * K/BANDS/hash chain as [[minhashSig]], but computed entirely with
    * nested higher-order functions so it needs NO explode/groupBy: the
    * streaming dedup path ([[graft.streaming.StreamOps]]) keeps signature
    * computation stateless/per-row and leaves only the band-collision
    * lookup stateful. Docs with fewer than 3 tokens yield an empty array
    * (no shingles → no bands), matching the batch path.
    *
    * The token list and the per-shingle hashes are each bound ONCE as a
    * lambda variable (`transform(array(x), v -> ...)`): referencing a
    * computed column K times lets CollapseProject duplicate the md5 work
    * K-fold (the round-1 codegen blow-up lesson) — a lambda binding
    * gives the optimizer nothing to copy.
    */
  def bandSigsExpr(textField: String): Column = {
    val r = K / BANDS
    def minh(seed: String) =
      s"CAST(array_min(transform(hs, h -> (h * (2 * ($seed) + 1) + 7919 * ($seed)) % $P)) AS STRING)"
    val bandArr = s"transform(sequence(0, ${BANDS - 1}), b -> concat_ws(','," +
      (0 until r).map(k => minh(s"b * $r + $k")).mkString(", ") + "))"
    expr(
      s"""element_at(transform(array(split($textField, ' ')), toks ->
         |  CASE WHEN size(toks) >= 3 THEN
         |    element_at(transform(array(
         |        transform(array_distinct(transform(sequence(1, size(toks) - 2),
         |          i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))),
         |          x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT) % $H30)
         |      ), hs -> $bandArr), 1)
         |  ELSE CAST(array() AS ARRAY<STRING>) END), 1)""".stripMargin)
  }

  /** Per-row distinct shingle-hash set (full 60-bit portable hash, NOT
    * the 2^30-folded minhash input) — carried by the streaming LSH path
    * so candidate pairs can be exact-Jaccard-verified from state without
    * re-reading documents: |A∩B|/|A∪B| over 60-bit hashes equals the
    * shingle-string Jaccard up to a ~2⁻⁶⁰ collision probability. Empty
    * array below 3 tokens, same as [[bandSigsExpr]]. */
  def shingleHashesExpr(textField: String): Column = expr(
    s"""element_at(transform(array(split($textField, ' ')), toks ->
       |  CASE WHEN size(toks) >= 3 THEN
       |    array_distinct(transform(array_distinct(transform(sequence(1, size(toks) - 2),
       |      i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))),
       |      x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)))
       |  ELSE CAST(array() AS ARRAY<BIGINT>) END), 1)""".stripMargin)

  /** Full LSH dedup chain over any (doc_id, text) frame — the body of
    * the `dedup_lsh_pairs` query, public so `BenchLarge` can drive it at
    * synthetic-corpus scale: band self-join candidates, count-only
    * verify, double `jaccard >= threshold` gate (the oracle replays it).
    * `portableHash` picks the shingle hash ([[SimJoin.shingleHash]]):
    * the banded pair set is a function of it. `persistLineage` caches
    * the compact hash frame, the bands and the candidates, each
    * consumed several times ([[SimJoin.persistIf]]). */
  def lshPairs(docs: DataFrame, threshold: Double = 0.5,
               persistLineage: Boolean = false,
               portableHash: Boolean = true): DataFrame = {
    val sh = SimJoin.shingleHashes(docs, portableHash, persistLineage)
    // band signature: concat of the band's r minhash values in seed
    // order — built STRAIGHT from the wide (doc_id, m0..m15) frame as a
    // codegen'd string concat + a 4-way explode (2M → 8M rows), NOT by
    // stack-exploding to K×docs rows and re-grouping with collect_list:
    // the second shuffle+sort aggregation was the chain's most
    // expensive subtree, and its three consumers (selfPairs' eager
    // skew-detection aggregate plus both references to `cand` below)
    // each paid it again. Same sig strings, same oracle.
    val bands = SimJoin.persistIf(bandFrame(minhashWide(sh)), persistLineage)
    val cand = SimJoin.persistIf(SimJoin.selfCandidates(bands, Seq("band", "sig")), persistLineage)
    SimJoin.countVerify(cand, "d1", "d2", sh, sh, "n1")
      .join(SimJoin.docSizes(sh).as("n2"), col("d2") === col("n2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        (col("n1") + col("n2.n") - col("inter")).as("uni"),
        SimJoin.jaccard(col("inter"), col("n1") + col("n2.n") - col("inter")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Deduplicated-corpus materialization: LSH pairs → connected
    * components → one survivor per near-dup cluster, singletons kept —
    * the step every training-data pipeline runs right after cluster
    * resolution.
    *
    * This anti-join shape is the CANONICAL singleton-coverage path for
    * dedup: the drop-set (near-dup non-survivors only) is the SMALL
    * side, broadcast-hinted below, so docs never emitted as a pair —
    * the overwhelming majority of a real corpus — are never joined at
    * all. [[graft.ops.Components.connectedComponentsTotal]] is the
    * API-level alternative when a caller needs an explicit label for
    * EVERY doc (it left-joins the full universe); for materialization
    * it would add a corpus-sized join for labels this path never
    * consumes. TextQueriesSpec pins the two paths to the same survivor
    * set.
    *
    * `keepBy` picks the survivor within each cluster (the reference
    * policy of real pipelines is "keep the best doc", not "keep the
    * first"): `None` keeps the minimum doc_id — the default, and the
    * fast path, since the component label IS the min doc_id so no
    * metric evaluation is needed. `Some(metric)` keeps the doc with
    * the smallest (`ascending=true`) or largest metric value, ties
    * broken toward the smaller doc_id. The metric is evaluated only on
    * LABELED docs (the small near-dup set), fetched with one broadcast
    * join against the corpus — survivor selection never shuffles the
    * corpus.
    *
    * `persistLineage` forwards to [[lshPairs]] (same session-owned
    * cache contract): the pair chain consumes its shingle/band lineage
    * ~5 times, so at corpus scale — especially when `docs` is itself an
    * already-persisted intermediate — caching the compact hashed frames
    * beats re-deriving the tokenize+explode+agg chain per consumer
    * (measured ~5x on the composed pipeline at bench scale; see
    * BENCH_LARGE.json `corpus_clean`).
    */
  def dedupKeep(docs: DataFrame, threshold: Double = 0.5,
                keepBy: Option[Column] = None,
                ascending: Boolean = true,
                persistLineage: Boolean = false,
                keepText: Boolean = false): DataFrame = {
    val pairs = lshPairs(docs, threshold, persistLineage = persistLineage)
      .select(col("d1"), col("d2"))
    val labels = graft.ops.Components.connectedComponents(pairs, "d1", "d2")
    val dropped = keepBy match {
      case None =>
        labels.filter(col("node") =!= col("component"))
          .select(col("node").as("doc_id"))
      case Some(metric) =>
        val labeled = docs
          .join(broadcast(labels.withColumnRenamed("node", "doc_id")), "doc_id")
          .select(col("doc_id"), col("component"), metric.as("keep_metric"))
        val pick =
          if (ascending) min_by(col("doc_id"), struct(col("keep_metric"), col("doc_id")))
          else max_by(col("doc_id"), struct(col("keep_metric"), -col("doc_id")))
        val survivors = labeled.groupBy("component").agg(pick.as("doc_id"))
          .select(col("doc_id"))
        labels.select(col("node").as("doc_id"))
          .join(survivors, Seq("doc_id"), "left_anti")
    }
    // the broadcast hint pins the intended plan: after the iterative CC
    // computation Spark's size estimate for the drop-set is opaque, and
    // a shuffle-anti here would re-shuffle the whole corpus (PlanSpec)
    // keepText=true hands survivors to a downstream consumer (the
    // tokenize pipeline) with their text — same plan, different select
    docs.join(broadcast(dropped), Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        (if (keepText) col("text") else md5(col("text")).as("content_hash")))
  }

  /** Per-document LSH band signatures (doc_id, band, sig) — the
    * candidate-generation index of [[lshPairs]], public so an existing
    * corpus can compute it ONCE, persist it as a table, and have every
    * incoming batch join against it ([[lshPairsAgainst]]) without the
    * corpus ever being re-shingled or re-shuffled. */
  /** (doc_id, band, sig) frame from a wide minhash frame — the single
    * definition of the band layout (K/BANDS split, comma-joined sig),
    * shared by [[lshPairs]] and [[bandSignatures]] so the self-join and
    * the incremental index can never drift onto different signatures. */
  private[text] def bandFrame(wide: DataFrame): DataFrame = {
    val r = K / BANDS
    val bandCols = (0 until BANDS).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until r).map(i => col(s"m${b * r + i}").cast("string")): _*).as("sig"))
    }
    wide
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  def bandSignatures(docs: DataFrame, portableHash: Boolean = true,
                     buildId: Option[String] = None): DataFrame = {
    val sh = SimJoin.shingleHashes(docs, portableHash)
    // the LSH member of the index-contract stamp discipline: a
    // native-hash band index probed by md5-hashed batch bands collides
    // on ZERO signatures — the documented silent-zero-candidates hole,
    // now plan-time-checked instead of scaladoc-only
    bandFrame(minhashWide(sh))
      .select(col("doc_id"), col("band"),
        IndexContract.lshBand(portableHash).stamped(col("sig"), buildId))
  }

  /** Incremental dedup: match a NEW batch against an EXISTING corpus —
    * the asymmetric variant of [[lshPairs]] that production pipelines
    * run per ingest. Returns one row per batch document that near-
    * duplicates some corpus document: (batch_id, dup_of, jaccard) with
    * dup_of = the best corpus match (highest verified Jaccard, ties to
    * the smallest corpus id — deterministic cross-engine).
    *
    * Scale shape (the reason this is not just lshPairs on the union):
    * the batch side is small relative to the corpus, so every join
    * keeps the corpus streaming and broadcasts batch-derived frames —
    * batch bands against corpus bands (candidate generation), then the
    * candidate corpus-id set against the corpus (so only CANDIDATE
    * corpus docs are ever re-shingled for verification), then batch
    * shingles against those. The corpus is scanned, never shuffled;
    * with `corpusBands` pre-materialized via [[bandSignatures]] the
    * scan-side work per batch is the candidate verification alone.
    * Unlike the self-join in [[lshPairs]] there is no triangle to salt;
    * a degenerate band bucket hot on BOTH sides is handled by AQE skew
    * splitting of the streamed side (the broadcast side replicates to
    * every task by construction).
    */
  def lshPairsAgainst(batch: DataFrame, corpus: DataFrame,
                      threshold: Double = 0.5,
                      corpusBands: Option[DataFrame] = None,
                      portableHash: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = lshMatchesAgainst(batch, corpus, threshold, corpusBands, portableHash)
    val best = Window.partitionBy("batch_id")
      .orderBy(col("jaccard").desc, col("corpus_id"))
    scored.withColumn("rn", row_number().over(best)).filter(col("rn") === 1)
      .select(col("batch_id"), col("corpus_id").as("dup_of"), col("jaccard"))
  }

  /** ALL verified batch-vs-corpus matches above `threshold` (the
    * pre-ranking body of [[lshPairsAgainst]]): (batch_id, corpus_id,
    * jaccard). Public so the streaming gate
    * ([[graft.streaming.StreamOps]]) has a batch-parity reference.
    *
    * `portableHash` selects the shingle hash for BATCH band signatures
    * and must match the hash the corpus bands were built with — a
    * pre-materialized `corpusBands` index built via
    * `bandSignatures(corpus, portableHash = false)` joined against
    * md5-hashed batch bands would silently produce zero candidates, so
    * pass the same flag here that built the index. Verification is
    * unaffected (it re-hashes both texts with one consistent hash). */
  def lshMatchesAgainst(batch: DataFrame, corpus: DataFrame,
                        threshold: Double = 0.5,
                        corpusBands: Option[DataFrame] = None,
                        portableHash: Boolean = true): DataFrame = {
    // a handed-in band index must carry THIS call's hash kind (the
    // zero-collision hole above) and band geometry, and — when both
    // frames are build-stamped — come from THIS corpus snapshot
    corpusBands.foreach { bands =>
      val spec = IndexContract.lshBand(portableHash)
      spec.check(bands)
      spec.checkBuild(bands, corpus)
    }
    val cBands = corpusBands.getOrElse(bandSignatures(corpus, portableHash))
    // PINNED, not recomputed: three consumers (the corpus-id prune, the
    // intersection join, the final left join) would otherwise each
    // re-execute the candidate subtree — and that subtree embeds the
    // CORPUS-WIDE band-signature pass (shingle + minhash + banding,
    // the dominant cost), tripling it (the kneserNeyScoreN lesson;
    // measured 12.68 → 8.49 s at 2M). persist, NOT localCheckpoint:
    // this is the incremental PER-BATCH API — an ingest loop calls it
    // once per crawl batch, and cache-manager blocks are releasable
    // and evictable under pressure (recompute, not failure), where a
    // checkpoint per call would pin storage until an RDD-level sweep.
    // All three pins register under the `lsh_against` scope —
    // `Scale.releaseAllPinned(Some("lsh_against"))` between batches
    // releases exactly this family (`spark.catalog.clearCache()` is
    // the blunt alternative: it also drops caches the caller owns).
    val cand = graft.ops.Scale.pinPersisted(
      SimJoin.probe(cBands, bandSignatures(batch, portableHash), Seq("band", "sig"),
        col("b.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id")),
      "lsh_against")
    // verify on candidate docs only: the corpus prunes to candidate ids
    // (broadcast semi join) before any shingling happens. Both hash
    // frames are pinned because each feeds the verify join AND a size
    // count; the corpus side is candidate-bounded, the batch side
    // batch-bounded. Every candidate has bands, hence ≥ 1 shingle, so
    // the count-only fan-out over the corpus side drops no pair.
    val candIds = cand.select(col("corpus_id").as("doc_id")).distinct()
    val shC = graft.ops.Scale.pinPersisted(SimJoin.shingleHashes(
      corpus.join(broadcast(candIds), Seq("doc_id"), "left_semi"), portableHash = true),
      "lsh_against")
    val shB = graft.ops.Scale.pinPersisted(
      SimJoin.shingleHashes(batch, portableHash = true), "lsh_against")
    SimJoin.countVerify(broadcast(cand), "corpus_id", "batch_id", shC, broadcast(shB), "n2")
      .join(broadcast(SimJoin.docSizes(shB)).as("n1"), col("batch_id") === col("n1.doc_id"))
      .select(col("batch_id"), col("corpus_id"),
        SimJoin.jaccard(col("inter"), col("n1.n") + col("n2") - col("inter")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Materialized corpus-side index for the STREAM-STATIC incremental
    * dedup gate: one row per (band, sig) entry carrying the owning
    * doc's id and its distinct 60-bit shingle-hash set, so an incoming
    * document can be candidate-matched (band equi-join) AND exact-
    * Jaccard-verified (hash-array intersection) without touching the
    * corpus text again. Compute once per corpus version, persist as a
    * table, hand to [[graft.streaming.StreamOps.streamingLshAgainst]].
    * Always the PORTABLE (md5) hash: the streaming side's per-row
    * expressions ([[bandSigsExpr]] / [[shingleHashesExpr]]) are
    * md5-based, so a native-hash index would never collide with them.
    */
  def corpusIndex(corpus: DataFrame, buildId: Option[String] = None): DataFrame =
    bandSignatures(corpus, buildId = buildId).join(
      corpus.select(col("doc_id"), shingleHashesExpr("text").as("hashes")),
      "doc_id")

  /** Persist [[corpusIndex]] as a BUCKETED catalog table (bucketed +
    * sorted by `sig`, the high-cardinality half of the (band, sig)
    * probe key) — the production layout for the streaming LSH gate and
    * the per-batch [[lshMatchesAgainst]] `corpusBands` side: the
    * static side meets the probe Exchange-free on the bucket key.
    * Stamps kind + hash kind + band geometry + one build id. Rebuild
    * per corpus version. */
  def writeLshIndexTable(corpus: DataFrame, table: String,
                         buckets: Int = 64,
                         buildId: Option[String] = None): Unit =
    IndexContract.lshBand(portableHash = true).write(
      corpusIndex(corpus, IndexContract.buildId(buildId)), table, buckets)

  /** Doc ids of `corpus` sharing at least one word-n-gram with
    * `benchmark` — the contamination set, shared by [[decontaminate]]
    * and [[corpusClean]] so the two can never diverge. */
  private[text] def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                              n: Int): DataFrame = {
    val benchSh = ngramShingles(benchmark, n).select(col("shingle")).distinct()
    ngramShingles(corpus, n)
      .join(broadcast(benchSh), Seq("shingle"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Benchmark decontamination: drop every corpus document that shares
    * at least one word-n-gram with the benchmark/eval set — the
    * published train-test-overlap control (GPT-3 §C / C4: 8-13-gram
    * matching; default n=5 here scales to the synthetic corpus's short
    * docs). Returns the clean corpus as (doc_id, content_hash).
    *
    * Scale shape: the benchmark is tiny next to the corpus, so its
    * distinct shingle set broadcasts against one streaming pass over
    * the exploded corpus shingles (left_semi), and the resulting
    * contaminated-id set (small by construction — contamination is the
    * exception) broadcasts into the final anti-join. The corpus is
    * scanned twice, shuffled never.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 5): DataFrame =
    corpus
      .join(broadcast(contaminatedIds(corpus, benchmark, n)), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("content_hash"))

  /** Containment-DEGREE decontamination: per corpus document, the
    * fraction of its distinct word-n-grams that appear anywhere in the
    * benchmark/eval set — the graded form of [[decontaminate]]'s binary
    * any-overlap drop (the PaLM/Llama "contamination fraction" report:
    * docs are bucketed by overlap percentage rather than dropped on one
    * shared shingle). Emits (doc_id, n_shingles, n_contaminated,
    * contain_frac); docs shorter than n tokens carry no shingles and
    * drop out, exactly like the shingle-based dedup chain.
    *
    * Scale shape: identical to [[decontaminate]] — the benchmark's
    * distinct shingle set broadcasts onto ONE streaming pass over the
    * corpus's exploded shingles, and the only shuffle is the compact
    * (doc_id, counts) aggregation. The corpus never shuffles on the
    * shingle key.
    */
  def containmentFraction(corpus: DataFrame, benchmark: DataFrame,
                          n: Int = 5): DataFrame = {
    val benchSh = ngramShingles(benchmark, n).select(col("shingle")).distinct()
      .withColumn("hit", lit(true))
    ngramShingles(corpus, n)
      .join(broadcast(benchSh), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated") / col("n_shingles"), 6).as("contain_frac"))
  }

  /** Sliding context-window chunking (the tokenizer-side
    * `return_overflowing_tokens` shape): cut each document's token
    * stream into windows of `chunkLen` tokens whose starts step by
    * `stride` (= chunkLen − overlap), so consecutive chunks share
    * `chunkLen − stride` tokens; the tail chunk may be shorter, and a
    * document never yields a chunk starting at/past its end. Emits one
    * row per chunk: (doc_id, chunk_id, n_tokens, chunk_hash).
    * [[packChunks]] is the complementary loader-side op (documents
    * packed head-to-tail into exact-budget sequences); this one keeps
    * every window inside its own document, the long-document split used
    * for context-bounded training and embedding-indexing.
    *
    * Scale shape: pure per-row fan-out — the chunk count is
    * 1 + ceil(max(n − chunkLen, 0)/stride) by construction, the
    * explode is bounded by n_tokens/stride per doc, and the whole pass
    * is map-only: zero exchanges (PlanSpec-pinned).
    */
  def chunkDocs(docs: DataFrame, chunkLen: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkLen >= 1 && stride >= 1 && stride <= chunkLen,
      s"need 1 <= stride <= chunkLen, got chunkLen=$chunkLen stride=$stride")
    docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, (greatest(size(toks) - $chunkLen, 0) + $stride - 1) div $stride),
           |  j -> slice(toks, j * $stride + 1, $chunkLen))""".stripMargin))
        .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  // ---- Bloom-filter membership dedup (Bloom 1970; the Dolma exact-
  // dedup gate shape: probe new documents against a compact filter of
  // everything already ingested) ----

  /** In-lambda SQL fragment for the portable 60-bit hash (the expr-
    * string twin of [[phash]]). */
  private[text] def phashFrag(inner: String): String =
    s"CAST(conv(substring(md5($inner), 1, 15), 16, 10) AS BIGINT)"

  /** The k Bloom bit positions of a document's text, as a distinct
    * array (two of the k hashes may collide): position_i =
    * phash(text ⊕ i) mod m, salt-concatenated so the k functions are
    * independent in both engines. */
  private[graft] def bloomPositionsExpr(m: Long, k: Int): String =
    s"""array_distinct(transform(sequence(0, ${k - 1}),
       |  i -> ${phashFrag("concat(text, '#bloom', i)")} % ${m}L))""".stripMargin

  /** Build the Bloom filter over the seen corpus: the distinct SET bit
    * positions of all k hashes of every document. Sparse rows-of-set-
    * bits is the distributed representation — it joins, unions
    * (incremental ingest = union + distinct), and persists as a plain
    * table; at n documents it holds ≤ n·k rows regardless of m, so m
    * can be sized generously (false-positive rate (1−e^{−kn/m})^k)
    * without materializing m bits anywhere. Stamped kind + hash kind +
    * (m, k) on `bit` — a filter probed at a DIFFERENT geometry computes
    * positions under another modulus/fan-out, so seen documents stop
    * flagging: a silent FALSE NEGATIVE, the one failure Bloom's
    * contract rules out. [[bloomProbe]] checks the stamps strict. */
  def bloomBuild(seen: DataFrame, m: Long = 1L << 24, k: Int = 5,
                 buildId: Option[String] = None): DataFrame =
    seen.select(explode(expr(bloomPositionsExpr(m, k))).as("bit")).distinct()
      // metadata in a SECOND select: an Alias over a generator loses
      // its explicitMetadata when the analyzer rewrites it
      .select(IndexContract.bloomBits(m, k).stamped(col("bit"), buildId))

  /** Probe a batch against a built filter: a document is flagged iff
    * ALL its (distinct) bit positions are set — Bloom's contract: a
    * document whose exact text was seen ALWAYS flags (no false
    * negatives); an unseen document flags only at the false-positive
    * rate. Emits (doc_id, bloom_hit).
    *
    * The filter is checked STRICT at plan time (kind + hash kind +
    * (m, k) — the geometry the probe recomputes positions under; any
    * mismatch turns seen documents into silent false negatives).
    *
    * Scale shape: the batch fans out to k compact (doc_id, bit) rows
    * per doc and equi-joins the filter on the uniformly-distributed bit
    * key (no skew by construction), then aggregates once on doc_id —
    * two compact-key shuffles, no text ever leaves its partition. When
    * the filter is small next to the batch, Spark/AQE broadcasts it;
    * neither side ever pays an all-pairs comparison.
    */
  def bloomProbe(batch: DataFrame, bits: DataFrame,
                 m: Long = 1L << 24, k: Int = 5): DataFrame = {
    IndexContract.bloomBits(m, k).check(bits)
    batch
      .select(col("doc_id"), explode(expr(bloomPositionsExpr(m, k))).as("bit"))
      .join(bits.select("bit").withColumn("present", lit(true)), Seq("bit"), "left")
      .groupBy("doc_id")
      .agg((count(lit(1)) === sum(when(col("present"), 1L).otherwise(0L)))
        .as("bloom_hit"))
  }

  /** The filter folded into ONE DENSE broadcastable row: `bwords` is
    * the ceil(m/64)-long word array (bit b lives in word b div 64 at
    * offset b mod 64), ~2 MB at m=2^24 regardless of corpus size.
    * This is what the streaming gate broadcasts per micro-batch — a
    * dense ARRAY, deliberately not a word→value MAP row: `element_at`
    * on a Spark map is a LINEAR SCAN of all entries per lookup, and
    * the earlier map-row form of this gate side measured 121 s for a
    * 20k-doc micro-batch against a 2M-doc filter
    * (20k docs × k lookups × 262k-entry scans, per micro-batch); the
    * dense array's O(1) indexing runs the same probe in under a
    * second. Built by ONE bounded driver collect (≤ m/64 aggregated
    * word rows BY CONSTRUCTION — independent of corpus size, the
    * model-row collect class), so the row is a LocalRelation the
    * per-batch plan re-broadcasts for free. */
  def bloomDenseWordsRow(bits: DataFrame, m: Long = 1L << 24): DataFrame = {
    val nWords = ((m + 63) / 64).toInt
    val words = new Array[Long](nWords)
    bits
      .groupBy(expr("bit div 64").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(bit % 64 as int)))").as("word"))
      .collect().foreach { r =>
        val w = r.getLong(0)
        // a bit position >= m is reachable only through a bits frame
        // whose geometry disagrees with the m passed here — name the
        // mismatch instead of throwing a bare AIOOBE
        require(w >= 0 && w < nWords,
          s"bloomDenseWordsRow: bit position in word $w exceeds the " +
          s"m=$m geometry ($nWords words) — the bits frame was built " +
          s"under a different m than the one passed to this call")
        words(w.toInt) = r.getLong(1)
      }
    val spark = bits.sparkSession
    import spark.implicits._
    Seq(Tuple1(words.toSeq)).toDF("bwords")
  }

  /** Per-row membership test against a bound `bwords` column: true iff
    * every one of the text's k bit positions is set — the expression
    * twin of [[bloomProbe]]'s join-and-count (parity spec-pinned).
    * element_at on the dense array is 1-based and every p < m lands in
    * bounds by construction, so no coalesce is needed.
    *
    * SPELLING CONSTRAINT: the positions derive from `text` BEFORE the
    * bwords join ([[bloomHitOfPositions]] consumes the pre-computed
    * array). The one-big-lambda form — `forall(transform(..text..),
    * p -> ..bwords..)` filtered directly above the cross join — trips
    * an optimizer INTERNAL_ERROR in batch execution (the predicate
    * lands bound against the one-row side: "Could not find text#N in
    * [bwords#M]"); splitting the text-only derivation to the stream
    * side sidesteps it and is the better plan anyway (positions are a
    * pure map over the stream, never re-derived under the join). */
  private[graft] def bloomHitOfPositions: Column =
    expr("""forall(_bloom_pos, p -> (element_at(bwords, cast(p div 64 as int) + 1)
           |  & shiftleft(1L, cast(p % 64 as int))) != 0)""".stripMargin)

  // ---- counting Bloom filter (Fan et al. 2000 "Summary Cache"): the
  // DELETABLE membership index. The plain filter above cannot forget —
  // clearing a bit another document also set would create false
  // negatives. Cells hold COUNTS instead: insert = +1 per distinct
  // position, forget = −1, membership = all k cells still positive.
  // The operator a dedup index needs for takedown/right-to-be-forgotten
  // removals at corpus scale: forgetting a slice costs one pass over
  // the SLICE (never the corpus) plus a cell-sized merge. ----

  /** Counting-Bloom counter table of a corpus: (bit, cnt) where cnt is
    * how many documents set that position — the same sparse
    * rows-of-cells representation as [[bloomBuild]] (≤ n·k rows
    * regardless of m), one count aggregate over the k-way positional
    * fan-out. Additive, so per-shard tables sum-merge like
    * [[graft.ops.Sketches.cmMerge]]. */
  def cbfCounters(docs: DataFrame, m: Long = 1L << 24, k: Int = 5,
                  buildId: Option[String] = None): DataFrame =
    docs.select(explode(expr(bloomPositionsExpr(m, k))).as("bit"))
      .groupBy("bit").agg(count(lit(1)).as("cnt"))
      // same geometry stamps as bloomBuild, own kind: a forget pass at
      // the wrong (m, k) subtracts the wrong cells and corrupts the
      // counters silently — checked strict by cbfForget
      .select(IndexContract.cbfCells(m, k).stamped(col("bit"), buildId), col("cnt"))

  /** Forget a document slice: subtract the slice's own counter table
    * cell-for-cell and drop exhausted cells. EXACT — because inserts
    * are additive and `removed ⊆` the indexed corpus, the result equals
    * [[cbfCounters]] rebuilt from scratch on the remaining corpus
    * (spec-pinned cell-for-cell, and the oracle IS the rebuild), at the
    * cost of one pass over the forgotten slice only. Forgetting docs
    * that were never indexed violates the containment contract and
    * shows up as negative cells — filtered here, pinned impossible
    * under the contract in the spec. */
  def cbfForget(counters: DataFrame, removed: DataFrame,
                m: Long = 1L << 24, k: Int = 5): DataFrame = {
    // a forget pass under the wrong geometry subtracts the WRONG cells
    // — membership goes silently wrong in both directions (false
    // negatives for remaining docs, ghost positives for removed ones)
    IndexContract.cbfCells(m, k).check(counters)
    counters.join(
        cbfCounters(removed, m, k).select(col("bit"), col("cnt").as("rm")),
        Seq("bit"), "left")
      .select(col("bit"),
        (col("cnt") - coalesce(col("rm"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0)
  }

  /** Adapter: the still-set positions of a counter table, in the shape
    * [[bloomProbe]]/[[bloomWordMapRow]] consume — the counting filter
    * serves every downstream the plain filter does. A stamped counter
    * table re-stamps its geometry as Bloom bits so the strict probe
    * stays armed through the adapter; an unstamped one passes through
    * unstamped (and the strict probe then fails loudly). */
  def cbfBits(counters: DataFrame): DataFrame =
    IndexContract.asBloomBits(counters.filter(col("cnt") > 0).select("bit"))

  // ---- exact-threshold set-similarity join (Bayardo, Ma & Srikant
  // 2007 "Scaling Up All Pairs Similarity Search" prefix filtering, in
  // the distributed token-bucket form of Vernica, Carey & Li 2010).
  // The GUARANTEED-recall counterpart of [[lshPairs]]: LSH finds a pair
  // with probability 1−(1−s^r)^b; this join finds EVERY pair with
  // Jaccard ≥ t — the oracle is the brute-force all-pairs join, so a
  // single missed pair is a correctness failure, not a recall dip. ----

  /** All document pairs with exact shingle-set Jaccard ≥ `threshold`:
    * (d1, d2, inter, uni, jaccard), d1 < d2 — [[lshPairs]]'s output
    * shape with recall 1 by construction.
    *
    * Prefix filtering: order every doc's shingle hashes by ascending
    * corpus frequency (rarest first, ties by hash — one global total
    * order), and emit only the first n − ⌈t·n⌉ + 1 of a doc's n tokens
    * as candidate keys. Two sets with J ≥ t must share a prefix token
    * under any common total order (|A∩B| ≥ ⌈t/(1+t)·(|A|+|B|)⌉ leaves
    * too few tokens outside either prefix to hold the intersection), so
    * bucketing on prefix tokens loses nothing; rarest-first makes the
    * buckets as small as the corpus allows. The threshold is carried as
    * exact INTEGER ppm — ⌈t·n⌉ computed in long arithmetic and the
    * final gate `inter·10⁶ ≥ tPpm·uni` compared in integers — so no
    * float-boundary row can differ from the DuckDB oracle.
    *
    * Scale shape (100 TB): tokens ride as 60-bit native xxhash64 hashes
    * (the pair set is hash-invariant, so no portable hash is needed);
    * the frequency join and prefix aggregate shuffle compact
    * (doc_id, h, df) longs; candidates meet in prefix-token equi-join
    * buckets via the skew-salted [[graft.ops.Scale.selfPairs]] (never
    * all-pairs — PlanSpec); the length filter t·max(|A|,|B|) ≤
    * min(|A|,|B|) prunes before any intersection work; the count-only
    * verify re-joins only candidate ids against the compact (doc_id, h)
    * side. At t→0 the prefix approaches the whole doc — the inherent
    * cost of exact recall at low thresholds; production near-dup joins
    * run at t ≥ 0.8 where the prefix is ≲ a fifth of each doc.
    *
    * `persistLineage` caches the compact (doc_id, h) shingle frame that
    * FIVE consumers re-derive (frequency table, prefix aggregate, sizes,
    * both verification sides) — see [[SimJoin.persistIf]]. */
  def jaccardJoin(docs: DataFrame, threshold: Double = 0.8,
                  persistLineage: Boolean = false): DataFrame = {
    val tPpm = SimJoin.thresholdPpm(threshold)
    val sh = SimJoin.shingleHashes(docs, portableHash = false, persistLineage)
    val cand = SimJoin.selfCandidates(SimJoin.dfPrefix(sh, SimJoin.docFreq(sh), tPpm), Seq("h"))
    val sizes = SimJoin.docSizes(sh)
    val candLen = cand
      .join(sizes.as("n1"), col("d1") === col("n1.doc_id"))
      .join(sizes.as("n2"), col("d2") === col("n2.doc_id"))
      .select(col("d1"), col("d2"), col("n1.n").as("na"), col("n2.n").as("nb"))
      .filter(lit(tPpm) * greatest(col("na"), col("nb"))
        <= lit(1000000L) * least(col("na"), col("nb")))
    SimJoin.countVerify(candLen.select("d1", "d2"), "d1", "d2", sh, sh, "na")
      .join(sizes.as("n2"), col("d2") === col("n2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        (col("na") + col("n2.n") - col("inter")).as("uni"))
      .filter(SimJoin.ppmGate(tPpm, "uni"))
      .withColumn("jaccard", SimJoin.jaccard(col("inter"), col("uni")))
  }

  /** The corpus-side document-frequency table (h, df) the incremental
    * exact join orders tokens by — persistable next to
    * [[jaccardIndex]]; recompute both per corpus version. */
  def jaccardCorpusStats(corpus: DataFrame,
                         portableHash: Boolean = true,
                         buildId: Option[String] = None): DataFrame =
    corpusDfFromHashes(SimJoin.shingleHashes(corpus, portableHash), portableHash, buildId)

  private def corpusDfFromHashes(sh: DataFrame, portableHash: Boolean,
                                 buildId: Option[String]): DataFrame =
    sh.groupBy("h").agg(count(lit(1)).as("df",
      IndexContract.corpusDf(portableHash).stamp(buildId)))

  /** Stamp a corpus SNAPSHOT frame with a build id (on its `text`
    * column) so the lazy-index consumers — winnow / simhash /
    * substring / edit-distance `*Against` — can cross-check the index
    * they were handed against the corpus version they were pointed at
    * ([[IndexContract.checkBuild]], for the families whose builders
    * have no multi-table writer). Stamp the snapshot once when it is
    * sealed, pass the SAME id to the index builders run from it; a
    * consumer fed the index of one snapshot and the text of another
    * then fails at plan time instead of silently under-matching. */
  def stampCorpusBuild(docs: DataFrame, buildId: String,
                       column: String = "text"): DataFrame =
    IndexContract.stampBuild(docs, buildId, column)

  /** The per-doc verification side of the exact-join indexes:
    * (doc_id, hs, n) — ONE row per corpus document carrying its full
    * sorted shingle-hash set. Persist it BUCKETED BY doc_id next to
    * [[jaccardIndex]]/[[containIndex]]; consumers candidate-match on
    * the compact bucket index, then re-join HERE by doc_id for the
    * `array_intersect` verification. Storage is linear in corpus
    * tokens (each doc's hash set stored exactly once — the bucket
    * index carries no payload), and hs is plain h-ascending: the
    * verification is a set intersection, so the PREFIX order (df vs
    * hash) stays private to the bucket side. */
  private def docHashSideFromHashes(sh: DataFrame, portableHash: Boolean,
                                    buildId: Option[String] = None): DataFrame =
    SimJoin.sortedHashes(sh, "hs")
      .select(col("doc_id"), IndexContract.docSide(portableHash).stamped(col("hs"), buildId),
        size(col("hs")).as("n"))

  def docHashSide(corpus: DataFrame, portableHash: Boolean = true,
                  buildId: Option[String] = None): DataFrame =
    docHashSideFromHashes(SimJoin.shingleHashes(corpus, portableHash), portableHash,
      buildId)

  /** Persist the corpus side of the incremental exact-Jaccard join as
    * BUCKETED catalog tables (`<prefix>_df`, `<prefix>_idx`,
    * `<prefix>_side`) — the production layout: the df table and the
    * compact bucket index bucketed+sorted by `h` (the probe key), the
    * doc side by `doc_id` (the verification key), so at probe time
    * neither the index nor the ARRAY-carrying doc side re-shuffles —
    * only the (small) candidate set moves, and the doc side's one
    * exchange per probe disappears (the NOTES_r11 watch item: a
    * localCheckpoint side cannot express co-location; a bucketed table
    * can). Rebuild all three per corpus version.
    *
    * Choose `hashOrdered` by consumer: the default (false, corpus-df
    * order — rarest-first buckets, the cheaper batch probe) serves
    * [[jaccardJoinAgainst]]; the STREAMING gate
    * ([[graft.streaming.StreamOps.streamingJaccardGate]]) requires
    * `hashOrdered = true` (its per-row prefix is plain hash order —
    * a df-ordered prefix would need an unbounded per-token lookup,
    * i.e. state) and REJECTS a df-ordered index at plan time. */
  def writeJaccardIndexTables(corpus: DataFrame, prefix: String,
                              threshold: Double = 0.8,
                              portableHash: Boolean = true,
                              buckets: Int = 64,
                              hashOrdered: Boolean = false): Unit = {
    val tPpm = SimJoin.thresholdPpm(threshold)
    val spark = corpus.sparkSession
    // one fresh build id stamps ALL tables of this call: consumers
    // cross-check it between index and doc side, so mixing this call's
    // index with an older call's side fails at plan time instead of
    // silently dropping the stale side's candidates
    val buildId = IndexContract.buildId()
    // ONE tokenize+shingle+hash pass feeds all three builds — the
    // persistLineage doctrine: at corpus scale that chain dominates,
    // and three independent builds would pay it three times
    val sh = SimJoin.shingleHashes(corpus, portableHash, persist = true)
    try {
      IndexContract.corpusDf(portableHash).write(corpusDfFromHashes(sh, portableHash, buildId),
        s"${prefix}_df", buckets, by = "h")
      IndexContract.jaccardPrefix(portableHash, tPpm, hashOrdered).write(
        jaccardIndexFromHashes(sh, tPpm, portableHash,
          Some(spark.table(s"${prefix}_df")), hashOrdered, buildId),
        s"${prefix}_idx", buckets)
      IndexContract.docSide(portableHash).write(docHashSideFromHashes(sh, portableHash, buildId),
        s"${prefix}_side", buckets, by = "doc_id")
    } finally sh.unpersist(blocking = false)
  }

  /** The containment twin of [[writeJaccardIndexTables]]: persist the
    * FULL-token bucket index (`<prefix>_idx`, bucketed by h) and the
    * doc side (`<prefix>_side`, bucketed by doc_id) for
    * [[containJoinAgainst]] / the streaming containment gate — one
    * shingle pass feeds both. */
  def writeContainIndexTables(corpus: DataFrame, prefix: String,
                              portableHash: Boolean = true,
                              buckets: Int = 64): Unit = {
    // one build id across both tables — see writeJaccardIndexTables
    val buildId = IndexContract.buildId()
    val spec = IndexContract.containFull(portableHash)
    val sh = SimJoin.shingleHashes(corpus, portableHash, persist = true)
    try {
      spec.write(sh.select(spec.stamped(col("h"), buildId), col("doc_id")),
        s"${prefix}_idx", buckets)
      IndexContract.docSide(portableHash).write(docHashSideFromHashes(sh, portableHash, buildId),
        s"${prefix}_side", buckets, by = "doc_id")
    } finally sh.unpersist(blocking = false)
  }

  /** The persistable corpus-side bucket index of the incremental exact
    * join: one COMPACT row per prefix-token occurrence — (h, doc_id),
    * 16 bytes, NO payload — so an incoming batch can be
    * candidate-matched by a prefix-token equi-join; exact verification
    * re-joins the [[docHashSide]] table by doc_id. Rows ≈
    * (1−t)·|corpus tokens|, storage LINEAR in corpus size (the
    * verification payload lives once per doc in [[docHashSide]], never
    * per bucket row — an inline-hs layout is O(n²) per document: a
    * 1k-token doc would repeat its 8 KB hash array across ~200 prefix
    * rows, >1000× amplification, and every probe would scan and
    * shuffle it). The `h` column carries the build threshold and token
    * order as schema metadata ([[IndexContract.jaccardPrefix]]) so consumers reject
    * incompatible probes at plan time.
    *
    * `hashOrdered=true` switches the canonical token order from
    * (corpus df asc, h asc) to plain h asc. The prefix theorem holds
    * under ANY common total order, so recall is unchanged; the cost is
    * bigger candidate buckets (common tokens are no longer pushed out
    * of prefixes). It exists for the STATELESS streaming gate
    * ([[graft.streaming.StreamOps.streamingJaccardGate]]), whose
    * per-row prefix must be a pure expression — an unbounded df lookup
    * per incoming token would need a join and a re-aggregation, i.e.
    * state. Batch callers keep the df order. */
  def jaccardIndex(corpus: DataFrame, threshold: Double = 0.8,
                   portableHash: Boolean = true,
                   corpusDf: Option[DataFrame] = None,
                   hashOrdered: Boolean = false,
                   buildId: Option[String] = None): DataFrame =
    jaccardIndexFromHashes(SimJoin.shingleHashes(corpus, portableHash),
      SimJoin.thresholdPpm(threshold), portableHash, corpusDf, hashOrdered, buildId)

  private def jaccardIndexFromHashes(sh: DataFrame, tPpm: Long,
                                     portableHash: Boolean,
                                     corpusDf: Option[DataFrame],
                                     hashOrdered: Boolean,
                                     buildId: Option[String] = None): DataFrame = {
    val withOrd =
      if (hashOrdered) SimJoin.sortedHashes(sh, "hs")
      else SimJoin.dfOrdered(sh, corpusDf.getOrElse(SimJoin.docFreq(sh)))
        .select(col("doc_id"), expr(SimJoin.OrdHashes).as("hs"))
    withOrd
      .select(col("doc_id"), explode(SimJoin.prefix("hs", tPpm)).as("h"))
      .select(IndexContract.jaccardPrefix(portableHash, tPpm, hashOrdered)
        .stamped(col("h"), buildId), col("doc_id"))
  }

  /** Incremental exact-threshold similarity join: every (batch doc,
    * corpus doc) pair with Jaccard ≥ `threshold` — the GUARANTEED-
    * recall member of the incremental dedup family (the LSH member
    * [[lshMatchesAgainst]] is probabilistic; this one's oracle is the
    * brute-force batch×corpus join). Emits (batch_id, corpus_id, inter,
    * uni, jaccard).
    *
    * Both sides order tokens by CORPUS document frequency (batch tokens
    * unseen in the corpus get df 0 — any COMMON total order preserves
    * the prefix theorem; corpus-df keeps the buckets rarest-first, and
    * a df-0 token can never match so the slots it occupies cost
    * nothing). The corpus contributes only its persistable
    * [[jaccardIndex]] + [[jaccardCorpusStats]] + [[docHashSide]] (pass
    * all three when pre-materialized — production recomputes them per
    * corpus version, never per batch); the batch side broadcasts, the
    * compact (h, doc_id) bucket index streams through the prefix-token
    * equi-join into a distinct (batch_id, corpus_id) candidate set, and
    * verification re-joins the doc-id-bucketed [[docHashSide]] (one
    * equi-join on a 16-byte key — a shuffle co-located with the
    * bucketed table) plus a re-broadcast of the batch's own one-row-
    * per-doc hash side for the `array_intersect` — no corpus
    * re-shingle, no all-pairs, no per-bucket-row array payload
    * anywhere. */
  def jaccardJoinAgainst(batch: DataFrame, corpus: DataFrame,
                         threshold: Double = 0.8,
                         portableHash: Boolean = true,
                         corpusDf: Option[DataFrame] = None,
                         index: Option[DataFrame] = None,
                         docSide: Option[DataFrame] = None): DataFrame = {
    val tPpm = SimJoin.thresholdPpm(threshold)
    val dfT = corpusDf.getOrElse(jaccardCorpusStats(corpus, portableHash))
    val idx = index.getOrElse(
      jaccardIndex(corpus, threshold, portableHash, Some(dfT)))
    val side = docSide.getOrElse(docHashSide(corpus, portableHash))
    val spec = IndexContract.jaccardPrefix(portableHash, tPpm, hashOrdered = false)
    spec.checkWithSide(idx, side)
    // the df table is a RECALL axis too: the batch prefix is sliced
    // in dfT's order while the index's prefix rows were cut in the
    // build df's order — the prefix theorem needs ONE common total
    // order, so a stale df silently misses true pairs
    spec.checkBuild(idx, dfT, sideColumn = "df", sideName = "corpus-df")
    // one row per batch doc: its full hash set in corpus-df prefix
    // order (the prefix slice needs the order; array_intersect does
    // not, so the same array serves both)
    val batchSide = SimJoin.dfOrdered(SimJoin.shingleHashes(batch, portableHash), dfT,
        fillUnseen = true)
      .select(col("doc_id").as("batch_id"), expr(SimJoin.OrdHashes).as("bhs"))
      .select(col("batch_id"), col("bhs"), size(col("bhs")).as("bn"))
    SimJoin.arrayVerify(
        SimJoin.probe(idx, SimJoin.prefixRows(batchSide, tPpm), Seq("h")),
        side, batchSide, Seq(col("n").as("cn")), Seq(col("bn"), col("cn")))
      .select(col("batch_id"), col("corpus_id"), col("inter"),
        (col("bn") + col("cn") - col("inter")).cast("long").as("uni"))
      .filter(SimJoin.ppmGate(tPpm, "uni"))
      .withColumn("jaccard", SimJoin.jaccard(col("inter"), col("uni")))
  }

  /** Full-token corpus bucket index for the streaming CONTAINMENT gate
    * ([[graft.streaming.StreamOps.streamingContainGate]]): one COMPACT
    * (h, doc_id) row per (token, doc) occurrence — the containment
    * theorem lets only the CONTAINED side's prefix shorten, so the
    * container side must keep EVERY token as a bucket key (a prefix
    * index like [[jaccardIndex]] would open a recall hole: a batch doc
    * sitting entirely inside a corpus doc's NON-prefix tokens would
    * never meet it). Rows ≈ |corpus tokens|, 16 bytes each, NO payload
    * — verification re-joins [[docHashSide]] by doc_id (an inline-hs
    * layout would be n²/doc longs: a 1k-token doc repeating its hash
    * array across all 1k token rows is ~8 MB of index for 6 KB of
    * text). Persist bucketed by `h`, the doc side bucketed by
    * doc_id. */
  def containIndex(corpus: DataFrame, portableHash: Boolean = true,
                   buildId: Option[String] = None): DataFrame =
    shingles(corpus)
      .select(IndexContract.containFull(portableHash)
        .stamped(SimJoin.shingleHash(portableHash), buildId), col("doc_id"))

  /** Exact-threshold CONTAINMENT join: every ordered pair (d1, d2),
    * d1 ≠ d2, where at least `threshold` of d1's shingle set appears in
    * d2 — |A∩B|/|A| ≥ t, the ASYMMETRIC member of the exact-join family
    * (Jaccard can't see a small doc swallowed by a large one: a
    * paragraph fully contained in a book has Jaccard ≈ 0 but
    * containment 1). The sub-document duplication / quotation /
    * boilerplate-reuse detector, corpus-wide — the all-pairs form of
    * the benchmark-targeted [[containmentFraction]]. Emits (d1, d2,
    * inter, n1, contain_ppm), contain_ppm the exact floor-ppm fraction.
    *
    * Prefix filtering, containment form: only the CONTAINED side's
    * prefix shortens (d1 emits its first n−⌈t·n⌉+1 rarest tokens — if
    * ≥ t of A is in B, B must hold one of them); the container side
    * must emit ALL its tokens. That asymmetry is the cost of the
    * asymmetric predicate: candidate volume is Σ_h prefDf(h)·df(h),
    * kept manageable exactly because rarest-first prefixes concentrate
    * on low-df tokens. Candidates meet in a detect-then-salt equi-join
    * (both directions of a pair matter, so no selfPairs triangle:
    * keys above a df threshold route through
    * [[graft.ops.Scale.saltedJoin]], cold keys pay nothing — the
    * selfPairs discipline in asymmetric form), verification re-joins
    * the compact (doc_id, h) side, and the gate is integer ppm
    * end-to-end. The oracle is the brute-force all-ordered-pairs
    * join: recall 1 is the contract. */
  def containJoin(docs: DataFrame, threshold: Double = 0.8,
                  persistLineage: Boolean = false,
                  hotThreshold: Long = 1000L): DataFrame = {
    val tPpm = SimJoin.thresholdPpm(threshold)
    val sh = SimJoin.shingleHashes(docs, portableHash = false, persistLineage)
    val freq = SimJoin.docFreq(sh)
    val cand = SimJoin.containCandidates(SimJoin.dfPrefix(sh, freq, tPpm), sh, freq,
      hotThreshold)
    // every candidate pair shares ≥ 1 token by construction (cold and
    // hot branches both meet on a shared h), so the count-only verify
    // drops none
    SimJoin.countVerify(cand, "d1", "d2", sh, sh, "n1")
      .filter(SimJoin.ppmGate(tPpm, "n1"))
      .select(col("d1"), col("d2"), col("inter"), col("n1"))
      .withColumn("contain_ppm", SimJoin.containPpm("n1").cast("long"))
  }

  /** Incremental exact-threshold CONTAINMENT join: every (batch doc,
    * corpus doc) pair where at least `threshold` of the BATCH doc's
    * shingle set appears in the corpus doc — [[containJoin]]'s
    * asymmetric predicate, one direction, against a persisted corpus
    * (the batch twin of
    * [[graft.streaming.StreamOps.streamingContainGate]]; same verdict
    * set on the same split, spec-pinned). Emits (batch_id, corpus_id,
    * inter, bn, contain_ppm). Recall 1: the corpus contributes its
    * FULL-token [[containIndex]], so if ≥ t of B is in C then C holds
    * one of B's first n−⌈t·n⌉+1 tokens under ANY order of B — the
    * batch prefix is plain hash order, no df table needed.
    *
    * Scale shape (100 TB): the corpus contributes only [[containIndex]]
    * + [[docHashSide]] (pass both when pre-materialized — production
    * recomputes per corpus version, never per batch); candidates meet
    * on compact 16-byte rows, verification re-joins the doc-id-keyed
    * side plus a batch-side broadcast — no corpus re-shingle, no
    * per-bucket-row payload. */
  def containJoinAgainst(batch: DataFrame, corpus: DataFrame,
                         threshold: Double = 0.8,
                         portableHash: Boolean = true,
                         index: Option[DataFrame] = None,
                         docSide: Option[DataFrame] = None): DataFrame = {
    val tPpm = SimJoin.thresholdPpm(threshold)
    val idx = index.getOrElse(containIndex(corpus, portableHash))
    val side = docSide.getOrElse(docHashSide(corpus, portableHash))
    // containment REQUIRES the full-token kind: a prefix-cut index has
    // the identical (h, doc_id) schema but is the documented recall
    // hole for this predicate — reject it at plan time
    IndexContract.containFull(portableHash).checkWithSide(idx, side)
    val batchSide = SimJoin.sortedHashes(SimJoin.shingleHashes(batch, portableHash), "bhs")
      .select(col("doc_id").as("batch_id"), col("bhs"), size(col("bhs")).as("bn"))
    SimJoin.arrayVerify(
        SimJoin.probe(idx, SimJoin.prefixRows(batchSide, tPpm), Seq("h")),
        side, batchSide, Nil, Seq(col("bn").cast("long").as("bn")))
      .filter(SimJoin.ppmGate(tPpm, "bn"))
      .withColumn("contain_ppm", SimJoin.containPpm("bn").cast("long"))
  }

  /** LSH recall audit: how much of the EXACT pair set ([[jaccardJoin]],
    * recall 1 by construction) the probabilistic [[lshPairs]] chain
    * caught at the same threshold — the dedup twin of the `ann_recall`
    * QC report. One row: (n_exact, n_caught, recall_ppm), the recall as
    * exact integer ppm (floor) so both engines emit the identical
    * value. [[lshPairs]] exact-verifies its candidates, so caught ⊆
    * exact and the join below is a pure membership probe.
    * `persistLineage` threads through to BOTH chains; `portableHash`
    * picks the LSH side's hash (its banded pair set, which the oracle
    * replays, is a function of it), while the exact side always runs
    * xxhash64 (its pair set is hash-invariant). The probe joins on doc
    * ids, so the two chains need not agree. */
  def lshRecallAudit(docs: DataFrame, threshold: Double = 0.5,
                     portableHash: Boolean = true,
                     persistLineage: Boolean = false): DataFrame =
    jaccardJoin(docs, threshold, persistLineage)
      .select("d1", "d2")
      .join(lshPairs(docs, threshold, persistLineage, portableHash).select("d1", "d2")
        .withColumn("caught", lit(true)), Seq("d1", "d2"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("caught"), 1L).otherwise(0L)).as("n_caught"))
      .select(col("n_exact"), col("n_caught"),
        expr("CASE WHEN n_exact = 0 THEN 0L ELSE n_caught * 1000000L div n_exact END")
          .as("recall_ppm"))
}
