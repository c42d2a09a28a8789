package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Winnowing, edit-distance verification, CDC chunking, streaming model rows, exact-substring dedup.
  *
  * The exact-substring forms (token and char grain: remove-all,
  * keep-one, incremental, their indexes) and the frequent-n-gram scrub
  * are compositions of the span-dedup core [[SpanDedup]], which also
  * serves [[ParagraphQueries]] and the streaming scrub gates.
  *
  * Mixed into [[TextQueries]] (`this: TextQueries.type`): one of the
  * line-range-preserving module splits of the original single file —
  * zero behavior change, member order (and therefore val
  * initialization order) identical to the pre-split layout.
  */
private[text] trait TextFuzzyDedupOps { this: TextQueries.type =>
  /** (doc_id, n_grams, fps) winnow CTE chain shared by the winnow
    * oracles (word-3-gram hashes, window 4 — the query defaults);
    * terminal CTE `f` exposes (doc_id, n_grams, fps). */
  private[text] def winnowFpsOracleCtes: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |h AS (SELECT doc_id, list_transform(
       |        list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
       |          i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])),
       |        g -> ${phashSql("g")}) AS hashes
       |      FROM t),
       |f AS (SELECT doc_id, len(hashes) AS n_grams,
       |        CASE WHEN len(hashes) = 0 THEN CAST([] AS BIGINT[])
       |        ELSE list_distinct(list_transform(
       |          range(1, greatest(len(hashes) - 3, 1) + 1),
       |          i -> list_min(list_slice(hashes, CAST(i AS INT), CAST(i + 3 AS INT))))) END AS fps
       |      FROM h)""".stripMargin

  /** (doc_id, n_grams, fps) winnowed-fingerprint frame both winnow
    * queries derive from. */
  private[text] def winnowFrame(docs: DataFrame, k: Int, w: Int): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1, got k=$k w=$w")
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("hashes", expr(
        s"transform(${ngramArrayExpr(k)}, g -> ${phashFrag("g")})"))
      .select(col("doc_id"), size(col("hashes")).cast("long").as("n_grams"),
        expr(
          s"""CASE WHEN size(hashes) = 0 THEN CAST(array() AS ARRAY<BIGINT>)
             |ELSE array_distinct(transform(
             |  sequence(1, greatest(size(hashes) - $w + 1, 1)),
             |  i -> array_min(slice(hashes, i, $w)))) END""".stripMargin).as("fps"))
  }

  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    winnowFrame(docs, k, w)
      .select(col("doc_id"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fingerprints"),
        md5(expr("concat_ws(' ', transform(array_sort(fps), x -> cast(x as string)))"))
          .as("fp_hash"))

  /** Cross-document winnowing match: candidate near-dup pairs sharing
    * at least `minShared` selected fingerprints — the MOSS match step.
    * By the winnowing guarantee every pair sharing a run of
    * ≥ w + k − 1 tokens appears with n_shared ≥ 1; `minShared` is the
    * precision knob. Emits (d1, d2, n_shared), d1 < d2.
    *
    * Scale shape: the [[lshPairs]] bucket-join shape on the fingerprint
    * key — candidates meet in equi-join buckets, never all-pairs — via
    * [[graft.ops.Scale.selfPairs]], so a degenerate fingerprint (shared
    * boilerplate) detects as a hot key and salts into a triangle join
    * instead of one quadratic bucket. Only compact (fp, doc_id) longs
    * shuffle.
    */
  def winnowPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                  minShared: Int = 2): DataFrame = {
    // Materialize the fingerprint arrays ONCE before exploding into the
    // self-join, at the ARRAY level specifically: selfPairs consumes
    // its input from five subtrees (skew-detection aggregate + both
    // cold and hot sides), and when `fps` reaches a projection that
    // references it only once (the explode), CollapseProject inlines
    // the whole window-min/hash chain — including the per-lambda
    // re-evaluation of `toks`/`hashes` the multi-reference guard
    // normally blocks — multiplying the per-row cost ~60× (measured
    // 262 s vs 4 s at 200k docs). Checkpointing (doc_id, fps) keeps
    // every upstream alias multiply-referenced (linear evaluation, the
    // txt_winnow shape) and hands the join compact materialized longs —
    // the same rows it would shuffle anyway, linear in corpus size.
    val fps = winnowFrame(docs, k, w)
      .select(col("doc_id"), col("fps"))
      .localCheckpoint()
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    graft.ops.Scale.selfPairs(fps, Seq("fp"), "doc_id")
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id_1").as("d1"), col("doc_id_2").as("d2"), col("n_shared"))
  }

  /** Edit-distance-verified near-duplicate pairs — the candidate-then-
    * verify fuzzy-dedup shape with EXACT Levenshtein similarity as the
    * verifier (the verification stage MOSS-style fingerprint matchers
    * hand off to; cf. Schleimer et al. 2003 §5's "confirm matches").
    * Candidates come from [[winnowPairs]] (every pair sharing a run of
    * ≥ w+k−1 tokens is guaranteed present); each candidate then pays
    * one exact `levenshtein` over the two texts, and pairs keep when
    * sim_ppm = (maxlen − dist)·1e6 div maxlen ≥ `minSimPpm`. All
    * arithmetic is exact integers — no float drift against the oracle.
    *
    * Scale shape: the quadratic edit-distance cost is paid ONLY on the
    * candidate pairs (bounded by the fingerprint buckets, skew-salted
    * via [[graft.ops.Scale.selfPairs]]), never all-pairs; the two text
    * lookups are equi-joins on doc_id, shuffling only candidate-side
    * rows against the corpus. Note the TEXT-MOTION cost this implies:
    * unlike the fingerprint-only stages, verification must ship BOTH
    * full texts to the candidate pair's reducer — ~2·|text| bytes per
    * candidate through the two doc_id joins. That is inherent to exact
    * Levenshtein (the verifier reads the texts) and candidate-bounded,
    * but under pathological template duplication (one boilerplate
    * shared by n docs → n²/2 identical-text candidates) the shuffled
    * text volume is quadratic in the clique size even though each
    * verification settles on the byte-equality short-circuit.
    * `maxPairsPerDoc` bounds that fan-in: each d1 keeps only its
    * `maxPairsPerDoc` strongest candidates (n_shared desc, d2 asc —
    * deterministic), capping per-doc text motion at cap·|text|; 0
    * (default) = unbounded, the oracle-exact configuration. Emits
    * (d1, d2, n_shared, dist, sim_ppm).
    */
  def editDistPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
                    minShared: Int = 2, minSimPpm: Long = 500000L,
                    maxPairsPerDoc: Int = 0): DataFrame = {
    val cand0 = winnowPairs(docs, k, w, minShared)
    val cand =
      if (maxPairsPerDoc <= 0) cand0
      else {
        import org.apache.spark.sql.expressions.Window
        val w1 = Window.partitionBy("d1")
          .orderBy(col("n_shared").desc, col("d2"))
        cand0.withColumn("_rk", row_number().over(w1))
          .filter(col("_rk") <= maxPairsPerDoc).drop("_rk")
      }
    val t1 = docs.select(col("doc_id").as("d1"), col("text").as("t1"))
    val t2 = docs.select(col("doc_id").as("d2"), col("text").as("t2"))
    levVerify(cand.join(t1, "d1").join(t2, "d2"),
      Seq("d1", "d2", "n_shared"), minSimPpm)
  }

  /** The shared Levenshtein verification tail of [[editDistPairs]] and
    * [[editDistAgainst]] — `df` must carry text columns t1/t2 plus the
    * `keyCols` to emit. Two cost levers, both semantically no-ops:
    *  - equality short-circuit: exact-duplicate cliques (the common
    *    candidate bulk — a template shared by n docs yields n²/2 pairs
    *    of IDENTICAL text) settle on a byte compare;
    *  - banded DP: sim_ppm ≥ m ⟺ dist ≤ L − ceil(m·L/1e6) =: thr, so
    *    the 3-arg levenshtein explores only the |i−j| ≤ thr band
    *    (O(L·thr), returns −1 past it) and still yields the EXACT
    *    distance for every pair that can pass the filter.
    * Emits keyCols ++ (dist, sim_ppm), filtered to sim_ppm ≥ min. */
  private[graft] def levVerify(df: DataFrame, keyCols: Seq[String],
                        minSimPpm: Long): DataFrame =
    df.withColumn("max_len",
        greatest(length(col("t1")), length(col("t2"))).cast("long"))
      // banded DP → Myers bit-parallel kernel (LevKernels.boundedLev):
      // same contract as the builtin 3-arg levenshtein (exact distance
      // if ≤ thr else -1; value parity spec-pinned incl. astral-plane
      // input), at 1/64th the inner-loop cost — the builtin's band at
      // thr = L/2 is O(L²/2) cell updates per pair and dominated every
      // dedup_editdist_* query (measured: 6.2 s of the sf0.1 pairs
      // query's 7.2 s was this DP over 8.1k candidates)
      .withColumn("dist", when(col("t1") === col("t2"), 0L)
        .otherwise(org.apache.spark.sql.GraftBridge.column(
          graft.functions.LevenshteinBound(
            org.apache.spark.sql.GraftBridge.expression(col("t1")),
            org.apache.spark.sql.GraftBridge.expression(col("t2")),
            org.apache.spark.sql.GraftBridge.expression(expr(
              s"CAST(max_len - (($minSimPpm * max_len + 999999) div 1000000) AS INT)"))))
          .cast("long")))
      .filter(col("dist") >= 0L)
      .select(keyCols.map(col) :+ col("dist") :+
        when(col("max_len") === 0L, 1000000L)
          .otherwise(expr("((max_len - dist) * 1000000) div max_len"))
          .as("sim_ppm"): _*)
      .filter(col("sim_ppm") >= minSimPpm)

  /** Per-row winnow fingerprint array over `text` alone — the
    * streaming-safe single-expression form of [[winnowFrame]] (toks and
    * hashes each bind ONCE via the one-element-transform idiom, so
    * nothing re-evaluates per lambda element). Bit-identical to the
    * batch frame's fps — StreamingSpec pins the parity. */
  private[graft] def winnowFpsExpr(k: Int, w: Int): Column = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1, got k=$k w=$w")
    expr(
      s"""element_at(transform(array(split(text, ' ')), toks ->
         |  element_at(transform(array(transform(${ngramArrayExpr(k)},
         |      g -> ${phashFrag("g")})), hashes ->
         |    CASE WHEN size(hashes) = 0 THEN CAST(array() AS ARRAY<BIGINT>)
         |    ELSE array_distinct(transform(
         |      sequence(1, greatest(size(hashes) - $w + 1, 1)),
         |      i -> array_min(slice(hashes, i, $w)))) END), 1)), 1)""".stripMargin)
  }

  /** Persistable winnow-fingerprint index of a corpus — the winnowing
    * member of the incremental-dedup index family (next to
    * `bandSignatures`, `bloomBuild`, `substringIndex`, `simhashIndex`,
    * `corpusIndex`): compact (fp, dup_of) rows, one per selected
    * fingerprint (array_distinct per doc, so rows are unique). Write
    * bucketed by `fp` and the per-batch probe join's static side
    * carries no Exchange (the sorted/bucketed corpus-writer
    * discipline).
    *
    * `maxDf` > 0 enables STOP-FINGERPRINT pruning at build time: every
    * fingerprint whose document frequency exceeds `maxDf` is dropped
    * from the index — the stop-token idea of the prefix-filter
    * literature (Bayardo et al. 2007 §5's frequent-token handling)
    * applied to winnow fingerprints. A high-DF fingerprint is shared
    * boilerplate, and it is exactly what makes downstream match
    * consumers quadratic: a fingerprint shared by D documents puts
    * ~(D/2)² candidate pairs through every `*Against` verify stage
    * (measured 143 s vs 5.6 s at sf0.1 before the consumer-side knobs
    * landed). Capping at the INDEX bounds every consumer at once —
    * per-batch-doc candidate fan-out per fingerprint is ≤ maxDf by
    * construction, before any consumer-side pruning.
    *
    * RECALL CONTRACT under the cap: a dropped fingerprint can only
    * remove candidate EVIDENCE — surviving pairs keep exact
    * `n_shared` over the kept fingerprints, but a pair whose shared
    * fingerprints are ALL high-DF (template-clique members,
    * boilerplate-only overlap) loses its candidates entirely. The
    * winnowing guarantee ("every pair sharing a ≥ w+k−1-token run
    * surfaces") therefore weakens to runs whose selected fingerprint
    * has df ≤ maxDf — which is the intent: corpus-wide boilerplate is
    * curation noise, not a near-duplicate signal. `maxDf = 0`
    * (default) keeps the exact recall-1 index.
    *
    * The cap is STAMPED (the `max_df` index parameter) and checked by
    * every consumer like k/w: a consumer expecting the exact index fed
    * a capped one (or vice versa) computes different match sets with
    * no visible error otherwise.
    *
    * Cost: one extra map-side-combined (fp → df) aggregate over the
    * compact index rows plus a left-anti join against the bounded
    * frequent set (each surviving entry needs > maxDf docs, so the set
    * is ≤ total_fps/maxDf rows; AQE broadcasts it in practice). */
  def winnowIndex(corpus: DataFrame, k: Int = 3, w: Int = 4,
                  buildId: Option[String] = None, maxDf: Long = 0): DataFrame = {
    // materialize BEFORE the explode: fps referenced once lets
    // CollapseProject inline the whole window-min/hash chain per
    // element (~60× per-row cost — the winnowPairs lesson; this path
    // measured >10 min vs seconds at 2M docs without it)
    val raw = graft.ops.Scale.materializeCompact(
        winnowFrame(corpus, k, w).select(col("doc_id"), col("fps")))
      .select(col("doc_id").as("dup_of"), explode(col("fps")).as("fp"))
    val kept =
      if (maxDf <= 0) raw
      else {
        // rows are distinct per (dup_of, fp), so count(*) per fp IS the
        // document frequency; the aggregate combines map-side (compact
        // longs), and the anti join's right side is df-bounded
        val frequent = raw.groupBy("fp")
          .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
          .select("fp")
        raw.join(frequent, Seq("fp"), "left_anti")
      }
    // metadata in a SECOND select: an Alias over a generator loses
    // its explicitMetadata when the analyzer rewrites it to the
    // Generate node's output attribute
    kept.select(col("dup_of"), IndexContract.winnowFp(k, w, maxDf).stamped(col("fp"), buildId))
  }

  /** Persist [[winnowIndex]] as a BUCKETED catalog table (bucketed +
    * sorted by `fp`, the probe key) — the production layout for the
    * winnow member, mirroring [[writeJaccardIndexTables]]: at probe
    * time the static index side carries no Exchange; only the batch's
    * fingerprint rows move. Stamps kind + (k, w) + one build id (pass
    * the id you stamped the corpus snapshot with via
    * [[stampCorpusBuild]] to arm the cross-version check end to end).
    * The build's checkpoint blocks are released once written — the
    * table, not the session, owns the data. Rebuild per corpus
    * version. */
  def writeWinnowIndexTable(corpus: DataFrame, table: String,
                            k: Int = 3, w: Int = 4, buckets: Int = 64,
                            buildId: Option[String] = None,
                            maxDf: Long = 0): Unit = {
    val idx = winnowIndex(corpus, k, w, IndexContract.buildId(buildId), maxDf)
    try IndexContract.winnowFp(k, w, maxDf).write(idx, table, buckets)
    finally graft.ops.Scale.releaseCompact(idx)
  }

  /** Incremental winnow dedup: each batch document's BEST corpus match
    * by shared selected-fingerprint count (ties → min dup_of) —
    * (batch_id, dup_of, n_shared, n_fps), the local-fingerprinting
    * member of the incremental family, mirroring `simhashDedupAgainst`'s
    * contract. By the winnowing guarantee (Schleimer et al. 2003 §4) a
    * batch doc sharing a ≥ w+k−1-token run with a corpus doc always
    * surfaces with n_shared ≥ 1; `minShared` is the precision knob and
    * n_shared/n_fps the caller's containment score.
    *
    * Scale shape: the corpus contributes only its compact index, never
    * text; candidates meet on the `fp` equi-join, so per-batch-doc
    * fan-out is bounded by the document frequency of its fingerprints
    * (window-min hashes of k-grams — far rarer than raw tokens; a
    * corpus-wide boilerplate fingerprint is exactly what
    * [[scrubFrequentNgrams]] removes upstream). */
  def winnowDedupAgainst(batch: DataFrame, corpus: DataFrame,
                         k: Int = 3, w: Int = 4, minShared: Long = 1,
                         corpusIndex: Option[DataFrame] = None,
                         maxDf: Long = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val best = Window.partitionBy("batch_id")
      .orderBy(col("n_shared").desc, col("dup_of"))
    winnowMatchCounts(batch, corpus, k, w, corpusIndex, maxDf)
      .filter(col("n_shared") >= minShared)
      .withColumn("rn", row_number().over(best)).filter(col("rn") === 1)
      .select(col("batch_id"), col("dup_of"), col("n_shared"), col("n_fps"))
  }

  /** The shared candidate stage of [[winnowDedupAgainst]] and
    * [[editDistMatchesAgainst]]: EVERY (batch doc, corpus doc) pair
    * sharing ≥ 1 selected fingerprint, with the shared count — no
    * best-match filter. Emits (batch_id, dup_of, n_shared, n_fps). */
  private[graft] def winnowMatchCounts(batch: DataFrame, corpus: DataFrame,
                                       k: Int, w: Int,
                                       corpusIndex: Option[DataFrame],
                                       maxDf: Long = 0): DataFrame = {
    // a handed-in index must have been built at THIS consumer's
    // (k, w, max_df) — different k/w share zero fingerprints and
    // silently wave every near-duplicate through; a different df cap
    // computes a different match set with no visible error — and, when
    // both frames are build-stamped, from THIS corpus snapshot
    corpusIndex.foreach { idx =>
      val spec = IndexContract.winnowFp(k, w, maxDf)
      spec.check(idx)
      spec.checkBuild(idx, corpus)
    }
    val cIdx = corpusIndex.getOrElse(winnowIndex(corpus, k, w, maxDf = maxDf))
    val bf = winnowFrame(batch, k, w)
      .select(col("doc_id"), col("fps")).localCheckpoint()
      .select(col("doc_id").as("batch_id"),
        size(col("fps")).cast("long").as("n_fps"), explode(col("fps")).as("fp"))
    bf.join(cIdx, Seq("fp"))
      .groupBy("batch_id", "dup_of")
      .agg(count(lit(1)).as("n_shared"), max(col("n_fps")).as("n_fps"))
  }

  /** Incremental edit-distance dedup: [[winnowDedupAgainst]]'s best
    * corpus match per batch document, VERIFIED by exact Levenshtein —
    * the candidate-then-verify shape of [[editDistPairs]] under the
    * incremental contract (the corpus contributes its compact winnow
    * index for candidate generation; only the ≤1-per-batch-doc matched
    * rows ever join corpus TEXT, one doc_id equi-join). Same integer
    * sim_ppm verdict and identical-text short-circuit. Emits
    * (batch_id, dup_of, n_shared, dist, sim_ppm) for verified matches.
    */
  def editDistAgainst(batch: DataFrame, corpus: DataFrame,
                      k: Int = 3, w: Int = 4, minSimPpm: Long = 500000L,
                      corpusIndex: Option[DataFrame] = None,
                      maxDf: Long = 0): DataFrame = {
    // guards (kind / k / w / max_df / build-id vs the corpus snapshot)
    // live in the candidate stage — this wrapper adds only the
    // text-verify join
    val cand = winnowDedupAgainst(batch, corpus, k, w, corpusIndex = corpusIndex,
      maxDf = maxDf)
    val bt = batch.select(col("doc_id").as("batch_id"), col("text").as("t1"))
    val ct = corpus.select(col("doc_id").as("dup_of"), col("text").as("t2"))
    levVerify(cand.join(bt, "batch_id").join(ct, "dup_of"),
      Seq("batch_id", "dup_of", "n_shared"), minSimPpm)
  }

  /** ALL Levenshtein-verified corpus matches per batch document (not
    * just the best) — [[editDistAgainst]]'s contract without the
    * best-match window, mirroring `lshMatchesAgainst`'s role next to
    * `lshPairsAgainst`: the caller sees every corpus near-duplicate of
    * each incoming document, which is the event-stream contract the
    * streaming gate ([[graft.streaming.StreamOps.streamingEditDistGate]])
    * replays. `minShared` bounds the verified set (candidates below it
    * never pay the Levenshtein); verification itself is the shared
    * banded-DP [[levVerify]] tail. Emits (batch_id, dup_of, n_shared,
    * dist, sim_ppm), one row per verified pair.
    *
    * Scale shape: the candidate stage is [[editDistAgainst]]'s (compact
    * fingerprint index, equi-join buckets) — but the VERIFY stage is
    * linear in the number of candidate PAIRS, and under template
    * duplication that is quadratic in the clique size: a boilerplate
    * shared by a c-doc clique puts c/2 batch × c/2 corpus pairs through
    * the two text joins (measured: 143 s at sf0.1 vs the best-match
    * variant's sub-second, text shuffle dominated even though the DP
    * settles on the byte-equality short-circuit). `maxMatchesPerDoc`
    * bounds it exactly like [[editDistPairs]]' maxPairsPerDoc: each
    * batch doc keeps only its strongest candidates (n_shared desc,
    * dup_of asc — deterministic, oracle-expressible) before any text
    * moves; 0 = unbounded, the event-stream-parity configuration the
    * streaming gate replays. Production ingest wants the cap: per-doc
    * match lists beyond a handful carry no curation signal.
    *
    * `maxDf` is the INDEX-side fix for the same quadratic
    * ([[winnowIndex]]'s stop-fingerprint pruning): with a df-capped
    * index even the recall-first consumer defaults (minShared=1,
    * maxMatchesPerDoc=0) are bounded — per-fingerprint fan-out ≤ maxDf
    * by construction, so no consumer downstream re-pays high-DF
    * candidates before its own pruning. See winnowIndex's recall
    * contract for what the cap can drop. */
  def editDistMatchesAgainst(batch: DataFrame, corpus: DataFrame,
                             k: Int = 3, w: Int = 4, minShared: Long = 1,
                             minSimPpm: Long = 500000L,
                             maxMatchesPerDoc: Int = 0,
                             corpusIndex: Option[DataFrame] = None,
                             maxDf: Long = 0): DataFrame = {
    val cand0 = winnowMatchCounts(batch, corpus, k, w, corpusIndex, maxDf)
      .filter(col("n_shared") >= minShared)
      .select(col("batch_id"), col("dup_of"), col("n_shared"))
    val cand =
      if (maxMatchesPerDoc <= 0) cand0
      else {
        import org.apache.spark.sql.expressions.Window
        val w1 = Window.partitionBy("batch_id")
          .orderBy(col("n_shared").desc, col("dup_of"))
        cand0.withColumn("_rk", row_number().over(w1))
          .filter(col("_rk") <= maxMatchesPerDoc).drop("_rk")
      }
    val bt = batch.select(col("doc_id").as("batch_id"), col("text").as("t1"))
    val ct = corpus.select(col("doc_id").as("dup_of"), col("text").as("t2"))
    levVerify(cand.join(bt, "batch_id").join(ct, "dup_of"),
      Seq("batch_id", "dup_of", "n_shared"), minSimPpm)
  }

  /** Content-defined-chunking fingerprints ([[graft.functions.CdcChunks]]
    * — gear-CDC in the FastCDC family, Xia et al. 2016): per-document
    * chunk identity hashes over the raw bytes. The byte-level member of
    * the dedup family — tokenizer-free, so the same operator fingerprints
    * the multimodal BINARY payloads ([[cdcFingerprintsCol]]). Emits
    * (doc_id, n_bytes, n_chunks, cdc_hash) with cdc_hash the md5 of the
    * sorted chunk-hash stream (the [[winnowFingerprints]] contract).
    *
    * Map-only, zero exchanges; rows-only at the driver gate (the gear
    * table lookup is not expressible in DuckDB SQL — the deflate
    * precedent), determinism + boundary-locality pinned in CdcSpec. */
  def cdcFingerprints(docs: DataFrame, maskBits: Int = 6, minSize: Int = 16,
                      maxSize: Int = 256): DataFrame =
    cdcFingerprintsCol(docs, encode(col("text"), "UTF-8"), maskBits, minSize, maxSize)

  /** [[cdcFingerprints]] over an arbitrary byte-bearing column (string
    * or binary) — the multimodal-payload entry point. */
  def cdcFingerprintsCol(df: DataFrame, payload: Column, maskBits: Int = 6,
                         minSize: Int = 16, maxSize: Int = 256): DataFrame =
    df
      .withColumn("chunks", cdcChunksCol(payload, maskBits, minSize, maxSize))
      .select(col("doc_id"),
        length(payload).cast("long").as("n_bytes"),
        size(col("chunks")).cast("long").as("n_chunks"),
        md5(expr("concat_ws(' ', transform(array_sort(chunks), x -> cast(x as string)))"))
          .as("cdc_hash"))

  /** The `cdc_chunks` expression as a Column. */
  def cdcChunksCol(payload: Column, maskBits: Int = 6, minSize: Int = 16,
                   maxSize: Int = 256): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.CdcChunks(
        org.apache.spark.sql.GraftBridge.expression(payload),
        maskBits, minSize, maxSize))

  /** Cross-document CDC match: candidate near-identical pairs sharing
    * at least `minShared` distinct chunk hashes, with the shared-chunk
    * containment fraction n_shared / min(n1, n2) — the storage-dedup
    * signal (two blobs assembled largely from the same byte runs),
    * position-robust because CDC boundaries move with the content.
    * Emits (d1, d2, n_shared, containment), d1 < d2.
    *
    * Scale shape: the [[winnowPairs]] plan — fingerprint arrays
    * checkpoint ONCE (multi-consumer guard), candidates meet in
    * [[graft.ops.Scale.selfPairs]] equi-join buckets with hot-key
    * salting, only compact (hash, doc_id) longs shuffle; the per-doc
    * distinct-chunk counts re-attach onto the (much smaller) pair
    * aggregate by doc_id join. */
  def cdcPairs(docs: DataFrame, maskBits: Int = 6, minSize: Int = 16,
               maxSize: Int = 256, minShared: Int = 2): DataFrame = {
    val fps = docs
      .select(col("doc_id"),
        array_distinct(cdcChunksCol(encode(col("text"), "UTF-8"),
          maskBits, minSize, maxSize)).as("chunks"))
      .localCheckpoint()
    val sizes = fps.select(col("doc_id"), size(col("chunks")).as("n"))
    val exploded = fps.select(col("doc_id"), explode(col("chunks")).as("ch"))
    graft.ops.Scale.selfPairs(exploded, Seq("ch"), "doc_id")
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      // per-doc counts attach per side — auto-broadcast at test scale,
      // doc_id-keyed sort-merge at corpus scale (counts are one row per
      // doc: NOT broadcastable by construction at 100 TB)
      .join(sizes.as("s1"), col("doc_id_1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("doc_id_2") === col("s2.doc_id"))
      .select(col("doc_id_1").as("d1"), col("doc_id_2").as("d2"),
        col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("s1.n"), col("s2.n")).cast("double"), 6).as("containment"))
  }

  /** The unigram LM folded into ONE row: (uni_map MAP<STRING,BIGINT>,
    * tot DOUBLE) — the broadcastable artifact a stateless streaming
    * perplexity gate scores per-row against
    * ([[graft.streaming.StreamOps.streamingPerplexityGate]]). Bounded
    * at `topV` entries when given (REQUIRED at web scale: the untruncated
    * vocabulary is unbounded); evicted and unseen tokens score through
    * the `oovCount` pseudo-count, exactly as [[unigramScore]]'s topV
    * path does. */
  def unigramModelRow(docs: DataFrame, topV: Option[Int] = None): DataFrame = {
    // MATERIALIZED: the map fold and the normalizer both consume the
    // vocabulary — sum(cnt) over the FULL vocab is the corpus token
    // total [[unigramScore]] derives the same way (batch parity), so
    // ONE counting scan serves both. Session-owned, vocab-bounded.
    val full = graft.ops.Scale.materializeCompact(unigramVocab(docs))
    truncVocab(full, topV)
      .agg(map_from_arrays(collect_list(col("tok")), collect_list(col("cnt")))
        .as("uni_map"))
      .crossJoin(broadcast(full.agg(sum(col("cnt")).cast("double").as("tot"))))
  }

  /** The interpolated-bigram-Kneser-Ney model folded into ONE row for
    * streaming broadcast: `bg_map` (bigram counts), `lc_map` (left
    * context counts c(w'·)), `cl_map` (left continuation types
    * N1+(w'·)), `cr_map` (right continuation types N1+(·w)), `n_types`
    * — the exact tables [[kneserNeyScore]] derives, each from the same
    * ONE counting pass, collapsed to maps. `topV` bounds every map by
    * construction and is REQUIRED at web scale (the bigram type
    * inventory is ~corpus-token-count rows unpruned). */
  def knModelRow(corpus: DataFrame, topV: Option[Int] = None): DataFrame = {
    // MATERIALIZED: four consumers (bgMap, lwMaps, crMap, types) fold
    // the type inventory — lazily each re-runs the corpus bigram
    // aggregate (the kneserNeyScoreN lesson). Session-owned,
    // vocab-bounded under topV.
    val bc = graft.ops.Scale.materializeCompact(
      truncTop(bigramCounts(corpus), topV, "bcnt", "bg"))
    val sided = bc.select(col("bg"), col("bcnt"),
      element_at(split(col("bg"), " "), 1).as("lw"),
      element_at(split(col("bg"), " "), 2).as("rw"))
    val bgMap = bc.agg(map_from_arrays(
      collect_list(col("bg")), collect_list(col("bcnt"))).as("bg_map"))
    val lwMaps = sided.groupBy("lw")
      .agg(sum(col("bcnt")).as("lcnt"), count(lit(1)).as("cont_l"))
      .agg(
        map_from_arrays(collect_list(col("lw")), collect_list(col("lcnt"))).as("lc_map"),
        map_from_arrays(collect_list(col("lw")), collect_list(col("cont_l"))).as("cl_map"))
    val crMap = sided.groupBy("rw").agg(count(lit(1)).as("cont_r"))
      .agg(map_from_arrays(
        collect_list(col("rw")), collect_list(col("cont_r"))).as("cr_map"))
    val types = bc.agg(count(lit(1)).cast("double").as("n_types"))
    bgMap.crossJoin(lwMaps).crossJoin(crMap).crossJoin(types)
  }

  /** Per-row bigram-KN NLL under the one-row broadcast
    * [[knModelRow]] (`toks` + the five model columns must be bound) —
    * the fold-order twin of [[kneserNeyScore]]'s aggregate, term-for-
    * term identical arithmetic (the coalesce/greatest fallback chain
    * incl. the lambda=1 pruned-context backoff and the 0.5 unseen-word
    * pseudo-type). Parity with the batch aggregate holds up to the
    * 1e-6 quantization boundary (the [[unigramScoreExpr]] convention:
    * partition-order vs document-order partial sums). Only documents
    * with >= 2 tokens score (the batch side's composition convention). */
  def knScoreExpr(discount: Double = 0.75): Column = {
    require(discount > 0 && discount < 1, s"KN discount must be in (0,1), got $discount")
    val lw = "element_at(toks, CAST(i AS INT))"
    val rw = "element_at(toks, CAST(i AS INT) + 1)"
    round(expr(
      s"""aggregate(sequence(1, size(toks) - 1), CAST(0.0 AS DOUBLE), (acc, i) ->
         |  acc - ln(
         |    coalesce(
         |      greatest(coalesce(CAST(element_at(bg_map, concat($lw, ' ', $rw)) AS DOUBLE), CAST(0.0 AS DOUBLE)) - $discount,
         |        CAST(0.0 AS DOUBLE))
         |        / CAST(element_at(lc_map, $lw) AS DOUBLE),
         |      CAST(0.0 AS DOUBLE))
         |    + coalesce($discount * element_at(cl_map, $lw) / CAST(element_at(lc_map, $lw) AS DOUBLE),
         |        CAST(1.0 AS DOUBLE))
         |      * (coalesce(CAST(element_at(cr_map, $rw) AS DOUBLE), CAST(0.5 AS DOUBLE)) / n_types)))
         |  / CAST(size(toks) - 1 AS DOUBLE)""".stripMargin), 6)
  }

  /** Per-row unigram NLL under a one-row broadcast model (`toks`,
    * `uni_map`, `tot` must be bound) — the fold-order twin of
    * [[unigramScore]]'s aggregate. Parity with the batch aggregate
    * holds up to the 1e-6 quantization boundary, not bit-exactly: the
    * batch side's partial sums accumulate in partition order, this
    * fold in document order, so a pre-round difference of ~1 ulp on a
    * rounding tie can shift the result by one quantum. */
  def unigramScoreExpr(oovCount: Double = 0.5): Column =
    round(expr(
      s"""aggregate(toks, CAST(0.0 AS DOUBLE),
         |  (acc, t) -> acc - ln(coalesce(CAST(element_at(uni_map, t) AS DOUBLE), $oovCount) / tot))
         |  / size(toks)""".stripMargin), 6)


  // ---------------------------------------------------------------------------
  // Exact-substring dedup and the frequent-n-gram scrub: compositions of
  // the span-dedup core ([[SpanDedup]]) at k-token and L-char window
  // granularity. Each form picks a grain and a selection policy; the
  // occurrence frame, the per-doc start collection, the linear scrub
  // rebuild and the index are the core's.
  // ---------------------------------------------------------------------------

  /** Scrub word-n-gram spans that occur in more than `maxDf` distinct
    * documents — the token-level analogue of shared-line removal
    * (CCNet, Wenzek et al. 2020 §4.1) / exact substring deduplication
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better"): cross-document boilerplate is removed from every
    * document instead of dropping whole documents. Emits (doc_id,
    * n_tokens, n_removed, clean_hash) where clean_hash is the md5 of
    * the scrubbed text.
    *
    * Scale shape (100 TB): the doc-frequency pass is the
    * [[ngramShingles]] explode into a map-side-combined count, keyed by
    * the gram STRING — the frequent set (`df > maxDf`) is tiny by Zipf's
    * law and BROADCASTS, so the corpus is never shuffled on a gram key.
    * This is the one selection step that stays outside the core's
    * hashed policies: the occurrences are keyed by the window string
    * itself and probe that broadcast set. The rest is the core's
    * pipeline (positional grams above the doc_id clustering, linear
    * scrub rebuild); the corpus is scanned three times.
    */
  def scrubFrequentNgrams(docs: DataFrame, n: Int = 3, maxDf: Long = 5): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    val freq = ngramShingles(docs, n)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("shingle").as("h"))
    val byString = SpanDedup.tokens(n, portableHash = true).copy(hash = (c: Column) => c)
    SpanDedup.dedup(byString, docs, SpanDedup.present(_, broadcast(freq)))
      .select("doc_id", "n_tokens", "n_removed", "clean_hash")
  }

  /** Exact-substring deduplication at k-token window granularity (Lee
    * et al. 2021 "Deduplicating Training Data Makes Language Models
    * Better" §4.1: remove every ≥50-token span that appears verbatim
    * more than once in the corpus — within OR across documents). The
    * suffix-array construction the paper uses is replaced by the
    * distributed compromise: every k-token window is hashed, windows
    * whose hash occurs ≥2 times corpus-wide are duplicated, and a
    * document's duplicated spans are the union of its duplicated
    * windows (adjacent/overlapping windows merge into maximal spans by
    * construction). Any duplicated run of length L ≥ k is covered
    * exactly (every one of its windows repeats wherever the run
    * repeats); runs shorter than k are below the threshold by
    * definition — i.e. k IS the paper's 50-token match threshold.
    * Emits (doc_id, n_tokens, n_removed, n_spans, clean_hash): the
    * [[scrubFrequentNgrams]] output shape plus the maximal-span count,
    * clean_hash the md5 of the text with duplicated spans removed.
    *
    * Scale shape (100 TB): the window STRINGS (an O(k)× amplification)
    * exist only partition-locally between the explode and the hash
    * projection, above the doc_id clustering; what shuffles is the
    * map-side-combined (hash, count) aggregate and compact
    * (h, doc_id, pos) rows — the same order of shuffle the paper's
    * suffix-array sort pays. The dup set is corpus-derived (NOT
    * broadcastable), so the start recovery is a shuffle semi-join of
    * two compact keyed frames. `portableHash=false` swaps the md5-based
    * cross-engine hash for native xxhash64 — the production
    * configuration; md5 exists for DuckDB-oracle parity.
    */
  def exactSubstringDedup(docs: DataFrame, k: Int = 50,
                          portableHash: Boolean = true): DataFrame = {
    val g = SpanDedup.tokens(k, portableHash)
    // the count reads its own unclustered scan, no positions: counted
    // off the doc_id-clustered occurrences (the char form's shape) the
    // plan would carry a third doc_id exchange
    SpanDedup.dedup(g, docs, SpanDedup.repeated(_, SpanDedup.hashes(g, docs)))
  }

  /** The persistable side of incremental exact-substring dedup: the
    * DISTINCT window-hash set of the existing corpus — compact 8-byte
    * rows, one explode + map-side-combined distinct, materialized once
    * and unioned as the corpus grows (the [[corpusIndex]] discipline;
    * persist it BUCKETED by h and the per-batch probe join's static
    * side carries no exchange). */
  def substringIndex(corpus: DataFrame, k: Int = 50,
                     portableHash: Boolean = true,
                     buildId: Option[String] = None): DataFrame =
    SpanDedup.index(SpanDedup.tokens(k, portableHash), corpus, buildId)

  /** Persist [[substringIndex]] as a BUCKETED catalog table (bucketed +
    * sorted by `h`) — the production layout for incremental
    * exact-substring dedup: the per-batch probe's left-semi join meets
    * the static side Exchange-free. Stamps kind + k + hash kind + one
    * build id. Rebuild (or union-append a new snapshot's windows) per
    * corpus version. */
  def writeSubstringIndexTable(corpus: DataFrame, table: String,
                               k: Int = 50, portableHash: Boolean = true,
                               buckets: Int = 64,
                               buildId: Option[String] = None): Unit =
    SpanDedup.writeIndexTable(SpanDedup.tokens(k, portableHash), corpus, table, buckets, buildId)

  /** Incremental exact-substring dedup: scrub every k-token window of
    * a NEW batch that already appears in the existing corpus — the
    * span-level member of the incremental family (exact-doc =
    * [[bloomProbe]], fuzzy-doc = [[lshPairsAgainst]], embedding =
    * [[graft.sim.SimilarityQueries]] incremental ANN). A fresh crawl
    * snapshot dedupes against the training corpus at Lee et al.'s
    * granularity without re-counting the corpus: the corpus
    * contributes only its [[substringIndex]] (pre-materialized in
    * production), the batch pays one positional window pass, and the
    * probe is a left-semi equi-join on the compact hash key — batch
    * windows shuffle, the bucketed index does not. Within-batch
    * duplication is deliberately NOT scrubbed here (run
    * [[exactSubstringDedup]] on the batch for that); the two compose.
    * A handed-in index must match this consumer's window length and
    * hash kind and, when both frames are build-stamped, this corpus
    * snapshot. Output is the [[exactSubstringDedup]] contract over
    * batch docs.
    */
  def exactSubstringDedupAgainst(batch: DataFrame, corpus: DataFrame,
                                 k: Int = 50,
                                 portableHash: Boolean = true,
                                 corpusIndex: Option[DataFrame] = None): DataFrame =
    SpanDedup.against(SpanDedup.tokens(k, portableHash), batch, corpus, corpusIndex)

  /** [[exactSubstringDedup]] with keep-one semantics — the OTHER mode
    * of Lee et al. 2021's dedup tool ("remove all but one occurrence"):
    * a duplicated k-token window is scrubbed everywhere EXCEPT its
    * corpus-wide first occurrence, the occurrence with the
    * lexicographically smallest (doc_id, pos). The remove-all form
    * ([[exactSubstringDedup]]) destroys every copy of boilerplate; this
    * form preserves exactly one so the corpus keeps the content once —
    * the configuration most production pipelines run. Output contract
    * is the remove-all shape: (doc_id, n_tokens, n_removed, n_spans,
    * clean_hash).
    *
    * Scale shape (100 TB): ONE positional window derivation feeds both
    * the argmin-carrying count aggregate and the h-join that recovers
    * the losers — `persistLineage=true` pins it once (at sf-scale
    * recompute wins, at corpus scale Catalyst would otherwise build the
    * window fan-out TWICE — a ~2× on the dominant cost). The pinned
    * cache is SESSION-OWNED (the TextMixOps convention): it stays in
    * the block manager until `spark.catalog.clearCache()` / session
    * end, because the result is lazy and both consumers read it at
    * action time. Long-running sessions calling this repeatedly should
    * clearCache between corpus versions (the BenchLarge clearAfter
    * discipline).
    */
  def exactSubstringDedupKeep(docs: DataFrame, k: Int = 50,
                              portableHash: Boolean = true,
                              persistLineage: Boolean = false): DataFrame =
    SpanDedup.dedup(SpanDedup.tokens(k, portableHash), docs,
      SpanDedup.allButFirst(_, "doc_id"), persistLineage)

  // ---------------------------------------------------------------------------
  // Character-granularity exact-substring dedup — the byte-exact
  // any-boundary form of Lee et al. 2021 §4.1 (the suffix-array tool
  // matches at every byte offset, not just token boundaries). The
  // k-token family above is the production-granularity compromise;
  // this family is the faithful any-offset semantics: a duplicated run
  // of ≥ L characters is scrubbed wherever it starts — mid-word,
  // mid-token, anywhere.
  // ---------------------------------------------------------------------------

  /** Exact-substring dedup at CHARACTER granularity: remove every
    * ≥ L-character span that appears verbatim more than once in the
    * corpus, starting at ANY character offset (Lee et al. 2021 §4.1's
    * actual match semantics — their suffix array indexes every byte
    * position; the [[exactSubstringDedup]] token form rounds matches
    * to token boundaries). Same pipeline as the token form: any
    * duplicated run of length ≥ L is covered exactly because every one
    * of its L-windows repeats wherever the run repeats. Emits (doc_id,
    * n_chars, n_removed, n_spans, clean_hash).
    *
    * Scale shape (100 TB) vs the token form: window DENSITY is one per
    * character instead of one per token (~6× for English); what
    * shuffles is unchanged in shape — ~6× the token form's row count,
    * the same order as the paper's suffix-array sort (one entry per
    * byte). The `portableHash=true` oracle path materializes each
    * window and md5-digests it, what DuckDB can replay; the
    * `portableHash=false` production path is the O(n) rolling-polynomial
    * kernel ([[graft.functions.RollingHashWindows]], codegen'd, no
    * window strings ever built). `persistLineage` pins the
    * kernel+posexplode fan-out once for its two consumers (the
    * corpus-wide count and the start recovery).
    */
  def exactSubstringDedupChars(docs: DataFrame, L: Int = 100,
                               portableHash: Boolean = true,
                               persistLineage: Boolean = false): DataFrame =
    SpanDedup.dedup(SpanDedup.chars(L, portableHash), docs,
      occ => SpanDedup.repeated(occ, occ), persistLineage)

  /** [[exactSubstringDedupChars]] with keep-one semantics: a duplicated
    * L-char window survives at its corpus-wide first occurrence (the
    * lexicographically smallest (doc_id, pos)) and is scrubbed
    * everywhere else — the char-granularity member of the keep-one
    * mode ([[exactSubstringDedupKeep]], whose `persistLineage` and
    * session-owned cache it shares). */
  def exactSubstringDedupCharsKeep(docs: DataFrame, L: Int = 100,
                                   portableHash: Boolean = true,
                                   persistLineage: Boolean = false): DataFrame =
    SpanDedup.dedup(SpanDedup.chars(L, portableHash), docs,
      SpanDedup.allButFirst(_, "doc_id"), persistLineage)

  /** The persistable side of incremental char-level substring dedup:
    * the DISTINCT L-char window-hash set of the existing corpus (the
    * [[substringIndex]] twin one granularity down — same bucketed-by-h
    * persistence discipline, ~6× the row count). */
  def substringCharsIndex(corpus: DataFrame, L: Int = 100,
                          portableHash: Boolean = true,
                          buildId: Option[String] = None): DataFrame =
    SpanDedup.index(SpanDedup.chars(L, portableHash), corpus, buildId)

  /** [[writeSubstringIndexTable]] one granularity down: persist
    * [[substringCharsIndex]] bucketed + sorted by `h`. Same probe
    * contract, ~6× the row count. */
  def writeSubstringCharsIndexTable(corpus: DataFrame, table: String,
                                    L: Int = 100, portableHash: Boolean = true,
                                    buckets: Int = 64,
                                    buildId: Option[String] = None): Unit =
    SpanDedup.writeIndexTable(SpanDedup.chars(L, portableHash), corpus, table, buckets, buildId)

  /** Incremental char-level substring dedup: scrub every L-char window
    * of a NEW batch that already appears in the existing corpus —
    * [[exactSubstringDedupAgainst]] at character granularity, with the
    * same index contract (window length L and hash kind must match the
    * index build). The corpus contributes only its
    * [[substringCharsIndex]]; within-batch duplication is deliberately
    * NOT scrubbed here (run [[exactSubstringDedupChars]] on the batch
    * for that); the two compose. */
  def exactSubstringDedupCharsAgainst(batch: DataFrame, corpus: DataFrame,
                                      L: Int = 100,
                                      portableHash: Boolean = true,
                                      corpusIndex: Option[DataFrame] = None): DataFrame =
    SpanDedup.against(SpanDedup.chars(L, portableHash), batch, corpus, corpusIndex)
}
