package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic sampling/splits/shuffle, source stats, DSIR, and the learned quality classifier.
  *
  * Mixed into [[TextQueries]] (`this: TextQueries.type`): one of the
  * line-range-preserving module splits of the original single file —
  * zero behavior change, member order (and therefore val
  * initialization order) identical to the pre-split layout.
  */
private[text] trait TextSamplingOps { this: TextQueries.type =>
  /** Deterministic hash-based stratified sampling: keep a document iff
    * the salted portable hash of its doc_id falls under its stratum's
    * rate. No RNG state — the decision is reproducible across engines,
    * runs, partitionings, and re-ingests (the property that makes a
    * sample auditable and joinable against later pipeline stages), the
    * standard way to downsample a web corpus per source/domain.
    * Rates are rounded to parts-per-million ON THE DRIVER so both
    * engines compare the hash against the same integer literal.
    * Per-row, zero shuffle, zero UDF (PlanSpec pins no exchange). */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
                       strataCol: String = "source", salt: String = "smp",
                       defaultRate: Double = 0.0): DataFrame = {
    val denom = 1000000L
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(math.round(defaultRate * denom))) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(math.round(v * denom))).otherwise(acc)
    }
    docs
      .filter(phash(concat(lit(salt), lit("_"), col("doc_id").cast("string"))) % denom < rate)
      .select(col("doc_id"), col(strataCol))
  }

  /** Deterministic source UPSAMPLING — the other half of the mixing
    * family next to [[stratifiedSample]]'s downsampling: a real-valued
    * per-stratum weight w replicates every document floor(w) times plus
    * one more iff its salted hash falls under frac(w) — how training
    * recipes over-represent high-quality sources (epochs per source,
    * e.g. the Llama/GPT-3 data mixtures with >1 epochs on curated
    * slices) while staying reproducible and auditable (a doc's copy
    * count never depends on partitioning or arrival order). Weights
    * round to parts-per-million on the driver so both engines compare
    * identical integers. Emits (doc_id, stratum, copy) with copy =
    * 1..n_copies.
    *
    * Scale: per-row arithmetic + a bounded sequence fan-out (×w) — no
    * shuffle, no RNG state; the fan-out IS the output. */
  def corpusUpsample(docs: DataFrame, weights: Map[String, Double],
                     strataCol: String = "source", salt: String = "ups",
                     defaultWeight: Double = 0.0): DataFrame = {
    val denom = 1000000L
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0 && w <= 1000),
      s"weights must be in [0, 1000] epochs, got $weights / $defaultWeight")
    val wcol = weights.toSeq.sortBy(_._1)
      .foldLeft(lit(math.round(defaultWeight * denom))) {
        case (acc, (k, v)) => when(col(strataCol) === k, lit(math.round(v * denom))).otherwise(acc)
      }
    docs
      .withColumn("wppm", wcol)
      .withColumn("n_copies",
        expr(s"wppm div $denom") +
          when(phash(concat(lit(salt), lit("_"), col("doc_id").cast("string"))) % denom
            < col("wppm") % denom, 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col(strataCol),
        explode(expr("sequence(1, n_copies)")).as("copy"))
  }

  /** Deterministic train/val/test holdout split by salted content-free
    * hash — the standard way every training pipeline carves out eval
    * data so the assignment is stable under corpus growth and
    * re-sharding (a document's split never depends on which file or
    * partition it arrived in). Emits (doc_id, split). Fractions are
    * parts-per-million so both engines compare the hash against the
    * same integer literals. Per-row, zero shuffle, zero UDF. */
  def corpusSplit(docs: DataFrame, trainPpm: Long = 980000L, valPpm: Long = 10000L,
                  salt: String = "split"): DataFrame = {
    val denom = 1000000L
    // fail fast on impossible fractions: trainPpm + valPpm over the
    // denominator would silently make the test branch unreachable —
    // every "held-out" doc would land in train and nothing would error
    require(trainPpm >= 0 && valPpm >= 0 && trainPpm + valPpm <= denom,
      s"split fractions must satisfy 0 <= trainPpm + valPpm <= $denom ppm, " +
        s"got train=$trainPpm val=$valPpm")
    val h = phash(concat(lit(salt), lit("_"), col("doc_id").cast("string"))) % denom
    docs.select(
      col("doc_id"),
      when(h < trainPpm, lit("train"))
        .when(h < trainPpm + valPpm, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Deterministic EXACT-k per-stratum sample: each stratum keeps its k
    * documents with the smallest salted content-free hash (ties by
    * doc_id) — the fixed-SIZE companion of [[stratifiedSample]]'s
    * fixed-RATE gate, how pipelines carve equal-size per-domain dev
    * sets that stay stable under corpus growth (a kept doc is only ever
    * displaced by a NEW doc hashing below the old threshold). Emits
    * (doc_id, stratum-column).
    *
    * The engine never runs a per-stratum window over the corpus (a
    * `row_number() PARTITION BY source` funnels each stratum's full doc
    * list through ONE task — the single-task scale-killer the
    * corpus_mix_tokens rewrite documents). Instead, the exact order
    * statistic comes from the two-pass driver-cutoff discipline:
    *   1. one corpus pass aggregates per-(stratum, hash-bucket) counts
    *      — a bounded strata×`buckets` frame collected to the driver,
    *      which locates each stratum's cutoff BUCKET and the residual
    *      rank r needed from inside it;
    *   2. only the cutoff buckets' (h, doc_id) pairs are collected
    *      (≈ n/buckets rows per stratum — size `buckets` to the corpus)
    *      and walked to the exact r-th (h, doc_id) threshold;
    *   3. the keep predicate is a per-stratum LITERAL case chain —
    *      map-only, partition-parallel, no exchange at all in the
    *      final pass.
    * A degenerate single-stratum corpus parallelizes identically
    * (spec-pinned); the window form is the SPEC's reference, never the
    * plan's.
    *
    * Bound assumption, stated: the driver collects ≤ strata×`buckets`
    * count rows and a strata-long literal predicate — this is a
    * DOMAIN-level operator (strata = sources/domains/languages, i.e.
    * thousands at most), not a per-document key; for a high-cardinality
    * stratum column use [[stratifiedSample]]'s rate gate instead.
    *
    * Stratum-type contract, stated: strata are keyed on the CAST-TO-
    * STRING view of `strataCol` (the driver-side cutoff map needs one
    * comparable key type; NULL is its own stratum). That is exact for
    * every type whose string rendering is injective — strings, all
    * integer/date/timestamp types, booleans — which is every sane
    * domain column. It is NOT exact for types with non-injective
    * renderings (BinaryType with invalid UTF-8, MapType): two distinct
    * stratum values rendering equal would merge and share one
    * k-budget. Rejected up front rather than documented-and-hoped. */
  def corpusSampleK(docs: DataFrame, k: Int = 25,
                    strataCol: String = "source", salt: String = "topk",
                    buckets: Int = 4096): DataFrame = {
    require(k >= 1 && buckets >= 2, s"need k >= 1, buckets >= 2; got k=$k, buckets=$buckets")
    val bWidth = (1L << 60) / buckets
    val h = phash(concat(lit(salt), lit("_"), col("doc_id").cast("string")))
    // the driver passes key on a STRING view of the stratum (an int or
    // date stratum would NPE a getString) and a NULL stratum is an
    // explicit group with null-safe predicates — the original column
    // rides through untyped-untouched for the output
    val kCol = "graft_stratum_key"
    require(!docs.columns.contains(kCol), s"input must not already contain $kCol")
    // enforce the injective-string-rendering contract (scaladoc) by
    // ALLOW-LIST: only atomic types whose CAST-TO-STRING is injective
    // qualify as stratum keys. A deny-list (binary/map) is the wrong
    // shape — nested containers are non-injective too (array('a, b')
    // and array('a','b') both render '[a, b]'; structs likewise), so
    // two distinct stratum values could merge and silently share one
    // k-budget.
    val strataType = docs.schema(strataCol).dataType
    val injectiveRendering = {
      import org.apache.spark.sql.types._
      strataType match {
        case StringType | BooleanType | ByteType | ShortType | IntegerType |
             LongType | FloatType | DoubleType | DateType | TimestampType |
             TimestampNTZType => true
        case _: DecimalType => true
        case _ => false
      }
    }
    require(injectiveRendering,
      s"corpusSampleK strata on $strataCol: ${strataType.simpleString} has a " +
        "non-injective (or unverified) string rendering — two distinct " +
        "stratum values could merge into one stratum; key on a " +
        "string/integer/date/timestamp/boolean domain column")
    val withH = docs.select(col("doc_id"), col(strataCol),
      col(strataCol).cast("string").as(kCol), h.as("h"))
    def strEq(s: String) =
      if (s == null) col(kCol).isNull else col(kCol) === s
    def keyOf(r: org.apache.spark.sql.Row): String =
      if (r.isNullAt(0)) null else r.getString(0)
    // pass 1: bounded (stratum, bucket) counts -> per-stratum cutoff
    // bucket + residual rank
    val counts = withH
      .groupBy(col(kCol), expr(s"h div ${bWidth}L").as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (keyOf(r), r.getLong(1), r.getLong(2)))
    val perStratum: Map[String, Option[(Long, Long)]] = // cutoff bucket, residual r
      counts.groupBy(_._1).map { case (s, rows) =>
        val sorted = rows.sortBy(_._2)
        val total = sorted.map(_._3).sum
        if (total <= k) s -> None // keep the whole stratum
        else {
          var cum = 0L
          val (_, cb, cBefore) = sorted.iterator.map { case (_, b, c) =>
            val before = cum; cum += c; (cum, b, before)
          }.find(_._1 >= k).get
          s -> Some((cb, k - cBefore))
        }
      }
    // pass 2: exact (h, doc_id) threshold inside each cutoff bucket —
    // collect only those buckets' pairs (≈ n/buckets rows per stratum)
    val cutoffFilter = perStratum.collect { case (s, Some((cb, _))) =>
      strEq(s) && expr(s"h div ${bWidth}L") === cb
    }.reduceOption(_ || _).getOrElse(lit(false))
    val inCutoff = withH.filter(cutoffFilter)
      .select(kCol, "h", "doc_id").collect()
      .map(r => (keyOf(r), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val thresholds: Map[String, (Long, Long)] = perStratum.collect {
      case (s, Some((_, r))) =>
        val pairs = inCutoff(s).map(p => (p._2, p._3)).sorted
        s -> pairs(r.toInt - 1)
    }
    // pass 3: map-only literal keep predicate, zero exchange
    val keep = perStratum.foldLeft(lit(false)) {
      case (acc, (s, None)) => when(strEq(s), lit(true)).otherwise(acc)
      case (acc, (s, Some((cb, _)))) =>
        val (th, td) = thresholds(s)
        when(strEq(s),
          expr(s"h div ${bWidth}L") < cb ||
            (expr(s"h div ${bWidth}L") === cb &&
              (col("h") < th || (col("h") === th && col("doc_id") <= td))))
          .otherwise(acc)
    }
    withH.filter(keep).select(col("doc_id"), col(strataCol))
  }

  // ---------------------------------------------------------------------
  // Source/domain-level curation (the URL-filtering family: C4
  // blocklists, RefinedWeb/FineWeb per-domain quality gating)
  // ---------------------------------------------------------------------

  /** Per-source (domain) aggregate curation profile — the signal behind
    * domain-level filtering (Raffel et al. 2020 §2.2 blocklist
    * filtering; Penedo et al. 2023 §3.1 URL scoring): document count,
    * token volume, the fraction of docs passing the per-row
    * [[qualityKeep]] gate, and the exact-duplicate fraction
    * (1 − distinct content hashes / docs). Emits
    * (source, n_docs, n_tokens, keep_rate, dup_rate).
    *
    * Scale shape (100 TB): ONE corpus pass projecting each row to a
    * compact (source, keep-bit, token-count, 32-byte hash) tuple before
    * the per-source aggregate — the only shuffle is keyed on `source`
    * (domains number millions against billions of docs, and the
    * count/sum/avg legs combine map-side; the exact distinct-hash leg
    * is the expensive one, but it shuffles hashes-not-texts, the
    * established dedup discipline). Heavy-hitter domains make the
    * distinct leg's groups large, not skew-fatal: Spark plans
    * count(DISTINCT) as a two-level expand+partial aggregate, and AQE
    * splits oversized partitions. */
  def sourceStats(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        qualityKeep().cast("int").as("keep"),
        wsTokenCount("text").cast("long").as("n_tokens"),
        md5(col("text")).as("content_hash"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        round(avg(col("keep")), 6).as("keep_rate"),
        round((count(lit(1)) - countDistinct(col("content_hash")))
          .cast("double") / count(lit(1)), 6).as("dup_rate"))

  /** Domain-level gate: drop every document whose SOURCE fails the
    * aggregate profile — keep_rate below `minKeepRate` or exact-dup
    * fraction above `maxDupRate` condemns the whole domain, the
    * coarse-grained complement of per-row quality filtering (bad
    * domains are overwhelmingly bad row by row, and gating the domain
    * catches the rows the per-row filter missed). Emits the surviving
    * (doc_id, source).
    *
    * Scale shape: the corpus is scanned twice (once aggregated by
    * [[sourceStats]], once gated) but shuffled only inside the
    * aggregate; the gate itself broadcasts the FAILING source set —
    * bounded by the blocklist's selectivity, not the domain count —
    * into a left_anti, so the second pass is map-only. A threshold
    * lax enough to condemn most of the web inverts that bound; at
    * that point flip to keeping the passing set instead. */
  def sourceFilter(docs: DataFrame, minKeepRate: Double = 0.55,
                   maxDupRate: Double = 0.5): DataFrame = {
    val bad = sourceStats(docs)
      .filter(col("keep_rate") < minKeepRate || col("dup_rate") > maxDupRate)
      .select("source")
    docs.join(broadcast(bad), Seq("source"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  /** Deterministic epoch shuffle + shard assignment: order the corpus
    * by a salted per-doc hash (a different `salt` per epoch gives a
    * fresh, reproducible permutation) and deal the ranked stream
    * round-robin into `nShards` loader shards — the data-ordering step
    * between a packed corpus and a multi-worker training loader.
    * Round-robin on the global rank makes shard sizes equal to ±1 BY
    * CONSTRUCTION (hash-mod sharding only approximates that), and the
    * assignment is invariant under corpus re-partitioning. Emits
    * (doc_id, shard, pos): shard's `pos`-th sample is `doc_id`.
    *
    * Scale shape (100 TB): the global rank is the classic
    * single-partition-window trap; it runs partition-and-stitch
    * instead ([[graft.ops.Stitch.globalCumsum]] keyed by the top
    * `chunkBits` bits of the hash — the chunk id is order-consistent
    * with the hash itself, so within-chunk ranks + driver-prefix-summed
    * chunk offsets compose to the exact global row_number; uniform
    * hashes make the 2^chunkBits chunks uniform). Driver state is one
    * count per chunk. */
  def corpusShuffle(docs: DataFrame, nShards: Int = 64,
                    salt: String = "epoch1", chunkBits: Int = 8): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    require(chunkBits >= 1 && chunkBits <= 30,
      s"chunkBits must be in [1, 30], got $chunkBits")
    val h = phash(concat(lit(salt), lit("_"), col("doc_id").cast("string")))
    val ranked = graft.ops.Stitch.globalCumsum(
      docs.select(col("doc_id"), h.as("h")),
      shiftright(col("h"), 60 - chunkBits), Seq(col("h"), col("doc_id")),
      lit(1L), "rank")
    ranked.select(
      col("doc_id"),
      ((col("rank") - 1) % nShards).as("shard"),
      expr(s"(rank - 1) div $nShards").as("pos"))
  }

  // ---------------------------------------------------------------------
  // DSIR: data selection via importance resampling (Xie et al. 2023,
  // "Data Selection for Language Models via Importance Resampling")
  // ---------------------------------------------------------------------

  /** Per-row hashed unigram+bigram feature buckets (`toks` must be bound):
    * DSIR's hashed n-gram representation — every gram hashes into one of
    * `buckets` slots, so the two bag-of-features LMs are BOUNDED at
    * `buckets` rows by construction, independent of corpus size. */
  private[text] def dsirBucketsExpr(buckets: Int): String =
    s"""transform(
       |  concat(toks, ${ngramArrayExpr(2)}),
       |  g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT) % $buckets)""".stripMargin

  /** Per-document DSIR importance weight: log p_target(doc) − log p_raw(doc)
    * under add-one-smoothed hashed-n-gram bag models fit on a target
    * slice vs the raw corpus (Xie et al. 2023 §3: importance weights in
    * an n-gram feature space; hashing bounds the feature dimension).
    * High `logw` = looks like the target domain. Emits
    * (doc_id, n_grams, logw).
    *
    * Scale shape (100 TB):
    *  - both feature LMs are ONE map-side-combined aggregate each whose
    *    output is capped at `buckets` rows — the hashed feature space is
    *    what makes DSIR tractable at corpus scale, and it is exactly
    *    what bounds the shuffle here;
    *  - the log-ratio table (≤ `buckets` rows) BROADCASTS onto the
    *    per-document scoring pass; the corpus is never shuffled on a
    *    gram or bucket key (bucket keys inherit stopword skew — a
    *    sort-merge join here would funnel the corpus through a handful
    *    of reducers);
    *  - the scoring explode sits above a `repartition(doc_id)` of
    *    compact rows (the [[unigramScore]] idiom) so the ×2-token
    *    fan-out never crosses the network;
    *  - totals derive from the MATERIALIZED bucket-count table (the sum
    *    of bucket counts is Σ(2·|toks|−1) exactly), never from an extra
    *    corpus scan or a re-executed explode;
    *  - `ln` is 1-ulp across libms → `logw` is quantized at 1e-6 for
    *    cross-engine comparison.
    */
  /** The DSIR log-ratio table: (bucket, ratio) for every feature bucket
    * EITHER corpus occupies — at most `buckets` rows by construction,
    * so it always broadcasts. The join is full-outer: a bucket only the
    * raw corpus hits takes the smoothing mass on the target side, and a
    * bucket only the TARGET hits (possible when the target is an
    * external reference corpus, the documented two-frame use) keeps its
    * high target ratio — a left join on the raw spine would silently
    * hand exactly the most target-indicative unseen grams the neutral
    * default instead ([[graft.streaming.StreamOps.streamingDsirGate]]'s
    * scoring path; batch [[dsirWeights]] only ever scores raw docs, so
    * it never reads the cr=0 rows). */
  def dsirRatioTable(raw: DataFrame, target: DataFrame, buckets: Int = 4096): DataFrame = {
    val bucketsOf = dsirBucketsExpr(buckets)
    def bucketRows(docs: DataFrame) = docs
      .select(split(col("text"), " ").as("toks"))
      .select(explode(expr(bucketsOf)).as("bucket"))
    // MATERIALIZED: each count table feeds the full-outer join AND its
    // totals row — lazily each consumer re-runs its corpus aggregate
    // (the kneserNeyScoreN lesson). ≤ `buckets` rows each,
    // session-owned. The totals derive from the materialized tables:
    // sum of bucket counts IS Σ(2·|toks|−1) exactly (every gram lands
    // in exactly one bucket), and an EMPTY corpus sums to NULL on both
    // spellings (sum over zero rows), so the degenerate-case semantics
    // carry over unchanged.
    val cr = graft.ops.Scale.materializeCompact(
      bucketRows(raw).groupBy("bucket").agg(count(lit(1)).as("cr")))
    val ct = graft.ops.Scale.materializeCompact(
      bucketRows(target).groupBy("bucket").agg(count(lit(1)).as("ct")))
    cr.join(ct, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(ct.agg(sum(col("ct")).cast("double").as("tt"))))
      .crossJoin(broadcast(cr.agg(sum(col("cr")).cast("double").as("tr"))))
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)).cast("double") + 1.0) / (col("tt") + buckets)) -
          log((coalesce(col("cr"), lit(0L)).cast("double") + 1.0) / (col("tr") + buckets))).as("ratio"),
        // the smoothed score of a bucket neither corpus occupies — what
        // an unseen gram in a NEW document (ingest gate) falls back to
        (log(lit(1.0) / (col("tt") + buckets)) - log(lit(1.0) / (col("tr") + buckets)))
          .as("default_ratio"))
  }

  /** [[dsirRatioTable]] for the common case where the target domain is
    * a PREDICATE over the raw corpus itself (a language, a source, a
    * quality label) rather than a separate corpus: both count tables
    * and both totals come from ONE corpus pass each via conditional
    * aggregation — halving the number of full scans the two-frame form
    * needs. Use the two-frame overload when the target is external
    * (e.g. a curated reference corpus not contained in `raw`). */
  def dsirRatioTableOf(raw: DataFrame, targetPred: Column,
                       buckets: Int = 4096): DataFrame = {
    // MATERIALIZED: the ratio table and the totals row both consume the
    // bucket counts — lazily each re-runs the corpus aggregate (the
    // kneserNeyScoreN lesson). ≤ `buckets` rows, session-owned.
    val counts = graft.ops.Scale.materializeCompact(raw
      .select(targetPred.as("is_t"), split(col("text"), " ").as("toks"))
      .select(col("is_t"), explode(expr(dsirBucketsExpr(buckets))).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cr"), count(when(col("is_t"), lit(1))).as("ct")))
    // totals from the materialized counts (sum of bucket counts IS
    // Σ(2·|toks|−1): every gram lands in exactly one bucket) — zero
    // extra corpus scans. The no-target-doc degenerate case must stay
    // NULL, matching the previous sum(when(pred, ...)) spelling and the
    // two-frame overload's empty-aggregate NULL: sum(ct)=0 here ⟺ no
    // document satisfied the predicate (any doc contributes ≥ 1 gram).
    val totals = counts.agg(
      sum(col("cr")).cast("double").as("tr"),
      when(sum(col("ct")) === 0, lit(null))
        .otherwise(sum(col("ct"))).cast("double").as("tt"))
    counts
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("ct").cast("double") + 1.0) / (col("tt") + buckets)) -
          log((col("cr").cast("double") + 1.0) / (col("tr") + buckets))).as("ratio"),
        (log(lit(1.0) / (col("tt") + buckets)) - log(lit(1.0) / (col("tr") + buckets)))
          .as("default_ratio"))
  }

  /** The ratio table folded into ONE row: (ratio_map MAP<BIGINT,DOUBLE>,
    * default_ratio) — the broadcastable form a stateless streaming gate
    * scores per-row against ([[graft.streaming.StreamOps]]). Bounded at
    * `buckets` map entries. */
  def dsirRatioRow(raw: DataFrame, target: DataFrame, buckets: Int = 4096): DataFrame =
    dsirRatioTable(raw, target, buckets)
      .agg(
        map_from_arrays(collect_list(col("bucket")), collect_list(col("ratio")))
          .as("ratio_map"),
        first(col("default_ratio")).as("default_ratio"))

  /** Per-row DSIR score under a one-row broadcast ratio map (`toks`,
    * `ratio_map`, `default_ratio` must be bound): the fold visits each
    * gram bucket in document order. */
  def dsirScoreExpr(buckets: Int): Column =
    round(expr(
      s"""aggregate(${dsirBucketsExpr(buckets)}, CAST(0.0 AS DOUBLE),
         |  (acc, b) -> acc + coalesce(element_at(ratio_map, b), default_ratio))""".stripMargin), 6)

  def dsirWeights(raw: DataFrame, target: DataFrame, buckets: Int = 4096): DataFrame =
    dsirScore(raw, dsirRatioTable(raw, target, buckets), buckets)

  /** [[dsirWeights]] with the target domain as a predicate over the raw
    * corpus — the fused [[dsirRatioTableOf]] counting pass. Identical
    * output to `dsirWeights(raw, raw.filter(targetPred))` (spec-pinned)
    * with half the corpus scans. */
  def dsirWeightsOf(raw: DataFrame, targetPred: Column, buckets: Int = 4096): DataFrame =
    dsirScore(raw, dsirRatioTableOf(raw, targetPred, buckets), buckets)

  private[text] def dsirScore(raw: DataFrame, ratioTable: DataFrame, buckets: Int): DataFrame =
    raw
      .repartition(col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(dsirBucketsExpr(buckets))).as("bucket"))
      .join(broadcast(ratioTable.drop("default_ratio")), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), round(sum(col("ratio")), 6).as("logw"))

  /** DSIR selection: the k documents most like the target domain, by
    * importance weight (deterministic top-k stand-in for the paper's
    * Gumbel resampling — ties break on doc_id so both engines agree).
    * `orderBy.limit` plans as a distributed TakeOrdered: per-partition
    * top-k partials, never a global sort. */
  def dsirTopk(raw: DataFrame, target: DataFrame, k: Int = 200,
               buckets: Int = 4096): DataFrame =
    dsirWeights(raw, target, buckets)
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(k)

  /** [[dsirTopk]] over the fused predicate-target form. */
  def dsirTopkOf(raw: DataFrame, targetPred: Column, k: Int = 200,
                 buckets: Int = 4096): DataFrame =
    dsirWeightsOf(raw, targetPred, buckets)
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(k)

  // ---------------------------------------------------------------------
  // Learned quality classifier: logistic regression over the DSIR
  // hashed n-gram feature space — the fastText-style curated-vs-crawl
  // filter (Joulin et al. 2017 "Bag of Tricks"; the GPT-3 data-quality
  // LR of Brown et al. 2020 Appendix A), with the DSIR substrate
  // supplying the bounded feature representation (Xie et al. 2023).
  // ---------------------------------------------------------------------

  /** Train the classifier: full-batch gradient descent on a BOUNDED
    * deterministic sample (at most `sampleN` docs, selected by salted
    * doc_id hash so the sample is unbiased and identical run to run —
    * the [[graft.sim.Ivf]] bounded-training discipline: model fitting
    * collects a capped sample, never the corpus). Features are the
    * hashed unigram+bigram bucket counts of [[dsirBucketsExpr]],
    * normalized per document (x_b = cnt_b / n_grams) so document length
    * doesn't dominate; `targetPred` supplies the label (true = the
    * curated/target class). Returns (bias, weights[buckets]).
    *
    * The driver-side loop is deterministic: the sample arrives in
    * TakeOrdered order, full-batch gradients accumulate in that fixed
    * order, and no randomness enters (weights start at zero). Scale
    * shape (100 TB): ONE distributed pass computes the per-doc feature
    * arrays; `sampleN` bounds the collect and the training cost by
    * construction — exactly how production quality filters are fit
    * (a few hundred thousand labeled docs, scored over the full crawl). */
  def qualityClassifierTrain(docs: DataFrame, targetPred: Column,
                             buckets: Int = 1024, sampleN: Int = 100000,
                             iters: Int = 300, lr: Double = 5.0,
                             l2: Double = 1e-4): (Double, Array[Double]) = {
    val sample = docs
      .select(targetPred.cast("int").as("y"),
        split(col("text"), " ").as("toks"),
        phash(concat(lit("qc_sample_"), col("doc_id"))).as("ord"))
      .select(col("y"), expr(dsirBucketsExpr(buckets)).as("bks"), col("ord"))
      .orderBy("ord")
      .limit(sampleN)
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).map(_.toInt).toArray))
    require(sample.nonEmpty, "classifier training needs a non-empty corpus")
    val m = sample.length
    val w = new Array[Double](buckets)
    var bias = 0.0
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](buckets)
      var gb = 0.0
      var i = 0
      while (i < m) {
        val (y, bks) = sample(i)
        val n = bks.length
        var dot = 0.0
        var j = 0
        while (j < n) { dot += w(bks(j)); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-(bias + dot / n)))
        val err = p - y
        gb += err
        j = 0
        while (j < n) { gw(bks(j)) += err / n; j += 1 }
        i += 1
      }
      var b = 0
      while (b < buckets) { w(b) -= lr * (gw(b) / m + l2 * w(b)); b += 1 }
      bias -= lr * gb / m
      it += 1
    }
    (bias, w)
  }

  /** Score every document under trained weights: logit = bias + mean
    * per-gram weight, prob = sigmoid(logit). Emits
    * (doc_id, n_grams, logit, prob), both scores quantized at 1e-6
    * (`exp` is 1-ulp across libms — the [[unigramScore]] rule).
    *
    * Scale shape (100 TB): the weight vector rides along as ONE
    * broadcast row (8·buckets bytes by construction); the gram fan-out
    * explodes above `repartition(doc_id)` and the aggregate reuses that
    * clustering ([[dsirScore]] idiom) — per-row work against a
    * broadcast artifact, no token-keyed shuffle anywhere. */
  def qualityClassifierScore(docs: DataFrame, bias: Double,
                             weights: Array[Double]): DataFrame = {
    val buckets = weights.length
    val spark = docs.sparkSession
    import spark.implicits._
    val wRow = broadcast(Seq(weights.toSeq).toDF("w"))
    val logitRaw = lit(bias) +
      sum(element_at(col("w"), (col("bucket") + 1).cast("int"))) / count(lit(1))
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(dsirBucketsExpr(buckets))).as("bucket"))
      .crossJoin(wRow)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        round(logitRaw, 6).as("logit"),
        round(lit(1.0) / (lit(1.0) + exp(-logitRaw)), 6).as("prob"))
  }

  /** Per-row classifier probability under a one-row broadcast weight
    * vector (`toks` and `qc_w` must be bound; `qc_w` is the
    * ARRAY<DOUBLE> weight column) — the fold-order twin of
    * [[qualityClassifierScore]] for stateless streaming gates. Parity
    * with the batch aggregate holds up to the 1e-6 quantization
    * boundary (the [[unigramScoreExpr]] fold-vs-partition-order
    * caveat). */
  def qualityClassifierProbExpr(bias: Double, buckets: Int): Column = {
    val logit = lit(bias) + expr(
      s"""aggregate(${dsirBucketsExpr(buckets)}, CAST(0.0 AS DOUBLE),
         |  (acc, b) -> acc + element_at(qc_w, CAST(b + 1 AS INT)))""".stripMargin) /
      (lit(2) * size(col("toks")) - 1)
    round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
  }

  /** Classifier evaluation report — the ML-ops observable every
    * learned filter ships with: confusion counts and
    * precision/recall/F1 (exact integer ppm) of the trained
    * [[qualityClassifierScore]] at prob ≥ 0.5 against the proxy label,
    * over an evaluation slice. One scoring pass (the classifier's own
    * broadcast-weight shape) + one doc_id equi-join to the labels +
    * a one-row confusion aggregate; the ppm metrics divide exact
    * longs (`div`, zero-denominator → 0), so the row is oracle-exact. */
  def classifierEval(docs: DataFrame, bias: Double, weights: Array[Double],
                     targetPred: Column): DataFrame = {
    val scored = qualityClassifierScore(docs, bias, weights)
      .select(col("doc_id"), col("prob"))
    val labeled = docs.select(col("doc_id"), targetPred.as("label"))
    scored.join(labeled, "doc_id")
      .select((col("prob") >= 0.5).as("pred"), col("label"))
      .agg(
        sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("label"), 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN tp + fp = 0 THEN 0L ELSE (tp * 1000000) div (tp + fp) END")
          .as("precision_ppm"),
        expr("CASE WHEN tp + fn = 0 THEN 0L ELSE (tp * 1000000) div (tp + fn) END")
          .as("recall_ppm"),
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN 0L " +
          "ELSE (2 * tp * 1000000) div (2 * tp + fp + fn) END").as("f1_ppm"))
  }

  /** Session-trained classifier weights, keyed by (sfDir, buckets) so
    * the literal-weights oracle can only be emitted for the exact
    * configuration the query trained — the [[graft.sim.Ivf]]
    * cached-centroids discipline, fail-loud on ambiguity. */
  private[text] val trainedQc = scala.collection.concurrent.TrieMap
    .empty[(String, Int), (Double, Array[Double])]

  private[text] def cachedQc: Option[(Double, Array[Double])] =
    trainedQc.headOption.map { case (k, v) =>
      require(trainedQc.size == 1,
        s"classifier oracle ambiguity: trained for ${trainedQc.keys.mkString(", ")}")
      v
    }

  /** The proxy target label for the registered query: a fixed slice of
    * curated `source` values — the synthetic stand-in for "Wikipedia
    * side" in a curated-vs-crawl filter. */
  private[text] val qcTargetPred: Column =
    col("source").isin("src0", "src1", "src2", "src3", "src4")

  private[text] val QC_BUCKETS = 1024

  /** The registered query: train on the proxy source label (cached for
    * the oracle), score the full corpus. */
  private[text] def qualityClassifierQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (b, w) = trainedQc.getOrElseUpdate((dir, QC_BUCKETS),
      qualityClassifierTrain(docs, qcTargetPred, buckets = QC_BUCKETS))
    qualityClassifierScore(docs, b, w)
  }

  /** quality_classifier oracle, rendered from the weights the query
    * just learned (absent until it runs — the Ivf.cachedCentroids
    * pattern): the weight vector becomes a DuckDB list of exact
    * doubles ([[graft.sim.DuckLiteral]]) indexed by bucket, the bucket
    * derivation is the shared portable-hash fragment, and both scores
    * quantize at 1e-6. */
  private[text] def qcOracles: Map[String, String] = cachedQc match {
    case None => Map.empty
    case Some((b, w)) =>
      val bias = graft.sim.DuckLiteral.double(b)
      val wl = graft.sim.DuckLiteral.list(w)
      def scoreCtes(docFilter: String) =
        s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents$docFilter),
           |g AS (SELECT doc_id, unnest(list_concat(toks,
           |        list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i + 1])))) AS gram
           |      FROM t),
           |bk AS (SELECT doc_id, ${phashSql("gram")} % $QC_BUCKETS AS bucket FROM g),
           |wt AS (SELECT $wl AS wl),
           |s AS (SELECT doc_id, count(*) AS n_grams, sum(wl[CAST(bucket + 1 AS INT)]) AS sw
           |      FROM bk CROSS JOIN wt GROUP BY doc_id)""".stripMargin
      Map("quality_classifier" ->
        s"""WITH ${scoreCtes("")}
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |  round($bias + sw / n_grams, 6) AS logit,
           |  round(1.0 / (1.0 + exp(-($bias + sw / n_grams))), 6) AS prob
           |FROM s""".stripMargin,
        "classifier_eval" ->
        s"""WITH ${scoreCtes(" WHERE doc_id % 5 = 0")},
           |p AS (SELECT round(1.0 / (1.0 + exp(-($bias + sw / n_grams))), 6) >= 0.5 AS pred,
           |        d.source IN ('src0', 'src1', 'src2', 'src3', 'src4') AS label
           |      FROM s JOIN documents d ON s.doc_id = d.doc_id),
           |c AS (SELECT
           |  CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |  CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |  CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           |  CAST(sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
           |  FROM p)
           |SELECT tp, fp, fn, tn,
           |  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE (tp * 1000000) // (tp + fp) END AS BIGINT) AS precision_ppm,
           |  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE (tp * 1000000) // (tp + fn) END AS BIGINT) AS recall_ppm,
           |  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE (2 * tp * 1000000) // (2 * tp + fp + fn) END AS BIGINT) AS f1_ppm
           |FROM c""".stripMargin)
  }
}
