package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data-pipeline text operators over the `documents` table:
  * token/quality stats, language-ID heuristic, fingerprinting, exact
  * dedup, word-shingle MinHash + LSH candidate pairs + verified Jaccard,
  * SimHash. All pure Catalyst expressions (higher-order array functions),
  * no UDFs — everything stays codegen-friendly and scales by partition.
  *
  * Cross-engine portable hash: `h(s) = int64(md5_hex(s)[0,15), base 16)`
  * (15 hex digits < 2^60 fits a signed 64-bit int in both engines).
  *
  * Scale notes (100 TB): every op here is per-row or key-grouped —
  * shingle explosion is the only fan-out (×~n_tokens), and the LSH
  * band-join replaces the O(n²) all-pairs comparison with a
  * bucket-local equi-join, which is the standard web-scale dedup shape.
  */
object TextQueries
    extends TextDedupOps
    with TextMixOps
    with TextSignalLmOps
    with TextFuzzyDedupOps
    with TextTokenizerOps
    with TextSamplingOps
    with TextSimhashOps
    with TextOracleOps {
  val queries: Map[String, Q] = Map(
    // ---- Gopher/C4-style quality filter + n-gram repetition ----
    "txt_quality" -> { (s, dir) => qualityStats(Tables.documents(s, dir)) },
    "txt_top_ngram" -> { (s, dir) => topNgram(Tables.documents(s, dir)) },
    "txt_unigram_lm" -> { (s, dir) => unigramScore(Tables.documents(s, dir)) },
    "txt_bigram_lm" -> { (s, dir) => bigramScore(Tables.documents(s, dir)) },
    "txt_kn_lm" -> { (s, dir) => kneserNeyScore(Tables.documents(s, dir)) },
    "txt_kn_lm_3" -> { (s, dir) => kneserNeyScore3(Tables.documents(s, dir)) },
    "txt_kn_lm_5" -> { (s, dir) => kneserNeyScoreN(Tables.documents(s, dir), 5) },
    "txt_entropy" -> { (s, dir) => tokenEntropy(Tables.documents(s, dir)) },
    "txt_dup_coverage" -> { (s, dir) => dupNgramCoverage(Tables.documents(s, dir)) },
    "txt_ppl_buckets" -> { (s, dir) => perplexityBuckets(Tables.documents(s, dir)) },
    "bpe_encode" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val merges = bpeTrain(docs, numMerges = 20)
      cachedMerges = Some(merges)
      bpeEncode(docs, merges)
    },
    "tok_fertility" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val merges = bpeTrain(docs, numMerges = 20)
      cachedFertilityMerges = Some(merges)
      tokenizerFertility(docs, merges)
    },

    // ---- unigram-LM tokenizer (Kudo 2018; SentencePiece unigram) ----
    // EM training is iterative and not SQL-expressible → rows-only
    // driver check; the algorithm is pinned in UnigramLmSpec (EM
    // behavior, driver/distributed parity, partitioning invariance).
    "unigram_train" -> { (s, dir) =>
      import s.implicits._
      UnigramLm.train(Tables.documents(s, dir),
        vocabSize = 48, maxPieceLen = 5, seedSize = 128).toDF("piece", "logp")
    },
    "unigram_encode" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pieces = UnigramLm.train(docs, vocabSize = 48, maxPieceLen = 5, seedSize = 128)
      UnigramLm.cachedPieces = Some(pieces)
      UnigramLm.encode(docs, pieces, maxPieceLen = 5)
    },

    // ---- WordPiece tokenizer (Schuster & Nakajima 2012; BERT) ----
    // likelihood-scored merge loop: iterative, not SQL-expressible →
    // rows-only driver check; pinned against a reference trainer and the
    // distributed path in WordPieceSpec
    "wordpiece_train" -> { (s, dir) =>
      import s.implicits._
      WordPiece.train(Tables.documents(s, dir), numMerges = 30).toDF("rank", "token")
    },
    "wordpiece_encode" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val vocab = WordPiece.train(docs, numMerges = 30)
      WordPiece.cachedVocab = Some(vocab)
      WordPiece.encode(docs, vocab)
    },
    "txt_scrub_ngrams" -> { (s, dir) => scrubFrequentNgrams(Tables.documents(s, dir)) },
    // registered on the production hash (portableHash=false: xxhash64
    // instead of the md5-derived phash the DuckDB oracle replays) —
    // the output depends only on the duplicated-window SET, the two
    // paths' result equality is spec-pinned (TextQueriesSpec:488,516),
    // and the oracle board stays hash-green
    "dedup_substring" -> { (s, dir) =>
      exactSubstringDedup(Tables.documents(s, dir), portableHash = false) },
    "dedup_substring_keep" -> { (s, dir) =>
      exactSubstringDedupKeep(Tables.documents(s, dir), portableHash = false) },
    // incremental form: odd docs (the "new batch") scrubbed of windows
    // already present in the even-doc corpus (the dedup_incremental
    // split — the planted %100==1 dups cross it)
    "dedup_substring_incr" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      exactSubstringDedupAgainst(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), portableHash = false)
    },
    // character-granularity (any-offset) members of the same family —
    // Lee et al. §4.1's actual byte-exact match semantics. Registered
    // on the PRODUCTION hash path (portableHash=false: the O(n)
    // rolling-polynomial kernel) rather than the O(n·L) materialize-
    // every-window-and-md5 path the DuckDB oracle replays: the output
    // depends only on the duplicated-window SET, which both hashes
    // (60-bit md5 prefix, 61-bit polynomial) reproduce identically up to
    // a ~2⁻⁶⁰ collision probability — the two paths'
    // result equality is spec-pinned (TextQueriesSpec) and the oracle
    // board stays hash-green. Measured at sf0.1: 6.6/6.4/3.8 s →
    // 1.7/1.9/1.1 s for the three queries.
    "dedup_substring_chars" -> { (s, dir) =>
      exactSubstringDedupChars(Tables.documents(s, dir), portableHash = false) },
    "dedup_substring_chars_keep" -> { (s, dir) =>
      exactSubstringDedupCharsKeep(Tables.documents(s, dir), portableHash = false) },
    "dedup_substring_chars_incr" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      exactSubstringDedupCharsAgainst(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), portableHash = false)
    },
    "txt_signals" -> { (s, dir) => signalSweep(Tables.documents(s, dir)) },
    // DEFLATE is not SQL-expressible → rows-only; CompressSpec pins it
    "txt_compress" -> { (s, dir) => compressionRatio(Tables.documents(s, dir)) },
    "txt_winnow" -> { (s, dir) => winnowFingerprints(Tables.documents(s, dir)) },
    "dedup_winnow_pairs" -> { (s, dir) => winnowPairs(Tables.documents(s, dir)) },
    // rows-only (no SQL oracle: gear-table rolling hash not expressible
    // in DuckDB — the deflate precedent); CdcSpec pins semantics
    "txt_cdc" -> { (s, dir) => cdcFingerprints(Tables.documents(s, dir)) },
    "dedup_cdc_pairs" -> { (s, dir) => cdcPairs(Tables.documents(s, dir)) },
    "txt_normalize" -> { (s, dir) => normalizeText(Tables.documents(s, dir)) },
    // 'a a' exercises OVERLAPPING occurrence counting ('a a a' hits
    // twice); 'dup' is the rare planted marker
    "txt_blocklist" -> { (s, dir) =>
      blocklistFilter(Tables.documents(s, dir),
        Seq("dup", "slow query", "big data", "a a"))
    },
    "txt_blocklist_spans" -> { (s, dir) =>
      blocklistSpans(Tables.documents(s, dir),
        Seq("dup", "slow query", "big data", "a a"))
    },
    "txt_blocklist_redact" -> { (s, dir) =>
      blocklistRedact(Tables.documents(s, dir),
        Seq("dup", "slow query", "big data", "a a"))
    },
    // graded twin of txt_decontaminate: same bench/corpus split
    "txt_contain_frac" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      containmentFraction(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10), n = 5)
    },
    "txt_chunk" -> { (s, dir) => chunkDocs(Tables.documents(s, dir)) },
    // Bloom gate: filter built over the even-doc_id half, every doc
    // probed — evens all hit (no false negatives), odds only on true
    // content duplicates or the deterministic false-positive rate
    "bloom_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      bloomProbe(docs, bloomBuild(docs.filter(col("doc_id") % 2 === 0)))
    },
    // counting-Bloom forget: index ALL docs, delete the doc_id%10
    // slice via counter subtraction, probe everything — the oracle is
    // the filter REBUILT on the remaining docs, so the subtract path
    // must be exactly delete-correct to hash-match
    "bloom_forget" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      bloomProbe(docs, cbfBits(cbfForget(cbfCounters(docs),
        docs.filter(col("doc_id") % 10 === 0))))
    },
    // exact-threshold similarity join (prefix filtering): oracle is the
    // BRUTE-FORCE all-pairs join — recall 1 is the correctness contract.
    // These joins are EXACT (prefix filtering is recall-1 under any
    // consistent token order and the verify counts real intersections),
    // so they always hash with xxhash64 — unlike the LSH/minhash family,
    // whose candidate sets are argmin-of-hash and stay on the md5 phash.
    // Measured at sf0.1 steady-state against md5: jaccardJoin 4.1 →
    // 2.6 s, containJoin 5.1 → 4.2 s.
    "dedup_jaccard_join" -> { (s, dir) =>
      jaccardJoin(Tables.documents(s, dir), threshold = 0.8) },
    // LSH recall audit against the exact join's ground truth — the LSH
    // side keeps the md5 phash (its pair set is hash-dependent; the
    // oracle replays it), the exact side runs xxhash64
    "lsh_recall" -> { (s, dir) =>
      lshRecallAudit(Tables.documents(s, dir), threshold = 0.5) },
    // asymmetric exact containment join — the sub-document duplication
    // detector; brute-force all-ordered-pairs oracle
    "dedup_contain_join" -> { (s, dir) =>
      containJoin(Tables.documents(s, dir), threshold = 0.8) },
    // incremental exact join: odd-doc batch vs the even-doc corpus's
    // persistable prefix index — recall 1 against the brute-force
    // batch×corpus oracle
    "dedup_jaccard_incr" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      jaccardJoinAgainst(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), threshold = 0.8, portableHash = false)
    },
    // incremental containment: odd-doc batch probed against the
    // even-doc corpus's full-token index + doc side — the streaming
    // containment gate's batch twin; brute-force batch×corpus oracle
    "dedup_contain_incr" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      containJoinAgainst(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), threshold = 0.8, portableHash = false)
    },
    "corpus_sample" -> { (s, dir) =>
      stratifiedSample(Tables.documents(s, dir),
        Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25, "src4" -> 0.1),
        defaultRate = 0.05)
    },
    "corpus_upsample" -> { (s, dir) =>
      corpusUpsample(Tables.documents(s, dir),
        Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4), defaultWeight = 0.0)
    },
    "corpus_split" -> { (s, dir) => corpusSplit(Tables.documents(s, dir)) },
    "corpus_shuffle" -> { (s, dir) => corpusShuffle(Tables.documents(s, dir)) },
    // exact-k per-source dev-set carve: driver-cutoff order statistic,
    // no per-stratum window anywhere in the plan (the oracle's
    // row_number is the REFERENCE semantics, not the engine's shape)
    "corpus_sample_k" -> { (s, dir) =>
      corpusSampleK(Tables.documents(s, dir), k = 7) },

    // ---- domain-level curation: aggregate profile + whole-source gate ----
    "source_stats" -> { (s, dir) => sourceStats(Tables.documents(s, dir)) },
    "source_filter" -> { (s, dir) => sourceFilter(Tables.documents(s, dir)) },

    // ---- DSIR importance weighting: target = the English slice.
    // The target is a slice of the corpus itself, so the queries run the
    // fused single-counting-pass form; output is identical to the
    // two-frame form (spec-pinned), and the oracle is shared. ----
    "dsir_weights" -> { (s, dir) =>
      dsirWeightsOf(Tables.documents(s, dir), col("lang") === "en")
    },
    "dsir_topk" -> { (s, dir) =>
      dsirTopkOf(Tables.documents(s, dir), col("lang") === "en")
    },

    // ---- learned quality classifier: LR over hashed n-gram features,
    // trained on the proxy source label, scored distributively ----
    "quality_classifier" -> qualityClassifierQuery _,

    // ---- classifier evaluation: confusion + P/R/F1 on the %5 eval
    // slice, same session-trained weights as quality_classifier ----
    "classifier_eval" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val (b, w) = trainedQc.getOrElseUpdate((dir, QC_BUCKETS),
        qualityClassifierTrain(docs, qcTargetPred, buckets = QC_BUCKETS))
      classifierEval(docs.filter(col("doc_id") % 5 === 0), b, w, qcTargetPred)
    },

    // ---- BPE tokenizer training (Sennrich et al. 2016) ----
    "bpe_pairs" -> { (s, dir) => bpePairs(Tables.documents(s, dir)) },
    // iterative argmax-and-rewrite: not SQL-expressible → rows-only
    // driver check; the algorithm is pinned against a driver-side
    // reference implementation in TextQueriesSpec
    "bpe_train" -> { (s, dir) =>
      val m = bpeTrain(Tables.documents(s, dir), numMerges = 20)
      import s.implicits._
      m.toDF("rank", "left", "right")
    },
    "txt_repetition" -> { (s, dir) => repetitionSignals(Tables.documents(s, dir)) },
    "txt_repetition_keep" -> { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"), repetitionKeep().as("keep"))
    },

    // ---- BPE-ish token counting (whitespace twin + subword-ish regex);
    // the oracle runs the SAME pattern under DuckDB's RE2, pinning the
    // cross-engine-portable claim on BpeishPattern for real ----
    "txt_bpeish" -> { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        wsTokenCount("text").as("ws_tokens"),
        bpeishTokenCount("text").as("bpeish_tokens"))
    },

    // ---- incremental dedup: new batch (odd ids) vs corpus (even ids) ----
    "dedup_incremental" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      lshPairsAgainst(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    },

    // ---- benchmark decontamination: eval set = docs 0-9 ----
    "txt_decontaminate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      decontaminate(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10))
    },

    // ---- full cleaning pipeline: decontaminate + quality + dedup ----
    "corpus_clean" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      corpusClean(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10))
    },
    // the per-stage survivor report over the same fixture split
    "corpus_funnel" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      corpusFunnel(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10))
    },

    // ---- the end-to-end curate-tokenize-pack pipeline: corpus_clean
    // survivors train + encode a BPE tokenizer, the encoded counts pack
    // into 512-token chunks; the composed oracle hash-verifies the
    // final layout ----
    "corpus_tokenize" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      corpusTokenize(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10))
    },

    // ---- GPT-style sequence packing: concat in doc_id order, cut
    // into fixed 512-token training chunks, emit per-doc slices ----
    "txt_pack" -> { (s, dir) =>
      packChunks(Tables.documents(s, dir), budget = 512L)
    },

    // ---- deterministic per-language training-mix allocation ----
    "corpus_mix" -> { (s, dir) =>
      corpusMix(Tables.documents(s, dir),
        Map("en" -> 0.5, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.1),
        budget = 200L, score = col("n_chars"))
    },

    // ---- token counting + quality scoring ----
    "corpus_mix_tokens" -> { (s, dir) => corpusMixTokens(Tables.documents(s, dir)) },
    "corpus_mix_temp" -> { (s, dir) =>
      corpusMixTemp(Tables.documents(s, dir))
    },

    "txt_stats" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          length(col("text")).as("len_chars"),
          // exact arithmetic: avg token length from total chars minus separators
          ((length(col("text")) - (size(col("toks")) - 1)).cast("double") / size(col("toks"))).as("avg_tok_len"),
          size(filter(col("toks"), t => t.isin(STOP: _*))).as("n_stop"),
          (size(filter(col("toks"), t => t.isin(STOP: _*))).cast("double") / size(col("toks"))).as("stop_ratio"))
    },

    // ---- language-ID heuristic (marker-word + script detection) ----
    "txt_langid" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      def hits(ws: Seq[String]) = size(filter(toks, t => t.isin(ws: _*)))
      val en = hits(Seq("the", "a", "of", "and", "is"))
      val de = hits(Seq("der", "die", "das", "und", "ist"))
      val fr = hits(Seq("le", "la", "les", "et", "est"))
      val es = hits(Seq("el", "los", "las", "y", "es"))
      // CJK char count WITHOUT materializing a throwaway match array:
      // chars removed by deleting the range == chars in the range
      val zh = length(col("text")) -
        length(regexp_replace(col("text"), "[\\u4e00-\\u9fff]", ""))
      Tables.documents(s, dir).select(
        col("doc_id"),
        when(zh > 0, "zh")
          .when(en >= de && en >= fr && en >= es && en > 0, "en")
          .when(de >= fr && de >= es && de > 0, "de")
          .when(fr >= es && fr > 0, "fr")
          .when(es > 0, "es")
          .otherwise("und").as("pred_lang"),
        col("lang").as("label_lang"))
    },

    // ---- document fingerprint: normalize + hash ----
    "txt_fingerprint" -> { (s, dir) =>
      val norm = regexp_replace(lower(col("text")), "[^a-z0-9\\u4e00-\\u9fff]+", " ")
      Tables.documents(s, dir).select(
        col("doc_id"), md5(trim(norm)).as("fingerprint"))
    },

    // ---- exact dedup: hash-groupBy, keep min doc_id ----
    "dedup_exact" -> { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
    },

    // ---- MinHash signatures (k=16 permutations over word-3-gram shingles) ----
    "dedup_minhash_sig" -> { (s, dir) => minhashSig(Tables.documents(s, dir)) },

    // ---- LSH: band signatures → candidate pairs → exact Jaccard verify ----
    "dedup_lsh_pairs" -> { (s, dir) => lshPairs(Tables.documents(s, dir)) },

    // ---- pair graph → dedup CLUSTERS: connected components over the
    // LSH pairs (large-star/small-star, ops.Components), labeling each
    // doc with the min doc_id of its near-dup cluster — the canonical
    // "which copy survives" resolution step ----
    "dedup_components" -> { (s, dir) =>
      val pairs = lshPairs(Tables.documents(s, dir)).select(col("d1"), col("d2"))
      graft.ops.Components.connectedComponents(pairs, "d1", "d2")
        .select(col("node").as("doc_id"), col("component"))
    },

    // ---- dedup observability: the cluster-size histogram (how much
    // duplication, in what shape — pairs vs cliques) from the same
    // component labels; cluster sizes aggregate to k tiny rows ----
    "dedup_stats" -> { (s, dir) =>
      val pairs = lshPairs(Tables.documents(s, dir)).select(col("d1"), col("d2"))
      graft.ops.Components.connectedComponents(pairs, "d1", "d2")
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    },

    // ---- clusters → the deduplicated CORPUS itself ([[dedupKeep]]):
    // survivor = cluster-min doc_id (default policy), everything else
    // dropped, docs never emitted as a pair (singletons) kept ----
    "dedup_keep" -> { (s, dir) => dedupKeep(Tables.documents(s, dir)) },

    // ---- the non-default survivor policy, cross-engine: keep the
    // LONGEST doc of each near-dup cluster (ties to the smaller
    // doc_id) — the "keep the best copy" policy real pipelines run ----
    "dedup_keep_best" -> { (s, dir) =>
      dedupKeep(Tables.documents(s, dir),
        keepBy = Some(length(col("text"))), ascending = false)
    },

    // ---- brute-force n-gram Jaccard baseline (bounded subset; the 200-
    // doc window and 0.02 threshold keep the result at O(10-100) rows so
    // the oracle actually verifies the join+ratio arithmetic) ----
    "dedup_jaccard_brute" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
      val sh = shingles(docs)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.as("s1").join(sh.as("s2"),
          col("s1.shingle") === col("s2.shingle") && col("s1.doc_id") < col("s2.doc_id"))
        .groupBy(col("s1.doc_id").as("d1"), col("s2.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.as("n1"), col("d1") === col("n1.doc_id"))
        .join(sizes.as("n2"), col("d2") === col("n2.doc_id"))
        .select(col("d1"), col("d2"),
          (col("inter").cast("double") / (col("n1.n") + col("n2.n") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.02)
    },

    // ---- corpus vocabulary: global token frequencies, top-50 ----
    "txt_vocab_topk" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok"))
        .limit(50)
    },

    // ---- TF-IDF scores for (doc, token) pairs over the corpus ----
    "txt_tfidf" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val n = docs.count() // corpus size: parquet metadata count, no scan
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // document frequency as a window over tf — one tokenize pass, one
      // shuffle, no self-join re-deriving the same lineage
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
      tf.withColumn("df", count(lit(1)).over(w))
        // ln is 1-ulp across libms → quantize at 1e-6
        .select(col("doc_id"), col("tok"),
          round(col("tf") * log(lit(n.toDouble) / col("df")), 6).as("tfidf"))
        .filter(col("doc_id") < 50)
    },

    // ---- per-column numeric profile (training-data QC) ----
    "data_profile" -> { (s, dir) =>
      // count/min/max/sum in ONE scan; exact medians via the bounded-
      // memory bracket-and-select (Scale.exactQuantile) instead of the
      // percentile aggregate, whose per-partition counts-map of every
      // distinct value is an unbounded buffer at corpus scale
      val li = graft.Tables.lineitem(s, dir)
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount")
      val meds = graft.ops.Scale.exactQuantiles(li, cs, 0.5) // shared passes
      val aggs = cs.flatMap { c => Seq(
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"),
        sum(round(col(c) * lit(10000)).cast("long")).as(s"sum_$c"),
        round(lit(meds(c)), 6).as(s"med_$c"))
      } :+ count(lit(1)).as("n")
      val wide = li.agg(aggs.head, aggs.tail: _*)
      val stackExpr = s"stack(${cs.length}, " + cs.map { c =>
        s"'$c', min_$c, max_$c, sum_$c, med_$c"
      }.mkString(", ") + ") AS (column, min_v, max_v, sum_e4, median)"
      wide.select(col("n"), expr(stackExpr))
        .select(col("column"), col("n"), col("min_v"), col("max_v"),
          col("sum_e4"), col("median"))
    },

    // ---- SimHash (32-bit, distinct-token features) ----
    "dedup_simhash" -> { (s, dir) => simhashFrame(Tables.documents(s, dir)) },

    // ---- SimHash near-dup pairs at hamming <= 3 (Manku et al. 2007):
    // 4 bands of 8 bits — by pigeonhole any pair within hamming 3
    // shares at least one band, so candidates meet in band equi-join
    // buckets (skew-salted), never all-pairs; exact hamming verifies ----
    "dedup_simhash_pairs" -> { (s, dir) =>
      simhashPairs(Tables.documents(s, dir))
    },

    // ---- BM25 ranked retrieval (Robertson/Sparck Jones; k1=1.2,
    // b=0.75) for a literal term query: ONE one-row stats aggregate
    // (N, total length, per-term df) broadcasts onto a map-only scoring
    // pass, top-k = distributed TakeOrdered ----
    "txt_bm25" -> { (s, dir) =>
      bm25(Tables.documents(s, dir), Seq("spark", "join", "data"))
    },

    // ---- incremental simhash dedup: odd docs arrive as the batch, even
    // docs are the existing corpus (its persistable banded index) —
    // best corpus near-duplicate per batch doc at hamming <= 3 ----
    "dedup_simhash_incr" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      simhashDedupAgainst(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    },

    // ---- incremental winnow dedup: same batch/corpus split, best
    // corpus match by shared selected fingerprints ----
    "dedup_winnow_incr" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      winnowDedupAgainst(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    },

    // ---- exact heavy hitters through a Misra-Gries sketch: candidates
    // from a k-bounded mergeable summary (one pass, k entries per
    // partition over the wire), exact counts from a candidate-filtered
    // second pass — never a full-vocabulary shuffle ----
    "txt_heavy_hitters" -> { (s, dir) =>
      heavyHitters(Tables.documents(s, dir), denom = 256)
    },

    // ---- robust IQR outlier trim: data-driven fences over the
    // corpus's own signal distribution ----
    "quality_outliers" -> { (s, dir) =>
      qualityOutliers(Tables.documents(s, dir))
    },

    // ---- corpus Zipf profile: token-distribution sanity report ----
    "txt_zipf" -> { (s, dir) => zipfProfile(Tables.documents(s, dir)) },

    // ---- Heaps-law vocabulary growth: the companion sanity report ----
    "txt_heaps" -> { (s, dir) => heapsProfile(Tables.documents(s, dir)) },

    // ---- PMI collocations (Church & Hanks 1990) ----
    "txt_pmi" -> { (s, dir) => pmiCollocations(Tables.documents(s, dir)) },

    // ---- Flesch/FK readability signals ----
    "txt_readability" -> { (s, dir) => readability(Tables.documents(s, dir)) },

    // ---- percentile report over the quantile grid ----
    "corpus_percentiles" -> { (s, dir) =>
      corpusPercentiles(Tables.documents(s, dir))
    },

    // ---- character-class profile (script/charset signal) ----
    "txt_charclass" -> { (s, dir) => charClassProfile(Tables.documents(s, dir)) },

    // ---- corpus snapshot diff over the shared fixture split ----
    "corpus_diff" -> { (s, dir) =>
      val (old, neu) = snapshotSplit(Tables.documents(s, dir))
      corpusDiff(old, neu)
    },

    // ---- token-distribution drift over the same snapshot split ----
    "vocab_drift" -> { (s, dir) =>
      val (old, neu) = snapshotSplit(Tables.documents(s, dir))
      vocabDrift(old, neu)
    },

    // ---- edit-distance-verified near-dup pairs: winnow candidates,
    // exact Levenshtein verdict ----
    "dedup_editdist_pairs" -> { (s, dir) =>
      editDistPairs(Tables.documents(s, dir))
    },

    // ---- incremental edit-distance dedup: winnow-index candidates,
    // Levenshtein verification of the best match only ----
    "dedup_editdist_incr" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      editDistAgainst(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    },

    // ---- verified edit-distance matches per batch doc — production
    // knobs on: minShared=2 prunes single-shared-fingerprint noise
    // pairs before any text moves (measured at sf0.1: 167k -> 4k
    // candidates, identical verified output), maxMatchesPerDoc=8
    // bounds the clique case minShared cannot (clique members share
    // ALL fingerprints). The streaming gate replays the unknobbed
    // event-stream form, parity-pinned at test scale ----
    "dedup_editdist_matches" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      editDistMatchesAgainst(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        minShared = 2, maxMatchesPerDoc = 8)
    },

    // ---- the INDEX-side fix for the high-DF quadratic: a df-capped
    // (stop-fingerprint, Bayardo et al.) winnow index under the
    // RECALL-FIRST consumer defaults (minShared=1, no per-doc cap).
    // maxDf=1 — only fingerprints UNIQUE to one corpus document enter
    // the index — because this corpus's collision fan-out is a broad
    // df 2-15 band (window-min bias concentrates selected fingerprints
    // on globally small hash values), not a few monster-df outliers:
    // measured at sf0.1, cap 8 still admits 156k of the uncapped 167k
    // candidate pairs (114 s), cap 2 admits 23k (18 s), cap 1 admits
    // 6.5k (7.8 s, in-family) — the operational lesson being that the
    // cap must sit BELOW the corpus's noise-df band. Near-dup recall
    // survives: a planted pair's distinctive fingerprints live in
    // exactly ONE corpus doc (df=1 on the corpus side by definition).
    // The cap is a stamped contract parameter (max_df), so handing
    // this index to an exact-index consumer fails at plan time ----
    "dedup_editdist_dfcap" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      editDistMatchesAgainst(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), maxDf = 1)
    }
  )
}
