package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression pins: the scale properties the 100 TB design
  * depends on must be visible in the executed plan, not just assumed —
  * filter pushdown reaching the parquet scan, column pruning in
  * ReadSchema, broadcast joins on dimension tables, map-side partial
  * aggregation before the histogram shuffle.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("range_filter pushes its predicate into the parquet scan and prunes columns") {
    val p = plan("range_filter")
    assert(p.contains("PushedFilters:") &&
      (p.contains("GreaterThan(value,100.0)") || p.contains("GreaterThan(value, 100.0)")),
      s"range predicate must reach the scan:\n${p.take(1500)}")
    // projection is (event_id, value): the scan must not read other columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("value"))
    assert(!readSchema.contains("user_id") && !readSchema.contains("event_type"),
      s"scan reads pruned columns: $readSchema")
  }

  test("q5 joins dimension tables by broadcast, not shuffle") {
    val p = plan("q5_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
  }

  test("histogram aggregates partially before the shuffle (map-side combine)") {
    val p = plan("hist_1d")
    assert(p.contains("partial_count") || p.contains("HashAggregate(keys"),
      s"expected partial aggregation:\n${p.take(1500)}")
    // the shuffle moves (bin, partial count) pairs, not raw events:
    // partial agg must appear BELOW the exchange in the plan tree (later
    // in the printed string)
    val exchange = p.indexOf("Exchange hashpartitioning")
    val partial = p.lastIndexOf("partial_count")
    assert(exchange >= 0 && partial > exchange,
      "partial aggregation must run before the exchange")
  }

  test("dfield_lookup runs as a native expression, not a ScalaUDF") {
    val p = plan("dfield_lookup")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"dfield_lookup must not fall back to a UDF:\n${p.take(1500)}")
    assert(p.contains("dfield_lookup"), s"native expression missing:\n${p.take(1500)}")
    // and it stays inside whole-stage codegen (no fallback Project)
    assert(p.linesIterator.exists(l => l.contains("dfield_lookup") && l.contains("*(")),
      p.take(1500))
  }

  test("txt_quality is a map-only pass: no exchange anywhere in the plan") {
    val p = plan("txt_quality")
    assert(!p.contains("Exchange"),
      s"per-row quality metrics must not shuffle:\n${p.take(1500)}")
  }

  test("txt_quality tokenizes ONCE per row: a single split in the whole plan") {
    // all five metrics + the keep flag evaluate over one lambda-bound
    // token array; CollapseProject has nothing to duplicate
    val p = plan("txt_quality")
    val n = "split\\(text".r.findAllIn(p).size
    assert(n == 1, s"expected exactly one split(text, got $n:\n${p.take(2000)}")
  }

  test("txt_repetition: all three n-gram orders per-row, no exchange, one split") {
    Seq("txt_repetition", "txt_repetition_keep").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"),
        s"$q must not shuffle:\n${p.take(1500)}")
      val n = "split\\(text".r.findAllIn(p).size
      assert(n == 1, s"$q: expected exactly one split(text, got $n:\n${p.take(2000)}")
    }
  }

  test("corpus_clean's quality filter binds the token array once") {
    // the shingle stages legitimately re-split per derivation (separate
    // plan nodes), but no single node — in particular the qualityKeep
    // Filter — may evaluate split(text) more than once per row
    val p = plan("corpus_clean")
    val worst = p.linesIterator.map(l => "split\\(text".r.findAllIn(l).size).max
    assert(worst <= 1,
      s"a plan node evaluates split(text) $worst times per row:\n${p.take(2000)}")
  }

  test("txt_top_ngram shuffles once, before the gram fan-out") {
    val p = plan("txt_top_ngram")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1,
      s"expected exactly one exchange (compact docs by doc_id), got $n:\n${p.take(2000)}")
    // the single exchange must sit below the explode in the plan tree
    // (later in the printed string): grams never cross the network
    val exchange = p.indexOf("Exchange hashpartitioning")
    val generate = p.indexOf("Generate explode")
    assert(generate >= 0 && exchange > generate,
      s"the shuffle must move un-exploded docs, not gram rows:\n${p.take(2000)}")
  }

  test("corpus_sample is map-only: the decision evaluates inside the scan stage") {
    val p = plan("corpus_sample")
    assert(!p.contains("Exchange"), s"hash sampling must not shuffle:\n${p.take(1200)}")
    assert(!p.contains("ScalaUDF"), "the sampling hash must stay a native expression")
  }

  test("corpus_split is map-only: the assignment evaluates inside the scan stage") {
    val p = plan("corpus_split")
    assert(!p.contains("Exchange"), s"per-row hash split must not shuffle:\n${p.take(1200)}")
    assert(!p.contains("ScalaUDF"), "the split hash must stay a native expression")
  }

  test("dsir_weights: bounded ratio table broadcasts; exploded grams never shuffle") {
    val p = plan("dsir_weights")
    // bucket keys inherit stopword skew — a sort-merge join on bucket
    // would drag the exploded corpus through a handful of reducers
    assert(!p.contains("SortMergeJoin"), s"the ratio join must broadcast:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), "the <=B-row log-ratio table must broadcast")
    val nDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(nDoc == 1,
      s"expected ONE compact-row doc_id shuffle, got $nDoc:\n${p.take(2000)}")
    // the scoring explode sits above that exchange: the x2-token gram
    // fan-out stays partition-local (the txt_unigram_lm idiom)
    val generate = p.indexOf("Generate explode")
    val exchange = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(generate >= 0 && exchange > generate,
      s"the shuffle must move un-exploded docs, not gram rows:\n${p.take(2000)}")
    // the fused form: ONE one-row totals frame cross-joins in (both
    // totals derived from the MATERIALIZED bucket-count table)...
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1)
    // ...and the SCORING pass is the only corpus scan left in the
    // plan: the fused counting pass ran once at construction
    // (materializeCompact) and the totals aggregate over its ≤B
    // checkpointed rows — ScanCountSpec pins the executed count at 1
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 corpus scan (scoring), got $scans:\n${p.take(2000)}")
    // the counting checkpoint must appear as a leaf, not a re-derived
    // subtree (exactly one distinct RDD leaf feeds ratio and totals)
    assert(p.contains("Scan ExistingRDD"),
      s"the bucket-count table must be a materialized leaf:\n${p.take(2000)}")
  }

  test("txt_bigram_lm: LM tables broadcast onto the transition fan-out") {
    val p = plan("txt_bigram_lm")
    // at test SF every join broadcasts; at scale the vocab-to-vocab
    // denominator join may legitimately sort-merge (both sides bounded)
    // but the corpus-sized scoring joins must never shuffle on a token
    // key — no SMJ anywhere in this plan pins that for the shipped shape
    assert(!p.contains("SortMergeJoin"), s"LM tables must broadcast:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"))
    val nDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(nDoc == 1,
      s"expected ONE compact-row doc_id shuffle, got $nDoc:\n${p.take(2000)}")
    val generate = p.indexOf("Generate explode")
    val exchange = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(generate >= 0 && exchange > generate,
      s"the shuffle must move un-exploded docs, not transition rows:\n${p.take(2000)}")
  }

  test("txt_kn_lm: count tables broadcast onto the transition fan-out") {
    val p = plan("txt_kn_lm")
    assert(!p.contains("SortMergeJoin"),
      s"the KN count tables must broadcast, never shuffle the corpus on a token key:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"))
    val nDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(nDoc == 1,
      s"expected ONE compact-row doc_id shuffle, got $nDoc:\n${p.take(2000)}")
    val generate = p.indexOf("Generate explode")
    val exchange = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(generate >= 0 && exchange > generate,
      s"the shuffle must move un-exploded docs, not transition rows:\n${p.take(2000)}")
  }

  test("txt_kn_lm_3 / txt_kn_lm_5: every derived model table broadcasts onto the n-gram fan-out") {
    for (q <- Seq("txt_kn_lm_3", "txt_kn_lm_5")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q model tables must broadcast, never shuffle the corpus on a token key:\n${p.take(2000)}")
      assert(p.contains("BroadcastHashJoin"))
      val nDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
      assert(nDoc == 1,
        s"$q: expected ONE compact-row doc_id shuffle, got $nDoc:\n${p.take(2000)}")
      val generate = p.indexOf("Generate explode")
      val exchange = p.indexOf("Exchange hashpartitioning(doc_id")
      assert(generate >= 0 && exchange > generate,
        s"$q: the shuffle must move un-exploded docs, not transition rows:\n${p.take(2000)}")
    }
  }

  test("dedup_jaccard_join/incr: prefix-bucketed equi-joins, never all-pairs") {
    val p = plan("dedup_jaccard_join")
    assert(!p.contains("CartesianProduct"),
      s"candidates must meet in prefix-token equi-join buckets:\n${p.take(2000)}")
    val pi = plan("dedup_jaccard_incr")
    assert(!pi.contains("CartesianProduct"),
      s"the incremental probe must equi-join the prefix index:\n${pi.take(2000)}")
    assert(pi.contains("BroadcastHashJoin") || pi.contains("BroadcastExchange"),
      s"the batch prefix side must broadcast onto the streamed index:\n${pi.take(2000)}")
  }

  test("dedup_contain_incr: compact bucket probe + doc_id verification join, never all-pairs") {
    val p = plan("dedup_contain_incr")
    assert(!p.contains("CartesianProduct"),
      s"the full-token probe must equi-join the compact index:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the batch prefix and batch hash side must broadcast:\n${p.take(2000)}")
  }

  test("quality_classifier: one-row weight broadcast, gram fan-out partition-local") {
    val p = plan("quality_classifier")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the weight row must broadcast; nothing may shuffle on a bucket key:\n${p.take(2000)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the one-row weight vector must ride a broadcast:\n${p.take(2000)}")
    val nDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(nDoc == 1, s"expected ONE compact-row doc_id shuffle, got $nDoc:\n${p.take(2000)}")
    val generate = p.indexOf("Generate explode")
    val exchange = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(generate >= 0 && exchange > generate,
      s"the shuffle must move un-exploded docs, not gram rows:\n${p.take(2000)}")
  }

  test("txt_dup_coverage: compact doc_id shuffles only; gram fan-out stays partition-local") {
    val p = plan("txt_dup_coverage")
    assert(!p.contains("CartesianProduct"))
    // three compact-row doc_id exchanges — the pre-explode repartition
    // materializes once per consumer (count branch, positional-rejoin
    // branch, final join-back; exchange reuse defeated across the
    // subtrees) — and every one moves un-exploded (doc_id, text) rows;
    // the gram fan-outs and the (doc_id, gram) join all sit above them
    val nDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(nDoc == 3,
      s"expected three compact-row doc_id shuffles, got $nDoc:\n${p.take(2000)}")
    // within the coverage branch the positional explode sits ABOVE its
    // exchange: gram rows are generated after the shuffle
    val generate = p.indexOf("Generate posexplode")
    val below = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).matchData
      .exists(_.start > generate)
    assert(generate >= 0 && below,
      s"the coverage branch must shuffle un-exploded docs:\n${p.take(2000)}")
  }

  test("txt_entropy: one compact doc_id shuffle feeds both aggregations") {
    val p = plan("txt_entropy")
    val nEx = "Exchange".r.findAllIn(p).size
    assert(nEx == 1, s"expected exactly one exchange, got $nEx:\n${p.take(1500)}")
    val generate = p.indexOf("Generate explode")
    val exchange = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(generate >= 0 && exchange > generate,
      s"the shuffle must move un-exploded docs, not token rows:\n${p.take(1500)}")
  }

  test("dsir_topk plans as a distributed TakeOrdered, not a global sort") {
    val p = plan("dsir_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy.limit must plan per-partition top-k partials:\n${p.take(2000)}")
    assert(!p.contains("Exchange rangepartitioning"),
      "no global range-sort exchange for a top-k")
  }

  test("txt_unigram_lm: vocab broadcasts; exploded tokens never cross the network") {
    val p = plan("txt_unigram_lm")
    // token keys are maximally skewed (stopwords) — a sort-merge join on
    // tok would drag much of the corpus through a handful of reducers
    assert(!p.contains("SortMergeJoin"), s"the token join must broadcast:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), "vocabulary counts must broadcast")
    val nDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(nDoc == 1,
      s"expected ONE compact-row doc_id shuffle, got $nDoc:\n${p.take(2000)}")
    // that one exchange must sit below the scoring explode: the token
    // fan-out stays partition-local (the txt_top_ngram idiom)
    val generate = p.indexOf("Generate explode")
    val exchange = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(generate >= 0 && exchange > generate,
      s"the shuffle must move un-exploded docs, not token rows:\n${p.take(2000)}")
    // the one-row normalizer is the only nested-loop join in the plan
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1)
  }

  test("txt_scrub_ngrams: frequent set broadcasts; positional grams never shuffle") {
    val p = plan("txt_scrub_ngrams")
    assert(!p.contains("CartesianProduct"), "no all-pairs anywhere")
    val nDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(nDoc == 2,
      s"expected two compact-row doc_id shuffles (hit-collect + rebuild), got $nDoc:\n${p.take(2500)}")
    // the positional fan-out sits above its exchange: gram rows are
    // generated after the shuffle, partition-locally
    val generate = p.indexOf("Generate posexplode")
    val exchange = p.indexOf("Exchange hashpartitioning(doc_id", generate)
    assert(generate >= 0 && exchange > generate,
      s"positional grams must not cross the network:\n${p.take(2500)}")
    // the df>k frequent set joins broadcast, and its count aggregates
    // map-side before the shingle shuffle
    assert(p.contains("BroadcastHashJoin"), "frequent grams must broadcast")
    val shuffleShingle = p.indexOf("Exchange hashpartitioning(shingle")
    val partial = p.indexOf("partial_count", shuffleShingle)
    assert(shuffleShingle >= 0 && partial > shuffleShingle,
      "shingle counts must combine map-side below their exchange")
  }

  test("dedup_substring_incr: probe is a compact-key semi-join, no window string shuffles") {
    val p = plan("dedup_substring_incr")
    assert(!p.contains("CartesianProduct"), "no all-pairs anywhere")
    // the probe joins the batch's positional hashes against the corpus
    // index on h — a semi-join on compact keys
    assert(p.contains("LeftSemi"), s"expected the index semi-join:\n${p.take(2000)}")
    // every positional explode sits above a doc_id exchange (windows
    // generated partition-locally after the shuffle), and no exchange
    // partitions on a window-string column
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(win")),
      s"window strings must never key a shuffle:\n${p.take(2000)}")
  }

  test("dedup_substring: window fan-out partition-local; hash counts combine map-side") {
    val p = plan("dedup_substring")
    assert(!p.contains("CartesianProduct"), "no all-pairs anywhere")
    // two doc_id exchanges in the plan (position-collect branch +
    // rebuild join-back), both over the same un-exploded (doc_id, text)
    // scan — identical, so AQE runs one and reuses it (pinned executed
    // below); the count branch aggregates on h and needs no doc_id
    // clustering
    val nDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(nDoc == 2,
      s"expected two compact-row doc_id shuffles, got $nDoc:\n${p.take(2500)}")
    // the positional explode sits above its doc_id exchange: window
    // rows are generated after the shuffle, partition-locally
    val generate = p.indexOf("Generate posexplode")
    val exchange = p.indexOf("Exchange hashpartitioning(doc_id", generate)
    assert(generate >= 0 && exchange > generate,
      s"positional windows must not cross the network:\n${p.take(2500)}")
    // the window-hash count combines map-side below its h exchange:
    // what shuffles is (hash, partial count), never window strings
    val shuffleH = p.indexOf("Exchange hashpartitioning(h")
    val partial = p.indexOf("partial_count", shuffleH)
    assert(shuffleH >= 0 && partial > shuffleH,
      s"window-hash counts must combine map-side below their exchange:\n${p.take(2500)}")
  }

  test("span dedup: every grain shuffles the full text once; the rebuild reuses the occurrence side's exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    // executed (AQE-final) shuffles carrying `text`; a reused exchange
    // runs no shuffle of its own
    def textShuffles(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => textShuffles(a.executedPlan)
      case q: QueryStageExec => textShuffles(q.plan)
      case _: ReusedExchangeExec => 0
      case e: ShuffleExchangeExec =>
        (if (e.child.output.exists(_.name == "text")) 1 else 0) + textShuffles(e.child)
      case other => other.children.map(textShuffles).sum
    }
    for (q <- Seq("dedup_substring", "dedup_substring_keep", "dedup_substring_incr",
                  "dedup_substring_chars", "dedup_substring_chars_keep",
                  "dedup_substring_chars_incr", "txt_scrub_ngrams", "dedup_paragraph",
                  "dedup_paragraph_incr", "txt_scrub_lines")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val n = textShuffles(df.queryExecution.executedPlan)
      assert(n == 1, s"$q: the full text must shuffle once, got $n:\n${df.queryExecution.executedPlan}")
    }
  }

  test("emb_semdedup: survivors anti-join a BROADCAST drop-set; corpus scanned once") {
    val p = plan("emb_semdedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"the drop-set must broadcast into the anti join:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      "the corpus-sized side must be scanned, never shuffled")
  }

  test("dedup_incremental broadcasts the batch side; the corpus never cross-joins") {
    val p = plan("dedup_incremental")
    assert(p.contains("BroadcastHashJoin"),
      s"batch-derived frames must broadcast against the streamed corpus:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay an equi-join")
  }

  test("txt_decontaminate broadcasts both small sides; the corpus is never shuffled") {
    val p = plan("txt_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark shingles must broadcast into the semi join:\n${p.take(1500)}")
    assert(p.contains("LeftAnti"),
      s"contaminated ids must anti-join the corpus:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-sized shuffle join is acceptable here")
  }

  test("corpus_mix runs on a single per-language shuffle") {
    Seq("corpus_mix", "corpus_mix_temp").foreach { q =>
      val p = plan(q)
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n == 1, s"$q: expected one window exchange, got $n:\n${p.take(1500)}")
    }
  }

  test("corpus_mix_tokens never windows per language: every window keys on the stitch chunk") {
    val exec = SparkEntry.queries("corpus_mix_tokens")(spark, sfDir)
      .queryExecution.executedPlan
    // the above-cutoff keep is a filter; only the cutoff-tie rows pass
    // through windows, and those windows must partition on the chunk
    // key, never on lang alone (a whole language through one task)
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "no global (single-partition) window allowed")
    assert(windows.forall(_.partitionSpec.exists(_.toString.contains("_chunk"))),
      s"tie windows must key on the stitch chunk:\n${windows.map(_.partitionSpec).mkString("\n")}")
  }

  test("emb_kmeans final assignment is map-only: centroids ride as literals, no join") {
    val p = plan("emb_kmeans")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"assignment must be a map-only literal-centroid pass:\n${p.take(1500)}")
    assert(!p.contains("ScalaUDF"), "assignment must stay a native expression")
  }

  test("txt_pii_cc is map-only with no UDF (nested HOF Luhn fold)") {
    val p = plan("txt_pii_cc")
    assert(!p.contains("Exchange") && !p.contains("ScalaUDF"),
      s"card detection must be a per-row native pass:\n${p.take(1500)}")
  }

  test("emb_kmeans_pp final assignment is map-only (kmeans‖ centroids as literals)") {
    val p = plan("emb_kmeans_pp")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"assignment must be a map-only literal-centroid pass:\n${p.take(1500)}")
    assert(!p.contains("ScalaUDF"), "assignment must stay a native expression")
  }

  test("emb_prototypes: codegen'd cell+distance kernels, one exchange on the cluster key") {
    val p = plan("emb_prototypes")
    assert(!p.contains("Join"),
      s"no centroid-table join — centroids ride as literals:\n${p.take(1500)}")
    assert(!p.contains("ScalaUDF"))
    assert(p.contains("ivf_cell_e12") && p.contains("ivf_min_dist_e12"),
      s"both kernels must be native expressions:\n${p.take(1500)}")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly the cell-window exchange, got $n:\n${p.take(2000)}")
  }

  test("emb_semdedup_km survivors materialize through a broadcast anti-join") {
    val p = plan("emb_semdedup_km")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"drop set must broadcast into the anti-join:\n${p.take(1500)}")
  }

  test("emb_knn_join candidates meet in LSH buckets, never cartesian") {
    val p = plan("emb_knn_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the kNN self-join must be bucket-local:\n${p.take(1500)}")
    assert(p.contains("sign_lsh_bucket_e12"), "bucket assignment must be the codegen'd kernel")
  }

  test("emb_kmeans_inertia is one map-only kernel pass into a k-row aggregate") {
    val p = plan("emb_kmeans_inertia")
    assert(!p.contains("Join"), "centroids ride as literals, no join")
    assert(p.contains("ivf_min_dist_e12") && p.contains("ivf_cell_e12"))
    val exchange = p.indexOf("Exchange hashpartitioning")
    val partial = p.lastIndexOf("partial_count")
    assert(exchange >= 0 && partial > exchange, "partial agg must combine map-side")
  }

  test("emb_rvq_assign is map-only: both codebooks ride in one codegen'd expression") {
    val p = plan("emb_rvq_assign")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"two-level assignment must be a map-only pass:\n${p.take(1500)}")
    assert(p.contains("rvq_cell_e12") && !p.contains("ScalaUDF"),
      s"native two-stage kernel missing:\n${p.take(1500)}")
  }

  test("emb_semdedup_rvq survivors materialize through a broadcast anti-join") {
    val p = plan("emb_semdedup_rvq")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"drop set must broadcast into the anti-join:\n${p.take(1500)}")
  }

  test("dedup_simhash_pairs: candidates meet in band buckets, never cartesian") {
    val p = plan("dedup_simhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded candidates must equi-join:\n${p.take(1500)}")
    // the pair join moves ONE packed long per row (id = doc_id·2^32 + hash)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join:\n${p.take(1500)}")
  }

  test("txt_bm25: one-row stats broadcast, top-k as TakeOrdered, token array bound once") {
    val p = plan("txt_bm25")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the one-row stats frame must broadcast:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan as a distributed TakeOrdered, not a global sort:\n${p.take(1500)}")
    val splits = "split\\(text".r.findAllIn(p).size
    assert(splits <= 2, // one in the stats aggregate, one in the scoring pass
      s"token array must bind once per pass, found $splits splits:\n${p.take(2000)}")
  }

  test("txt_heavy_hitters verify pass filters to the bounded candidate set at the scan") {
    val p = plan("txt_heavy_hitters")
    // the published plan is the exact-verify pass: an InSet candidate
    // filter below the (candidates-only) aggregation — never an
    // unfiltered full-vocabulary groupBy
    assert(p.contains("INSET") || p.contains(" IN ("),
      s"candidate InSet filter missing:\n${p.take(2000)}")
    val exchange = p.indexOf("Exchange hashpartitioning")
    val filterPos = math.max(p.indexOf("INSET"), p.indexOf(" IN ("))
    assert(exchange >= 0 && filterPos > exchange,
      "the candidate filter must run below the aggregation exchange")
  }

  test("emb_dedup_exact shuffles the compact digest with map-side combine") {
    val p = plan("emb_dedup_exact")
    val exchange = p.indexOf("Exchange hashpartitioning")
    val partial = p.lastIndexOf("partial_min")
    assert(exchange >= 0 && partial > exchange,
      s"partial (min, count) must combine below the digest exchange:\n${p.take(2000)}")
    // grouping key is the md5 digest, never the raw embedding array
    val keyLine = p.linesIterator.find(_.contains("Exchange hashpartitioning")).getOrElse("")
    assert(keyLine.contains("k#") && !keyLine.contains("embedding"),
      s"shuffle key must be the digest: $keyLine")
  }

  test("ANN top-k queries broadcast the small query side") {
    Seq("emb_ann_topk", "emb_ivf_topk", "emb_ivf_topk_p2", "emb_cosine_topk",
        "emb_incremental").foreach { q =>
      assert(plan(q).contains("BroadcastHashJoin") || plan(q).contains("BroadcastNestedLoopJoin"),
        s"$q must broadcast-join the query side, not shuffle the corpus")
    }
  }

  test("dedup_keep anti-joins the corpus against a BROADCAST drop-set") {
    // the drop-set (near-dup non-survivors) is tiny but comes out of the
    // iterative CC loop, so Spark's size estimate is opaque — the hint
    // in TextQueries.dedupKeep pins the broadcast; a shuffle-anti here
    // would re-shuffle the whole corpus at scale
    val p = plan("dedup_keep")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"drop-set anti-join must broadcast:\n${p.take(2000)}")
    // the keepBy policy adds survivor selection on the labeled set only:
    // labels broadcast against the corpus, drop-set still broadcast-anti
    val pb = plan("dedup_keep_best")
    assert(pb.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"keepBy drop-set anti-join must broadcast:\n${pb.take(2000)}")
    assert(!pb.contains("CartesianProduct"),
      "survivor selection must never cross-join the corpus")
  }

  test("txt_pii is a map-only pass: no exchange, no UDF") {
    val p = plan("txt_pii")
    assert(!p.contains("Exchange"),
      s"per-row PII detection must not shuffle:\n${p.take(1500)}")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
  }

  test("txt_ppl_buckets ranks globally without a single-partition window") {
    val p = plan("txt_ppl_buckets")
    // every window partitions by the stitch chunk — a global (unkeyed)
    // window would drag the corpus through one task
    val winSpecs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("_chunk#")),
      s"the rank window must partition by chunk:\n${p.take(2000)}")
    // the only single-partition exchange is the one-row combine of the
    // scalar normalizer aggregate (bounded: one partial per partition),
    // the same shape txt_unigram_lm carries
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 1, s"unexpected single-partition exchanges ($singles):\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      "the vocabulary and the chunk offsets must broadcast")
  }

  test("emb_decontaminate: eval set broadcasts; survivors anti-join a broadcast drop-set") {
    val p = plan("emb_decontaminate")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"contaminated ids must broadcast into the anti join:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the corpus must be scanned, never shuffled or cross-joined")
  }

  test("bpe_encode broadcasts the encoded vocabulary onto the corpus words") {
    // fixed merges: the plan shape is merge-agnostic, and skipping
    // bpeTrain keeps this pin cheap
    val p = graft.text.TextQueries.bpeEncode(Tables.documents(spark, sfDir),
        Seq((0, "e", "</w>"), (1, "t", "h")))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the word join must broadcast, never shuffle on the skewed word key:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("stitched window queries stay partition-parallel") {
    Seq("step_interpolate", "block_max_norm", "event_range", "txt_pack").foreach { q =>
      assert(!plan(q).contains("Exchange SinglePartition"), s"$q single-tasks")
    }
  }

  test("source_filter broadcasts the failing-domain set into the gate anti-join") {
    val p = plan("source_filter")
    // the gate pass must stay map-only over the corpus: the blocklist
    // (bounded by selectivity, not domain count) broadcasts; a
    // shuffle-anti would re-shuffle every document on the skewed
    // source key
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"failing sources must broadcast into the anti join:\n${p.take(2000)}")
  }

  test("corpus_shuffle ranks globally without a single-partition exchange") {
    val p = plan("corpus_shuffle")
    assert(!p.contains("Exchange SinglePartition"),
      s"the epoch rank must stitch, not single-task:\n${p.take(2000)}")
    val winSpecs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("_chunk#")),
      s"the rank window must partition by the hash-prefix chunk:\n${p.take(2000)}")
  }

  test("txt_signals pays one scan and one doc_id exchange for the whole sweep") {
    val p = plan("txt_signals")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"the sweep must scan the corpus exactly once, got $scans:\n${p.take(1500)}")
    val nDoc = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    val nAll = "Exchange".r.findAllIn(p).size
    assert(nDoc == 1 && nAll == nDoc,
      s"both aggregates must reuse the single doc_id clustering:\n${p.take(1500)}")
  }

  test("txt_chunk is a map-only fan-out: no exchange anywhere in the plan") {
    val p = plan("txt_chunk")
    assert(!p.contains("Exchange"),
      s"per-doc window chunking must not shuffle:\n${p.take(1500)}")
  }

  test("txt_winnow is a map-only pass: no exchange anywhere in the plan") {
    val p = plan("txt_winnow")
    assert(!p.contains("Exchange"),
      s"per-doc winnowing must not shuffle:\n${p.take(1500)}")
  }

  test("txt_normalize is a map-only pass: no exchange anywhere in the plan") {
    val p = plan("txt_normalize")
    assert(!p.contains("Exchange"),
      s"normalization must not shuffle:\n${p.take(1500)}")
  }

  test("dedup_winnow_pairs meets candidates in fingerprint buckets, never cartesian") {
    val p = plan("dedup_winnow_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the match step must equi-join on the fingerprint key:\n${p.take(2000)}")
  }

  test("dedup_editdist_pairs pays levenshtein only on equi-joined candidates") {
    val p = plan("dedup_editdist_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"verification must ride equi-joins (candidates x texts), never all-pairs:\n${p.take(2000)}")
  }

  /** EVERY key of every hash exchange in `p` (name before the #expr-id;
    * the trailing numPartitions is dropped). A composite or expression
    * key yields its raw fragment, which will NOT be in any allowed set
    * — conservative: a regression to expression keys fails loudly
    * instead of slipping past the pin. */
  private def exchangeKeys(p: String): Set[String] =
    "Exchange hashpartitioning\\((.+?), \\d+\\)".r.findAllMatchIn(p)
      .flatMap(_.group(1).split(", ").map(_.split("#")(0))).toSet

  test("event_funnel and event_retention stay two-compact-shuffle aggregates") {
    val pf = plan("event_funnel")
    val exF = exchangeKeys(pf)
    assert(exF.subsetOf(Set("user_id", "stage")),
      s"funnel must shuffle only on user_id/stage, got $exF:\n${pf.take(1500)}")
    assert(!pf.contains("Join"), "funnel needs no join at all")
    val pr = plan("event_retention")
    assert(!pr.contains("CartesianProduct") && !pr.contains("BroadcastNestedLoopJoin"),
      s"retention joins only on user_id:\n${pr.take(1500)}")
  }

  test("corpus_diff: one full-outer digest join on doc_id, no text shuffles") {
    val p = plan("corpus_diff")
    assert(p.contains("FullOuter"), s"diff must full-outer join:\n${p.take(1500)}")
    val ex = exchangeKeys(p)
    assert(ex.subsetOf(Set("doc_id", "status")),
      s"only doc_id digests and the 4-row status may shuffle, got $ex:\n${p.take(1500)}")
  }

  test("vocab_drift: the only corpus-sized shuffle keys on the vocabulary") {
    val p = plan("vocab_drift")
    assert(!p.contains("CartesianProduct"),
      s"one-row frames combine via broadcast, never cartesian:\n${p.take(1500)}")
    val ex = exchangeKeys(p)
    assert(ex.subsetOf(Set("w")),
      s"only the token key may hash-shuffle, got $ex:\n${p.take(1500)}")
  }

  test("txt_charclass is a map-only pass: no exchange, no UDF") {
    val p = plan("txt_charclass")
    assert(!p.contains("Exchange") && !p.contains("ScalaUDF"),
      s"the class profile must not shuffle:\n${p.take(1500)}")
  }

  test("emb_pagerank iterations run over the checkpointed id edges, not the kNN join") {
    val p = plan("emb_pagerank")
    // the kNN candidate join (bucket equi-join + per-vector top-k
    // window) ran ONCE at plan-build time and checkpointed; the
    // iterated plan must not re-contain it
    assert(!p.contains("WindowGroupLimit") && !p.contains("hashpartitioning(bucket"),
      s"power iterations must reuse the compact edge list:\n${p.take(2000)}")
  }

  test("txt_readability is a map-only pass: no exchange, no UDF") {
    val p = plan("txt_readability")
    assert(!p.contains("Exchange") && !p.contains("ScalaUDF"),
      s"readability signals must not shuffle:\n${p.take(1500)}")
  }

  test("txt_pmi broadcasts the qualifying-pair set onto the vocabulary") {
    val p = plan("txt_pmi")
    // the >= minCount pair table is Zipf-bounded and broadcasts through
    // both count lookups; the corpus-sized vocab must never re-shuffle
    // on a pair key
    assert(p.contains("BroadcastHashJoin"),
      s"pair set must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"vocab must not shuffle against the pair table:\n${p.take(2000)}")
  }

  test("txt_heaps cumulative series stays partition-parallel") {
    val p = plan("txt_heaps")
    // every window keys on the stitch chunk; the only SinglePartition
    // exchange allowed is the one-row scalar-aggregate finalize (its
    // parent is a HashAggregate combining map-side partials) — never a
    // Sort/Window funneling the doc series through one task
    val lines = p.linesIterator.toArray
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val parent = lines.take(i).reverse.find(l =>
          l.contains("HashAggregate") || l.contains("Window") || l.contains("Sort"))
        assert(parent.exists(_.contains("HashAggregate")),
          s"SinglePartition exchange must feed only the scalar finalize:\n${p.take(2500)}")
    }
    assert(p.contains("windowspecdefinition(_chunk"),
      s"prefix sums must window on the chunk key:\n${p.take(2000)}")
  }

  test("dedup_winnow_incr equi-joins the compact index: no cartesian, no text in shuffles") {
    val p = plan("dedup_winnow_incr")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"batch and index must meet on the fp equi-key:\n${p.take(2000)}")
    // every hash exchange keys on the compact fp / batch_id columns —
    // text never crosses the network
    val exchanged = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanged.subsetOf(Set("fp", "batch_id")),
      s"only compact keys may shuffle, got $exchanged:\n${p.take(2000)}")
  }

  test("txt_contain_frac broadcasts the benchmark shingles onto the corpus pass") {
    val p = plan("txt_contain_frac")
    // the corpus side fans out in place; the only hash exchanges belong
    // to the compact (doc_id, counts) aggregation
    assert(p.contains("BroadcastHashJoin"),
      s"bench shingle set must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle on the shingle key:\n${p.take(2000)}")
  }

  test("bloom_dedup shuffles compact keys only: bit join + doc_id aggregate") {
    val p = plan("bloom_dedup")
    // text never leaves its partition: every exchange keys on the
    // 8-byte bit position or doc_id, and the probe side aggregates
    // map-side before the doc_id exchange
    val exchanged = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanged.subsetOf(Set("bit", "doc_id")),
      s"bloom probe must shuffle only compact keys, got $exchanged:\n${p.take(2000)}")
    assert(!p.contains("Exchange SinglePartition"), "bloom probe single-tasks")
  }

  test("emb_pca is a map-only codegen'd pass: no exchange, no UDF") {
    val p = plan("emb_pca")
    assert(!p.contains("Exchange"),
      s"the projection must not shuffle:\n${p.take(1500)}")
    assert(!p.contains("ScalaUDF"), "projection must be a native expression")
    // the *(N) stage markers are how executedPlan.toString spells
    // whole-stage codegen
    assert(p.contains("*(1)"),
      s"the kernel must stay inside codegen:\n${p.take(1500)}")
  }

  test("txt_compress is a map-only codegen'd pass: no exchange, no UDF") {
    val p = plan("txt_compress")
    assert(!p.contains("Exchange") && !p.contains("ScalaUDF"),
      s"the deflate signal must be a map-only native pass:\n${p.take(1500)}")
  }

  test("wordpiece_encode broadcasts the encoded vocabulary onto the corpus words") {
    val p = plan("wordpiece_encode")
    // the corpus-sized side must meet the distinct-word vocabulary in a
    // broadcast hash join — a shuffle on the word key is the skew trap
    // (the bpe_encode pin, same idiom)
    assert(p.contains("BroadcastHashJoin"),
      s"encoded vocab must broadcast:\n${p.take(2000)}")
    val smjs = "SortMergeJoin".r.findAllIn(p).size
    assert(smjs == 0,
      s"the corpus must never shuffle on the word key ($smjs SMJs):\n${p.take(2000)}")
  }

  test("corpus_tokenize adds no corpus shuffle beyond its stages' own shapes") {
    val p = plan("corpus_tokenize")
    // the pack stage consumes only compact (doc_id, n_tokens) rows; a
    // SinglePartition exchange would mean the global cumsum degraded to
    // a one-task sort (the Stitch guarantee, end to end)
    assert(!p.contains("Exchange SinglePartition"),
      s"the composed pipeline must stay partition-parallel:\n${p.take(2000)}")
    // the encoded vocabulary still broadcasts inside the composition
    assert(p.contains("BroadcastHashJoin"),
      s"stage joins must stay broadcast inside the composition:\n${p.take(2000)}")
  }
}
