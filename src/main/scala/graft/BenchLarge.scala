package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Large-scale regression bench (VERDICT r2 #9): the SCALE.md headline
  * numbers as a harness-runnable main instead of prose — synthesizes a
  * 100M-row event stream, a 2M-doc corpus (with planted near-dups and
  * one degenerate template bucket to force the salting path), and a
  * 2M-vector embedding corpus, then times the three pillars:
  *
  *   - `hist_3d_rel`   relational N-D histogram, 240k-bin 3D grid
  *   - `hist_3d_shard` tiled driver-grid path (`Binning.histogramGrid`)
  *                     on the same grid; the name predates the tiles
  *   - `lsh_pairs`     full MinHash/LSH dedup chain (skew-salted,
  *                     native xxhash64 shingle hashing)
  *   - `lsh_pairs_md5` the same chain with the md5-derived portable
  *                     hash (DuckDB-oracle parity configuration) — both
  *                     are committed so the cost of cross-engine
  *                     portability stays measured, not guessed
  *   - `cc_clusters`   pair graph → dedup clusters (large-star/
  *                     small-star connected components)
  *   - `incr_dedup`    20k-doc batch vs the full corpus through the
  *                     asymmetric LSH join (lshPairsAgainst)
  *   - `txt_pack`      GPT-style sequence packing over the 2M-doc
  *                     corpus (stitched global token cumsum — no
  *                     single-partition window)
  *   - `unigram_lm`    corpus-trained unigram LM scoring (broadcast
  *                     vocabulary, fan-out never shuffles)
  *   - `scrub_ngrams`  cross-document boilerplate n-gram scrub
  *                     (broadcast frequent set)
  *   - `substr_dedup`  exact-substring dedup at k-token window
  *                     granularity (count windows, semi-join the
  *                     duplicated set, rebuild per doc); `_chars` =
  *                     the any-offset character-granularity form
  *                     (one window per char, ~8x the rows here)
  *   - `bpe_train`     1000 BPE merges: one corpus pass, then the
  *                     driver-side heap merge loop over the collected
  *                     vocab pair-stats
  *   - `bpe_encode`    apply the learned merges: vocab fold +
  *                     broadcast join onto the word fan-out
  *   - `pii_scrub`     email/IP/phone detection + redaction + md5,
  *                     map-only regex throughput
  *   - `ppl_buckets`   CCNet head/middle/tail split (stitched global
  *                     rank, chunk-partitioned window)
  *   - `emb_decont`    0.1% eval split vs 2M vectors through the
  *                     sign-LSH bucket join, broadcast eval side
  *   - `emb_neardup`   bucket-local near-dup pairs over all 2M
  *                     vectors, planes=16 sized for the corpus
  *   - `dsir_weights`  DSIR importance weights: fused single-pass
  *                     bounded feature LMs + broadcast ratio join onto
  *                     the gram fan-out
  *   - `bigram_lm`     stupid-backoff bigram scoring, both count
  *                     tables topV-pruned before broadcast (the pruned
  *                     production-LM shape)
  *   - `kn_lm`         interpolated Kneser-Ney scoring from ONE
  *                     counting pass, type inventory topV-pruned
  *   - `kn_lm_5`       the order-5 (CCNet/KenLM) form: same single
  *                     counting pass, eight derived model tables
  *   - `quality_classifier` bounded-sample LR training + broadcast
  *                     weight-row scoring over the full corpus
  *   - `dup_coverage`  Gopher duplicate-n-gram char coverage
  *                     (within-doc positional coverage, scrub idiom)
  *   - `corpus_clean`  the composed cleaning pipeline (benchmark
  *                     decontamination + Gopher/C4 quality filter +
  *                     LSH dedup, cleaned intermediate persisted) over
  *                     a quality-gate-exercising 2M-doc corpus
  *   - `ivf_topk`      IVF ANN: bounded training, codegen cell assign,
  *                     broadcast probe, cell-local re-rank
  *
  * All inputs are generated distributively from `spark.range` (hash
  * arithmetic inside whole-stage codegen — no driver materialization,
  * no disk), deterministic run to run. Prints ONE JSON line like Bench;
  * commit the output as BENCH_LARGE.json so round-over-round scale
  * regressions show up in diffs.
  *
  * Row counts are env-tunable (SPARK_GRAFT_LARGE_ROWS/DOCS/VECS) so the
  * same harness can smoke-run small in CI. The session is
  * [[graft.Session]]'s, `local[SPARK_GRAFT_CPUS]`: unset, that is 4
  * cores (it was 32), so a full-size run sets its core count.
  *
  * Regression gate (VERDICT r5 #2): after printing the JSON line, the
  * run compares itself against the committed `BENCH_LARGE.json`
  * (override path via SPARK_GRAFT_LARGE_BASELINE, "" disables) and
  * exits nonzero if any query shared with the baseline ran slower than
  * `tolerance ×` its committed time (SPARK_GRAFT_LARGE_TOL, default
  * 1.5 — single-run timings at this scale are ±30% noisy, so the gate
  * flags real slowdowns without tripping on variance). The gate only
  * fires when rows/docs/vecs match the baseline's recorded sizes — a
  * small smoke run against the full-size baseline is a skip, not a
  * free pass.
  *
  * Host-speed normalization: this runs in a VM whose effective speed
  * varies with invisible host contention (guest /proc/stat shows ~0
  * steal while identical back-to-back runs differ 2-3×; a 0.2 s
  * register-bound burst meanwhile runs at full speed, so the throttle
  * is burst-tolerant and a pure-CPU microkernel under-measures it).
  * Absolute times compared across rounds would therefore gate the
  * host's weather, not the code. The run times a fixed-size replica of
  * the dominant workload shape — a 50M-event 3D relational histogram
  * (same scan + partial-agg + shuffle path), min of 3 passes after a
  * discarded warm pass, ALWAYS at 50M regardless of the env-tuned run
  * size so the value is comparable across runs — and commits it as
  * `calib`; when both baseline and fresh run carry it, each query
  * budget scales by `freshCalib / baseCalib` — a code regression still
  * fails (query slowed, calibration didn't), a uniformly slow host
  * passes.
  */
object BenchLarge {

  /** Locale-proof 2-decimal formatting: the f-interpolator uses the JVM
    * default locale, and a comma-decimal locale would emit JSON the
    * gate's own parser cannot read back. */
  private def f2(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

  /** Committed BENCH_LARGE.json, parsed: input sizes, per-query secs,
    * and the host-speed calibration times (absent in pre-gate files).
    * `calib` is the numeric shuffle+agg kernel; `calibStr` the
    * string-workload kernel (shingle build + md5 + string-keyed
    * shuffle) — two r9 quiet runs showed this host class running the
    * numeric kernel at 1.05-1.1x baseline while the allocation-heavy
    * string queries ran ~2x, so a single numeric scale under-relaxes
    * exactly the family that feels host weather most. */
  final case class LargeBaseline(rows: Long, docs: Long, vecs: Long,
                                 queries: Map[String, Double],
                                 calib: Option[Double] = None,
                                 calibStr: Option[Double] = None,
                                 seals: Map[String, (Double, Double)] = Map.empty,
                                 minOutputs: Map[String, Long] = Map.empty)

  private def asNum(k: String, n: graft.binning.MetaNode): Double = n match {
    case graft.binning.MetaNode.MNum(v) => v
    case graft.binning.MetaNode.MInt(v) => v.toDouble
    case other => throw new IllegalArgumentException(s"'$k' is not numeric: $other")
  }

  def parseBaseline(json: String): LargeBaseline = {
    import graft.binning.{MetaNode, MetaTree}
    val root = MetaTree.parse(json).asInstanceOf[MetaNode.MObj]
    val qs = root.obj("queries").fields.map { case (k, v) => k -> asNum(k, v) }.toMap
    // per-entry seal provenance (`seals`: name -> [calib, calib_str] at
    // the moment that entry's number was committed): baselines sealed
    // on hosts of different speeds stop sharing one global stamp — the
    // gate normalizes each budget by ITS seal pair, so a loud-sealed
    // entry isn't double-relaxed and a quiet-sealed one isn't gated
    // against the file-level stamp it was never measured at. Entries
    // absent here fall back to the file-level calib/calib_str.
    val seals = root.get("seals").map(_.asInstanceOf[MetaNode.MObj].fields.map {
      case (k, MetaNode.MArr(Seq(a, b))) => k -> (asNum(k, a), asNum(k, b))
      case (k, other) =>
        throw new IllegalArgumentException(s"seal '$k' must be [calib, calib_str]: $other")
    }.toMap).getOrElse(Map.empty[String, (Double, Double)])
    // minimum-output budgets (`min_outputs`: name -> floor for that
    // entry's committed `outputs` value): recall audits seal their
    // recall_ppm here, and a recall DROP fails the gate exactly like a
    // time regression — quality budgets, not just speed budgets.
    val minOut = root.get("min_outputs").map(
      _.asInstanceOf[MetaNode.MObj].fields.map {
        case (k, MetaNode.MInt(v)) => k -> v
        case (k, other) =>
          throw new IllegalArgumentException(s"min_output '$k' is not an integer: $other")
      }.toMap).getOrElse(Map.empty[String, Long])
    LargeBaseline(root.int("rows"), root.int("docs"), root.int("vecs"), qs,
      root.get("calib").map(asNum("calib", _)),
      root.get("calib_str").map(asNum("calib_str", _)),
      seals, minOut)
  }

  /** Queries that regressed past `tol ×` their baseline time, plus any
    * baseline query the fresh run no longer measures (silent coverage
    * loss fails the gate too). Queries only in the fresh run — newly
    * added measurements — pass freely until their baseline is
    * committed. When both calibration times are present, every budget
    * scales by `freshCalib / baseCalib` so the gate compares work per
    * unit of machine speed, not wall-clock across different hosts. The
    * scale only ever RELAXES budgets (clamped to >= 1.0): queries carry
    * fixed driver-side overheads (job launch, checkpoint rounds) that
    * don't speed up with the calibration kernel, so shrinking budgets
    * on a faster host would manufacture false regressions out of the
    * unscalable part — a uniformly faster host just passes.
    *
    * PER-ENTRY seal provenance (`seals`: name -> the (calib, calib_str)
    * measured when THAT entry's number was committed) overrides the
    * file-level pair for its entry: r9-r13 baselines were sealed across
    * windows spanning calib_str 1.68-3.67, and normalizing every budget
    * against one global stamp meant loud-sealed entries carried ~2×
    * hidden slack while quiet-sealed ones flagged on ordinary weather —
    * the six-flags-per-run hand-adjudication ritual. With seals, each
    * budget compares THIS run's speed against the speed its own number
    * was measured at.
    *
    * `minOutputs` (name -> floor) gates committed OUTPUT values from
    * below: an entry present in the fresh `outputs` with a value under
    * its floor fails like a time regression (recall drops are silent
    * otherwise — the time can even IMPROVE when recall is lost). Floors
    * are exact counts/ppms, never calib-scaled.
    *
    * `graceSec` is an ADDITIVE term on every budget (budget =
    * base·tol·scale + grace): each entry carries fixed driver-side
    * overheads — job launch, stage scheduling, a System.gc() — that
    * inflate additively under host load, not multiplicatively, and the
    * 15-30 s calibration kernels cannot see them. A 0.62 s map-only
    * entry measured 3.26 s on a calib_str-4.17 window (5.3× its quiet
    * seal against the kernel's 2.48× — every other multiplicative
    * budget in the same run held), while for any entry whose baseline
    * is seconds-scale the ~1 s grace is noise that masks nothing.
    *
    * The grace each entry actually receives is CAPPED at its own
    * scaled baseline: grace_eff = min(graceSec, base·scale). A flat
    * +1 s would more than triple the effective budget of every
    * sub-second entry and blind the gate to small-entry absolute
    * regressions (a 0.3 s entry regressing 4× to 1.2 s would pass);
    * with the cap, a sub-second entry's quiet-window budget is at
    * worst base·(tol+1) — still a meaningful multiplicative gate —
    * while the loud-window additive-overhead case the grace exists
    * for (the 0.62 s entry at scale 2.48 → grace 1.0, budget 3.31 s)
    * keeps clearing. MASKING BOUND, stated: the gate cannot see an
    * absolute regression smaller than min(graceSec, base·scale)
    * seconds on any entry. */
  def regressions(baseline: Map[String, Double], fresh: Map[String, Double],
                  tol: Double, baseCalib: Option[Double] = None,
                  freshCalib: Option[Double] = None,
                  baseCalibStr: Option[Double] = None,
                  freshCalibStr: Option[Double] = None,
                  seals: Map[String, (Double, Double)] = Map.empty,
                  minOutputs: Map[String, Long] = Map.empty,
                  freshOutputs: Map[String, Long] = Map.empty,
                  graceSec: Double = 1.0): Seq[String] = {
    def ratio(b: Option[Double], f: Option[Double]) =
      (for (bb <- b; ff <- f if bb > 0 && ff > 0) yield ff / bb).getOrElse(1.0)
    // max of the numeric and string kernels: relax-only, and the string
    // kernel captures the allocation/string-shuffle weather the numeric
    // kernel demonstrably misses (see LargeBaseline scaladoc)
    def scaleOf(name: String): Double = {
      val (bc, bs) = seals.get(name)
        .map { case (c, s) => (Some(c), Some(s)) }
        .getOrElse((baseCalib, baseCalibStr))
      math.max(ratio(bc, freshCalib), ratio(bs, freshCalibStr)).max(1.0)
    }
    val slow = for {
      (name, base) <- baseline.toSeq.sortBy(_._1)
      scale = scaleOf(name)
      graceEff = math.min(graceSec, base * scale)
      got <- fresh.get(name) if got > base * tol * scale + graceEff
    } yield s"$name: ${f2(got)} s > ${f2(tol)} x baseline ${f2(base)} s + ${f2(graceEff)} s grace (host-speed scale ${f2(scale)})"
    val missing = (baseline.keySet -- fresh.keySet).toSeq.sorted
      .map(n => s"$n: measured by baseline but missing from this run")
    val under = for {
      (name, floor) <- minOutputs.toSeq.sortBy(_._1)
      got <- freshOutputs.get(name) if got < floor
    } yield s"$name: output $got under its committed floor $floor (quality budget — recall/coverage dropped)"
    slow ++ missing ++ under
  }

  private def events(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).select(
      (pmod(hash(col("id"), lit(1)), lit(100000)).cast("double") / lit(200.0)).as("value"),
      pmod(hash(col("id"), lit(2)), lit(200)).cast("double").as("user"),
      pmod(hash(col("id"), lit(3)), lit(24)).cast("double").as("hour"))

  /** Typed event stream for the analytics pair (funnel/retention):
    * 2M users, five event types, timestamps spread across 12
    * epoch-weeks — all hash arithmetic inside codegen, like [[events]]. */
  private def typedEvents(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).select(
      pmod(hash(col("id"), lit(11)), lit(2000000)).cast("long").as("user_id"),
      element_at(
        typedLit(Seq("view", "click", "purchase", "error", "signup")),
        (pmod(hash(col("id"), lit(12)), lit(5)) + 1).cast("int")).as("event_type"),
      timestamp_seconds(lit(1700000000L) +
        pmod(hash(col("id"), lit(13)), lit(12 * 604800))).as("ts"))

  /** Synthetic corpus: ~1% of docs duplicate their predecessor (pair
    * hits), and doc_ids < 1100 all share ONE template — a degenerate
    * band bucket just above Scale.selfPairs' hot threshold (1000), so
    * the triangle-salted path is exercised while the quadratic verified
    * output stays bounded (~605k pairs). */
  private def docs(spark: SparkSession, n: Long, template: Long): DataFrame = {
    val base = s"CASE WHEN id < $template THEN 0 WHEN id % 100 = 1 THEN id - 1 ELSE id END"
    val toks = (0 until 18).map(k =>
      concat(lit(s"tok${k}_"), pmod(hash(expr(base), lit(k)), lit(5000))))
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", toks: _*).as("text"))
  }

  /** Corpus variant for the composed cleaning pipeline: the same
    * dup/template structure as [[docs]], but built so the default
    * Gopher/C4 quality gate is actually exercised — 14 hash tokens
    * interleaved with the four stopwords give 28 words, mean word
    * length ~5.6, vocabulary fraction ~0.64 (all inside the default
    * thresholds), while every ~10th base drops to 14 words and FAILS
    * the word-count bound, so the quality stage really filters. Dup
    * docs copy their base's text (so LSH sees the same pair structure),
    * and the sub-`template` ids still share one text (the degenerate
    * band bucket that forces the salted self-join inside dedup). */
  private def cleanDocs(spark: SparkSession, n: Long, template: Long): DataFrame = {
    val base = s"CASE WHEN id < $template THEN 0 WHEN id % 100 = 1 THEN id - 1 ELSE id END"
    val stops = Seq("the", "a", "of", "and")
    val toks = (0 until 14).flatMap(k => Seq(
      lit(stops(k % 4)),
      concat(lit(s"tok${k}_"), pmod(hash(expr(base), lit(k)), lit(5000)))))
    spark.range(n).select(col("id").as("doc_id"),
      when(expr(s"($base) % 10 = 3"), concat_ws(" ", toks.take(14): _*))
        .otherwise(concat_ws(" ", toks: _*)).as("text"))
  }

  /** Long-document corpus for the long-doc pathologies (quadratic
    * index payloads, superlinear scrub rebuilds) the ~150-char short
    * fixtures cannot see: `n` docs of `docTokens` hash tokens (~8
    * chars each — ~16 KB of text at 2000 tokens, >100× the short
    * fixture), same dup structure as [[docs]] (ids < template share
    * ONE text, ~1% duplicate their predecessor). The token stream is a
    * SQL transform over `sequence`, so the expression tree stays O(1)
    * in docTokens. */
  private def longDocs(spark: SparkSession, n: Long, docTokens: Int,
                       template: Long): DataFrame = {
    val base = s"CASE WHEN id < $template THEN 0 WHEN id % 100 = 1 THEN id - 1 ELSE id END"
    spark.range(n).select(col("id").as("doc_id"),
      expr(s"""array_join(transform(sequence(0, ${docTokens - 1}),
              |  k -> concat('t', k, '_', pmod(hash($base, k), 50000))), ' ')""".stripMargin)
        .as("text"))
  }

  private def embeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 64), d -> CAST(CAST(pmod(hash(id, d), 2000) AS DOUBLE) / 1000.0 - 1.0 AS FLOAT))")
        .as("embedding"))

  def main(args: Array[String]): Unit = Session.run(bench)

  private def bench(spark: SparkSession): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_LARGE_ROWS", "100000000").toLong
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_LARGE_DOCS", "2000000").toLong
    val nVecs = sys.env.getOrElse("SPARK_GRAFT_LARGE_VECS", "2000000").toLong
    import graft.binning.{BinAxis, Binning}

    val axes3 = Seq(
      col("user") -> BinAxis("user", 40, 0.0, 200.0),
      col("hour") -> BinAxis("hour", 24, 0.0, 24.0),
      col("value") -> BinAxis("value", 250, 0.0, 500.0)) // 240k bins

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // entries that cleared their budget ONLY via adaptive re-passes —
    // emitted machine-readable so retry-until-pass on the same entry
    // round over round is auditable instead of invisible (a bimodal
    // real regression is slow on most passes but fast once; one
    // weather-pass is fine, the SAME name here every round is not)
    val adaptiveCleared = scala.collection.mutable.LinkedHashSet.empty[String]

    // Every query is measured as the MIN OF TWO consecutive passes.
    // Pass 1 doubles as the warm-up (JIT + whole-stage-codegen
    // compilation: a cold LSH chain once measured ~9x its steady state,
    // 140 s vs 15 s at 2M docs — and Range codegen inlines the row
    // count into the generated source, so only a full-size pass
    // compiles the classes the steady-state run uses); pass 2 runs with
    // hot code, and min() also absorbs the one-off host-contention
    // spikes that made identical back-to-back runs differ 2-3x on this
    // box. `clearBetween` matters for the chains that persist lineage:
    // Spark's CacheManager matches by canonicalized plan, so without a
    // clearCache pass 2 would silently read pass 1's cached frames and
    // measure cache reads, not the chain.
    // `clearAfter` drops the query's session-owned lineage caches once
    // its last pass is measured: a chain that persists corpus-sized
    // frames (md5 twin, incr_dedup, corpus_clean) must not tax the NEXT
    // query's storage memory with resident caches — the first full-size
    // corpus_clean run left its 2M-doc cache behind and ivf_topk
    // "regressed" 18x purely from the eviction pressure. lsh_pairs
    // deliberately does NOT clear after: cc_clusters times CC over its
    // cached pair graph by design (explicitly unpersisted right after).
    // isolated re-measure mode: run ONLY the named queries (comma
    // list). The loud-host adjudication workflow in one env var — a
    // flagged query re-measures on a quiet window without paying the
    // full suite. Queries consuming an earlier block's learned state
    // (bpe_encode/wordpiece_encode/unigram_encode, cc_clusters) need
    // their producer named too; the producer vars fail loudly if not.
    // The gate is skipped in this mode (partial coverage would flag
    // every unnamed baseline query as missing).
    val only: Set[String] = sys.env.get("SPARK_GRAFT_LARGE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

    // Pre-built index frames (materializeCompact OUTSIDE a timed body,
    // consumed by the next entry) must survive that entry's clearAfter
    // sweep: a localCheckpoint's lineage is truncated, so sweeping it
    // mid-use would fail at runtime, not re-compute. `prebuild`
    // registers the checkpoint's RDD ids as protected; the sweep stays
    // BLANKET for everything else (per-round checkpoints orphaned by
    // no-clearAfter entries — CC rounds, trainer loops — must keep
    // getting mopped up by the next clearAfter entry, the r10 lesson);
    // `releasePrebuilt()` at the owning site unpersists the protected
    // blocks at the RDD level — Dataset.unpersist is a NO-OP for
    // localCheckpoint frames (Scale.releaseCompact documents why).
    val protectedIds = scala.collection.mutable.Set.empty[Int]
    def prebuild(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val out = graft.ops.Scale.materializeCompact(df)
      protectedIds ++= (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
      out
    }
    def releasePrebuilt(): Unit = {
      // blocking: the release is UNTIMED, and an async drain can
      // overlap the next entry's memory-hungry stages (see the
      // clearAfter sweep note below)
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => protectedIds(id) }
        .values.foreach(_.unpersist(blocking = true))
      protectedIds.clear()
    }
    // per-entry time budget for the ADAPTIVE re-measure (set after the
    // calibration kernels run; None = no committed baseline for the
    // name, or ONLY mode / size mismatch — no adaptive passes then)
    var adaptiveBudget: String => Option[Double] = _ => None
    def timed(name: String, clearBetween: Boolean = false, passes: Int = 2,
              clearAfter: Boolean = false)(f: => Long): Unit = {
      if (only.nonEmpty && !only(name)) return
      def pass(): (Double, Long) = {
        System.gc()
        val t0 = System.nanoTime()
        val out = f
        ((System.nanoTime() - t0) / 1e9, out)
      }
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      (1 to passes).foreach { i =>
        runs += pass()
        if (clearBetween && i < passes) spark.catalog.clearCache()
      }
      // adaptive weather re-measure (the in-run form of the manual
      // "isolated ONLY-mode adjudication" ritual): when the min of the
      // normal passes would still flag against this entry's
      // calib-scaled budget, run up to two extra passes — a
      // host-contention spike or block-manager-pressure inflation
      // clears on a re-pass (the r10s2f/r13 flag class, every one of
      // which adjudicated as weather), while a REAL code regression is
      // slow on every pass and still fails the gate. Extra passes use
      // the entry's own clearing discipline, so they measure the same
      // thing the normal passes do.
      adaptiveBudget(name).foreach { budget =>
        var extra = 0
        while (runs.map(_._1).min > budget && extra < 2) {
          if (clearBetween) spark.catalog.clearCache()
          System.err.println(s"[bench] $name min ${f2(runs.map(_._1).min)} s " +
            s"over its ${f2(budget)} s budget — adaptive re-pass ${extra + 1}")
          runs += pass()
          extra += 1
        }
        // cleared ONLY because a re-pass came in under budget → mark it
        if (extra > 0 && runs.map(_._1).min <= budget) adaptiveCleared += name
      }
      if (clearAfter) {
        // RDD-level sweep FIRST, catalog entries second:
        // catalog.clearCache() unpersists its cache RDDs ASYNC (no
        // blocking overload reaches it), and an RDD already marked
        // unpersisted no longer shows in getPersistentRDDs — so
        // sweeping first (blocking) is the only order that actually
        // waits for the SQL-cache blocks too.
        // catalog.clearCache still misses localCheckpoint blocks
        // (Scale.materializeCompact) and .persist'd RDDs whose frames
        // went out of scope — across 80+ entries they accumulate in
        // the block manager and squeeze execution memory for LATE
        // entries (first seen as sketch_distinct 176 s in-suite vs
        // 8.9 s isolated, same code). Blanket sweep EXCEPT the
        // registered pre-built frames (see `prebuild` above); the one
        // deliberate cross-entry cache persist (`pairs`) sits between
        // two no-clearAfter entries and is released explicitly.
        // BLOCKING: the sweep is untimed, and with blocking=false the
        // block drain runs asynchronously INTO the next entry — on a
        // slow host window substr_dedup_chars' pass-1 sort started
        // while the previous entries' ~GBs of blocks were still
        // draining and died with UNABLE_TO_ACQUIRE_MEMORY (twice,
        // same entry; isolated ONLY-mode run of the same code passed).
        // Waiting here costs nothing measured and removes that whole
        // flake class.
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => protectedIds(id) }
          .values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      }
      require(runs.map(_._2).distinct.size == 1,
        s"$name output changed between passes: ${runs.map(_._2).mkString(", ")}")
      // per-pass diagnostic: a big pass1/passN gap is cold compile or a
      // host-contention spike; all slow means the query itself slowed
      System.err.println(s"[bench] $name " +
        runs.zipWithIndex.map { case ((d, _), i) => s"pass${i + 1}=${f2(d)} s" }.mkString(" "))
      results(name) = runs.map(_._1).min
      checks(name) = runs.head._2
    }

    val template = sys.env.getOrElse("SPARK_GRAFT_LARGE_TEMPLATE", "1100").toLong
    val persist = sys.env.getOrElse("SPARK_GRAFT_LARGE_PERSIST", "true").toBoolean

    // host-speed calibration: a FIXED 50M-event replica of the 3D
    // relational histogram (never env-scaled — cross-run comparability
    // is the whole point), min of 3 after one discarded warm pass. A
    // sustained shuffle+agg job, not a register-bound burst: the host's
    // throttling is burst-tolerant, so only a workload-shaped kernel
    // measures the speed the real queries will see.
    def calibPass(): Double = {
      val t0 = System.nanoTime()
      Binning.histogramNd(events(spark, 50000000L), axes3)
        .agg(sum("cnt")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // string-workload calibration twin: FIXED 1M-doc corpus → shingle
    // build → md5 portable hash → string-keyed shuffle — the lsh_pairs
    // instruction mix. Two r9 quiet runs showed hosts where the numeric
    // kernel reads 1.05x baseline while this family runs ~2x; the gate
    // scales by the WORSE of the two kernels (relax-only).
    def calibStrPass(): Double = {
      val t0 = System.nanoTime()
      docs(spark, 1000000L, 1100L)
        .select(explode(graft.text.TextQueries.ngramShinglesExpr("text", 3)).as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * length(col("sh")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibPass()
    val calibSec = (1 to 3).map(_ => calibPass()).min
    calibStrPass()
    val calibStrSec = (1 to 3).map(_ => calibStrPass()).min
    // calibration-only mode: stamp a committed baseline's calib fields
    // without re-measuring the 30-minute query suite
    if (sys.env.get("SPARK_GRAFT_LARGE_CALIB_ONLY").contains("true")) {
      println(s"""{"metric":"bench_large_calib","calib":${f2(calibSec)},"calib_str":${f2(calibStrSec)}}""")
      return
    }

    // committed baseline, parsed UP FRONT: the adaptive re-measure
    // needs each entry's calib-scaled budget while the suite runs (the
    // end-of-run gate reuses the same parse). ONLY mode skips both.
    val baselinePath =
      if (only.nonEmpty) ""  // partial coverage would flag every unnamed query
      else sys.env.getOrElse("SPARK_GRAFT_LARGE_BASELINE", "BENCH_LARGE.json")
    val tol = sys.env.getOrElse("SPARK_GRAFT_LARGE_TOL", "1.5").toDouble
    val grace = sys.env.getOrElse("SPARK_GRAFT_LARGE_GRACE", "1.0").toDouble
    val baseOpt: Option[LargeBaseline] =
      if (baselinePath.nonEmpty &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(baselinePath)))
        Some(parseBaseline(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(baselinePath)),
          java.nio.charset.StandardCharsets.UTF_8)))
      else None
    adaptiveBudget = name => for {
      b <- baseOpt if b.rows == rows && b.docs == nDocs && b.vecs == nVecs
      base <- b.queries.get(name)
    } yield {
      // per-entry seal pair, falling back to the file-level stamps
      val (bc, bs) = b.seals.get(name)
        .map { case (c, s) => (Some(c), Some(s)) }
        .getOrElse((b.calib, b.calibStr))
      val scale = math.max(
        bc.filter(_ > 0).map(calibSec / _).getOrElse(1.0),
        bs.filter(_ > 0).map(calibStrSec / _).getOrElse(1.0)).max(1.0)
      // same grace_eff the end-of-run gate computes (see regressions)
      base * tol * scale + math.min(grace, base * scale)
    }

    timed("hist_3d_rel") {
      val h = Binning.histogramNd(events(spark, rows), axes3)
      h.agg(sum("cnt")).collect()(0).getLong(0)
    }
    timed("hist_3d_shard") {
      Binning.histogramGrid(events(spark, rows), axes3).totalCount
    }
    var pairs: DataFrame = null
    // min-of-3 for the two hash variants: the r6 committed numbers put
    // the md5 chain AHEAD of native xxhash64 (28.3 s vs 32.8 s), which
    // contradicted the "md5 is the hottest instruction stream" guidance
    // — one extra pass per variant settles which way the guidance goes
    // on numbers, not single-run host weather
    timed("lsh_pairs", clearBetween = true, passes = 3) {
      // portableHash=false: native xxhash64 shingle hashing — the
      // production-scale configuration (the md5 portable hash exists for
      // DuckDB-oracle parity and is benchmarked by the sf-scale Bench)
      pairs = graft.text.TextQueries.lshPairs(docs(spark, nDocs, template),
        persistLineage = persist, portableHash = false)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairs.count()
    }
    // pair graph → dedup clusters (large-star/small-star iteration);
    // the 605k-pair template clique is the skew case: one component
    // absorbing 1100 nodes
    timed("cc_clusters") {
      graft.ops.Components.connectedComponents(pairs, "d1", "d2").count()
    }
    // drop the native chain's session-owned lineage caches + the pair
    // graph before timing the md5 twin: leaving them resident turns the
    // second chain into a storage-eviction benchmark, not a hash one
    if (pairs != null) pairs.unpersist(blocking = true)  // null in ONLY mode
    spark.catalog.clearCache()
    timed("lsh_pairs_md5", clearBetween = true, passes = 3, clearAfter = true) {
      // the portable-hash twin: md5-hex → 60-bit int shingle hashing,
      // the configuration every sf-scale oracle query runs; committing
      // both keys keeps the portability tax visible round over round
      graft.text.TextQueries.lshPairs(docs(spark, nDocs, template),
        persistLineage = persist, portableHash = true).count()
    }
    // incremental dedup: a 20k-doc batch (1% corpus sample, ids
    // remapped, so every batch doc has an exact corpus dup) against the
    // full 2M-doc corpus — includes ~1% template-bucket members so the
    // hot-band asymmetric join path is exercised. The corpus-bands
    // computation dominates; in production it is a pre-materialized
    // index (TextQueries.corpusIndex) and only verification remains.
    timed("incr_dedup", clearBetween = true, clearAfter = true) {
      val corpus = docs(spark, nDocs, template)
      val batch = corpus.filter(col("doc_id") % 100 === 7)
        .select((col("doc_id") + nDocs).as("doc_id"), col("text"))
      graft.text.TextQueries.lshPairsAgainst(batch, corpus).count()
    }
    // incremental SIMHASH dedup at the same 20k-batch-vs-2M-corpus
    // shape: the 60-bit fingerprint index costs one corpus aggregate
    // (4 compact rows/doc), the batch meets it in the lossless 15-bit
    // band buckets — the fuzzy-fingerprint member next to incr_dedup's
    // MinHash form
    timed("simhash_incr", clearBetween = true, clearAfter = true) {
      val corpus = docs(spark, nDocs, template)
      val batch = corpus.filter(col("doc_id") % 100 === 7)
        .select((col("doc_id") + nDocs).as("doc_id"), col("text"))
      graft.text.TextQueries.simhashDedupAgainst(batch, corpus).count()
    }
    // full k-means over the 2M-vector corpus: bounded-sample init + 5
    // distributed Lloyd passes (codegen'd quantized argmin, per-(cell,
    // dim) map-side-combined sums, k x dim rows to the driver per
    // pass), then the final assignment — the SemDeDup clustering shape
    timed("emb_kmeans", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      val sample = emb.filter(col("vec_id") < graft.sim.Ivf.SAMPLE_N)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val init = graft.sim.Ivf.kmeans(sample, 8)
      val cents = graft.sim.Ivf.lloydRefine(emb, init, iters = 5)
      graft.sim.Ivf.withCell(emb, cents)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(sum(col("cell") * col("n"))).collect()(0).getLong(0)
    }
    timed("ivf_topk") {
      val emb = embeddings(spark, nVecs)
      // bounded deterministic training, as in Ivf.trainCentroids
      val sample = emb.filter(col("vec_id") < graft.sim.Ivf.SAMPLE_N)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cents = graft.sim.Ivf.kmeans(sample, 8)
      val assigned = graft.sim.Ivf.withCell(emb, cents)
      def qdot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        org.apache.spark.sql.GraftBridge.column(graft.functions.QuantizedDotE12(
          org.apache.spark.sql.GraftBridge.expression(a),
          org.apache.spark.sql.GraftBridge.expression(b)))
      val q = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("e1"), col("cell"))
      val c = assigned.select(col("vec_id").as("cid"), col("embedding").as("e2"), col("cell"))
      val scored = broadcast(q).join(c, Seq("cell")).filter(col("qid") =!= col("cid"))
        .withColumn("cosine", qdot(col("e1"), col("e2")).cast("double") /
          (sqrt(qdot(col("e1"), col("e1")).cast("double")) *
            sqrt(qdot(col("e2"), col("e2")).cast("double"))))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5).count()
    }
    // sequence packing over the full corpus: the stitched global token
    // cumsum (Stitch.globalCumsum) at 2M docs — driver-side stitch
    // state is one total per 100k-id chunk (20 tuples), so the pass
    // stays partition-parallel at any corpus size; the count pins the
    // deterministic chunk fan-out
    timed("txt_pack") {
      graft.text.TextQueries.packChunks(docs(spark, nDocs, template),
        budget = 2048L).count()
    }
    // best-fit-decreasing packing at the full corpus: ONE histogram
    // aggregate (≤ budget rows to the driver), the batched BFD recipe
    // loop, then the stitched per-class rank pass + two broadcast
    // joins. The check sums bin ids (forces the recipe join), and the
    // stats pass pins efficiency > 0.
    timed("pack_bfd", clearAfter = true) {
      graft.text.BinPack.bfdPack(docs(spark, nDocs, template), budget = 2048L)
        .agg(sum("bin_id")).collect()(0).getLong(0)
    }
    // multi-phrase blocklist scan at the full corpus: one Aho-Corasick
    // pass per row over a 200-phrase list (the production C4 shape),
    // map-only — the check counts total hits so the automaton walk and
    // the dict-suffix chain both execute.
    timed("txt_blocklist", clearAfter = true) {
      val phrases = (0 until 200).map(i => s"tok${i % 18}_${i * 25 % 5000}")
      graft.text.TextQueries.blocklistFilter(docs(spark, nDocs, template), phrases)
        .agg(sum("n_hits")).collect()(0).getLong(0)
    }
    // corpus-trained unigram LM scoring at the full corpus: the
    // vocabulary (~70k distinct tokens here) aggregates map-side and
    // BROADCASTS; the exploded tokens re-aggregate on the pre-explode
    // doc_id clustering, so the fan-out never crosses the network. The
    // output check is the corpus token total — sensitive to the
    // tokenize + join + re-agg chain, not just row cardinality.
    // the check must force BOTH output columns: a bare sum(n_tokens)
    // lets Catalyst prune the whole nll branch (the log-scoring work
    // this query exists to measure) out of the plan
    timed("unigram_lm", clearAfter = true) {
      graft.text.TextQueries.unigramScore(cleanDocs(spark, nDocs, template))
        .agg((sum("n_tokens") +
          sum(round(col("nll") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // cross-document boilerplate scrub at the full corpus: the frequent
    // set is the 1100-doc template's grams (df >> maxDf) — tiny and
    // broadcast; the 1%-dup pairs sit at df=2, below the bar, so the
    // scrub touches exactly the template clique (the check counts
    // scrubbed docs, not total rows).
    timed("scrub_ngrams", clearAfter = true) {
      graft.text.TextQueries.scrubFrequentNgrams(docs(spark, nDocs, template))
        .filter(col("n_removed") > 0).count()
    }
    // exact-substring dedup at the full corpus (Lee et al. 2021 window
    // granularity; k sized to the 18-token synthetic docs — production
    // default is 50): pass 1 counts window hashes (native xxhash64 —
    // the production config), pass 2 left-semi joins the duplicated set
    // and rebuilds per doc. The planted 1% dup pairs and the template
    // clique make every window of a duplicated doc repeat; the check
    // counts docs with at least one duplicated span.
    timed("substr_dedup", clearAfter = true) {
      graft.text.TextQueries.exactSubstringDedup(docs(spark, nDocs, template),
        k = 8, portableHash = false)
        .filter(col("n_removed") > 0).count()
    }
    // keep-one twin (Lee et al.'s other mode): the counting aggregate
    // gains the min(struct) argmin and pass 2 becomes an inner join
    // carrying the winner struct — committed so the cost of keep-one
    // over remove-all stays measured
    timed("substr_dedup_keep", clearAfter = true) {
      graft.text.TextQueries.exactSubstringDedupKeep(docs(spark, nDocs, template),
        k = 8, portableHash = false)
        .filter(col("n_removed") > 0).count()
    }
    // incremental form: a 20k-doc batch (the incr_dedup slice, every
    // doc an exact corpus dup) scrubbed at window granularity against
    // the full corpus's hash index — the corpus contributes one
    // explode+distinct, the batch pays the positional pass
    timed("substr_dedup_incr", clearAfter = true) {
      val corpus = docs(spark, nDocs, template)
      val batch = corpus.filter(col("doc_id") % 100 === 7)
        .select((col("doc_id") + nDocs).as("doc_id"), col("text"))
      graft.text.TextQueries.exactSubstringDedupAgainst(batch, corpus,
        k = 8, portableHash = false)
        .filter(col("n_removed") > 0).count()
    }
    // character-granularity (any-offset) form: one window per CHAR
    // instead of per token (~8x the window rows on these ~150-char
    // docs — the measured cost of byte-exact Lee et al. semantics
    // over the token compromise); L sized to the synthetic doc shape
    // as k=8 tokens is above.
    // 64 shuffle partitions for the two char entries ONLY — the
    // partitions-sized-to-memory discipline (the brief's executor-
    // sizing rule) applied where it is actually needed: these entries
    // shuffle ~180M positional rows, and at 32 partitions a task's
    // sort slice plus the persisted occ frame is marginal against the
    // 24g heap's execution pool — 2 of 4 full runs died in pass 1
    // with UNABLE_TO_ACQUIRE_MEMORY under loud-host task overlap
    // (isolated runs of the same code passed; the blocking clearAfter
    // sweep removed the cross-entry half of the pressure, this
    // removes the within-entry half). Halving the slice costs nothing
    // measurable at this scale (committed 109.58 s baseline vs
    // 65-83 s recent runs) and is exactly what a production job sizes
    // for data volume.
    def withShufflePartitions(n: Int)(body: => Unit): Unit = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    withShufflePartitions(64) {
      timed("substr_dedup_chars", clearBetween = true, clearAfter = true) {
        graft.text.TextQueries.exactSubstringDedupChars(docs(spark, nDocs, template),
          L = 60, portableHash = false, persistLineage = persist)
          .filter(col("n_removed") > 0).count()
      }
      // keep-one twin at char granularity: same kernel fan-out, pinned
      // ONCE via persistLineage (without it Catalyst instantiated the
      // dominant-cost subtree under both the argmin aggregate and the
      // starts-recovery join — a ~2x) — expected ≈ the remove-all number
      timed("substr_dedup_chars_keep", clearBetween = true, clearAfter = true) {
        graft.text.TextQueries.exactSubstringDedupCharsKeep(docs(spark, nDocs, template),
          L = 60, portableHash = false, persistLineage = persist)
          .filter(col("n_removed") > 0).count()
      }
    }
    // gear-CDC fingerprints at the full corpus: map-only byte-loop
    // kernel (~150-byte docs -> 1-3 chunks); the check sums chunk
    // counts AND forces the sorted-hash md5 column
    timed("cdc_chunks", clearAfter = true) {
      graft.text.TextQueries.cdcFingerprints(docs(spark, nDocs, template))
        .agg((sum("n_chunks") + sum(length(col("cdc_hash")))).as("chk"))
        .collect()(0).getLong(0)
    }
    // CDC pair matching: chunk-hash equi-join buckets through the
    // salted self-join (the template clique shares ALL its chunks — the
    // hot-bucket path), then per-doc counts re-attach for containment
    timed("cdc_pairs", clearAfter = true) {
      graft.text.TextQueries.cdcPairs(docs(spark, nDocs, template)).count()
    }
    // token-budget temperature mixing: the (lang, score) cutoff
    // aggregate collects (8 langs x ~dozens of distinct lengths), the
    // above-cutoff keep is map-only, and only the cutoff-score tie
    // groups pay the stitched cumsum — no per-language window over the
    // corpus
    timed("corpus_mix_tokens", clearAfter = true) {
      val withLang = docs(spark, nDocs, template).select(col("doc_id"), col("text"),
        concat(lit("l"), pmod(hash(col("doc_id"), lit(41)), lit(8))).as("lang"),
        length(col("text")).cast("long").as("n_chars"))
      graft.text.TextQueries.corpusMixTokens(withLang, alpha = 0.5,
        tokenBudget = nDocs * 9).agg(sum("n_tokens")).collect()(0).getLong(0)
    }
    // exact-k per-stratum dev-set carve over 16 synthetic strata: the
    // driver-cutoff order statistic (two bounded collects + a map-only
    // literal predicate), never a per-stratum window. The check counts
    // kept rows (16 x 1000 exactly).
    timed("sample_k", clearAfter = true) {
      val strat = docs(spark, nDocs, template).select(col("doc_id"), col("text"),
        concat(lit("s"), pmod(hash(col("doc_id"), lit(53)), lit(16))).as("src"))
      graft.text.TextQueries.corpusSampleK(strat, k = 1000, strataCol = "src")
        .count()
    }
    // BPE tokenizer training at a production-shaped merge count: ONE
    // corpus-sized pass (the word-frequency aggregate), then the
    // ~90k-word vocabulary collects and 1000 merge rounds run
    // driver-side (incremental pair stats + lazy-deletion heap — zero
    // Spark jobs per round; the pre-r9 distributed loop paid one
    // vocab-sized job PER MERGE, fine at 20, hours at a 32k production
    // vocab). The learned merges feed the encode measurement below
    // (training is not re-counted inside the encode timer).
    var bpeMerges: Seq[(Int, String, String)] = Seq.empty
    timed("bpe_train") {
      bpeMerges = graft.text.TextQueries.bpeTrain(docs(spark, nDocs, template),
        numMerges = 1000)
      bpeMerges.size.toLong
    }
    // BPE encoding at the full corpus with the full 1000-merge table:
    // the distinct-word vocabulary collects and encodes driver-side
    // (min-rank iteration per word), then the encoded vocabulary
    // broadcasts onto the doc_id-clustered word fan-out. The check sums
    // subword counts — sensitive to the whole encode chain including
    // the per-doc stream re-assembly.
    timed("bpe_encode", clearAfter = true) {
      graft.text.TextQueries.bpeEncode(docs(spark, nDocs, template), bpeMerges)
        .agg(sum("n_tokens")).collect()(0).getLong(0)
    }
    // byte-level (GPT-2-shape) BPE: same driver-heap merge loop over
    // the hex-byte alphabet of GPT-2-pattern pretokens — the
    // pretoken vocabulary is larger than the whitespace-word one
    // (case/punct-attached variants stay distinct) but still
    // Heaps-bounded; encode rides the same broadcast-vocabulary plan.
    var byteMerges: Seq[(Int, String, String)] = Seq.empty
    timed("bpe_byte_train") {
      byteMerges = graft.text.ByteBpe.train(docs(spark, nDocs, template),
        numMerges = 1000)
      byteMerges.size.toLong
    }
    timed("bpe_byte_encode", clearAfter = true) {
      require(byteMerges.nonEmpty, "bpe_byte_encode needs bpe_byte_train in ONLY list")
      graft.text.ByteBpe.encode(docs(spark, nDocs, template), byteMerges)
        .agg(sum("n_tokens")).collect()(0).getLong(0)
    }
    // PII scrub at the full corpus: three detection counts + the full
    // redaction chain + md5 per row, map-only. The check forces every
    // output column (the hash-length sum defeats pruning of the
    // redaction branch).
    timed("pii_scrub", clearAfter = true) {
      graft.text.PiiQueries.piiStats(docs(spark, nDocs, template))
        .agg((sum(length(col("clean_hash"))) +
          sum(col("n_emails") + col("n_ips") + col("n_phones"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // CCNet perplexity bucketing at the full corpus: the unigram scoring
    // pass plus the stitched global rank (chunk-partitioned window, one
    // collected count per chunk) — no single-partition exchange at 2M
    // docs. The check is the per-band doc-count total.
    timed("ppl_buckets", clearAfter = true) {
      graft.text.TextQueries.perplexityBuckets(cleanDocs(spark, nDocs, template))
        .groupBy("band").count().collect().map(_.getLong(1)).sum
    }
    // embedding decontamination at the full vector corpus: a 0.1% eval
    // split (2k vectors) broadcasts through the sign-LSH bucket join
    // against the remaining 2M; survivors anti-join the broadcast hit
    // set. The check counts survivors.
    timed("emb_decont", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      graft.sim.SimilarityQueries.annDecontaminate(
        emb.filter(col("vec_id") % 1000 =!= 0),
        emb.filter(col("vec_id") % 1000 === 0)).count()
    }
    // bucket-local near-dup pairs over the FULL 2M-vector corpus: the
    // planes knob sized for the corpus (16 planes → 65k buckets,
    // expected occupancy ~30) — the 8-plane default's 256 buckets would
    // put ~7.8k vectors per bucket and score ~60M pairs PER BUCKET;
    // this is the knob that keeps bucket-local self-joins from going
    // quadratic as the corpus grows.
    timed("emb_neardup", clearAfter = true) {
      graft.sim.SimilarityQueries.neardupPairsOf(embeddings(spark, nVecs),
        planes = 16).count()
    }
    // stupid-backoff bigram scoring at the full corpus, in the pruned
    // production shape: topV=65536 bounds BOTH count tables before
    // broadcast (the unpruned bigram table here is ~360k rows — fine at
    // this corpus, unbounded at 100 TB, which is the point of the knob).
    // The check forces both output columns.
    timed("bigram_lm", clearAfter = true) {
      graft.text.TextQueries.bigramScore(cleanDocs(spark, nDocs, template),
        topV = Some(65536))
        .agg((sum("n_transitions") +
          sum(round(col("nll2") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // Gopher duplicate-char coverage at the full corpus: within-doc
    // positional gram counting over the doc_id clustering; the dup
    // corpus plants exact-duplicate TEXT (cross-doc), not within-doc
    // repetition, so coverage is near-zero by construction — the
    // measurement times the counting machinery, and the check pins the
    // quantized coverage sum plus token totals.
    timed("dup_coverage", clearAfter = true) {
      graft.text.TextQueries.dupNgramCoverage(cleanDocs(spark, nDocs, template))
        .agg((sum("n_tokens") +
          sum(round(col("dup_char_frac") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // interpolated Kneser-Ney at the full corpus: one counting pass,
    // every other model table derived from the pruned (topV=65536)
    // bigram type inventory. The check forces both output columns.
    timed("kn_lm", clearAfter = true) {
      graft.text.TextQueries.kneserNeyScore(cleanDocs(spark, nDocs, template),
        topV = Some(65536))
        .agg((sum("n_transitions") +
          sum(round(col("nll_kn") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // order-5 interpolated KN at the full corpus — the real CCNet/KenLM
    // configuration: one counting pass, eight derived model tables all
    // topV-pruned (65536) before broadcast. The check forces both
    // output columns.
    timed("kn_lm_5", clearAfter = true) {
      graft.text.TextQueries.kneserNeyScoreN(cleanDocs(spark, nDocs, template), 5,
        topV = Some(65536))
        .agg((sum("n_transitions") +
          sum(round(col("nll_kn5") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // learned quality classifier at the full corpus: bounded-sample
    // driver-side training (100k docs, 300 GD iters) + the broadcast
    // weight-row scoring pass over all 2M docs. The pseudo-label is a
    // deterministic doc_id slice (labels don't affect cost). The check
    // forces both score columns.
    timed("quality_classifier", clearAfter = true) {
      val docsQc = cleanDocs(spark, nDocs, template)
      val (b, w) = graft.text.TextQueries.qualityClassifierTrain(
        docsQc, col("doc_id") % 3 === 0)
      graft.text.TextQueries.qualityClassifierScore(docsQc, b, w)
        .agg((sum("n_grams") +
          sum(round(col("prob") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // classifier evaluation at the full corpus: one scoring pass over
    // the 20% eval slice + the label join + the one-row confusion
    // aggregate. Training runs OUTSIDE the timed region — its cost is
    // quality_classifier's measurement, and timed() re-executes the
    // closure for both passes (the first committed number, 18.15 s,
    // was mostly re-training).
    // lazy: trains only when the classifier_eval block dereferences it,
    // so an ONLY run without that entry never pays the training collect
    lazy val (qcB, qcW) = {
      val docsQc = cleanDocs(spark, nDocs, template)
      graft.text.TextQueries.qualityClassifierTrain(docsQc, col("doc_id") % 3 === 0)
    }
    // force the lazy training BEFORE the timed region (else pass1 pays
    // it and only the min-of-2 hides the contamination)
    if (only.isEmpty || only("classifier_eval")) qcB
    timed("classifier_eval", clearAfter = true) {
      val docsQc = cleanDocs(spark, nDocs, template)
      graft.text.TextQueries.classifierEval(
        docsQc.filter(col("doc_id") % 5 === 0), qcB, qcW, col("doc_id") % 3 === 0)
        .agg((sum("tp") + sum("tn") + sum("precision_ppm")).as("chk"))
        .collect()(0).getLong(0)
    }
    // kNN-graph in-degree histogram at the full vector corpus: the
    // measurement is dominated by the 16-plane kNN join (the
    // emb_pagerank cost center), plus two compact aggregates.
    timed("emb_knn_degree", clearAfter = true) {
      graft.sim.SimilarityQueries.knnDegreeOn(embeddings(spark, nVecs), planes = 16)
        .agg(sum(col("in_deg") * col("n_nodes"))).collect()(0).getLong(0)
    }
    // DSIR importance weighting at the full corpus: the two feature-LM
    // aggregates are bounded at B=4096 rows each regardless of corpus
    // size, the log-ratio table broadcasts, and the x2-token gram
    // fan-out re-aggregates on the pre-explode doc_id clustering. The
    // target slice is 10% of the corpus. The check forces both output
    // columns (quantized weight sum defeats pruning of the scoring
    // branch).
    timed("dsir_weights", clearAfter = true) {
      val corpus = cleanDocs(spark, nDocs, template)
      graft.text.TextQueries.dsirWeightsOf(corpus, col("doc_id") % 10 === 0)
        .agg((sum("n_grams") +
          sum(round(col("logw") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // unigram-LM tokenizer training at the full corpus: ONE corpus pass
    // (the distinct-word frequency aggregate, ~95k words here), then EM
    // runs driver-side over the collected vocab — the same
    // bounded-collect shape as bpe_train. A production-leaning
    // inventory (4096 pieces from an 8192 seed) exercises the prune
    // loop, and the learned pieces feed the encode measurement below.
    var uniPieces: graft.text.UnigramLm.Pieces = Seq.empty
    timed("unigram_train") {
      uniPieces = graft.text.UnigramLm.train(docs(spark, nDocs, template),
        vocabSize = 4096, maxPieceLen = 5, seedSize = 8192)
      uniPieces.size.toLong
    }
    // unigram Viterbi encode at the full corpus: the distinct-word
    // vocabulary runs the expr-DP once per word, then the encoded vocab
    // broadcasts onto the doc_id-clustered word fan-out. The check sums
    // subword counts across all 2M docs.
    timed("unigram_encode", clearAfter = true) {
      graft.text.UnigramLm.encode(docs(spark, nDocs, template), uniPieces,
        maxPieceLen = 5)
        .agg(sum("n_tokens")).collect()(0).getLong(0)
    }
    // Bloom gate at the full corpus: the filter builds over the even
    // half (1M docs x 5 hashes -> ~5M distinct set bits at m=2^24) and
    // all 2M docs probe it — compact (doc_id, bit) rows only, text
    // never shuffles. The check counts flagged docs (evens + planted
    // dups + the fp tail).
    timed("bloom_dedup", clearAfter = true) {
      val d = docs(spark, nDocs, template)
      graft.text.TextQueries.bloomProbe(d,
          graft.text.TextQueries.bloomBuild(d.filter(col("doc_id") % 2 === 0)))
        .filter(col("bloom_hit")).count()
    }
    // counting-Bloom forget at the full corpus: index all 2M docs as
    // counters, delete the 10% slice by counter subtraction (one pass
    // over the SLICE, never a rebuild), probe everything through the
    // surviving bits. The check counts still-hitting docs.
    timed("bloom_forget", clearAfter = true) {
      val d = docs(spark, nDocs, template)
      graft.text.TextQueries.bloomProbe(d,
          graft.text.TextQueries.cbfBits(graft.text.TextQueries.cbfForget(
            graft.text.TextQueries.cbfCounters(d),
            d.filter(col("doc_id") % 10 === 0))))
        .filter(col("bloom_hit")).count()
    }
    // exact-threshold similarity join (prefix filtering) at the full
    // corpus: recall-1 counterpart of lsh_pairs at the production
    // near-dup threshold — rarest-prefix buckets + length filter +
    // exact verification, never all-pairs. The check counts pairs.
    timed("jaccard_join", clearBetween = true, clearAfter = true) {
      graft.text.TextQueries.jaccardJoin(docs(spark, nDocs, template),
        threshold = 0.8, persistLineage = persist).count()
    }
    // incremental exact join: a 5% batch vs the 95% corpus's
    // pre-materialized (untimed) prefix index + df table + doc-id-keyed
    // verification side (the LINEAR index layout: compact (h, doc_id)
    // bucket rows, hash arrays stored once per doc) — the
    // guaranteed-recall member of the incremental family; the timer
    // pays only the batch's shingle pass, the broadcast prefix probe,
    // the doc_id verification join, and per-candidate array_intersect.
    if (only.isEmpty || only("jaccard_incr")) {
      val all = docs(spark, nDocs, template)
      val corpus = all.filter(col("doc_id") % 20 =!= 0)
      val dfT = prebuild(
        graft.text.TextQueries.jaccardCorpusStats(corpus, portableHash = false))
      val idx = prebuild(
        graft.text.TextQueries.jaccardIndex(corpus, threshold = 0.8,
          portableHash = false, corpusDf = Some(dfT)))
      val side = prebuild(
        graft.text.TextQueries.docHashSide(corpus, portableHash = false))
      timed("jaccard_incr", clearAfter = true) {
        graft.text.TextQueries.jaccardJoinAgainst(
          all.filter(col("doc_id") % 20 === 0), corpus, threshold = 0.8,
          portableHash = false, corpusDf = Some(dfT), index = Some(idx),
          docSide = Some(side)).count()
      }
      releasePrebuilt()
    }
    // the same probe through DISK-BUCKETED catalog tables (df+index by
    // h, doc side by doc_id) — the production layout where the
    // array-carrying doc side joins with ZERO exchange; measures what
    // the localCheckpoint form above cannot express (the NOTES_r11
    // watch item). Table build is untimed, like the index build above.
    if (only.isEmpty || only("jaccard_incr_bucketed")) {
      val all = docs(spark, nDocs, template)
      val corpus = all.filter(col("doc_id") % 20 =!= 0)
      graft.text.TextQueries.writeJaccardIndexTables(corpus, "bench_jidx",
        threshold = 0.8, portableHash = false, buckets = 32)
      timed("jaccard_incr_bucketed", clearAfter = true) {
        graft.text.TextQueries.jaccardJoinAgainst(
          all.filter(col("doc_id") % 20 === 0), corpus, threshold = 0.8,
          portableHash = false,
          corpusDf = Some(spark.table("bench_jidx_df")),
          index = Some(spark.table("bench_jidx_idx")),
          docSide = Some(spark.table("bench_jidx_side"))).count()
      }
      Seq("bench_jidx_df", "bench_jidx_idx", "bench_jidx_side")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    // asymmetric exact containment at the full corpus: the contained
    // side's prefix buckets against ALL corpus tokens (detect-then-salt
    // on hot shingles). The check counts ordered pairs.
    timed("contain_join", clearBetween = true, clearAfter = true) {
      graft.text.TextQueries.containJoin(docs(spark, nDocs, template),
        threshold = 0.8, persistLineage = persist).count()
    }
    // LSH recall audit at corpus scale: runs BOTH the exact chain
    // (ground truth) and the LSH chain at the production threshold —
    // the measured recall_ppm is the first real recall number for the
    // probabilistic chain at 2M docs (recorded in SCALE.md; if < 1,
    // that number IS the result). The check folds all three output
    // values so a recall drift fails the pass-equality require.
    timed("lsh_recall", clearBetween = true, clearAfter = true) {
      val r = graft.text.TextQueries.lshRecallAudit(docs(spark, nDocs, template),
        threshold = 0.8, portableHash = false, persistLineage = persist)
        .collect()(0)
      r.getLong(0) + 3 * r.getLong(1) + 7 * r.getLong(2)
    }
    // ---- long-document fixture family: 10k docs x 2000 tokens (~16 KB
    // each, >100x the short fixture) — the corpus shape where an
    // inline-array index layout would be ~400x amplified per doc and a
    // quadratic scrub rebuild would pay (16k)^2 per clique member.
    // These budgets measure the LINEAR layouts directly.
    val LD_N = 10000L; val LD_TOKS = 2000; val LD_TEMPLATE = 50L
    // exact-join index build at long docs: compact (h, doc_id) prefix
    // rows + the once-per-doc hash side. The check forces every hs
    // array (sum of sizes), not just row counts.
    timed("longdoc_jaccard_index", clearAfter = true) {
      val corpus = longDocs(spark, LD_N, LD_TOKS, LD_TEMPLATE)
      val idx = graft.text.TextQueries.jaccardIndex(corpus, threshold = 0.8,
        portableHash = false)
      val side = graft.text.TextQueries.docHashSide(corpus, portableHash = false)
      idx.count() + side.agg(sum(size(col("hs")))).collect()(0).getLong(0)
    }
    // containment probe at long docs: a 1% batch (shifted ids, every
    // doc a verbatim corpus copy) probed against the pre-materialized
    // (untimed) full-token index + doc side — the streaming gate's
    // batch twin; the timer pays the batch shingle pass, the compact
    // bucket probe, and the doc_id verification join.
    if (only.isEmpty || only("longdoc_contain_probe")) {
      val corpus = longDocs(spark, LD_N, LD_TOKS, LD_TEMPLATE)
      val cIdx = prebuild(
        graft.text.TextQueries.containIndex(corpus, portableHash = false))
      val cSide = prebuild(
        graft.text.TextQueries.docHashSide(corpus, portableHash = false))
      timed("longdoc_contain_probe", clearAfter = true) {
        val batch = corpus.filter(col("doc_id") % 100 === 7)
          .select((col("doc_id") + LD_N).as("doc_id"), col("text"))
        graft.text.TextQueries.containJoinAgainst(batch, corpus,
          threshold = 0.8, portableHash = false,
          index = Some(cIdx), docSide = Some(cSide)).count()
      }
      releasePrebuilt()
    }
    // char-granularity scrub at long docs: the template clique's 50
    // fully-duplicated 16 KB docs are exactly the shape the linear
    // sorted-pairwise rebuild exists for (the prior per-char
    // array_contains rebuild paid len^2 here).
    timed("longdoc_char_scrub", clearBetween = true, clearAfter = true) {
      graft.text.TextQueries.exactSubstringDedupChars(
        longDocs(spark, LD_N, LD_TOKS, LD_TEMPLATE),
        L = 100, portableHash = false, persistLineage = persist)
        .filter(col("n_removed") > 0).count()
    }
    // cross-doc frequent-n-gram scrub at LONG docs: the 50-doc template
    // clique makes every one of its grams doc-frequent (df=50 > 5), so
    // those docs' start lists carry one entry per token — the rebuild's
    // worst case (the pre-r12 covered-array membership probe paid len²
    // per fully-covered doc; the SpanDedup.scrub sorted-pairwise sweep is
    // linear). The check forces all three output columns.
    timed("longdoc_ngram_scrub", clearAfter = true) {
      graft.text.TextQueries.scrubFrequentNgrams(
          longDocs(spark, LD_N, LD_TOKS, LD_TEMPLATE))
        .agg((sum("n_tokens") + sum("n_removed") +
          sum(crc32(col("clean_hash")))).as("chk"))
        .collect()(0).getLong(0)
    }
    // containment-fraction decontamination at the full corpus: the ~2k
    // eval-slice shingle set broadcasts onto one fan-out pass over the
    // other 2M docs; only (doc_id, counts) rows shuffle. The check
    // forces both count columns and the quantized fraction.
    timed("contain_frac", clearAfter = true) {
      val corpus = cleanDocs(spark, nDocs, template)
      val bench = corpus.filter(col("doc_id") % 1000 === 777 && col("doc_id") >= template)
      graft.text.TextQueries.containmentFraction(
          corpus.filter(col("doc_id") % 1000 =!= 777), bench)
        .agg((sum("n_shingles") + sum("n_contaminated") +
          sum(round(col("contain_frac") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // sliding-window chunking at the full corpus, sized so the ~40-token
    // synthetic docs fan out to ~4 windows each (map-only, zero
    // exchanges; the cost IS the fan-out + per-chunk md5). The check
    // sums chunk token counts.
    timed("txt_chunk", clearAfter = true) {
      graft.text.TextQueries.chunkDocs(docs(spark, nDocs, template),
        chunkLen = 16, stride = 12)
        .agg(sum("n_tokens")).collect()(0).getLong(0)
    }
    // one-pass signal sweep at the full corpus: every token-level
    // quality signal from ONE scan + one doc_id exchange — the
    // scan-consolidation shape (vs paying the corpus scan per signal
    // family). The check forces all seven columns.
    timed("txt_signals", clearAfter = true) {
      graft.text.TextQueries.signalSweep(cleanDocs(spark, nDocs, template))
        .agg((sum("n_tokens") + sum("n_distinct") + sum("stop_distinct") +
          sum(round(col("entropy") * 1e6).cast("long")) +
          sum(round(col("mean_word_len") * 1e6).cast("long")) +
          sum(round(col("frac_distinct") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // winnowing fingerprints at the full corpus: map-only per-doc
    // window minima (zero exchanges) — the cost IS the gram hashing +
    // sliding min + distinct per row. The check forces every column.
    timed("txt_winnow", clearAfter = true) {
      graft.text.TextQueries.winnowFingerprints(docs(spark, nDocs, template))
        .agg((sum("n_grams") + sum("n_fingerprints") +
          sum(length(col("fp_hash")))).as("chk"))
        .collect()(0).getLong(0)
    }
    // cross-document winnowing match at the full corpus: fingerprint
    // equi-join buckets via the skew-salted selfPairs (the 1100-doc
    // template clique IS the hot-fingerprint case — it must detect and
    // salt, not form one quadratic bucket). The check counts matched
    // pairs (planted dup pairs + the template clique).
    timed("winnow_pairs", clearAfter = true) {
      graft.text.TextQueries.winnowPairs(docs(spark, nDocs, template)).count()
    }
    // corpus Zipf profile: one map-side-combined vocabulary aggregate
    // + a 1000-row bounded regression — the distribution sanity report.
    timed("txt_zipf", clearAfter = true) {
      graft.text.TextQueries.zipfProfile(docs(spark, nDocs, template))
        .collect()(0).getLong(1)
    }
    // first-touch funnel over 100M typed events / 2M users: one
    // map-side-combined min-per-type user aggregate + a 4-row stage
    // count — the no-window, no-self-join analytics shape.
    timed("event_funnel", clearAfter = true) {
      graft.ops.TemporalQueries.firstTouchFunnel(typedEvents(spark, rows),
          Seq("view", "click", "purchase"))
        .agg(sum(col("stage") * col("n_users"))).collect()(0).getLong(0)
    }
    // weekly cohort retention over the same stream: distinct compact
    // (user, week) pairs, min-week cohort, triangle counts.
    timed("event_retention", clearAfter = true) {
      graft.ops.TemporalQueries.cohortRetention(typedEvents(spark, rows))
        .agg(sum(col("n_users"))).collect()(0).getLong(0)
    }
    // Flesch/FK readability at the full corpus: two regexp counts +
    // ratio arithmetic per row, map-only.
    timed("txt_readability", clearAfter = true) {
      graft.text.TextQueries.readability(docs(spark, nDocs, template))
        .agg((sum("n_words") + sum("n_syllables") +
          sum(round(col("fk_grade") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // character-class ppm profile at the full corpus: five regex-count
    // kernels + integer div per row, map-only.
    timed("txt_charclass", clearAfter = true) {
      graft.text.TextQueries.charClassProfile(docs(spark, nDocs, template))
        .agg((sum("letter_ppm") + sum("digit_ppm") + sum("other_ppm")).as("chk"))
        .collect()(0).getLong(0)
    }
    // corpus snapshot diff at the full corpus: full-outer digest join
    // on doc_id + 4-row status rollup.
    timed("corpus_diff", clearAfter = true) {
      val (oldS, newS) = graft.text.TextQueries.snapshotSplit(docs(spark, nDocs, template))
      graft.text.TextQueries.corpusDiff(oldS, newS)
        .agg(sum("n_docs")).collect()(0).getLong(0)
    }
    // token-distribution drift at the full corpus: two vocabulary
    // aggregates + one vocab-keyed full-outer join, bounded top frame,
    // nano-quantized KL terms.
    timed("vocab_drift", clearAfter = true) {
      val (oldS, newS) = graft.text.TextQueries.snapshotSplit(docs(spark, nDocs, template))
      graft.text.TextQueries.vocabDrift(oldS, newS).collect()(0).getLong(4)
    }
    // percentile report at the full corpus: ten exact quantile cells
    // through ONE grid call — three distributed scans total.
    timed("corpus_percentiles", clearAfter = true) {
      graft.text.TextQueries.corpusPercentiles(docs(spark, nDocs, template))
        .agg(sum(round(col("value") * 1e6).cast("long"))).collect()(0).getLong(0)
    }
    // mergeable-sketch monitoring, full vs incremental: the full paths
    // scan the whole corpus into bounded sketches; the _incr twins
    // pre-build the 95% corpus's sketch OUTSIDE the timer (it is the
    // persisted snapshot index) and pay only the 5% shard's scan plus
    // a sketch-sized merge — the measured gap IS the historical
    // re-scan saved. Checks: est_e6 (register-exact) / value sum.
    timed("sketch_distinct", clearAfter = true) {
      graft.ops.Sketches.hllFinalize(graft.ops.Sketches.hllRegisters(
        docs(spark, nDocs, template)
          .select(explode(split(col("text"), " ")).as("w")), col("w")))
        .collect()(0).getAs[Long]("est_e6")
    }
    // the untimed index pre-builds pay a corpus scan — skip them
    // entirely when ONLY-mode doesn't name their consumers
    if (only.isEmpty || only("sketch_distinct_incr") || only("sketch_quantiles_incr")) {
      val allDocs = docs(spark, nDocs, template)
      val oldIdx = graft.ops.Scale.materializeCompact(
        graft.ops.Sketches.hllRegisters(
          allDocs.filter(col("doc_id") % 20 =!= 0)
            .select(explode(split(col("text"), " ")).as("w")), col("w")))
      timed("sketch_distinct_incr", clearAfter = true) {
        graft.ops.Sketches.hllFinalize(graft.ops.Sketches.hllMerge(Seq(oldIdx,
          graft.ops.Sketches.hllRegisters(
            allDocs.filter(col("doc_id") % 20 === 0)
              .select(explode(split(col("text"), " ")).as("w")), col("w")))))
          .collect()(0).getAs[Long]("est_e6")
      }
      val oldHist = graft.ops.Scale.materializeCompact(
        graft.ops.Sketches.histShards(
          allDocs.filter(col("doc_id") % 20 =!= 0), lit(0)))
      timed("sketch_quantiles_incr", clearAfter = true) {
        graft.ops.Sketches.histQuantiles(graft.ops.Sketches.histMerge(Seq(oldHist,
          graft.ops.Sketches.histShards(
            allDocs.filter(col("doc_id") % 20 === 0), lit(1)))))
          .agg(sum(round(col("value") * 1e6).cast("long"))).collect()(0).getLong(0)
      }
    }
    // CountMin frequency sketch, full build + the incremental twin:
    // one corpus pass into <=8192 counter cells; the _incr form pays
    // only the 5% shard's pass plus a cell-sized sum-merge against the
    // pre-built (untimed) 95% index — the additive-merge member next
    // to the HLL max-merge above. The check point-queries one probe
    // set through the merged counters.
    timed("sketch_freq", clearAfter = true) {
      val ws = docs(spark, nDocs, template)
        .select(explode(split(col("text"), " ")).as("w"))
      graft.ops.Sketches.cmCounters(ws, col("w"))
        .agg(sum("cnt")).collect()(0).getLong(0)
    }
    if (only.isEmpty || only("sketch_freq_incr")) {
      val allDocs = docs(spark, nDocs, template)
      val oldCm = graft.ops.Scale.materializeCompact(
        graft.ops.Sketches.cmCounters(
          allDocs.filter(col("doc_id") % 20 =!= 0)
            .select(explode(split(col("text"), " ")).as("w")), col("w")))
      timed("sketch_freq_incr", clearAfter = true) {
        val shard = allDocs.filter(col("doc_id") % 20 === 0)
          .select(explode(split(col("text"), " ")).as("w"))
        val merged = graft.ops.Sketches.cmMerge(Seq(oldCm,
          graft.ops.Sketches.cmCounters(shard, col("w"))))
        graft.ops.Sketches.cmEstimate(merged,
            shard.groupBy("w").agg(count(lit(1)).as("c"))
              .orderBy(col("c").desc, col("w").asc).limit(20).select("w"),
            col("w"))
          .agg(sum("est_cnt")).collect()(0).getLong(0)
      }
    }
    // incremental edit-distance dedup: 5% batch vs 95% corpus winnow
    // index, Levenshtein verification of best matches only.
    timed("editdist_incr", clearAfter = true) {
      val all = docs(spark, nDocs, template)
      graft.text.TextQueries.editDistAgainst(
        all.filter(col("doc_id") % 20 === 0), all.filter(col("doc_id") % 20 =!= 0))
        .count()
    }
    // all-verified-matches edit-distance at the incremental shape,
    // with the production knobs (minShared=2 evidence pruning + top-8
    // cap — the cap is what bounds the 1100-doc template clique here:
    // clique members share ALL fingerprints, so pruning can't help).
    timed("editdist_matches", clearAfter = true) {
      val all = docs(spark, nDocs, template)
      graft.text.TextQueries.editDistMatchesAgainst(
        all.filter(col("doc_id") % 20 === 0), all.filter(col("doc_id") % 20 =!= 0),
        minShared = 2, maxMatchesPerDoc = 8)
        .count()
    }
    // PMI collocations at the full corpus: one bigram aggregate
    // (map-side combined), the >= minCount pair set broadcast through
    // both vocabulary lookups — the vocab never re-shuffles.
    timed("txt_pmi", clearAfter = true) {
      graft.text.TextQueries.pmiCollocations(docs(spark, nDocs, template)).count()
    }
    // Heaps-law growth at the full corpus: first-doc-per-type
    // aggregate, two stitched prefix sums, DECIMAL(38,0) OLS.
    timed("txt_heaps", clearAfter = true) {
      graft.text.TextQueries.heapsProfile(docs(spark, nDocs, template))
        .collect()(0).getLong(0)
    }
    // edit-distance verification over the winnow candidates: the
    // 1100-doc template clique and the 1% planted dups carry IDENTICAL
    // text, so they settle on the equality short-circuit; only
    // hash-collision candidates pay the O(len²) DP.
    timed("editdist_pairs", clearAfter = true) {
      graft.text.TextQueries.editDistPairs(docs(spark, nDocs, template)).count()
    }
    // incremental winnow dedup: a 5% batch probes the 95% corpus's
    // compact (fp, dup_of) index — the local-fingerprinting member of
    // the incremental family. The check counts matched batch docs.
    timed("winnow_incr", clearAfter = true) {
      val all = docs(spark, nDocs, template)
      graft.text.TextQueries.winnowDedupAgainst(
        all.filter(col("doc_id") % 20 === 0), all.filter(col("doc_id") % 20 =!= 0))
        .count()
    }
    // CCNet keep-first paragraph dedup at the full corpus (~4M
    // paragraphs over 2M pages; the template clique and the 1% planted
    // dups duplicate WHOLE paragraphs): one compact h-keyed stats
    // aggregate, one h-join (dup set Zipf-large, never broadcast), one
    // page_id regroup + rebuild. The check forces n_removed AND the
    // rebuilt clean_hash so the scrub projection really runs.
    timed("paragraph_dedup", clearAfter = true) {
      graft.text.ParagraphQueries.paragraphDedup(
        graft.text.ParagraphQueries.segmentPages(docs(spark, nDocs, template)))
        .agg((sum("n_removed") + sum(length(col("clean_hash")))).as("chk"))
        .collect()(0).getLong(0)
    }
    // incremental paragraph dedup: a 5% page batch scrubbed against the
    // 95% corpus's distinct paragraph-hash index — the CCNet member of
    // the incremental family next to winnow_incr/editdist_incr.
    timed("paragraph_incr", clearAfter = true) {
      val all = docs(spark, nDocs, template)
      val seg: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        graft.text.ParagraphQueries.segmentPages(_)
      graft.text.ParagraphQueries.paragraphDedupAgainst(
        seg(all.filter(col("doc_id") % 20 === 0)),
        graft.text.ParagraphQueries.paragraphIndex(
          seg(all.filter(col("doc_id") % 20 =!= 0))))
        .agg((sum("n_removed") + sum(length(col("clean_hash")))).as("chk"))
        .collect()(0).getLong(0)
    }
    // C4 line+page filtering at the full corpus: pure map-only per-row
    // arithmetic (zero exchanges — the scan-bound floor of the curation
    // stack). Over the quality-varied cleanDocs corpus so both rule
    // levels discriminate: 28-word pages segment into 10/10/8-token
    // lines (all pass minWords=5, the 8-token tail keeps 3 lines ≥
    // minKeptLines=3 → kept), while the ~10% short pages segment into
    // 10/4 and fail BOTH the line rule (4 < 5) and the page rule
    // (1 kept line < 3) — the check counts survivors + hash bytes.
    timed("c4_filter", clearAfter = true) {
      graft.text.ParagraphQueries.c4Filter(
        graft.text.ParagraphQueries.segmentPages(cleanDocs(spark, nDocs, template)))
        .agg((sum(when(col("kept"), 1L).otherwise(0L)) +
          sum(length(col("clean_hash")))).as("chk"))
        .collect()(0).getLong(0)
    }
    // dedup-normalization at the full corpus: two RE2 regex passes +
    // md5 per row, map-only. The check forces both output columns.
    timed("txt_normalize", clearAfter = true) {
      graft.text.TextQueries.normalizeText(docs(spark, nDocs, template))
        .agg((sum("n_tokens_norm") + sum(length(col("norm_hash")))).as("chk"))
        .collect()(0).getLong(0)
    }
    // WordPiece training at a production-shaped merge count: ONE corpus
    // pass (the word-frequency aggregate), then 1000 likelihood-scored
    // merge rounds driver-side (incremental pair/symbol stats, full-scan
    // argmax — see WordPiece.scala for why no heap). The learned vocab
    // feeds the encode measurement below.
    var wpVocab: Seq[(Int, String)] = Seq.empty
    timed("wordpiece_train") {
      wpVocab = graft.text.WordPiece.train(docs(spark, nDocs, template),
        numMerges = 1000)
      wpVocab.size.toLong
    }
    // WordPiece greedy encode at the full corpus: the distinct-word
    // vocabulary runs the longest-match walk once per word (match-span
    // join + HOF loop), then broadcasts onto the doc_id-clustered word
    // fan-out. The check sums subword counts across all 2M docs.
    timed("wordpiece_encode", clearAfter = true) {
      graft.text.WordPiece.encode(docs(spark, nDocs, template), wpVocab)
        .agg(sum("n_tokens")).collect()(0).getLong(0)
    }
    // PCA projection at the full vector corpus: bounded-sample train
    // (1024 vectors) + one map-only codegen'd k x d pass over 2M
    // vectors. The check sums the quantized first and last coordinates.
    timed("emb_pca", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      val (mu, comps) = graft.sim.Pca.trainOn(emb, k = 8)
      graft.sim.Pca.project(emb, mu, comps)
        .agg((sum("pc1_e12") + sum("pc8_e12")).as("chk"))
        .collect()(0).getLong(0)
    }
    // ANN recall audit at the full vector corpus: 10 query vectors
    // brute-force over 2M (one broadcast stream) vs the nprobe=2 cell
    // join — the recall-vs-cost observable, measured at the scale the
    // knobs are tuned at. The check sums recovered neighbors.
    timed("ann_recall", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      // bounded deterministic training, as in Ivf.trainCentroids
      val sample = emb.filter(col("vec_id") < graft.sim.Ivf.SAMPLE_N)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cents = graft.sim.Ivf.kmeans(sample, 8)
      graft.sim.SimilarityQueries.annRecallOn(emb, cents)
        .agg(sum("n_hit")).collect()(0).getLong(0)
    }
    // PageRank over the kNN graph at the full vector corpus: ONE
    // 16-plane kNN join checkpointed to a compact id edge list, then 3
    // integer ppb power-iteration rounds (2 shuffles of 24-byte rows
    // each). The check sums final ranks (deterministic long
    // arithmetic, so passes must agree).
    timed("emb_pagerank", clearAfter = true) {
      graft.sim.SimilarityQueries.knnPageRankOn(embeddings(spark, nVecs),
          planes = 16)
        .agg(sum("pr_ppb")).collect()(0).getLong(0)
    }
    // PCA whitening at the full vector corpus: same bounded-sample
    // train + map-only projection as emb_pca, with the 1/sqrt(eig)
    // scale folded into the component literals — measures that the
    // whitened kernel pays nothing over the plain projection.
    timed("emb_whiten", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      val (mu, comps, evals) = graft.sim.Pca.fitOn(emb, k = 8)
      val w = graft.sim.Pca.whitenScales(comps, evals)
      graft.sim.Pca.project(emb, mu, w)
        .agg((sum("pc1_e12") + sum("pc8_e12")).as("chk"))
        .collect()(0).getLong(0)
    }
    // SemDeDup in PCA-reduced space at the full vector corpus:
    // equi-depth grid bucketing over the top-4 PCA coordinates, 16
    // bins each -> 65k buckets with ~30 occupancy BY CONSTRUCTION
    // regardless of the data distribution (sign-LSH over the reduced
    // coords measured 577 s here: n planes in a k-dim space cap out at
    // sum_{i<=k} C(n-1, i) regions and concentrate the mass). Pairs
    // verify with the exact cosine on originals. The check counts
    // survivors.
    timed("emb_semdedup_pca", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      val (mu, comps) = graft.sim.Pca.trainOn(emb, k = 8)
      graft.sim.SimilarityQueries.semdedupPca(emb, mu, comps,
        gridDims = 4, bins = 16).count()
    }
    // exact heavy hitters at the full corpus (~56M tokens): Misra-Gries
    // sketch pass (k=511 entries per partition over the wire) + exact
    // verify of the bounded candidate set — against a full-vocabulary
    // groupBy this shuffles k keys instead of the token inventory. The
    // cleanDocs corpus, not docs: its four interleaved stopwords are
    // genuine heavy hitters (~7M+ occurrences each against a 140k
    // threshold), where docs' ~90k uniform hash tokens have none (an
    // empty result turned the first refresh's sum(freq) checksum NULL)
    timed("heavy_hitters", clearAfter = true) {
      graft.text.TextQueries.heavyHitters(cleanDocs(spark, nDocs, template), denom = 256)
        .agg(coalesce(sum("freq"), lit(0L))).collect()(0).getLong(0)
    }
    // SimHash hamming<=3 pair search at the full corpus: one 60-bit
    // fingerprint aggregate, DISTINCT hashes through the 4×15-bit band
    // buckets (the 1% planted dups and the 1100-doc template clique
    // collapse to one row each before the quadratic stage, re-expanding
    // only in the final compact hash→doc joins)
    timed("simhash_pairs", clearAfter = true) {
      graft.text.TextQueries.simhashPairs(docs(spark, nDocs, template)).count()
    }
    // prototype pruning at the full corpus: k=64 sample-trained
    // prototypes, codegen'd cell+min-dist kernels (map-only), then the
    // per-cluster rank window — parallelism = k (64 cells × ~31k rows
    // at 2M; production k is tens of thousands, same knob as SemDeDup)
    timed("emb_prototypes", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      val sample = emb.filter(col("vec_id") < graft.sim.Ivf.SAMPLE_N)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cents = graft.sim.Ivf.kmeans(sample, 64)
      graft.sim.SimilarityQueries.prototypesKeep(emb, cents, keepFrac = 0.5).count()
    }
    // kmeans‖ init at the full corpus: 3 D²-oversampling rounds (l=128,
    // one corpus pass each over the persisted min-dist frame) + the
    // per-candidate weight pass + the driver refit to k=64 — init past
    // the bounded sample's k ≤ SAMPLE_N cap. Check = assignment
    // checksum (parInit is deterministic, so passes must agree).
    timed("kmeans_par_init", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      val cents = graft.sim.Ivf.kmeansParInit(emb, k = 64, l = 128, rounds = 3)
      graft.sim.Ivf.withCell(emb, cents)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(sum(col("cell") * col("n"))).collect()(0).getLong(0)
    }
    // SemDeDup over two-level RVQ cells at the full corpus: 128×128 =
    // 16k effective cells at (128+128)·dim per row — a flat 16k-cell
    // argmin would cost 16k·dim (64× more); occupancy ~122, exact
    // cosine within cells, CC + min-id survivors. Threshold 0.5 keeps
    // the hash-uniform corpus's edge set sparse so the measurement is
    // the candidate scoring (the real cost), not a degenerate clique.
    // sampleN = 128·k1: the 256-row default measured 6.5k/16k occupied
    // cells, 64k max occupancy, and an 8.7e9-pair blowup (70× the
    // balanced 1.26e8 this sample size restores) — a codebook is only
    // as balanced as its training sample supports.
    timed("emb_semdedup_rvq", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      val (co, fi) = graft.sim.Ivf.trainRvqOn(emb, k1 = 128, k2 = 128,
        sampleN = 16384)
      val b = graft.sim.Ivf.withRvqCell(emb, co, fi)
        .select(col("vec_id"), col("embedding"), col("cell2").as("bucket"))
      val drop = graft.sim.SimilarityQueries.semdedupDropFromBuckets(b, threshold = 0.5)
      emb.join(broadcast(drop), Seq("vec_id"), "left_anti").count()
    }
    // compression-ratio signal at the full corpus: per-row DEFLATE
    // (thread-local Deflater), map-only. The check forces all columns.
    timed("txt_compress", clearAfter = true) {
      graft.text.TextQueries.compressionRatio(docs(spark, nDocs, template))
        .agg((sum("n_bytes") + sum("deflate_bytes") +
          sum(round(col("ratio") * 1e6).cast("long"))).as("chk"))
        .collect()(0).getLong(0)
    }
    // ---- df-capped winnow index A/B (the index-side fix for the
    // high-DF verify quadratic): the RECALL-FIRST consumer defaults
    // (minShared=1, no per-doc cap) that blow up over an exact index
    // on a boilerplate corpus stay bounded over a df-capped one. The
    // fixture is a FIXED 200k-doc corpus with a 5000-doc template
    // clique (the longdoc-family fixed-sub-corpus precedent): at the
    // main corpus's 1100-doc clique the quadratic hides under the
    // index-build cost (open ≈ capped ≈ 13 s at 2M — measured), while
    // 5000 clique members put ~250 batch × 4750 corpus = 1.2M
    // identical-text pairs through the open verify (two text joins
    // each) vs ~none over the capped index, whose df>64 stop
    // fingerprints never admit the clique as candidates. The cap's
    // timing win is THE measurement here; `editdist_matches` above
    // keeps the consumer-knobbed column (exact index, minShared=2 +
    // top-8 cap) at the full corpus.
    val AB_N = 200000L; val AB_TEMPLATE = 5000L
    timed("editdist_matches_open", clearAfter = true) {
      val all = docs(spark, AB_N, AB_TEMPLATE)
      graft.text.TextQueries.editDistMatchesAgainst(
        all.filter(col("doc_id") % 20 === 0), all.filter(col("doc_id") % 20 =!= 0))
        .count()
    }
    timed("editdist_matches_dfcap", clearAfter = true) {
      val all = docs(spark, AB_N, AB_TEMPLATE)
      graft.text.TextQueries.editDistMatchesAgainst(
        all.filter(col("doc_id") % 20 === 0), all.filter(col("doc_id") % 20 =!= 0),
        maxDf = 64)
        .count()
    }

    // ---- streaming-gate throughput at the incremental-ingest shape:
    // a 20k-doc micro-batch (10k exact corpus dups with remapped ids +
    // 10k genuinely novel docs) replayed through four representative
    // stream-static gates against PRE-MATERIALIZED 2M-doc indexes
    // (built untimed — production keeps them as bucketed tables; the
    // timed body is query start + the replay micro-batches + the
    // watermark-closing sentinel batch, i.e. what ingest pays per
    // batch). maxFilesPerTrigger=1 pins the file→micro-batch mapping so
    // append-mode aggregates close deterministically inside the timed
    // window. Without these entries a stream-static probe plan
    // regression (e.g. the static side re-shuffling per micro-batch)
    // would be invisible to the gate.
    if (only.isEmpty || only.exists(_.startsWith("stream_"))) {
      val corpus = docs(spark, nDocs, template)
      val gateBatch = corpus.filter(col("doc_id") % 200 === 7)
        .select((col("doc_id") + nDocs).as("doc_id"),
          lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"),
          col("text"))
        .union(spark.range(10000).select(
          (col("id") + 2L * nDocs).as("doc_id"),
          lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"),
          concat_ws(" ", (0 until 18).map(k =>
            concat(lit(s"new${k}_"), pmod(hash(col("id"), lit(k + 137)), lit(5000)))): _*)
            .as("text")))
      val sentinel = spark.range(1).select(
        (col("id") + 3L * nDocs).as("doc_id"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 02:00:00")).as("ts"),
        lit("sentinel advancing the watermark").as("text"))
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      // one staged drop-dir for all gates: b1 = the 20k-doc batch,
      // b2 = the sentinel (staged second → later mtime → second
      // micro-batch under maxFilesPerTrigger=1)
      val dropDir = java.nio.file.Files.createTempDirectory("graft_gate_replay")
      // file-source ordering is mtime-based: stamp explicit, strictly
      // increasing mtimes (no sleep — coarse-mtime filesystems would
      // make a 1 s sleep fragile and it costs wall-clock for nothing)
      def stage(df: DataFrame, name: String, mtimeMs: Long): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("graft_gate_tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listing = java.nio.file.Files.list(tmp)
        val part =
          try listing.filter(_.toString.endsWith(".parquet")).findFirst.get
          finally listing.close()
        val dest = dropDir.resolve(name)
        java.nio.file.Files.move(part, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      }
      stage(gateBatch, "b1.parquet", 1000000000000L)
      stage(sentinel, "b2.parquet", 1000000002000L)
      var gateSeq = 0
      def replayCount(gate: DataFrame => DataFrame): Long = {
        gateSeq += 1
        val qn = s"gate_replay_$gateSeq"
        val in = spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", "1").parquet(dropDir.toString)
        val q = gate(in).writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try { q.processAllAvailable(); spark.table(qn).count() }
        finally { q.stop(); spark.sql(s"DROP VIEW IF EXISTS $qn") }
      }
      def wants(name: String) = only.isEmpty || only(name)
      // every probe-keyed index is a BUCKETED catalog table (the
      // production layout the writers exist for): the static side of
      // each per-micro-batch stream-static join carries no Exchange —
      // only the batch's rows re-cluster to the bucket layout. An
      // in-memory (materializeCompact) static side would re-shuffle the
      // corpus-sized index EVERY micro-batch, which is exactly the plan
      // regression these entries exist to catch.
      def withTable(table: String)(write: => Unit)(body: DataFrame => Unit): Unit = {
        write
        try body(spark.table(table))
        finally spark.sql(s"DROP TABLE IF EXISTS $table")
      }
      // LSH gate: band-bucket candidates + exact-Jaccard verify per
      // micro-batch against the (band, sig, hashes) corpus index
      if (wants("stream_lsh_gate"))
        withTable("bl_lsh_idx")(
          graft.text.TextQueries.writeLshIndexTable(corpus, "bl_lsh_idx")) { idx =>
          timed("stream_lsh_gate") {
            replayCount(in => graft.streaming.StreamOps.streamingLshAgainst(in, idx))
          }
        }
      // char-substring scrub gate: any-offset L=100 window hashes probe
      // the distinct-hash index, matched spans scrub per document
      if (wants("stream_substr_chars_gate"))
        withTable("bl_char_idx")(
          graft.text.TextQueries.writeSubstringCharsIndexTable(corpus,
            "bl_char_idx", L = 100, portableHash = false)) { idx =>
          timed("stream_substr_chars_gate") {
            replayCount(in => graft.streaming.StreamOps.streamingSubstringCharsGate(
              in, idx, L = 100, portableHash = false))
          }
        }
      // edit-distance gate over the DF-CAPPED winnow index (the
      // production configuration §editdist_matches_dfcap measures in
      // batch form): candidates bounded at df<=64 per fingerprint
      // before the banded-DP verify
      if (wants("stream_editdist_gate"))
        withTable("bl_win_idx")(
          graft.text.TextQueries.writeWinnowIndexTable(corpus, "bl_win_idx",
            maxDf = 64)) { idx =>
          val corpusText = prebuild(corpus)
          timed("stream_editdist_gate") {
            replayCount(in => graft.streaming.StreamOps.streamingEditDistGate(
              in, idx, corpusText, maxDf = 64))
          }
          releasePrebuilt()
        }
      // Bloom gate: persisted stamped bits table, one dense word-map
      // row broadcast per micro-batch; survivors = the 10k novel docs
      if (wants("stream_bloom_gate")) {
        val bloomBits = prebuild(graft.text.TextQueries.bloomBuild(corpus))
        timed("stream_bloom_gate") {
          replayCount(in => graft.streaming.StreamOps.streamingBloomGate(
            in, bits = Some(bloomBits)))
        }
        releasePrebuilt()
      }
    }

    // ---- ANN recall gates at the full vector corpus: committed
    // recall_ppm floors next to the time budgets (min_outputs in
    // BENCH_LARGE.json) — a centroid/probe/codebook change that loses
    // recall FAILS the gate even if it runs faster. nQ=16 queries,
    // k=10, brute-force ground truth recomputed in-entry (ONLY-mode
    // self-contained, the ann_recall pattern).
    timed("ivf_recall_p1", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      val sample = emb.filter(col("vec_id") < graft.sim.Ivf.SAMPLE_N)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cents = graft.sim.Ivf.kmeans(sample, 8)
      graft.sim.SimilarityQueries.annRecallOn(emb, cents, nQ = 16, k = 10,
          nprobe = 1)
        .agg((sum("n_hit") * lit(1000000L) / lit(160L)).cast("long"))
        .collect()(0).getLong(0)
    }
    timed("ivf_recall_p2", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      val sample = emb.filter(col("vec_id") < graft.sim.Ivf.SAMPLE_N)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cents = graft.sim.Ivf.kmeans(sample, 8)
      graft.sim.SimilarityQueries.annRecallOn(emb, cents, nQ = 16, k = 10,
          nprobe = 2)
        .agg((sum("n_hit") * lit(1000000L) / lit(160L)).cast("long"))
        .collect()(0).getLong(0)
    }
    timed("ivfpq_recall", clearAfter = true) {
      val emb = embeddings(spark, nVecs)
      val sample = emb.filter(col("vec_id") < graft.sim.Ivf.SAMPLE_N)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cents = graft.sim.Ivf.kmeans(sample, 8)
      val cbs = graft.sim.Pq.trainCodebooksOn(sample, cents)
      graft.sim.SimilarityQueries.ivfPqRecallOn(emb, cents, cbs, nQ = 16, k = 10)
        .agg((sum("n_hit") * lit(1000000L) / lit(160L)).cast("long"))
        .collect()(0).getLong(0)
    }

    // ---- PRODUCTION-GEOMETRY ANN: nlist ≈ √N (1414 cells over 2M
    // vectors), the geometry a 100 TB deployment actually runs — the
    // nlist=8 entries above gate a toy geometry where cell-boundary
    // loss dominates and a recall regression at real geometry is
    // invisible. The production split is explicit here: ONE offline
    // index build persisted as a cell-bucketed cell-sorted catalog
    // table (ivf_sqrt_assign times it), exact ground truth computed
    // ONCE untimed (it is the audit, not the engine, and is identical
    // across rungs), then an nprobe ladder (1/4/16) whose entries time
    // the QUERY path — probed cells collected bounded (nQ·nprobe ids)
    // and pushed as an `isin` on the stored cell column, so each rung
    // reads O(nprobe·N/nlist) rows: the inverted-file access shape.
    // Every rung seals BOTH a time budget and a min_outputs recall
    // floor; the IVF-PQ pair (encode pass + multi-probe ADC recall at
    // the middle rung) decomposes quantization loss from cell-boundary
    // loss at the same geometry.
    locally {
      val sqrtNames = Seq("ivf_sqrt_assign", "ivf_sqrt_recall_p1",
        "ivf_sqrt_recall_p4", "ivf_sqrt_recall_p16",
        "ivfpq_sqrt_encode", "ivfpq_sqrt_recall",
        "ivfpq_sqrt_recall_s256", "ivfpq_sqrt_encode_k256",
        "ivfpq_sqrt_recall_k256", "ivfpq_sqrt_recall_k256_s256",
        "stream_ann_gate")
      def w(n: String) = only.isEmpty || only(n)
      if (sqrtNames.exists(w)) {
        val emb = embeddings(spark, nVecs)
        val nlist = 1414 // ≈ sqrt(2M)
        // production recipe: train the coarse quantizer on a bounded
        // sample (~6 pts/cell here; driver state 8192×64 doubles = 4 MB)
        val sampleN = 8192
        val cents = graft.sim.Ivf.trainCentroidsOn(emb, nlist, sampleN, iters = 4)
        val sample = emb.filter(col("vec_id") < sampleN)
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toArray)
        val cbs = graft.sim.Pq.trainCodebooksOn(sample, cents)
        val nQ = 16
        val k = 10
        def writeAssigned(): Unit = graft.ops.Scale.writeBucketed(
          graft.sim.Ivf.withCell(emb, cents), "cell", 64, "bl_ivf_sqrt")
        def writeCoded(): Unit = graft.ops.Scale.writeBucketed(
          graft.sim.Pq.withResidualFast(spark.table("bl_ivf_sqrt"), cents)
            .withColumn("codes", graft.sim.Pq.encodeCol(col("res"), cbs))
            .drop("res"),
          "cell", 64, "bl_ivfpq_sqrt")
        try {
          // the index build IS the timed body: one full-corpus argmin
          // pass at nlist=1414 (early-abandoning codegen kernel) + the
          // bucketed write — the offline cost a deployment pays once
          timed("ivf_sqrt_assign") {
            writeAssigned()
            spark.table("bl_ivf_sqrt")
              .agg(sum(col("cell").cast("long"))).collect()(0).getLong(0)
          }
          // ONLY-mode self-containment: a rung selected without the
          // assign entry builds its input untimed
          if (!w("ivf_sqrt_assign")) writeAssigned()
          // ground truth once, untimed (shared by all RECALL rungs) —
          // but only when a recall rung is actually selected: the
          // brute-force 2M×nQ cosine scan is exactly the untimed
          // minutes ONLY mode exists to avoid, and assign/encode/
          // stream_ann_gate never read it
          val needsGt = Seq("ivf_sqrt_recall_p1", "ivf_sqrt_recall_p4",
            "ivf_sqrt_recall_p16", "ivfpq_sqrt_recall",
            "ivfpq_sqrt_recall_s256", "ivfpq_sqrt_recall_k256",
            "ivfpq_sqrt_recall_k256_s256").exists(w)
          if (needsGt)
            graft.sim.SimilarityQueries.exactTopkOf(emb, nQ, k)
              .write.mode("overwrite").format("parquet")
              .saveAsTable("bl_ivf_sqrt_gt")
          Seq(1, 4, 16).foreach { np =>
            timed(s"ivf_sqrt_recall_p$np") {
              graft.sim.SimilarityQueries.annRecallOnAssigned(
                  spark.table("bl_ivf_sqrt"), spark.table("bl_ivf_sqrt_gt"),
                  cents, nQ = nQ, k = k, nprobe = np)
                .agg((sum("n_hit") * lit(1000000L) / lit(nQ * k)).cast("long"))
                .collect()(0).getLong(0)
            }
          }
          // PQ encode pass at the same geometry: per-cell residuals
          // (reference-object kernel) + m=8 codebook argmin, persisted
          // next to the uncompressed lists
          timed("ivfpq_sqrt_encode") {
            writeCoded()
            spark.table("bl_ivfpq_sqrt")
              .agg(sum(element_at(col("codes"), 1).cast("long")))
              .collect()(0).getLong(0)
          }
          if (!w("ivfpq_sqrt_encode") &&
              Seq("ivfpq_sqrt_recall", "ivfpq_sqrt_recall_s256").exists(w))
            writeCoded()
          timed("ivfpq_sqrt_recall") {
            graft.sim.SimilarityQueries.ivfPqRecallOnAssigned(
                spark.table("bl_ivfpq_sqrt"), spark.table("bl_ivf_sqrt_gt"),
                cents, cbs, nQ = nQ, k = k, nprobe = 4)
              .agg((sum("n_hit") * lit(1000000L) / lit(nQ * k)).cast("long"))
              .collect()(0).getLong(0)
          }
          // ---- quantization-loss ladder (the r15 verdict's weakest
          // number: 34.4% vs 63.1% uncompressed at nprobe=4 = 28.7
          // points of PQ loss). Two independent levers, measured
          // separately and combined at the same geometry:
          //   - SHORTLIST (s256): how many ADC-ranked candidates get
          //     the exact re-rank — recovers true neighbors the noisy
          //     ADC ranking buried below rank 64;
          //   - codebook capacity (k256): kcodes 16 → the customary
          //     256 — the 8192-vector training sample populates a
          //     full-capacity codebook (the sf-scale KCODES=16 was
          //     sized for a 256-vector sample), shrinking the ADC
          //     noise itself. Corpus layout cost is UNCHANGED (8
          //     uint8-range codes per vector either way).
          timed("ivfpq_sqrt_recall_s256") {
            graft.sim.SimilarityQueries.ivfPqRecallOnAssigned(
                spark.table("bl_ivfpq_sqrt"), spark.table("bl_ivf_sqrt_gt"),
                cents, cbs, nQ = nQ, k = k, nprobe = 4, shortlist = 256)
              .agg((sum("n_hit") * lit(1000000L) / lit(nQ * k)).cast("long"))
              .collect()(0).getLong(0)
          }
          // lazy: driver-side training over the 8192-residual sample is
          // ~10 s of scalar work — only pay it when a k256 entry runs
          lazy val cbs256 = graft.sim.Pq.trainCodebooksOn(sample, cents, kcodes = 256)
          def writeCoded256(): Unit = graft.ops.Scale.writeBucketed(
            graft.sim.Pq.withResidualFast(spark.table("bl_ivf_sqrt"), cents)
              .withColumn("codes", graft.sim.Pq.encodeCol(col("res"), cbs256))
              .drop("res"),
            "cell", 64, "bl_ivfpq_sqrt_k256")
          // encode pass at full codebook capacity: 16x the argmin
          // candidates per subspace, kept affordable by the kernel's
          // early abandonment (the k=16 entry times the same plan at
          // toy capacity — the pair measures the capacity cost)
          timed("ivfpq_sqrt_encode_k256") {
            writeCoded256()
            spark.table("bl_ivfpq_sqrt_k256")
              .agg(sum(element_at(col("codes"), 1).cast("long")))
              .collect()(0).getLong(0)
          }
          if (!w("ivfpq_sqrt_encode_k256") &&
              Seq("ivfpq_sqrt_recall_k256", "ivfpq_sqrt_recall_k256_s256").exists(w))
            writeCoded256()
          timed("ivfpq_sqrt_recall_k256") {
            graft.sim.SimilarityQueries.ivfPqRecallOnAssigned(
                spark.table("bl_ivfpq_sqrt_k256"), spark.table("bl_ivf_sqrt_gt"),
                cents, cbs256, nQ = nQ, k = k, nprobe = 4)
              .agg((sum("n_hit") * lit(1000000L) / lit(nQ * k)).cast("long"))
              .collect()(0).getLong(0)
          }
          timed("ivfpq_sqrt_recall_k256_s256", clearAfter = true) {
            graft.sim.SimilarityQueries.ivfPqRecallOnAssigned(
                spark.table("bl_ivfpq_sqrt_k256"), spark.table("bl_ivf_sqrt_gt"),
                cents, cbs256, nQ = nQ, k = k, nprobe = 4, shortlist = 256)
              .agg((sum("n_hit") * lit(1000000L) / lit(nQ * k)).cast("long"))
              .collect()(0).getLong(0)
          }
          // streaming ANN gate at the SAME production geometry — the
          // fifth member of the streaming-gate family (lsh / substr /
          // editdist / bloom): a 20k-vector micro-batch probes the
          // cell-bucketed 2M-vector assigned table through
          // streamingAnnAgainst (stateless stream-static join, strict
          // stamp check, nprobe=4). No sentinel file: the gate is
          // zero-state, so nothing waits on a watermark. The batch
          // vectors are EXACT twins of corpus ids 0..2000 (same hash
          // embedding, shifted vec_id) and the threshold sits at 0.8,
          // so the committed output is the 2000 planted duplicates —
          // a recall observable — while the entry times the honest
          // in-cell scoring fan-out: nprobe x N/nlist ~ 5656
          // candidates PER QUERY (11M wide rows per micro-batch; the
          // first cut used 20k queries and the default 0.25
          // threshold, which pushed 113M candidate rows through the
          // join and >1 GB of near-threshold pairs into the memory
          // sink — audit-sink artifacts, not the production shape).
          if (w("stream_ann_gate")) {
            val vecSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("vec_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("ts",
                org.apache.spark.sql.types.TimestampType),
              org.apache.spark.sql.types.StructField("embedding",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.FloatType))))
            val vecDir = java.nio.file.Files.createTempDirectory("graft_ann_gate")
            val batch = embeddings(spark, 2000L).select(
              (col("vec_id") + nVecs).as("vec_id"),
              lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"),
              col("embedding"))
            val tmp = java.nio.file.Files.createTempDirectory("graft_ann_gate_tmp")
            batch.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            val listing = java.nio.file.Files.list(tmp)
            val part =
              try listing.filter(_.toString.endsWith(".parquet")).findFirst.get
              finally listing.close()
            java.nio.file.Files.move(part, vecDir.resolve("b1.parquet"))
            timed("stream_ann_gate") {
              val in = spark.readStream.schema(vecSchema).parquet(vecDir.toString)
              val q = in.transform(s => graft.streaming.StreamOps
                  .streamingAnnAgainst(s, spark.table("bl_ivf_sqrt"), cents,
                    threshold = 0.8, nprobe = 4))
                .writeStream.format("memory").queryName("ann_gate_replay")
                .outputMode("append").start()
              try { q.processAllAvailable(); spark.table("ann_gate_replay").count() }
              finally { q.stop(); spark.sql("DROP VIEW IF EXISTS ann_gate_replay") }
            }
          }
        } finally {
          spark.sql("DROP TABLE IF EXISTS bl_ivf_sqrt")
          spark.sql("DROP TABLE IF EXISTS bl_ivf_sqrt_gt")
          spark.sql("DROP TABLE IF EXISTS bl_ivfpq_sqrt")
          spark.sql("DROP TABLE IF EXISTS bl_ivfpq_sqrt_k256")
        }
      }
    }

    // the composed cleaning pipeline — decontaminate + quality filter +
    // LSH dedup as ONE plan with the cleaned intermediate persisted —
    // at the full corpus size: the flagship user query gets a committed
    // corpus-scale number and a regression budget like its parts. The
    // benchmark/eval set is ~2k corpus docs (ids ending in 777, clear of
    // the template clique), so decontamination drops those plus the rare
    // hash-collision shingle twins; ~10% of docs fail the word-count
    // bound; dedup then resolves the planted pairs + the template clique.
    // Runs LAST (appended, not inserted): it is the most memory-hungry
    // query in the suite, and even with its caches cleared the heap
    // pressure it leaves behind measurably slowed the query that
    // followed it — appending preserves every older query's measurement
    // conditions round over round.
    timed("corpus_clean", clearBetween = true, clearAfter = true) {
      val corpus = cleanDocs(spark, nDocs, template)
      val bench = corpus
        .filter(col("doc_id") % 1000 === 777 && col("doc_id") >= template)
        .select((col("doc_id") + nDocs).as("doc_id"), col("text"))
      graft.text.TextQueries.corpusClean(corpus, bench,
        persistLineage = persist).count()
    }
    // the end-to-end curate-tokenize-pack pipeline at the full corpus:
    // corpus_clean survivors train a 1000-merge BPE, encode, and pack
    // by encoded counts — the flagship composition gets its own
    // committed number and budget like its parts (also appended after
    // corpus_clean: it persists the survivor corpus and is the only
    // query heavier than corpus_clean). The check sums chunk slice
    // lengths = total encoded tokens of the cleaned corpus.
    timed("corpus_tokenize", clearBetween = true, clearAfter = true) {
      val corpus = cleanDocs(spark, nDocs, template)
      val bench = corpus
        .filter(col("doc_id") % 1000 === 777 && col("doc_id") >= template)
        .select((col("doc_id") + nDocs).as("doc_id"), col("text"))
      graft.text.TextQueries.corpusTokenize(corpus, bench,
        budget = 2048L, numMerges = 1000, persistLineage = persist)
        .agg(sum("off_len")).collect()(0).getLong(0)
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    val cs = checks.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.sum
    // ONLY mode may not have measured the histogram pair
    val evPerSec =
      if (results.contains("hist_3d_rel") && results.contains("hist_3d_shard"))
        (2.0 * rows / (results("hist_3d_rel") + results("hist_3d_shard"))).toLong
      else 0L
    // adaptive_cleared: names that only cleared their budget via
    // re-passes this run (auditable weather-pass trail, see timed());
    // run_seals: THIS run's (calib, calib_str) stamped per measured
    // entry — copy into the committed baseline's `seals` when merging
    // this run's numbers so every budget carries per-entry provenance
    val ac = adaptiveCleared.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rs = results.keys.map(k =>
      "\"" + k + "\":[" + f2(calibSec) + "," + f2(calibStrSec) + "]")
      .mkString("{", ",", "}")
    println(s"""{"metric":"bench_large","value":${f2(total)},"unit":"sec","rows":$rows,"docs":$nDocs,"vecs":$nVecs,"events_per_sec":$evPerSec,"calib":${f2(calibSec)},"calib_str":${f2(calibStrSec)},"adaptive_cleared":$ac,"run_seals":$rs,"queries":$qs,"outputs":$cs}""")

    // ---- regression gate against the committed baseline -------------
    baseOpt.foreach { base =>
      if (base.rows != rows || base.docs != nDocs || base.vecs != nVecs) {
        System.err.println(s"gate skipped: run sizes ($rows rows, $nDocs docs, $nVecs vecs) " +
          s"differ from baseline (${base.rows}, ${base.docs}, ${base.vecs})")
      } else {
        val regs = regressions(base.queries, results.toMap, tol,
          baseCalib = base.calib, freshCalib = Some(calibSec),
          baseCalibStr = base.calibStr, freshCalibStr = Some(calibStrSec),
          seals = base.seals, minOutputs = base.minOutputs,
          freshOutputs = checks.toMap, graceSec = grace)
        // an entry timed here but absent from the committed baseline is
        // an UNGATED query — the gate compares baseline->results, so it
        // would silently skip the new entry forever (simhash_incr ran
        // unprotected for three rounds this way). Fail as loudly as a
        // regression: seal the number in the same change that adds the
        // timed block.
        val unsealed = results.keySet -- base.queries.keySet
        if (unsealed.nonEmpty)
          System.err.println(
            s"UNSEALED ${unsealed.toSeq.sorted.mkString(", ")}: timed but " +
              "missing from the committed baseline — merge this run's " +
              "numbers (with provenance) so the gate protects them")
        if (regs.nonEmpty || unsealed.nonEmpty) {
          regs.foreach(r => System.err.println(s"REGRESSION $r"))
          sys.exit(1)
        }
        val scaleNote = base.calib.map(b =>
          s" (host-speed scale num ${f2(calibSec / b)}" +
            base.calibStr.map(bs => s", str ${f2(calibStrSec / bs)}").getOrElse("") + ")")
          .getOrElse("")
        System.err.println(s"gate ok: ${results.size} queries within ${f2(tol)} x of $baselinePath$scaleNote")
      }
    }
    if (baseOpt.isEmpty && baselinePath.nonEmpty)
      System.err.println(s"gate skipped: no baseline at $baselinePath")
  }
}
