package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Heavy hitters, SimHash banded dedup (batch + incremental), BM25.
  *
  * Mixed into [[TextQueries]] (`this: TextQueries.type`): one of the
  * line-range-preserving module splits of the original single file —
  * zero behavior change, member order (and therefore val
  * initialization order) identical to the pre-split layout.
  */
private[text] trait TextSimhashOps { this: TextQueries.type =>
  /** Exact heavy hitters — every token with frequency > n/`denom` over
    * the corpus token stream, with exact counts — WITHOUT a
    * full-vocabulary groupBy: pass 1 runs the [[MisraGriesAgg]] sketch
    * (k-bounded state, the Misra-Gries guarantee covers every token
    * above n/(k+1) ⊇ the n/denom targets since k+1 >= denom) plus the
    * stream length in one aggregate; the bounded candidate array
    * collects to the driver (the cached-literal discipline) and pass 2
    * counts ONLY candidate tokens (an InSet filter at the scan, so the
    * verify shuffle is k keys, not the vocabulary). Sketch counts are
    * merge-order-dependent; the published counts are the exact pass-2
    * values — deterministic under any partitioning, spec-pinned. */
  def heavyHitters(docs: DataFrame, denom: Int, k: Int = 511): DataFrame = {
    require(denom >= 2 && k + 1 >= denom,
      s"Misra-Gries guarantee needs k+1 >= denom, got k=$k denom=$denom")
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val summary = toks
      .agg(MisraGriesAgg.mgCandidates(col("tok"), k).as("cands"),
        count(lit(1)).as("n")).head()
    val cands = summary.getSeq[String](0)
    val n = summary.getLong(1)
    if (cands.isEmpty) return toks.select(col("tok"), lit(0L).as("freq")).limit(0)
    toks.filter(col("tok").isin(cands: _*))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      // integer comparison, never a divided threshold: freq·denom > n
      .filter(col("freq") * lit(denom.toLong) > lit(n))
  }

  /** 32-bit SimHash fingerprints — one pass, 32 parallel bit-weight
    * aggregates (no ×32 row explode). */
  def simhashFrame(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", phash(col("tok")) % lit(4294967296L))
    val ws = (0 until 32).map { b =>
      sum(when(expr(s"(h >> $b) & 1") === 1L, 1).otherwise(-1)).as(s"w$b")
    }
    val fold = (0 until 32).map(b => when(col(s"w$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    tok.groupBy("doc_id").agg(ws.head, ws.tail: _*)
      .select(col("doc_id"), fold.as("simhash"))
  }

  /** 60-bit SimHash fingerprints (the full 60-bit phash as the
    * per-token feature hash) — the WIDE twin of [[simhashFrame]]: a
    * 32-bit fingerprint's 8-bit bands cap the pair search at 4·2^8 =
    * 1024 buckets (occupancy n/256 → a quadratic wall by ~100k docs);
    * 60 bits give 4 bands of 15 with 131k buckets. Same one-pass
    * 60-parallel-bit-weight aggregate, no ×60 explode. */
  def simhashFrameWide(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", phash(col("tok")))
    val ws = (0 until 60).map { b =>
      sum(when(expr(s"(h >> $b) & 1") === 1L, 1).otherwise(-1)).as(s"w$b")
    }
    val fold = (0 until 60).map(b => when(col(s"w$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    tok.groupBy("doc_id").agg(ws.head, ws.tail: _*)
      .select(col("doc_id"), fold.as("simhash"))
  }

  /** SimHash near-duplicate pairs at hamming distance <= `maxHamming`
    * (Manku et al. 2007, "Detecting near-duplicates for web crawling"):
    * the 60-bit fingerprint splits into 4 bands of 15 bits — a pair
    * within hamming 3 shares >= 1 band verbatim (pigeonhole), so
    * banding is LOSSLESS at hamming <= 3 (spec-pinned against the
    * quadratic reference) while candidates meet in compact band-key
    * equi-join buckets ([[graft.ops.Scale.selfPairs]], hot bands
    * triangle-salted).
    *
    * Scale shape: fingerprints collapse to DISTINCT hashes before the
    * quadratic stage — exact-duplicate texts (the dominant duplication
    * mode) cost one row each there, and a 1000-doc identical-text
    * clique re-expands only in the final hash→doc joins, which shuffle
    * compact (hash, doc_id) longs. Within-group (hamming-0) pairs come
    * from the same salted selfPairs machinery keyed on the hash. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 bands over 60 bits guarantee recall only to hamming 3, got $maxHamming")
    // multi-consumer guard: selfPairs reads its input from 5 subtrees
    // (skew detection + cold/hot sides) — checkpoint the aggregate once
    val sh = simhashFrameWide(docs).localCheckpoint()
    // checkpointed for the same reason: selfPairs consumes its input
    // from five subtrees, which would re-run the distinct aggregate
    val hs = sh.select(col("simhash").as("h")).distinct().localCheckpoint()
    val banded = hs
      .select(col("h"), explode(expr("sequence(0, 3)")).as("b"))
      .select(expr("b * 32768 + ((h >> (15 * b)) & 32767)").as("bk"), col("h"))
    val hPairs = graft.ops.Scale.selfPairs(banded, Seq("bk"), "h")
      .select(col("h_1"), col("h_2")).distinct()
      .withColumn("hamming", expr("CAST(bit_count(h_1 ^ h_2) AS INT)"))
      .filter(col("hamming") <= maxHamming && col("hamming") > 0)
    val cross = hPairs
      .join(sh.select(col("simhash").as("h_1"), col("doc_id").as("da")), Seq("h_1"))
      .join(sh.select(col("simhash").as("h_2"), col("doc_id").as("db")), Seq("h_2"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming"))
    val same = graft.ops.Scale.selfPairs(
        sh.select(col("simhash").as("h"), col("doc_id")), Seq("h"), "doc_id")
      .select(col("doc_id_1").as("d1"), col("doc_id_2").as("d2"),
        lit(0).as("hamming"))
    cross.union(same)
  }

  /** Per-row HOF twin of [[simhashFrameWide]] over a bound `hs` column
    * (the distinct-token 60-bit hashes): bit b of the result is set iff
    * Σ ±1 over the hashes' bit b is positive — identical fingerprints
    * to the explode+groupBy aggregate (sum order is irrelevant to a
    * sign; parity spec-pinned). The per-row form is what a streaming
    * micro-batch evaluates (no explode/groupBy before a stateful op);
    * the batch aggregate form stays the corpus-scale path. */
  private[graft] val simhashWideOfHs: String =
    """aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, b) ->
      |  acc + IF(aggregate(hs, 0, (a, h) -> a + IF((h >> b) & 1 = 1, 1, -1)) > 0,
      |    shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))""".stripMargin

  /** The distinct-token 60-bit hash array of `text` (binds the `hs`
    * column [[simhashWideOfHs]] folds over). */
  private[graft] val simhashHashesExpr: String =
    s"transform(array_distinct(split(text, ' ')), t -> ${phashFrag("t")})"

  /** Persistable banded fingerprint index of a corpus — the simhash
    * member of the incremental-dedup index family (next to
    * `bandSignatures`, `bloomBuild`, `substringIndex`, `corpusIndex`):
    * (bk, h, dup_of) rows, 4 per document. Write it bucketed by `bk`
    * (the sorted/bucketed corpus-writer discipline) and the per-batch
    * probe join's static side carries no Exchange. */
  def simhashIndex(corpus: DataFrame, buildId: Option[String] = None): DataFrame =
    simhashFrameWide(corpus)
      .select(col("doc_id").as("dup_of"), col("simhash").as("h"),
        explode(expr("sequence(0, 3)")).as("b"))
      .select(IndexContract.simhashBand.stamped(
          expr("b * 32768 + ((h >> (15 * b)) & 32767)"), buildId),
        col("h"), col("dup_of"))

  /** Persist [[simhashIndex]] as a BUCKETED catalog table (bucketed +
    * sorted by `bk`, the band-bucket probe key) — the production
    * layout for the simhash member: the batch's four exploded band
    * keys meet the static side Exchange-free. Stamps kind + band
    * geometry + one build id. Rebuild per corpus version. */
  def writeSimhashIndexTable(corpus: DataFrame, table: String,
                             buckets: Int = 64,
                             buildId: Option[String] = None): Unit =
    IndexContract.simhashBand.write(simhashIndex(corpus, IndexContract.buildId(buildId)),
      table, buckets)

  /** ALL batch-vs-corpus matches at hamming <= `maxHamming` —
    * (batch_id, dup_of, hamming). Candidates meet in the banded index
    * buckets (lossless at hamming <= 3, the [[simhashPairs]]
    * pigeonhole); the corpus contributes only its compact (bk, h,
    * dup_of) index, never text. Public so the streaming gate has a
    * batch-parity reference. */
  def simhashMatchesAgainst(batch: DataFrame, corpus: DataFrame,
                            maxHamming: Int = 3,
                            corpusIndex: Option[DataFrame] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 bands over 60 bits guarantee recall only to hamming 3, got $maxHamming")
    // a handed-in index must carry THIS probe's band geometry (4×15
    // over 60 bits — a different banding puts fingerprints in buckets
    // this probe never visits, breaking the pigeonhole recall
    // guarantee silently) and, when both frames are build-stamped,
    // come from THIS corpus snapshot
    corpusIndex.foreach { idx =>
      IndexContract.simhashBand.check(idx)
      IndexContract.simhashBand.checkBuild(idx, corpus)
    }
    val cIdx = corpusIndex.getOrElse(simhashIndex(corpus))
    val b = simhashFrameWide(batch).localCheckpoint()
      .select(col("doc_id").as("batch_id"), col("simhash").as("bh"),
        explode(expr("sequence(0, 3)")).as("b"))
      .select(expr("b * 32768 + ((bh >> (15 * b)) & 32767)").as("bk"),
        col("batch_id"), col("bh"))
    b.join(cIdx, Seq("bk"))
      .withColumn("hamming", expr("CAST(bit_count(bh ^ h) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("batch_id"), col("dup_of"), col("hamming"))
      .distinct()
  }

  /** Incremental simhash dedup verdicts: each batch document's BEST
    * corpus near-duplicate (min hamming, ties -> min dup_of) — the
    * fuzzy-fingerprint member of the incremental family, mirroring
    * [[lshPairsAgainst]]'s (batch_id, dup_of, score) contract. */
  def simhashDedupAgainst(batch: DataFrame, corpus: DataFrame,
                          maxHamming: Int = 3,
                          corpusIndex: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val best = Window.partitionBy("batch_id")
      .orderBy(col("hamming"), col("dup_of"))
    simhashMatchesAgainst(batch, corpus, maxHamming, corpusIndex)
      .withColumn("rn", row_number().over(best)).filter(col("rn") === 1)
      .select(col("batch_id"), col("dup_of"), col("hamming"))
  }

  /** BM25 (Robertson/Sparck Jones probabilistic retrieval; the Okapi
    * k1/b form) of a LITERAL term query against the corpus. All corpus
    * statistics the formula needs — N, total token length (for avgdl),
    * and per-term document frequencies — compute in ONE one-row
    * aggregate that broadcasts onto a map-only scoring pass (the token
    * array binds once per row; per-term tf is a HOF count over it), so
    * the whole query costs two corpus scans and zero data shuffles;
    * top-k plans as a distributed TakeOrdered. ln() is 1-ulp across
    * libms → the score quantizes at 1e-6 (the tfidf discipline).
    * avgdl never materializes as a divided double: dl/avgdl evaluates
    * as dl·N/total_len from exact integer inputs. */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75, topK: Int = 10): DataFrame = {
    require(terms.nonEmpty && terms.forall(t =>
      t.nonEmpty && t.forall(c => c.isLetterOrDigit || c == '_')),
      s"terms must be plain identifiers, got $terms")
    val withToks = docs.withColumn("toks", split(col("text"), " "))
    val statAggs = Seq(count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).as("total_len")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("toks"), t), 1L).otherwise(0L)).as(s"df$i")
      }
    val stats = withToks.agg(statAggs.head, statAggs.tail: _*)
    val base = withToks.crossJoin(broadcast(stats))
      .withColumn("dl", size(col("toks")))
    val contribs = terms.zipWithIndex.map { case (t, i) =>
      val tf = expr(s"CAST(size(filter(toks, x -> x = '$t')) AS DOUBLE)")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("dl") * col("n_docs") / col("total_len")))
    }
    base.withColumn("score", round(contribs.reduce(_ + _), 6))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("score"))
  }
}
