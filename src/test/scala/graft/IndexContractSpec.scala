package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.TextQueries

/** Index-contract stamps for the NON-jaccard incremental families —
  * winnow, simhash, exact-substring (token and char) — the same
  * silent-recall-loss class `IndexContract.check`/`checkBuild` close
  * for the jaccard/contain families one module over: a
  * persistable index side built with different parameters (winnow k/w,
  * substring window length, simhash band geometry), a different hash
  * kind, a stripped schema, or a different corpus VERSION silently
  * under-matches (often to zero) instead of failing. Every test here
  * feeds a wrong index to a consumer and asserts the LOUD plan-time
  * failure; a compatible handed-in index must stay result-identical to
  * the consumer's own build.
  */
class IndexContractSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val corpus = docs.filter(col("doc_id") % 2 === 0)
  private lazy val batch = docs.filter(col("doc_id") % 2 === 1)

  // cast+alias rebuilds the column without its metadata — the
  // schema-stripping transform class the strict mode exists for
  private def stripped(df: org.apache.spark.sql.DataFrame, c: String) = {
    val out = df.withColumn(c, col(c).cast(df.schema(c).dataType.sql))
    assert(out.schema(c).metadata.json == "{}", "fixture must actually strip")
    out
  }

  test("winnow: wrong-parameter index (k/w) fails loudly; stripped fails strict; escape hatch is result-identical") {
    val idx34 = TextQueries.winnowIndex(corpus, k = 3, w = 4)
    assert(idx34.schema("fp").metadata.getLong("graft.index.param.k") == 3L)
    // k mismatch: a k=4 probe against a k=3 index shares zero
    // fingerprints — every near-duplicate silently waved through
    val eK = intercept[IllegalArgumentException] {
      TextQueries.winnowDedupAgainst(batch, corpus, k = 4, w = 4,
        corpusIndex = Some(idx34))
    }
    assert(eK.getMessage.contains("build parameter k=3"), eK.getMessage)
    // w mismatch: different window selects different minima
    intercept[IllegalArgumentException] {
      TextQueries.winnowDedupAgainst(batch, corpus, k = 3, w = 6,
        corpusIndex = Some(idx34))
    }
    // the editdist wrapper inherits the candidate stage's guards
    intercept[IllegalArgumentException] {
      TextQueries.editDistAgainst(batch, corpus, k = 4, w = 4,
        corpusIndex = Some(idx34))
    }
    // stripped metadata = same failure surface with the guards
    // disarmed → strict rejects it
    val eS = intercept[IllegalArgumentException] {
      TextQueries.winnowDedupAgainst(batch, corpus,
        corpusIndex = Some(stripped(idx34, "fp")))
    }
    assert(eS.getMessage.contains("no build metadata"), eS.getMessage)
    // the stamped index handed in equals the consumer's lazy build
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("batch_id", "dup_of", "n_shared").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = snap(TextQueries.winnowDedupAgainst(batch, corpus))
    assert(want.nonEmpty, "fixture must produce winnow matches")
    assert(snap(TextQueries.winnowDedupAgainst(batch, corpus,
      corpusIndex = Some(idx34))) == want)
  }

  test("winnow: df-cap (max_df) is a stamped contract parameter — mismatch fails loudly, capped index only removes candidate evidence") {
    // the cap is stamped like k/w...
    val capped = TextQueries.winnowIndex(corpus, maxDf = 8)
    assert(capped.schema("fp").metadata.getLong("graft.index.param.max_df") == 8L)
    assert(TextQueries.winnowIndex(corpus)
      .schema("fp").metadata.getLong("graft.index.param.max_df") == 0L)
    // ...and mismatched on EITHER side fails at plan time: a capped
    // index under an exact-index consumer (and vice versa) computes a
    // different match set with no visible error otherwise
    val eCap = intercept[IllegalArgumentException] {
      TextQueries.winnowDedupAgainst(batch, corpus, corpusIndex = Some(capped))
    }
    assert(eCap.getMessage.contains("max_df=8"), eCap.getMessage)
    intercept[IllegalArgumentException] {
      TextQueries.editDistMatchesAgainst(batch, corpus, maxDf = 8,
        corpusIndex = Some(TextQueries.winnowIndex(corpus)))
    }
    // matching caps pass, and the handed-in index equals the lazy build
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("batch_id", "dup_of", "n_shared").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val lazyBuilt = snap(TextQueries.winnowDedupAgainst(batch, corpus, maxDf = 8))
    assert(snap(TextQueries.winnowDedupAgainst(batch, corpus, maxDf = 8,
      corpusIndex = Some(capped))) == lazyBuilt)
    // recall contract: the capped index's match set is a SUBSET of the
    // exact index's per (batch, corpus) pair, with n_shared <= exact —
    // dropping a fingerprint can only remove candidate evidence
    val exact = TextQueries.winnowMatchCounts(batch, corpus, 3, 4, None).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cappedCounts = TextQueries.winnowMatchCounts(batch, corpus, 3, 4, None,
      maxDf = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cappedCounts.nonEmpty, "fixture must keep low-df matches")
    cappedCounts.foreach { case (pair, n) =>
      assert(exact.contains(pair) && n <= exact(pair),
        s"capped index added evidence for $pair: $n vs ${exact.get(pair)}")
    }
    // and the index really prunes: every surviving fingerprint has
    // df <= 8, so no fp appears with more than 8 distinct dup_of rows
    val maxFanout = capped.groupBy("fp").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(maxFanout <= 8L, s"a fingerprint survived with df $maxFanout > 8")
  }

  test("winnow: cross-version (index of one corpus build, text of another) fails loudly via the build-id stamps") {
    val idxV1 = TextQueries.winnowIndex(corpus, buildId = Some("corpus-v1"))
    val corpusV2 = TextQueries.stampCorpusBuild(corpus, "corpus-v2")
    val e = intercept[IllegalArgumentException] {
      TextQueries.winnowDedupAgainst(batch, corpusV2,
        corpusIndex = Some(idxV1))
    }
    assert(e.getMessage.contains("different corpus versions"), e.getMessage)
    // matching ids pass — and the stamp itself changes no results
    val got = TextQueries.winnowDedupAgainst(batch,
      TextQueries.stampCorpusBuild(corpus, "corpus-v1"),
      corpusIndex = Some(idxV1)).count()
    assert(got == TextQueries.winnowDedupAgainst(batch, corpus).count())
  }

  test("simhash: stripped index fails strict; cross-version fails; escape hatch result-identical; streaming gate guarded") {
    val idx = TextQueries.simhashIndex(corpus)
    assert(idx.schema("bk").metadata.getLong("graft.index.param.bands") == 4L)
    val eS = intercept[IllegalArgumentException] {
      TextQueries.simhashDedupAgainst(batch, corpus,
        corpusIndex = Some(stripped(idx, "bk")))
    }
    assert(eS.getMessage.contains("no build metadata"), eS.getMessage)
    intercept[IllegalArgumentException] {
      TextQueries.simhashDedupAgainst(batch,
        TextQueries.stampCorpusBuild(corpus, "v2"),
        corpusIndex = Some(TextQueries.simhashIndex(corpus, Some("v1"))))
    }
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = snap(TextQueries.simhashMatchesAgainst(batch, corpus))
    assert(want.nonEmpty, "fixture must produce simhash matches")
    assert(snap(TextQueries.simhashMatchesAgainst(batch, corpus,
      corpusIndex = Some(idx))) == want)
    // the streaming gate rejects a stripped static index at plan time
    // (before any stream starts)
    val in = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, ts TIMESTAMP, text STRING"))
      .parquet(java.nio.file.Files.createTempDirectory("graft_idxc").toString)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingSimhashGate(in, stripped(idx, "bk"))
    }
  }

  test("substring (token): wrong window length / wrong hash kind / wrong granularity / cross-version all fail loudly") {
    val idx50 = TextQueries.substringIndex(corpus, k = 50)
    assert(idx50.schema("h").metadata.getLong("graft.index.param.k") == 50L)
    // window-length mismatch: k=30 windows hash to values a k=50 index
    // never contains — zero scrubbed spans, silently
    val eK = intercept[IllegalArgumentException] {
      TextQueries.exactSubstringDedupAgainst(batch, corpus, k = 30,
        corpusIndex = Some(idx50))
    }
    assert(eK.getMessage.contains("build parameter k=50"), eK.getMessage)
    // hash-kind mismatch: xxhash64 index under an md5 probe matches zero
    intercept[IllegalArgumentException] {
      TextQueries.exactSubstringDedupAgainst(batch, corpus, k = 50,
        corpusIndex = Some(TextQueries.substringIndex(corpus, k = 50,
          portableHash = false)))
    }
    // granularity mismatch: the char-level index has the identical
    // one-column (h) schema — only the kind stamp can tell them apart
    val eG = intercept[IllegalArgumentException] {
      TextQueries.exactSubstringDedupAgainst(batch, corpus, k = 50,
        corpusIndex = Some(TextQueries.substringCharsIndex(corpus, L = 50)))
    }
    assert(eG.getMessage.contains("kind"), eG.getMessage)
    // cross-version
    intercept[IllegalArgumentException] {
      TextQueries.exactSubstringDedupAgainst(batch,
        TextQueries.stampCorpusBuild(corpus, "v2"), k = 50,
        corpusIndex = Some(TextQueries.substringIndex(corpus, k = 50,
          buildId = Some("v1"))))
    }
    // a handed-in compatible index is result-identical to the inline build
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "clean_hash").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(snap(TextQueries.exactSubstringDedupAgainst(batch, corpus, k = 50,
        corpusIndex = Some(idx50))) ==
      snap(TextQueries.exactSubstringDedupAgainst(batch, corpus, k = 50)))
  }

  test("substring (chars): wrong L / stripped / cross-version fail loudly; compatible index result-identical") {
    val idx = TextQueries.substringCharsIndex(corpus, L = 100)
    intercept[IllegalArgumentException] {
      TextQueries.exactSubstringDedupCharsAgainst(batch, corpus, L = 80,
        corpusIndex = Some(idx))
    }
    intercept[IllegalArgumentException] {
      TextQueries.exactSubstringDedupCharsAgainst(batch, corpus, L = 100,
        corpusIndex = Some(stripped(idx, "h")))
    }
    intercept[IllegalArgumentException] {
      TextQueries.exactSubstringDedupCharsAgainst(batch,
        TextQueries.stampCorpusBuild(corpus, "v2"), L = 100,
        corpusIndex = Some(TextQueries.substringCharsIndex(corpus, L = 100,
          buildId = Some("v1"))))
    }
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "clean_hash").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(snap(TextQueries.exactSubstringDedupCharsAgainst(batch, corpus,
        L = 100, corpusIndex = Some(idx))) ==
      snap(TextQueries.exactSubstringDedupCharsAgainst(batch, corpus, L = 100)))
  }

  test("streaming winnow gate: a wrong-(k,w) static index is rejected at plan time") {
    val idx34 = TextQueries.winnowIndex(corpus, k = 3, w = 4)
    val in = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, ts TIMESTAMP, text STRING"))
      .parquet(java.nio.file.Files.createTempDirectory("graft_idxw").toString)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingWinnowGate(in, idx34, k = 4, w = 4)
    }
    assert(e.getMessage.contains("build parameter"), e.getMessage)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingWinnowGate(in, stripped(idx34, "fp"))
    }
  }

  test("lsh band index: wrong hash kind / stripped / cross-version fail loudly; escape hatch result-identical; streaming gate guarded") {
    val bandsMd5 = TextQueries.bandSignatures(corpus)
    assert(bandsMd5.schema("sig").metadata.getString("graft.index.kind") == "lsh_band")
    // hash-kind mismatch: native-hash bands under the md5 probe collide
    // on ZERO signatures — every near-duplicate silently waved through
    // (this was scaladoc-only before; now plan-time)
    val eH = intercept[IllegalArgumentException] {
      TextQueries.lshMatchesAgainst(batch, corpus,
        corpusBands = Some(TextQueries.bandSignatures(corpus, portableHash = false)))
    }
    assert(eH.getMessage.contains("hash"), eH.getMessage)
    // stripped → strict loud failure; the pairs wrapper inherits it
    intercept[IllegalArgumentException] {
      TextQueries.lshPairsAgainst(batch, corpus,
        corpusBands = Some(stripped(bandsMd5, "sig")))
    }
    // cross-version
    intercept[IllegalArgumentException] {
      TextQueries.lshMatchesAgainst(batch,
        TextQueries.stampCorpusBuild(corpus, "v2"),
        corpusBands = Some(TextQueries.bandSignatures(corpus, buildId = Some("v1"))))
    }
    // the stamped bands handed in == the lazy build
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = snap(TextQueries.lshMatchesAgainst(batch, corpus))
    assert(want.nonEmpty, "fixture must produce lsh matches")
    assert(snap(TextQueries.lshMatchesAgainst(batch, corpus,
      corpusBands = Some(bandsMd5))) == want)
    // the streaming gate rejects a stripped static index at plan time;
    // a corpusIndex-built (stamped) one passes
    val in = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, ts TIMESTAMP, text STRING"))
      .parquet(java.nio.file.Files.createTempDirectory("graft_idxl").toString)
    val cidx = TextQueries.corpusIndex(corpus)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingLshAgainst(in, stripped(cidx, "sig"))
    }
    graft.streaming.StreamOps.streamingLshAgainst(in, cidx) // arms clean
  }

  test("bucketed writer front doors: catalog-table path is result-identical, guards stay armed, probe engages the bucketing") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force SMJ so the bucketed-static-side claim is actually exercised
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      TextQueries.writeWinnowIndexTable(corpus, "widx_t", buckets = 4)
      TextQueries.writeSimhashIndexTable(corpus, "sidx_t", buckets = 4)
      TextQueries.writeSubstringIndexTable(corpus, "ssidx_t", k = 50, buckets = 4)
      TextQueries.writeLshIndexTable(corpus, "lidx_t", buckets = 4)
      // the lsh table serves both the batch corpusBands side and the
      // streaming gate, result-identical and guard-armed from the catalog
      assert(spark.table("lidx_t").schema("sig").metadata
        .getString("graft.index.kind") == "lsh_band")
      val lTab = TextQueries.lshMatchesAgainst(batch, corpus,
        corpusBands = Some(spark.table("lidx_t")
          .select(col("doc_id"), col("band"), col("sig"))))
      assert(lTab.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
        TextQueries.lshMatchesAgainst(batch, corpus)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      // stamps ride through saveAsTable/spark.table — guards stay armed
      assert(spark.table("widx_t").schema("fp").metadata
        .getString("graft.index.kind") == "winnow_fp")
      assert(spark.table("sidx_t").schema("bk").metadata
        .getLong("graft.index.param.bands") == 4L)
      // ...including the rejection path, from the CATALOG frame
      intercept[IllegalArgumentException] {
        TextQueries.winnowDedupAgainst(batch, corpus, k = 4, w = 4,
          corpusIndex = Some(spark.table("widx_t")))
      }
      intercept[IllegalArgumentException] {
        TextQueries.exactSubstringDedupAgainst(batch, corpus, k = 30,
          corpusIndex = Some(spark.table("ssidx_t")))
      }
      // result identity vs the inline builds
      val wTab = TextQueries.winnowDedupAgainst(batch, corpus,
        corpusIndex = Some(spark.table("widx_t")))
      assert(wTab.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        TextQueries.winnowDedupAgainst(batch, corpus)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(wTab.queryExecution.executedPlan.toString.contains("Bucketed: true"),
        "the winnow probe must engage the table's fp bucketing")
      val sTab = TextQueries.simhashMatchesAgainst(batch, corpus,
        corpusIndex = Some(spark.table("sidx_t")))
      assert(sTab.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
        TextQueries.simhashMatchesAgainst(batch, corpus)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
      assert(sTab.queryExecution.executedPlan.toString.contains("Bucketed: true"),
        "the simhash probe must engage the table's bk bucketing")
      def scrubSnap(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "clean_hash").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(scrubSnap(TextQueries.exactSubstringDedupAgainst(batch, corpus,
          k = 50, corpusIndex = Some(spark.table("ssidx_t")))) ==
        scrubSnap(TextQueries.exactSubstringDedupAgainst(batch, corpus, k = 50)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Seq("widx_t", "sidx_t", "ssidx_t", "lidx_t")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("paragraph: stripped index fails strict; wrong kind fails; escape hatch result-identical; streaming gate guarded") {
    import graft.text.ParagraphQueries
    val corpusPages = ParagraphQueries.segmentPages(corpus)
    val batchPages = ParagraphQueries.segmentPages(batch)
    val idx = ParagraphQueries.paragraphIndex(corpusPages)
    assert(idx.schema("h").metadata.getString("graft.index.kind")
      == "paragraph_hash")
    val eS = intercept[IllegalArgumentException] {
      ParagraphQueries.paragraphDedupAgainst(batchPages, stripped(idx, "h"))
    }
    assert(eS.getMessage.contains("no build metadata"), eS.getMessage)
    // wrong kind: the token-substring index has the same one-hash-column
    // shape — the kind stamp is the only tell
    val eK = intercept[IllegalArgumentException] {
      ParagraphQueries.paragraphDedupAgainst(batchPages,
        TextQueries.substringIndex(corpus).select("h"))
    }
    assert(eK.getMessage.contains("index kind"), eK.getMessage)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val want = snap(ParagraphQueries.paragraphDedupAgainst(batchPages, idx))
    assert(want.exists(_._3 > 0), "fixture must scrub at least one paragraph")
    // the streaming gate rejects a stripped static index at plan time
    val in = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, ts TIMESTAMP, text STRING"))
      .parquet(java.nio.file.Files.createTempDirectory("graft_idxp").toString)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingParagraphGate(in, stripped(idx, "h"))
    }
  }

  test("paragraph bucketed writer: catalog-table path result-identical, guards armed, probe engages the bucketing") {
    import graft.text.ParagraphQueries
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpusPages = ParagraphQueries.segmentPages(corpus)
      val batchPages = ParagraphQueries.segmentPages(batch)
      ParagraphQueries.writeParagraphIndexTable(corpusPages, "pidx_t", buckets = 4)
      // stamps ride through saveAsTable/spark.table — guards stay armed
      assert(spark.table("pidx_t").schema("h").metadata
        .getString("graft.index.kind") == "paragraph_hash")
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
      val viaTab = ParagraphQueries.paragraphDedupAgainst(
        batchPages, spark.table("pidx_t"))
      assert(snap(viaTab) == snap(ParagraphQueries.paragraphDedupAgainst(
        batchPages, ParagraphQueries.paragraphIndex(corpusPages))))
      assert(viaTab.queryExecution.executedPlan.toString.contains("Bucketed: true"),
        "the paragraph probe must engage the table's h bucketing")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS pidx_t")
    }
  }

  test("bloom: wrong-geometry probe/forget fail loudly; stamps ride the cbf forget chain; escape hatch result-identical") {
    val seen = corpus
    val bits = TextQueries.bloomBuild(seen)
    assert(bits.schema("bit").metadata.getLong("graft.index.param.m")
      == (1L << 24))
    // wrong m: positions computed under another modulus — a seen doc
    // stops flagging (silent false negative, the one failure Bloom's
    // contract rules out)
    val eM = intercept[IllegalArgumentException] {
      TextQueries.bloomProbe(batch, bits, m = 1L << 20)
    }
    assert(eM.getMessage.contains("build parameter m="), eM.getMessage)
    // wrong k: different fan-out, same silent class
    intercept[IllegalArgumentException] {
      TextQueries.bloomProbe(batch, bits, k = 7)
    }
    // stripped bits table fails strict
    val eS = intercept[IllegalArgumentException] {
      TextQueries.bloomProbe(batch, stripped(bits, "bit"))
    }
    assert(eS.getMessage.contains("no build metadata"), eS.getMessage)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    // probe ALL docs: the seen half must flag (no false negatives)
    val want = snap(TextQueries.bloomProbe(docs, bits))
    assert(want.exists(_._2), "fixture must contain bloom hits")
    // counting filter: a forget pass at the wrong geometry would
    // subtract the WRONG cells — rejected at plan time
    val counters = TextQueries.cbfCounters(seen)
    intercept[IllegalArgumentException] {
      TextQueries.cbfForget(counters, batch, m = 1L << 20)
    }
    // stamps ride forget → cbfBits (re-kinded to bloom_bits), so the
    // strict probe stays armed through the whole deletable-index chain
    val after = TextQueries.cbfBits(TextQueries.cbfForget(counters, batch))
    assert(after.schema("bit").metadata.getString("graft.index.kind")
      == "bloom_bits")
    assert(after.schema("bit").metadata.getLong("graft.index.param.k") == 5L)
    TextQueries.bloomProbe(batch, after).collect()
    // an unstamped counter table passes through cbfBits unstamped and
    // the strict probe then fails loudly instead of silently missing
    intercept[IllegalArgumentException] {
      TextQueries.bloomProbe(batch,
        TextQueries.cbfBits(stripped(counters, "bit")))
    }
    // streaming gate production path: a handed-in persisted bits table
    // replaces the per-session rebuild, result-identical and checked
    // strict against the gate's geometry
    val survivors = graft.streaming.StreamOps
      .streamingBloomGate(docs, bits = Some(bits))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivorsInline = graft.streaming.StreamOps
      .streamingBloomGate(docs, Some(seen))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == survivorsInline && survivors.nonEmpty)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingBloomGate(docs,
        m = 1L << 20, bits = Some(bits))
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingBloomGate(docs,
        bits = Some(stripped(bits, "bit")))
    }
    // exactly one source: both (ambiguous — the loser would be
    // silently ignored) and neither (nothing to gate on) fail loudly
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingBloomGate(docs, Some(seen),
        bits = Some(bits))
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingBloomGate(docs)
    }
  }

  test("ivf: corpus assigned under different/stale centroids is rejected at plan time; stripped fails strict; escape hatch works") {
    val all = Tables.embeddings(spark, sfDir)
    val centsV1 = graft.sim.Ivf.trainCentroids(spark, sfDir, 8)
    val centsV2 = graft.sim.Ivf.trainCentroids(spark, sfDir, 4)
    val corpusV1 = graft.sim.Ivf.withCell(all.filter(col("vec_id") % 2 === 0), centsV1)
    assert(corpusV1.schema("cell").metadata.getString("graft.index.kind")
      == "ivf_cell")
    assert(corpusV1.schema("cell").metadata.getLong("graft.index.param.chash")
      == graft.sim.Ivf.centroidFingerprint(centsV1))
    val stream = all.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"),
        col("embedding"))
    // different nlist: fails on the centroid-count axis
    val eN = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingAnnAgainst(stream, corpusV1, centsV2)
    }
    assert(eN.getMessage.contains("build parameter"), eN.getMessage)
    // same nlist/dim, different VALUES (a retrained centroid set):
    // only the fingerprint catches it
    val centsV1b = centsV1.map(_.clone())
    centsV1b(0)(0) += 0.25
    val eF = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingAnnAgainst(stream, corpusV1, centsV1b)
    }
    assert(eF.getMessage.contains("chash"), eF.getMessage)
    // stripped assigned corpus fails strict
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingAnnAgainst(stream,
        stripped(corpusV1, "cell"), centsV1)
    }
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    val want = snap(graft.streaming.StreamOps.streamingAnnAgainst(
      stream, corpusV1, centsV1, threshold = 0.1))
    assert(want.nonEmpty, "fixture must produce same-cell matches")
  }

  test("ivf: a legacy-v1 fingerprint stamp (chash without chash_fmt) fails naming the FORMAT change, not stale centroids") {
    val all = Tables.embeddings(spark, sfDir)
    val cents = graft.sim.Ivf.trainCentroids(spark, sfDir, 8)
    val assigned = graft.sim.Ivf.withCell(all.filter(col("vec_id") % 2 === 0), cents)
    // simulate a pre-r14 persisted corpus: same stamp axes but the
    // fingerprint was computed under the retired toString definition —
    // identified by the ABSENCE of chash_fmt (the version key)
    val spec = graft.text.IndexContract.ivfCell(cents)
    def restamped(chash: Long) = assigned.select(assigned.columns.map { c =>
      if (c == "cell")
        spec.copy(params = spec.params - "chash_fmt" + ("chash" -> chash))
          .stamped(col(c), None)
      else col(c)
    }: _*)
    val legacy = restamped(12345L)
    val stream = all.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"),
        col("embedding"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingAnnAgainst(stream, legacy, cents)
    }
    assert(e.getMessage.contains("legacy v1") &&
      e.getMessage.contains("unversioned centroid fingerprint"), e.getMessage)
    // the OTHER unversioned provenance: a corpus stamped under the r14
    // raw-IEEE fingerprint before the version key existed — the chash
    // VALUE matches v2 exactly, so the message must say the values are
    // identical (metadata-only refresh), never imply stale centroids
    val r14 = restamped(graft.sim.Ivf.centroidFingerprint(cents))
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingAnnAgainst(stream, r14, cents)
    }
    assert(e2.getMessage.contains("MATCHES the v2") &&
      e2.getMessage.contains("identical"), e2.getMessage)
    // the migration is RE-STAMPING (Ivf.withCell under the same
    // centroids), which the v2-stamped `assigned` frame demonstrates;
    // nothing vouches past a chash VALUE mismatch, so a legacy frame
    // must be re-assigned — exactly what the error message says
    assert(graft.streaming.StreamOps.streamingAnnAgainst(stream, assigned,
      cents, threshold = 0.1).count() > 0)
  }

  test("stamps survive a parquet round-trip (the persisted-index path)") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_idxrt")
    TextQueries.winnowIndex(corpus, buildId = Some("rt-1"))
      .write.mode("overwrite").parquet(outDir.toString)
    val m = spark.read.parquet(outDir.toString).schema("fp").metadata
    assert(m.getString("graft.index.kind") == "winnow_fp")
    assert(m.getLong("graft.index.param.k") == 3L &&
      m.getLong("graft.index.param.w") == 4L)
    assert(m.getString("graft.index.build_id") == "rt-1")
  }

  test("the index contract is written only in IndexContract.scala; no consumer can bypass it") {
    import java.nio.file.{Files, Paths}
    import graft.text.IndexContract
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    def holders(hit: String => Boolean): Seq[String] =
      sources.collect { case (f, text) if hit(text) => f }.toSeq.sorted
    assert(holders(_.contains("unsafeAssumeCompatible")).isEmpty,
      s"no index check may be bypassed; found in: ${holders(_.contains("unsafeAssumeCompatible"))}")
    // every kind's stamp: its metadata keys, its kind literal, and no
    // Kind* constants restating one elsewhere
    val kinds = Seq(IndexContract.lshBand(true), IndexContract.jaccardPrefix(true, 1L, false),
      IndexContract.containFull(true), IndexContract.docSide(true), IndexContract.corpusDf(true),
      IndexContract.simhashBand, IndexContract.winnowFp(3, 4, 0), IndexContract.substringTok(3, true),
      IndexContract.substringChar(3, true), IndexContract.paragraphHash,
      IndexContract.bloomBits(64, 2), IndexContract.cbfCells(64, 2),
      IndexContract.ivfCell(Array(Array(0.0)))).map(_.kind)
    assert(kinds.distinct.size == 13, s"kinds must be distinct: $kinds")
    val KindConst = "\\bKind[A-Z]\\w*".r
    (("graft.index." -> ((t: String) => t.contains("graft.index."))) +:
      ("Kind* constants" -> ((t: String) => KindConst.findFirstIn(t).isDefined)) +:
      kinds.map(k => k -> ((t: String) => t.contains("\"" + k + "\"")))).foreach { case (what, hit) =>
      assert(holders(hit) == Seq("IndexContract.scala"),
        s"'$what' must be written only in graft.text.IndexContract; found in: ${holders(hit).mkString(", ")}")
    }
    // every consumer checks strictly: no check takes a strict flag
    val StrictFlag = "\\bstrict\\s*[:=]".r
    assert(holders(t => StrictFlag.findFirstIn(t).isDefined).isEmpty,
      s"a strict flag is back in: ${holders(t => StrictFlag.findFirstIn(t).isDefined)}")
  }
}
