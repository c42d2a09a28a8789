package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.binning.BinAxis
import graft.io.Sources
import graft.text.{IndexContract, SimJoin, SpanDedup, TextQueries}

/** Structured Streaming surface (SURVEY.md §2.9). The reference has no
  * streaming engine — its events are batch rows with a reconstructed
  * `timeStamps` column — but the N-D histogram aggregate is algebraic
  * (commutative monoid), so it runs unchanged under a watermark: late
  * events beyond the watermark are dropped, the same semantics as the
  * out-of-range bin drop.
  */
object StreamOps {

  /** Schema of the events table as needed for `readStream` (streaming
    * sources require an explicit schema; ts arrives as raw nanos when
    * the files carry TIMESTAMP(NANOS), see Tables.events). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Streaming event source from a directory of parquet files (file
    * streaming sources monitor directories; point it at a drop folder).
    *
    * Streaming sources need the schema up front, but the ts physical
    * layout depends on the producer (TIMESTAMP(NANOS) read as raw
    * nanos, TIMESTAMP_MICROS without UTC adjustment read as
    * TIMESTAMP_NTZ — the same two layouts Tables.events normalizes), so
    * the footer of a file already in the folder is read once on the
    * driver at stream-definition time ([[Sources.footerSchema]], no
    * Spark job); an empty folder defaults to the raw-nanos contract. Either
    * way the stream normalizes to a microsecond TimestampType `ts`.
    */
  def readEvents(spark: SparkSession, eventsDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = Sources.footerSchema(spark, eventsDir)
      .flatMap(_.find(_.name == "ts")).fold[DataType](LongType)(_.dataType)
    val schema = StructType(eventsRawSchema.map {
      case f if f.name == "ts" => f.copy(dataType = tsType)
      case f                   => f
    })
    graft.Tables.eventsTs(spark.readStream.schema(schema).parquet(eventsDir))
  }

  /** Windowed streaming histogram: per (tumbling time window, bin) counts
    * with a watermark — the streaming form of the core binning operator,
    * [[batchHistogram]] over the watermarked stream.
    */
  def streamingHistogram(events: DataFrame, axis: BinAxis,
                         windowLen: String = "1 minute",
                         watermark: String = "10 minutes"): DataFrame =
    batchHistogram(events.withWatermark("ts", watermark), axis, windowLen)

  /** Streaming exact dedup: drop events whose dedup key was already
    * seen within the watermark horizon (`dropDuplicatesWithinWatermark`
    * — state is bounded by the watermark, so this runs forever at
    * constant memory; the streaming form of the exact-dedup operator).
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class SessionEvent(user_id: Long, event_id: Long, tsMicros: Long)
  final case class SessionOut(user_id: Long, event_id: Long, session_id: Long)
  final case class SessionState(lastTsMicros: Long, sessionId: Long)

  /** Stateful streaming sessionization via `flatMapGroupsWithState`:
    * per-user session ids from inactivity gaps — custom state the
    * built-in window aggregates can't express (SURVEY.md §2.9).
    * Requires events in event-time order per user within each batch
    * (guaranteed in a single-batch replay; production use pairs this
    * with a watermark + sorted micro-batches).
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS tsMicros")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          val out = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id)).map { e =>
            // same gap arithmetic as the batch/oracle form:
            // floor-seconds difference strictly greater than the gap
            val sec = Math.floorDiv(e.tsMicros, 1000000L)
            val prevSec = if (st.lastTsMicros == Long.MinValue) Long.MinValue
              else Math.floorDiv(st.lastTsMicros, 1000000L)
            val newSession = prevSec == Long.MinValue || sec - prevSec > gapSeconds
            st = SessionState(e.tsMicros,
              if (newSession) st.sessionId + 1 else st.sessionId)
            SessionOut(uid, e.event_id, st.sessionId)
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  final case class AsofIn(user_id: Long, event_id: Long, tsMicros: Long,
                          value: Double, event_type: String)
  final case class AsofOut(event_id: Long, asof_value: Option[Double])
  final case class AsofState(tsMicros: Long, value: Double)

  /** Streaming as-of join against the same event stream's purchase rows:
    * per-user state carries the latest purchase (validity-timestamp
    * config lookup), every row emits the carried value — the stateful
    * form of [[graft.ops.TemporalQueries.asofJoin]]. At equal
    * timestamps purchases apply before events (same tie rule as the
    * batch union's `_side` ordering), and a purchase row sees its own
    * value. State is one (ts, value) per user — bounded by key
    * cardinality, not stream length. Requires per-user event-time order
    * across micro-batches (true for replay/ordered feeds; production
    * pairs this with a watermark + sorted micro-batches, as with
    * [[sessionize]]).
    */
  def streamingAsofJoin(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS tsMicros", "value", "event_type")
      .as[AsofIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[AsofIn], state: GroupState[AsofState]) => {
          var st = state.getOption
          val out = rows.toSeq
            .sortBy(e => (e.tsMicros, if (e.event_type == "purchase") 0 else 1, e.event_id))
            .map { e =>
              if (e.event_type == "purchase") st = Some(AsofState(e.tsMicros, e.value))
              AsofOut(e.event_id, st.map(_.value))
            }
          st.foreach(state.update)
          out.iterator
        })
      .toDF()
  }

  final case class FunnelIn(user_id: Long, event_id: Long, tsMicros: Long,
                            event_type: String)
  final case class FunnelState(ts: Seq[Long], emitted: Int)
  final case class FunnelOut(user_id: Long, stage: Int, tsMicros: Long)

  /** Stateful streaming first-touch funnel — the online form of
    * [[graft.ops.TemporalQueries.firstTouchFunnel]] for any ordered
    * step sequence: per-user state carries one first-touch timestamp
    * per step (micros; MinValue = unseen), and a row (user_id, stage,
    * tsMicros) emits each time the user's funnel stage ADVANCES — with
    * per-user event-time order (the [[sessionize]] replay contract) a
    * first-touch minimum is final the moment it is set, so the stage
    * is monotone and the LAST emitted stage per user equals the batch
    * stage exactly (same strictly-increasing-chain arithmetic;
    * parity-pinned). State = |steps| longs + an int per user —
    * bounded by key cardinality, not stream length. */
  def streamingFunnel(events: DataFrame,
                      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(steps.nonEmpty)
    val spark = events.sparkSession
    import spark.implicits._
    val MIN = Long.MinValue
    val nSteps = steps.length
    events
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS tsMicros", "event_type")
      .as[FunnelIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[FunnelIn], state: GroupState[FunnelState]) => {
          var st = state.getOption.getOrElse(FunnelState(Seq.fill(nSteps)(MIN), 0))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
          rows.toSeq.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
            val i = steps.indexOf(e.event_type)
            if (i >= 0 && st.ts(i) == MIN)
              st = st.copy(ts = st.ts.updated(i, e.tsMicros))
            // stage = length of the leading strictly-increasing set chain
            // (the batch CASE ladder: step k+1 counts only when set AND
            // strictly after step k's first touch)
            var stage = 0
            while (stage < nSteps && st.ts(stage) != MIN &&
              (stage == 0 || st.ts(stage) > st.ts(stage - 1))) stage += 1
            if (stage > st.emitted) {
              out += FunnelOut(uid, stage, e.tsMicros)
              st = st.copy(emitted = stage)
            }
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  // `ts` stays a Timestamp column through to the stateful operator: the
  // analyzer requires the watermarked event-time column to be present in
  // the flatMapGroupsWithState input when EventTimeTimeout is used
  final case class BandIn(doc_id: Long, ts: java.sql.Timestamp, band: Int, sig: String)
  final case class BandHit(doc_id: Long, band: Int, first_doc: Long)

  /** Streaming MinHash near-dup detection: per-row band signatures
    * (stateless, [[graft.text.TextQueries.bandSigsExpr]]) feed a
    * watermark-bounded stateful band-collision lookup — for each (band,
    * signature) key the state holds only the FIRST doc that registered
    * it, and `EventTimeTimeout` clears signatures `horizonMs` past their
    * newest event, so state stays bounded on an infinite stream.
    *
    * Output: one row per (doc, band) with the registering doc;
    * `first_doc != doc_id` on any band marks the doc as a near-dup
    * candidate of `first_doc` (the streaming analogue of the batch
    * `dedup_lsh_pairs` candidate generation — exact-Jaccard verification
    * stays a batch/offline concern, as in production dedup pipelines).
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingMinhashDedup(docs: DataFrame, watermark: String = "10 minutes",
                            horizonMs: Long = 600000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        posexplode(graft.text.TextQueries.bandSigsExpr("text")).as(Seq("band", "sig")))
      .select(col("doc_id"), col("ts"), col("band"), col("sig"))
      .as[BandIn]
      .groupByKey(b => s"${b.band}#${b.sig}")
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[BandIn], state: GroupState[Long]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(b => (b.ts.getTime, b.doc_id))
            var first = state.getOption.getOrElse(-1L)
            val out = sorted.map { b =>
              if (first < 0) first = b.doc_id
              BandHit(b.doc_id, b.band, first)
            }
            state.update(first)
            // keep the signature alive horizonMs past its newest event
            // (never at/below the current watermark — Spark rejects that)
            val maxMs = sorted.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1000L, maxMs + horizonMs))
            out.iterator
          }
        })
      .toDF()
  }

  final case class LshIn(doc_id: Long, ts: java.sql.Timestamp, band: Int,
                         sig: String, sh: Seq[Long])
  final case class LshDocs(ids: Seq[Long], shs: Seq[Seq[Long]])
  final case class LshCand(d1: Long, d2: Long, ts: java.sql.Timestamp,
                           sh1: Seq[Long], sh2: Seq[Long])

  /** The two session confs the chained-stateful LSH shape requires AT
    * QUERY START, with their required values:
    *
    *  - `statefulOperator.checkCorrectness.enabled=false`: the
    *    analyzer's global-watermark heuristic rejects ANY
    *    flatMapGroupsWithState feeding a second stateful operator,
    *    because a custom state function COULD emit arbitrarily old
    *    event times. This one cannot: every emitted pair carries the
    *    ARRIVING row's event time, which is >= the batch's input
    *    watermark by definition, and the downstream dedup runs with
    *    the same watermark delay — so no emitted row is ever late
    *    downstream. Disabling the heuristic is the documented escape
    *    hatch for exactly this proven-safe shape.
    *  - `multipleWatermarkPolicy=max`: two watermark nodes exist
    *    (input + re-assert on the emitted pairs). Under the default
    *    `min` policy the pair-side node goes STALE in batches that
    *    emit no pairs, freezing the global watermark and blocking the
    *    band-state EventTimeTimeout sweep forever. `max` is correct
    *    here because both nodes carry the same delay and every emitted
    *    ts >= the input watermark of its emission batch — the
    *    pair-side node can only lag, never lead, so taking the max
    *    just restores the input watermark.
    */
  val lshStreamConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false",
    "spark.sql.streaming.multipleWatermarkPolicy" -> "max")

  /** Run `body` — which must `.start()` the [[streamingLshPairs]]
    * query and return it — with [[lshStreamConfs]] in effect, restoring
    * the caller's prior conf values before returning, so a sibling
    * streaming query started later in the same session sees the session
    * defaults again (previously the two values leaked session-wide).
    *
    * The restore must wait for the query's INITIALIZATION, not just
    * `start()`: the global-watermark correctness check and the
    * offset-log conf snapshot both run on the query's execution thread,
    * which `start()` only launches — restoring immediately races that
    * thread and can kill the query with the very AnalysisException the
    * conf disables. The wrapper therefore blocks on
    * `processAllAvailable()` (initialization is complete once the first
    * no-data batch has been resolved) before putting the session values
    * back; from then on the running query keeps its captured copies.
    * StreamingLshSpec pins the scoping.
    */
  def withLshStreamConfs(spark: SparkSession)(
      body: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val prior = lshStreamConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    lshStreamConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = body
      q.processAllAvailable()
      q
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Streaming LSH candidate-PAIR emission with exact-Jaccard verify —
    * the full streaming form of the batch `dedup_lsh_pairs` chain,
    * built from Spark 4 chained stateful operators:
    *
    *  1. stateless per-row band signatures + the doc's distinct
    *     shingle-hash set ([[graft.text.TextQueries.bandSigsExpr]] /
    *     `shingleHashesExpr`);
    *  2. stateful band-collision state per (band, signature) key holding
    *     the docs (id + shingle hashes) that registered it; each arriving
    *     doc emits one candidate pair per stored doc, normalized to
    *     `d1 < d2`. `EventTimeTimeout` expires signatures `horizonMs`
    *     past their newest event, and a per-signature doc cap bounds the
    *     degenerate "identical template" bucket (beyond the cap the
    *     overflow is dropped LOUDLY via log — the streaming analogue of
    *     `Scale.selfPairs` salting, which cannot apply inside one key's
    *     state);
    *  3. a CHAINED second stateful operator — watermark-scoped pair
    *     dedup (`dropDuplicatesWithinWatermark`) — collapses the same
    *     pair surfacing from multiple bands, exactly like the batch
    *     `.distinct()`;
    *  4. stateless exact-Jaccard verify from the carried shingle sets
    *     (`array_intersect` on 60-bit hashes), `jaccard >= threshold`.
    *
    * Output: (d1, d2, inter, uni, jaccard) — the batch query's schema;
    * StreamingLshSpec pins single-batch-replay parity with
    * `dedup_lsh_pairs` and state expiry.
    *
    * See [[lshStreamConfs]] for the two session confs this query needs
    * at start time — wrap the `.start()` call in [[withLshStreamConfs]]
    * (starting without them fails loudly in analysis with the
    * chained-stateful-operator error).
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingLshPairs(docs: DataFrame, watermark: String = "10 minutes",
                        horizonMs: Long = 600000L, maxDocsPerSig: Int = 128,
                        threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val cands = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        posexplode(graft.text.TextQueries.bandSigsExpr("text")).as(Seq("band", "sig")),
        graft.text.TextQueries.shingleHashesExpr("text").as("sh"))
      .as[LshIn]
      .groupByKey(b => s"${b.band}#${b.sig}")
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[LshIn], state: GroupState[LshDocs]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(b => (b.ts.getTime, b.doc_id))
            var st = state.getOption.getOrElse(LshDocs(Nil, Nil))
            val out = scala.collection.mutable.ArrayBuffer.empty[LshCand]
            sorted.foreach { b =>
              if (!st.ids.contains(b.doc_id)) {
                st.ids.zip(st.shs).foreach { case (id, sh) =>
                  if (id < b.doc_id) out += LshCand(id, b.doc_id, b.ts, sh, b.sh)
                  else out += LshCand(b.doc_id, id, b.ts, b.sh, sh)
                }
                if (st.ids.length < maxDocsPerSig)
                  st = LshDocs(st.ids :+ b.doc_id, st.shs :+ b.sh)
                else
                  org.slf4j.LoggerFactory.getLogger(getClass).warn(
                    s"streamingLshPairs: signature bucket $key exceeds cap " +
                      s"$maxDocsPerSig; doc ${b.doc_id} pairs against the stored " +
                      "docs but is not registered (degenerate template bucket)")
              }
            }
            state.update(st)
            val maxMs = sorted.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1000L, maxMs + horizonMs))
            out.iterator
          }
        })
      .toDF()
    val (inter, uni) = SimJoin.overlap("sh1", "sh2")
    cands
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("d1", "d2")
      .select(col("d1"), col("d2"), inter.cast("long").as("inter"),
        uni.cast("long").as("uni"), SimJoin.jaccard(inter, uni).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Stream-static incremental dedup gate: match a document STREAM
    * against a static, pre-materialized corpus index
    * ([[graft.text.TextQueries.corpusIndex]]). Stateless per-row band
    * signatures + shingle-hash set, a stream-static equi-join on
    * (band, sig), and per-row exact Jaccard from the two hash arrays
    * (`array_intersect` — verification never touches corpus text). The
    * ONLY stateful operator is the watermark-scoped pair dedup: a doc
    * colliding with the same corpus doc on several bands must emit
    * once, and that state is bounded by the watermark horizon
    * regardless of corpus size.
    *
    * Output (append mode): (batch_id, ts, dup_of, jaccard) — every
    * corpus doc the stream doc near-duplicates at `threshold`, the
    * streaming analogue of
    * [[graft.text.TextQueries.lshMatchesAgainst]] (parity-tested).
    *
    * Scale: the static side re-plans per micro-batch — an index that
    * fits executor memory broadcast-joins, otherwise each micro-batch
    * shuffles only its own (small) exploded band rows against the
    * index's partitioning; bucketing the persisted index by (band,
    * sig) (`bucketBy(n, "band", "sig")` at write time) keeps the
    * corpus side of every per-batch join Exchange-free — only the
    * micro-batch's rows re-cluster to the bucket layout.
    * StreamingLshSpec pins that executed plan across micro-batches.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingLshAgainst(docs: DataFrame, corpusIndex: DataFrame,
                          threshold: Double = 0.5,
                          watermark: String = "10 minutes"): DataFrame = {
    // the gate's per-row band expressions are md5-based — a
    // native-hash index collides on ZERO signatures
    IndexContract.lshBand(portableHash = true).check(corpusIndex)
    val enriched = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id").as("batch_id"), col("ts"),
        graft.text.TextQueries.shingleHashesExpr("text").as("bh"),
        posexplode(graft.text.TextQueries.bandSigsExpr("text")).as(Seq("band", "sig")))
    val idx = corpusIndex.select(col("doc_id").as("dup_of"),
      col("band"), col("sig"), col("hashes").as("ch"))
    val (inter, uni) = SimJoin.overlap("bh", "ch")
    enriched.join(idx, Seq("band", "sig"))
      .withColumn("jaccard", SimJoin.jaccard(inter, uni))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("ts"), col("dup_of"), col("jaccard"))
      .dropDuplicatesWithinWatermark("batch_id", "dup_of")
  }

  /** Stream-static SIMHASH dedup gate — the hamming-distance member of
    * the incremental ingest family, against a static pre-materialized
    * [[graft.text.TextQueries.simhashIndex]] ((bk, h, dup_of) rows,
    * bucketed by bk at write time → Exchange-free static side). The
    * 60-bit fingerprint evaluates PER ROW as a nested HOF over the
    * distinct-token hash array (bit-identical to the batch
    * explode+groupBy aggregate — a sum's sign doesn't depend on order;
    * parity spec-pinned), so the stream side stays stateless: four
    * exploded band keys per doc meet the index in an equi-join
    * (lossless at hamming <= 3 by pigeonhole), the exact hamming
    * verifies from the two fingerprints alone, and the only state is
    * the watermark-scoped (batch_id, dup_of) dedup.
    *
    * Output (append mode): (batch_id, ts, dup_of, hamming) — the
    * streaming analogue of
    * [[graft.text.TextQueries.simhashMatchesAgainst]] (parity-tested).
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingSimhashGate(docs: DataFrame, corpusIndex: DataFrame,
                           maxHamming: Int = 3,
                           watermark: String = "10 minutes"): DataFrame = {
    // the static index must carry this gate's band geometry (4×15 over
    // 60 bits) — a different banding silently misses matches
    IndexContract.simhashBand.check(corpusIndex)
    val enriched = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id").as("batch_id"), col("ts"),
        expr(TextQueries.simhashHashesExpr).as("hs"))
      .select(col("batch_id"), col("ts"),
        expr(TextQueries.simhashWideOfHs).as("bh"))
      .select(col("batch_id"), col("ts"), col("bh"),
        explode(expr("sequence(0, 3)")).as("b"))
      .select(col("batch_id"), col("ts"), col("bh"),
        expr("b * 32768 + ((bh >> (15 * b)) & 32767)").as("bk"))
    enriched.join(corpusIndex.select(col("bk"), col("h"), col("dup_of")), Seq("bk"))
      .withColumn("hamming", expr("CAST(bit_count(bh ^ h) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("batch_id"), col("ts"), col("dup_of"), col("hamming"))
      .dropDuplicatesWithinWatermark("batch_id", "dup_of")
  }

  /** Stream-static winnow gate: incoming documents probe the persisted
    * winnow-fingerprint index ([[graft.text.TextQueries.winnowIndex]],
    * write it bucketed by `fp`); emits one (batch_id, ts, dup_of) match
    * event per corpus document sharing ≥ 1 selected fingerprint — by
    * the winnowing guarantee that surfaces every ≥ w+k−1-token shared
    * run. The local-fingerprinting member of the streaming gate family
    * (the simhash-gate shape): per-row fingerprints are a pure
    * expression, state is the watermark-bounded match dedup only, and
    * shared-COUNT quantification stays the batch
    * `winnowDedupAgainst`'s job because a per-pair count is a join
    * aggregate, not a per-row predicate.
    *
    * `maxDf` states the df cap the index was built with
    * ([[graft.text.TextQueries.winnowIndex]]'s stop-fingerprint
    * pruning) — a df-capped index bounds the per-fingerprint match
    * fan-out (and with it this gate's per-batch state) at maxDf rows
    * by construction, the production configuration for boilerplate-
    * heavy corpora. Checked against the index stamp like k/w.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingWinnowGate(docs: DataFrame, corpusIndex: DataFrame,
                          k: Int = 3, w: Int = 4,
                          watermark: String = "10 minutes",
                          maxDf: Long = 0): DataFrame = {
    // the static index must have been winnowed at THIS gate's
    // (k, w, max_df) — different k/w select disjoint fingerprints and
    // the probe join matches nothing, silently waving every duplicate
    // through; a different df cap yields a different match set
    IndexContract.winnowFp(k, w, maxDf).check(corpusIndex)
    docs.withWatermark("ts", watermark)
      .select(col("doc_id").as("batch_id"), col("ts"),
        explode(graft.text.TextQueries.winnowFpsExpr(k, w)).as("fp"))
      .join(corpusIndex.select(col("fp"), col("dup_of")), Seq("fp"))
      .select(col("batch_id"), col("ts"), col("dup_of"))
      .dropDuplicatesWithinWatermark("batch_id", "dup_of")
  }

  /** Stream-static EDIT-DISTANCE gate: incoming documents probe the
    * persisted winnow-fingerprint index for candidates and every
    * candidate is VERIFIED by exact (banded) Levenshtein against the
    * static corpus text — the verified-fuzzy member of the streaming
    * gate family, closing the editdist family's streaming gap (LSH,
    * simhash, winnow, jaccard, contain, substring already have gates).
    * Emits one (batch_id, ts, dup_of, n_shared, dist, sim_ppm) verdict
    * per corpus document with sim_ppm ≥ `minSimPpm` — bit-identical to
    * the batch [[graft.text.TextQueries.editDistMatchesAgainst]] on the
    * same split (replay parity spec-pinned; the batch
    * `editDistAgainst` additionally keeps only the best match, a
    * per-document window the caller applies downstream if wanted).
    *
    * Scale shape: per-row winnow fingerprints are a pure expression
    * ([[graft.text.TextQueries.winnowFpsExpr]]); candidates meet the
    * bucketed index in a stateless stream-static equi-join on `fp`
    * (only the batch's fingerprint rows move); corpus TEXT attaches by
    * a second stateless stream-static join on `dup_of` — per CANDIDATE,
    * never per corpus row; the ONLY stateful operator is the
    * watermark-scoped per-(document, candidate) shared-fingerprint
    * count (append mode — a verdict emits once the watermark passes its
    * event time). The Levenshtein is the batch path's banded-DP
    * [[graft.text.TextQueries.levVerify]] projection: identical-text
    * pairs settle on a byte compare, and the band explores only
    * O(L·thr) cells yet yields the exact distance for every pair that
    * can pass `minSimPpm`.
    *
    * The index is checked strict at plan time (kind + (k, w) + hash
    * kind — a parameter mismatch shares zero fingerprints and silently
    * waves every near-duplicate through); when both the index and
    * `corpusText` carry build-id stamps ([[graft.text.TextQueries.stampCorpusBuild]]
    * / `writeWinnowIndexTable`), a cross-version mix is rejected too —
    * a stale text side would verify candidates against the WRONG
    * document bytes, the silent-recall class the stamps exist for.
    *
    * COST / STATE-SIZE CAVEAT, measured: the verify fan-out is linear
    * in candidate PAIRS, and a high-document-frequency fingerprint
    * (shared boilerplate) multiplies those quadratically — the
    * uncapped batch twin measured 143 s vs 14 s capped at sf0.1 on
    * exactly this corpus shape. The stateful count's group key carries
    * the pair's FULL texts (t1, t2) so the verify can run without a
    * re-join, which means state bytes within the watermark horizon are
    * ~(candidate pairs) × (|t1| + |t2|): a fingerprint with document
    * frequency D contributes up to D candidate rows PER ARRIVING DOC,
    * so an uncapped index over a boilerplate-heavy corpus grows state
    * quadratically in the clique size times document length. The
    * production fix is INDEX-SIDE: build the index with
    * `winnowIndex(maxDf = …)` (stop-fingerprint pruning) and state the
    * same `maxDf` here — per-doc candidate fan-out is then ≤ maxDf per
    * fingerprint BY CONSTRUCTION, bounding state before any row is
    * stored. Also effective: scrub frequent n-grams upstream
    * ([[graft.text.TextQueries.scrubFrequentNgrams]]) and/or raise
    * `minShared` (pairs below it still enter state but never pay the
    * DP); the batch twin additionally offers `maxMatchesPerDoc` (a
    * per-doc strongest-candidates window, not expressible per-row in
    * append streaming).
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING);
    * `corpusText` is the static (doc_id, text) side of the SAME corpus
    * snapshot the index was built from.
    */
  def streamingEditDistGate(docs: DataFrame, corpusIndex: DataFrame,
                            corpusText: DataFrame,
                            k: Int = 3, w: Int = 4, minShared: Long = 1,
                            minSimPpm: Long = 500000L,
                            watermark: String = "10 minutes",
                            maxDf: Long = 0): DataFrame = {
    val spec = IndexContract.winnowFp(k, w, maxDf)
    spec.check(corpusIndex)
    spec.checkBuild(corpusIndex, corpusText, sideName = "corpusText")
    // stateless stages first: fp probe, then text attach per candidate
    // (carrying t1/t2 through the count's group key keeps the query at
    // ONE stateful operator — the substring gates' carry-text idiom)
    val events = docs.withWatermark("ts", watermark)
      .select(col("doc_id").as("batch_id"), col("ts"), col("text").as("t1"),
        explode(TextQueries.winnowFpsExpr(k, w)).as("fp"))
      .join(corpusIndex.select(col("fp"), col("dup_of")), Seq("fp"))
      .join(corpusText.select(col("doc_id").as("dup_of"), col("text").as("t2")),
        Seq("dup_of"))
    val counted = events
      .groupBy(col("batch_id"), col("ts"), col("t1"), col("dup_of"), col("t2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    TextQueries.levVerify(counted,
      Seq("batch_id", "ts", "dup_of", "n_shared"), minSimPpm)
  }

  /** Stream-static EXACT-SUBSTRING scrub gate — the SPAN-level member
    * of the streaming gate family (doc-level exact = bloom, fuzzy-doc =
    * LSH/simhash/winnow gates; this is Lee et al. 2021's granularity):
    * every k-token window of an incoming document that already exists
    * in the static corpus ([[graft.text.TextQueries.substringIndex]] —
    * write it bucketed by `h` via `writeSubstringIndexTable`) is
    * scrubbed, and the gate emits the batch operator's exact contract
    * per document: (batch_id, ts, n_tokens, n_removed, n_spans,
    * clean_hash) — bit-identical to
    * [[graft.text.TextQueries.exactSubstringDedupAgainst]] on the same
    * split (parity spec-pinned), including zero-match and shorter-
    * than-k documents (posexplode_outer keeps them; they emit with
    * n_removed = 0).
    *
    * Scale shape: the positional window hashes are pure per-row
    * expressions; candidates meet the bucketed index in a stream-static
    * LEFT OUTER equi-join (stateless — only the batch's window rows
    * move, the static side carries no Exchange); the ONLY stateful
    * operator is the watermark-scoped per-document collect_set of
    * matched starts (state linear in matched windows per in-flight
    * document, closed when the watermark passes its event time —
    * append mode). The scrub itself is the SAME projection the batch
    * path runs ([[graft.text.SpanDedup.scrub]]).
    *
    * The index is checked strict at plan time (kind + window length k
    * + hash kind — a k or hash mismatch matches zero windows and every
    * duplicated span survives the scrub unseen); build-stamped tables
    * from `writeSubstringIndexTable` arm it end to end.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    * Output (append mode): one row per document once the watermark
    * passes its `ts`.
    */
  def streamingSubstringGate(docs: DataFrame, corpusIndex: DataFrame,
                             k: Int = 50, portableHash: Boolean = true,
                             watermark: String = "10 minutes"): DataFrame =
    SpanDedup.gate(SpanDedup.tokens(k, portableHash), docs, corpusIndex, watermark)

  /** [[streamingSubstringGate]] at CHARACTER granularity (any-offset
    * L-char windows — Lee et al. §4.1's byte-exact semantics): probes
    * [[graft.text.TextQueries.substringCharsIndex]] (write it bucketed
    * by `h` via `writeSubstringCharsIndexTable`) and emits
    * (batch_id, ts, n_chars, n_removed, n_spans, clean_hash),
    * bit-identical to
    * [[graft.text.TextQueries.exactSubstringDedupCharsAgainst]] on the
    * same split. Same shape: per-row window hashes, stateless
    * stream-static left-outer probe, ONE watermark-scoped per-document
    * collect_set, the batch scrub projection. */
  def streamingSubstringCharsGate(docs: DataFrame, corpusIndex: DataFrame,
                                  L: Int = 100, portableHash: Boolean = true,
                                  watermark: String = "10 minutes"): DataFrame =
    SpanDedup.gate(SpanDedup.chars(L, portableHash), docs, corpusIndex, watermark)

  /** Stream-static PARAGRAPH scrub gate — the CCNet-granularity member
    * of the streaming gate family (Wenzek et al. 2020 §3.1: dedup by
    * paragraph hash): every newline-separated paragraph of an incoming
    * page that already exists in the static corpus
    * ([[graft.text.ParagraphQueries.paragraphIndex]] — write it
    * bucketed by `h` via `writeParagraphIndexTable`) is scrubbed, and
    * the gate emits the batch operator's exact contract per page:
    * (batch_id, ts, n_paras, n_removed, clean_hash) — bit-identical to
    * [[graft.text.ParagraphQueries.paragraphDedupAgainst]] on the same
    * split (replay parity spec-pinned), zero-match and null-text pages
    * included. Batch-internal duplication deliberately does NOT scrub,
    * matching the batch contract.
    *
    * Scale shape: paragraph strings never leave their partition — each
    * occurrence reduces to a compact (page, idx, 60-bit hash) row
    * before the stateless stream-static LEFT OUTER probe of the
    * bucketed index (only the page's paragraph-hash rows move; the
    * static side carries no Exchange); the ONLY stateful operator is
    * the watermark-scoped per-page collect_set of matched positions
    * (append mode — a page emits once the watermark passes its event
    * time). The rebuild is the SAME projection the batch path runs
    * ([[graft.text.SpanDedup.scrub]]).
    *
    * The index is checked strict at plan time (kind + hash kind — a
    * token-window or char-window index under this consumer, or a
    * native-hash rebuild, matches zero paragraph hashes and every
    * known paragraph survives unseen).
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING) — one
    * newline-separated page per row.
    */
  def streamingParagraphGate(docs: DataFrame, corpusIndex: DataFrame,
                             watermark: String = "10 minutes"): DataFrame =
    SpanDedup.gate(SpanDedup.paragraphs, docs, corpusIndex, watermark)

  /** Stream-static EXACT-Jaccard gate: incoming documents probe the
    * persisted COMPACT prefix index ([[graft.text.TextQueries.jaccardIndex]]
    * built with `hashOrdered = true` — write it bucketed by `h`) plus
    * its per-doc verification side
    * ([[graft.text.TextQueries.docHashSide]] — write it bucketed by
    * doc_id) and emit one (batch_id, ts, dup_of, jaccard) verdict per
    * corpus document with exact shingle Jaccard ≥ `threshold`. The
    * GUARANTEED-recall member of the streaming gate family: the LSH
    * gate ([[streamingLshAgainst]]) can miss a qualifying pair at the
    * band miss rate; this gate cannot — two sets with J ≥ t must share
    * a prefix token under the index's total order, and every candidate
    * is exact-verified against the doc side.
    *
    * Stateless per row: the incoming doc's sorted hash set and its
    * n−⌈t·n⌉+1 prefix are pure expressions (h-order, which is why the
    * index must be hash-ordered — a df-ordered prefix would need an
    * unbounded lookup per token, i.e. state); candidates meet in the
    * stream-static equi-join on the prefix token (16-byte index rows,
    * no array payload — linear index storage at any document length);
    * a second stream-static join by dup_of pulls the corpus doc's hash
    * set ONCE PER CANDIDATE for the `array_intersect`, integer-ppm
    * gated exactly like the batch join. State = the watermark-bounded
    * verdict dedup only. Batch parity: the verdict PAIR SET equals
    * [[graft.text.TextQueries.jaccardJoinAgainst]] on the same split —
    * recall 1 under any common order makes the order private to the
    * plan (StreamingSpec-pinned). An index built at a HIGHER threshold
    * than the gate's is rejected at plan time via the schema metadata
    * [[graft.text.IndexContract.check]] reads.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingJaccardGate(docs: DataFrame, corpusIndex: DataFrame,
                           corpusDocSide: DataFrame,
                           threshold: Double = 0.8,
                           watermark: String = "10 minutes"): DataFrame = {
    val tPpm = SimJoin.thresholdPpm(threshold)
    // this gate always hashes incoming text with the portable md5
    // expression, and its per-row prefix is plain hash order
    IndexContract.jaccardPrefix(portableHash = true, tPpm, hashOrdered = true)
      .checkWithSide(corpusIndex, corpusDocSide)
    SimJoin.streamVerify(docs, watermark, tPpm, corpusIndex, corpusDocSide,
        Seq(col("n").as("cn")))
      .withColumn("uni", col("bn") + col("cn") - col("inter"))
      .filter(SimJoin.ppmGate(tPpm, "uni"))
      .select(col("batch_id"), col("ts"), col("dup_of"),
        SimJoin.jaccard(col("inter"), col("uni")).as("jaccard"))
      .dropDuplicatesWithinWatermark("batch_id", "dup_of")
  }

  /** Stream-static exact CONTAINMENT gate: emit a verdict when at
    * least `threshold` of an INCOMING document's shingle set already
    * appears inside some corpus document — |B∩C|/|B| ≥ t with B the
    * batch doc, the ingest-time quotation/boilerplate/sub-document-dup
    * detector ([[graft.text.TextQueries.containJoin]]'s asymmetric
    * predicate, one direction only). Probes the FULL-token COMPACT
    * [[graft.text.TextQueries.containIndex]] (write it bucketed by
    * `h`) plus the per-doc [[graft.text.TextQueries.docHashSide]]
    * (bucketed by doc_id) — NOT the prefix
    * [[graft.text.TextQueries.jaccardIndex]]: the containment theorem
    * lets only the CONTAINED (incoming) side's prefix shorten — a
    * prefix-indexed corpus would open a recall hole for a batch doc
    * sitting entirely inside a corpus doc's non-prefix tokens. Emits
    * (batch_id, ts, dup_of, contain_ppm); state = the
    * watermark-bounded verdict dedup only.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingContainGate(docs: DataFrame, corpusIndex: DataFrame,
                           corpusDocSide: DataFrame,
                           threshold: Double = 0.8,
                           watermark: String = "10 minutes"): DataFrame = {
    val tPpm = SimJoin.thresholdPpm(threshold)
    // the containment theorem requires the FULL-token index: a
    // prefix-cut jaccardIndex has the identical compact schema but is
    // the documented recall hole — and a non-portable-hash index can
    // never match this gate's md5-hashed incoming tokens
    IndexContract.containFull(portableHash = true).checkWithSide(corpusIndex, corpusDocSide)
    SimJoin.streamVerify(docs, watermark, tPpm, corpusIndex, corpusDocSide, Nil)
      .filter(SimJoin.ppmGate(tPpm, "bn"))
      .select(col("batch_id"), col("ts"), col("dup_of"),
        SimJoin.containPpm("bn").as("contain_ppm"))
      .dropDuplicatesWithinWatermark("batch_id", "dup_of")
  }

  /** Stateless streaming ingest gate — the per-row stages of
    * corpus_clean for a document stream: the Gopher/C4 quality
    * predicate ([[graft.text.TextQueries.qualityKeep]]) plus benchmark
    * decontamination, with the eval set's distinct n-gram shingles
    * collapsed into ONE static row that broadcast-cross-joins the
    * stream (eval sets are tiny by definition), so contamination is a
    * per-row `array_intersect` check. Zero state, constant memory.
    *
    * Emits the surviving docs unchanged. The remaining corpus_clean
    * stage — near-dup rejection against the existing corpus — is the
    * dup-verdict stream of [[streamingLshAgainst]]; production gates
    * compose the two (pass the gate, subtract the verdicts) because
    * doc-level all-bands-clear quantification is a join aggregate, not
    * a per-row predicate.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingIngestGate(docs: DataFrame, benchmark: DataFrame,
                          n: Int = 5, redactPii: Boolean = false): DataFrame = {
    import graft.text.TextQueries
    // persist the one-row shingle set: the static side of a stream join
    // is re-planned every micro-batch, and without the cache each batch
    // would re-run the benchmark's n-gram explode + distinct + agg just
    // to rebuild the same row — with it, the per-batch cost is only the
    // broadcast. One row, so the cache is trivially bounded; it stays
    // session-owned (cleared by clearCache/session end), as lshPairs'
    // lineage caches document.
    val benchRow = benchmark
      .select(explode(TextQueries.ngramShinglesExpr("text", n)).as("shingle"))
      .distinct()
      .agg(collect_set(col("shingle")).as("bench_shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gated = docs.filter(TextQueries.qualityKeep())
      .crossJoin(broadcast(benchRow))
      .filter(size(array_intersect(
        TextQueries.ngramShinglesExpr("text", n), col("bench_shingles"))) === 0)
      .drop("bench_shingles")
    // PII scrub on the ingest path: per-row regexp_replace, stateless,
    // so it composes into the gate with zero streaming-semantics cost
    // (same expressions as the batch txt_pii query — parity pinned in
    // StreamingSpec)
    if (redactPii)
      gated.withColumn("text", graft.text.PiiQueries.redactPii(col("text")))
    else gated
  }

  /** Stateless streaming DSIR gate: score each incoming document's
    * target-domain affinity against a PRE-TRAINED log-ratio table
    * ([[graft.text.TextQueries.dsirRatioRow]], fit offline on a raw
    * corpus + target slice) and keep documents scoring at least
    * `minLogw`. The ratio table folds into one broadcast row — a
    * MAP<BIGINT,DOUBLE> bounded at `buckets` entries — so scoring is a
    * per-row array fold: zero streaming state, constant memory forever,
    * and grams unseen by either training corpus take the smoothed
    * `default_ratio` (the ingest-time OOV path batch scoring never
    * hits, since batch scores the corpus the model was fit on).
    *
    * The one-row frame is persisted for the same reason as
    * [[streamingIngestGate]]'s benchmark shingles: the static side
    * re-plans every micro-batch, and without the cache each batch would
    * re-run the two corpus-sized counting aggregates. Session-owned
    * cache, as lshPairs' lineage caches document.
    *
    * Output (append mode): the input row + `logw`. Batch parity: for
    * documents of the training corpus itself, `logw` equals
    * [[graft.text.TextQueries.dsirWeights]] (StreamingSpec-pinned).
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingDsirGate(docs: DataFrame, raw: DataFrame, target: DataFrame,
                        buckets: Int = 4096,
                        minLogw: Double = 0.0): DataFrame = {
    import graft.text.TextQueries
    val ratioRow = TextQueries.dsirRatioRow(raw, target, buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs
      .crossJoin(broadcast(ratioRow))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("logw", TextQueries.dsirScoreExpr(buckets))
      .filter(col("logw") >= minLogw)
      .drop("toks", "ratio_map", "default_ratio")
  }

  /** Stateless streaming Bloom dedup gate (the ingest form of the
    * Dolma-style exact-dedup filter, [[graft.text.TextQueries.bloomProbe]]):
    * drop every incoming document whose k Bloom bit positions are ALL
    * set in a filter built offline over the already-ingested corpus
    * ([[graft.text.TextQueries.bloomBuild]] →
    * [[graft.text.TextQueries.bloomDenseWordsRow]]). A seen document
    * always drops (no false negatives); an unseen one drops only at
    * the filter's false-positive rate. Zero streaming state: the dense
    * word-array row is bounded at m/64 longs (~2 MB at m=2^24) BY
    * CONSTRUCTION — independent of corpus size — so each micro-batch
    * pays one one-row broadcast and a per-row k-hash O(1)-indexed
    * membership fold, the same cost envelope as the other stateless
    * gates. Batch
    * parity: the drop set equals `bloomProbe(..).filter(bloom_hit)`
    * exactly (spec-pinned — both sides are integer/bit arithmetic on
    * the same md5 hashes, no float boundary anywhere).
    *
    * The filter comes from EXACTLY ONE of two sources, enforced at
    * plan time (an inconsistent (seen, bits) pair would silently gate
    * on whichever source this body happened to prefer): `seen` — the
    * already-ingested corpus, rebuilt into a filter per session — or
    * `bits` — the PERSISTED [[graft.text.TextQueries.bloomBuild]]
    * table (the production front door: ingest never re-scans the
    * corpus), geometry-checked strict against this gate's (m, k).
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingBloomGate(docs: DataFrame, seen: Option[DataFrame] = None,
                         m: Long = 1L << 24, k: Int = 5,
                         bits: Option[DataFrame] = None): DataFrame = {
    import graft.text.TextQueries
    require(seen.isDefined != bits.isDefined,
      "pass exactly ONE filter source: seen (corpus to rebuild from) OR " +
        "bits (persisted bloomBuild table) — handing both is ambiguous " +
        "and the loser would be silently ignored")
    // production path: hand in the PERSISTED bits table
    // (TextQueries.bloomBuild written to parquet/catalog — the whole
    // point of a Bloom index is that ingest never re-scans `seen`);
    // it must carry this gate's geometry stamps, checked strict — a
    // wrong-(m, k) filter turns seen documents into silent false
    // negatives (they pass the gate and re-enter the corpus)
    bits.foreach(IndexContract.bloomBits(m, k).check)
    // the dense word-array row is a driver-built LocalRelation
    // (bounded at m/64 longs by construction) — nothing to cache; each
    // micro-batch re-broadcasts the ~2 MB row for free. Dense array,
    // NOT a map row: see bloomDenseWordsRow's scaladoc for the
    // measured linear-scan pathology the map form had.
    val bloomRow = TextQueries.bloomDenseWordsRow(
      bits.getOrElse(TextQueries.bloomBuild(seen.get, m, k)), m)
    // positions derive from text BEFORE the join (see
    // bloomHitOfPositions' spelling-constraint scaladoc)
    docs
      .withColumn("_bloom_pos", expr(TextQueries.bloomPositionsExpr(m, k)))
      .crossJoin(broadcast(bloomRow))
      .filter(!TextQueries.bloomHitOfPositions)
      .drop("bwords", "_bloom_pos")
  }

  /** Stateless streaming perplexity gate (the ingest form of CCNet's
    * LM quality filter, Wenzek et al. 2020 §4.3): score each incoming
    * document's unigram NLL against a model TRAINED OFFLINE on a
    * reference corpus ([[graft.text.TextQueries.unigramModelRow]]) and
    * keep documents inside [minNll, maxNll] — the head/middle band;
    * boilerplate scores low, noise scores high. The model is one
    * broadcast row (a topV-bounded token map + the normalizer), scoring
    * is a per-row array fold: zero streaming state, constant memory,
    * out-of-vocabulary tokens take the OOV pseudo-count.
    *
    * The one-row model is persisted for the same reason as the other
    * gates' static sides: without the cache each micro-batch re-runs
    * the corpus-sized vocabulary aggregate. Session-owned cache, as
    * lshPairs' lineage caches document.
    *
    * Output (append mode): the input row + `nll`. Batch parity: for
    * documents of the training corpus itself (untruncated vocab), `nll`
    * matches [[graft.text.TextQueries.unigramScore]] up to the 1e-6
    * quantization boundary (StreamingSpec-pinned): the batch side
    * averages exploded rows in partition order while this expression
    * folds the document sequentially, so the pre-round sums can differ
    * by ~1 ulp and a value sitting exactly on a rounding tie may land
    * one 1e-6 quantum apart.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingPerplexityGate(docs: DataFrame, corpus: DataFrame,
                              minNll: Double = 0.0,
                              maxNll: Double = Double.MaxValue,
                              topV: Option[Int] = None,
                              oovCount: Double = 0.5): DataFrame = {
    import graft.text.TextQueries
    val model = TextQueries.unigramModelRow(corpus, topV)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs
      .crossJoin(broadcast(model))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("nll", TextQueries.unigramScoreExpr(oovCount))
      .filter(col("nll") >= minNll && col("nll") <= maxNll)
      .drop("toks", "uni_map", "tot")
  }

  /** Streaming Kneser-Ney perplexity gate — the bigram-KN form of
    * [[streamingPerplexityGate]] (CCNet's actual filter is a KN LM,
    * Wenzek et al. 2020 §4.3; the unigram gate is its cheapest
    * approximation): the four model tables
    * ([[graft.text.TextQueries.kneserNeyScore]]'s bigram counts, left
    * context counts, left/right continuation types — every one
    * topV-bounded BY CONSTRUCTION) fold into ONE static row of maps
    * ([[graft.text.TextQueries.knModelRow]], persisted session-owned),
    * and each micro-batch pays one one-row broadcast and a per-row
    * index-fold over its token array. Zero state.
    *
    * Batch parity (StreamingSpec-pinned): `nll_kn` matches
    * [[graft.text.TextQueries.kneserNeyScore]] up to the 1e-6
    * quantization boundary (the unigram gate's fold-order convention).
    * Only documents with >= 2 tokens are scored/emitted — the batch
    * side's own composition convention.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    * Output (append mode): the input row + `nll_kn`.
    */
  def streamingKnGate(docs: DataFrame, corpus: DataFrame,
                      minNll: Double = 0.0,
                      maxNll: Double = Double.MaxValue,
                      topV: Option[Int] = None,
                      discount: Double = 0.75): DataFrame = {
    import graft.text.TextQueries
    val model = TextQueries.knModelRow(corpus, topV)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs
      .crossJoin(broadcast(model))
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .withColumn("nll_kn", TextQueries.knScoreExpr(discount))
      .filter(col("nll_kn") >= minNll && col("nll_kn") <= maxNll)
      .drop("toks", "bg_map", "lc_map", "cl_map", "cr_map", "n_types")
  }

  /** The full stateless curation gate — quality + benchmark
    * decontamination + DSIR target-affinity + CCNet perplexity band as
    * ONE micro-batch plan. A production ingest pipeline chains all four
    * stages on every document; composed naively
    * ([[streamingIngestGate]] → [[streamingDsirGate]] →
    * [[streamingPerplexityGate]]) each stage is its own cross-join, so
    * every micro-batch pays THREE one-row broadcasts and re-plans three
    * static sides. This gate folds the three model artifacts — the
    * benchmark shingle set, the DSIR log-ratio map, and the unigram LM
    * row — into ONE static row (a cross join of three one-row frames,
    * persisted session-owned like each individual gate's static side),
    * so each micro-batch pays ONE broadcast and one scan: quality is a
    * per-row predicate before the join, and contamination / logw / nll
    * are per-row expressions over the broadcast row's columns. Zero
    * streaming state, constant memory; every filter survivor carries
    * its `logw` and `nll` scores.
    *
    * Batch parity (StreamingSpec-pinned): survivors == the intersection
    * of the four batch stages' keeps; `logw` exactly matches
    * [[graft.text.TextQueries.dsirWeights]] and `nll` matches
    * [[graft.text.TextQueries.unigramScore]] up to the 1e-6
    * quantization boundary.
    *
    * `classifier` adds the OPTIONAL fifth stage: a pre-trained learned
    * quality classifier ([[graft.text.TextQueries.qualityClassifierTrain]]
    * weights) scored per row against the same broadcast row — the
    * weight vector rides in the static row's `qc_w` column, survivors
    * additionally satisfy `quality_prob >= minProb` and carry the
    * score. Still exactly one broadcast, zero state.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    * Output (append mode): the input row + `logw` + `nll`
    * [+ `quality_prob`].
    */
  def streamingCurationGate(docs: DataFrame, benchmark: DataFrame,
                            raw: DataFrame, target: DataFrame,
                            lmCorpus: DataFrame,
                            n: Int = 5, buckets: Int = 4096,
                            minLogw: Double = 0.0,
                            minNll: Double = 0.0,
                            maxNll: Double = Double.MaxValue,
                            topV: Option[Int] = None,
                            oovCount: Double = 0.5,
                            redactPii: Boolean = false,
                            classifier: Option[(Double, Array[Double])] = None,
                            minProb: Double = 0.0,
                            maxCompressRatio: Option[Double] = None,
                            blocklist: Option[Seq[String]] = None,
                            outlierFences: Option[(Double, Double, Double, Double)] =
                              None,
                            minLetterPpm: Option[Long] = None): DataFrame = {
    import graft.text.TextQueries
    val spark = docs.sparkSession
    import spark.implicits._
    // one static row = benchmark shingles x DSIR ratio map x unigram LM
    // [x classifier weights]: one-row frames cross-joined once at plan
    // time, so the per-micro-batch cost is a single broadcast of a
    // single row
    val benchRow = benchmark
      .select(explode(TextQueries.ngramShinglesExpr("text", n)).as("shingle"))
      .distinct()
      .agg(collect_set(col("shingle")).as("bench_shingles"))
    val modelRow = benchRow
      .crossJoin(TextQueries.dsirRatioRow(raw, target, buckets))
      .crossJoin(TextQueries.unigramModelRow(lmCorpus, topV))
    val staticRow = classifier
      .fold(modelRow) { case (_, w) => modelRow.crossJoin(Seq(w.toSeq).toDF("qc_w")) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the compression-ratio stage is stateless per-row arithmetic (no
    // model artifact), so it rides the same micro-batch plan for free
    val preQ = docs.filter(TextQueries.qualityKeep())
    val preC = maxCompressRatio.fold(preQ)(thr =>
      preQ.filter(TextQueries.compressRatioExpr(col("text")) <= thr))
    // the blocklist stage is likewise stateless: the Aho-Corasick
    // automaton is a plan literal (codegen reference object), so it
    // rides the micro-batch plan with zero extra broadcast or state
    // and is bit-identical to the batch blocklistFilter keep verdict
    val preB = blocklist.fold(preC)(ps =>
      preC.filter(TextQueries.blocklistKeep(ps)))
    // the alphabetic-ratio stage (the CCNet charset gate) is stateless
    // integer arithmetic per row, bit-identical to charClassProfile's
    // letter_ppm — it rides the plan with no artifact and no state
    val preL = minLetterPpm.fold(preB)(thr =>
      preB.filter(TextQueries.letterPpmExpr >= thr))
    // Tukey-fence outlier trim: the fences are OFFLINE literals (a
    // batch qualityOutliers run computes them — quantiles are not a
    // per-row predicate), so the online stage is a stateless filter
    // bit-identical to the batch `kept` verdict
    val pre = outlierFences.fold(preL) { case (tl, th, wl, wh) =>
      val nToks = TextQueries.wsTokenCount("text").cast("long")
      val meanWl = round((length(col("text")) - (nToks - 1)).cast("double") / nToks, 6)
      preL.filter(!(nToks < tl || nToks > th) && !(meanWl < wl || meanWl > wh))
    }
    val scored0 = pre
      .crossJoin(broadcast(staticRow))
      .filter(size(array_intersect(
        TextQueries.ngramShinglesExpr("text", n), col("bench_shingles"))) === 0)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("logw", TextQueries.dsirScoreExpr(buckets))
      .withColumn("nll", TextQueries.unigramScoreExpr(oovCount))
      .filter(col("logw") >= minLogw && col("nll") >= minNll && col("nll") <= maxNll)
    val gated = classifier.fold(scored0) { case (bias, w) =>
      scored0
        .withColumn("quality_prob",
          TextQueries.qualityClassifierProbExpr(bias, w.length))
        .filter(col("quality_prob") >= minProb)
        .drop("qc_w")
    }.drop("toks", "bench_shingles", "ratio_map", "default_ratio", "uni_map", "tot")
    if (redactPii)
      gated.withColumn("text", graft.text.PiiQueries.redactPii(col("text")))
    else gated
  }

  /** Stream-static embedding near-dup gate: incoming vectors matched
    * against a static IVF-assigned corpus ([[graft.sim.Ivf.withCell]]).
    * Stateless end to end: cell assignment is a codegen'd expression
    * over driver-literal centroids, the stream-static equi-join on
    * `cell` prunes candidates to one coarse cluster, and scoring is the
    * per-row quantized cosine ([[graft.sim.SimilarityQueries.cosineE12]],
    * bit-identical to the batch ANN queries). No watermark state at
    * all — the cell join emits each (stream, corpus) pair exactly once.
    *
    * Output (append mode): (qid, ts, dup_of, cosine) for every corpus
    * vector in the stream vector's probed cell(s) with cosine >=
    * `threshold`. With `nprobe = 1` (default) this has the standard
    * single-probe IVF recall caveat — a near-dup in a neighboring cell
    * is missed; `nprobe > 1` expands the STREAM side to its nprobe
    * nearest cells ([[graft.sim.Ivf.withProbes]]), multiplying only
    * the small per-batch row count, never the corpus. Each corpus
    * vector lives in exactly one cell, so a (stream, corpus) pair
    * still emits at most once — the gate stays zero-state at any
    * nprobe.
    *
    * Scale: the corpus side re-plans per micro-batch (broadcast when it
    * fits, else only the micro-batch's rows shuffle); state is zero, so
    * the gate runs forever at constant memory.
    *
    * The assigned corpus is checked STRICT at plan time against THIS
    * gate's centroid set (kind + nlist/dim + the 60-bit centroid
    * fingerprint [[graft.sim.Ivf.centroidFingerprint]] stamped by
    * [[graft.sim.Ivf.withCell]]): a corpus assigned under a different
    * or stale centroid set buckets the two sides by different
    * partitions of the space, so qualifying neighbors sit in cells the
    * query never probes — silent recall loss with zero errors.
    *
    * Input schema: (vec_id LONG, ts TIMESTAMP, embedding ARRAY<FLOAT>).
    */
  def streamingAnnAgainst(vecs: DataFrame, corpusAssigned: DataFrame,
                          centroids: Array[Array[Double]],
                          threshold: Double = 0.25,
                          nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(centroids.nonEmpty && centroids.head.nonEmpty,
      "centroid matrix must be non-empty (nlist >= 1, dim >= 1): an empty " +
        "set has no cells to probe")
    // fingerprint-format pre-check: a corpus stamped before the
    // `chash_fmt` version key existed carries `chash` without it. Two
    // distinct provenances land there, and the message must name the
    // right one (a generic value-mismatch would imply stale centroids
    // when only the fingerprint DEFINITION moved): if the stamped
    // value equals the v2 fingerprint of THIS gate's centroids, the
    // corpus was assigned under the r14 raw-IEEE format (identical
    // values, only the version key missing) — re-stamping is a pure
    // metadata refresh; otherwise it is the retired v1 toString
    // rendering (or genuinely different centroids — v1 values are
    // indistinguishable from a mismatch, which is why v1 was retired)
    // and a re-assignment under the same centroid set resolves both.
    val cellMeta = corpusAssigned.schema("cell").metadata
    val chashKey = IndexContract.ParamPrefix + "chash"
    val fmtKey = IndexContract.ParamPrefix + "chash_fmt"
    if (cellMeta.contains(chashKey) && !cellMeta.contains(fmtKey)) {
      val v2 = graft.sim.Ivf.centroidFingerprint(centroids)
      val stamped = cellMeta.getLong(chashKey)
      if (stamped == v2)
        throw new IllegalArgumentException(
          "assigned corpus carries a centroid fingerprint that MATCHES the " +
            "v2 (raw IEEE-754) fingerprint of this gate's centroids but is " +
            "missing the chash_fmt version key (r14-format stamp, pre-" +
            "versioning): the centroid VALUES are identical — re-run " +
            "Ivf.withCell over the corpus with the same centroid set to " +
            "refresh the stamp (a metadata-only change)")
      else
        throw new IllegalArgumentException(
          "assigned corpus carries an unversioned centroid fingerprint that " +
            "does not match this gate's centroids under the v2 (raw " +
            "IEEE-754) definition: either a legacy v1 (Double.toString) " +
            "stamp — the centroids themselves may be identical — or a " +
            "genuinely different centroid set; re-run Ivf.withCell over " +
            "the corpus with this gate's centroid set to re-stamp it")
    }
    IndexContract.ivfCell(centroids).check(corpusAssigned)
    val stream =
      if (nprobe == 1)
        graft.sim.Ivf.withCell(vecs, centroids)
          .select(col("vec_id").as("qid"), col("ts"),
            col("embedding").as("e1"), col("cell"))
      else
        graft.sim.Ivf.withProbesFast(vecs, centroids, nprobe)
          .select(col("vec_id").as("qid"), col("ts"),
            col("embedding").as("e1"), explode(col("probes")).as("cell"))
    val corpus = corpusAssigned.select(col("vec_id").as("dup_of"),
      col("embedding").as("e2"), col("cell"))
    stream.join(corpus, Seq("cell"))
      .withColumn("cosine",
        graft.sim.SimilarityQueries.cosineE12(col("e1"), col("e2")))
      .filter(col("cosine") >= threshold)
      .select(col("qid"), col("ts"), col("dup_of"), col("cosine"))
  }

  /** Batch-equivalent of [[streamingHistogram]] for oracle comparison
    * (complete-mode streaming result == batch result on the same data). */
  def batchHistogram(events: DataFrame, axis: BinAxis,
                     windowLen: String = "1 minute"): DataFrame =
    events
      .filter(axis.pred(col("value")))
      .groupBy(window(col("ts"), windowLen).as("w"),
        axis.bin(col("value")).as(s"bin_${axis.name}"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("w.start")).as("w_start"),
        col(s"bin_${axis.name}"), col("cnt"))

  /** Streaming HLL register maintenance — the live distinct-vocabulary
    * monitor over a document stream ([[graft.ops.Sketches]]'s sketch
    * family under the streaming contract). Emits REGISTER UPSERTS:
    * (bucket, reg) rows in update mode for every register a micro-batch
    * raises; the reader overlays them onto the persisted snapshot index
    * (`coalesce(update, index)` per bucket — the standard incremental-
    * index contract, same as the other gates' persisted static sides).
    *
    * An optional persisted corpus index folds in as ONE broadcast
    * map row (≤ m entries regardless of corpus size — the model-row
    * pattern): each incoming row's rank maxes against the static
    * register BEFORE the stateful aggregate, which is semantically
    * exact because max is associative/idempotent — so the emitted
    * upsert for a touched bucket already incorporates history, and
    * untouched buckets simply keep their persisted rows. The stateful
    * side is ONE groupBy-max whose state is hard-bounded at m rows —
    * no watermark needed, the state can never grow.
    *
    * Streaming==batch parity (register for register, overlay vs full
    * recompute) is StreamingSpec-pinned.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingDistinctSketch(docs: DataFrame,
                              corpusIndex: Option[DataFrame] = None): DataFrame = {
    import graft.ops.Sketches
    val pairs = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .select(graft.text.TextQueries.phash(col("w")).as("h"))
      .select(Sketches.hllBucketOf("h").as("bucket"),
        Sketches.hllRankOf("h").as("rank"))
    val seeded = corpusIndex match {
      case None => pairs
      case Some(idx) =>
        // the one-row register map is persisted for the same reason as
        // the other gates' static sides (the static side of a stream
        // join re-plans every micro-batch; without the cache each batch
        // re-runs the index aggregation) and MUST outlive the gate for
        // as long as the stream runs — there is no teardown hook on a
        // returned DataFrame, so the handle is session-owned: released
        // by clearCache/session end, bounded at ONE row by construction
        val row = Sketches.hllRegisterMapRow(idx)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pairs.crossJoin(broadcast(row))
          .select(col("bucket"),
            greatest(col("rank"),
              coalesce(element_at(col("regmap"), col("bucket")), lit(0)))
              .as("rank"))
    }
    seeded.groupBy("bucket").agg(max("rank").as("reg"))
  }

  /** Streaming CountMin counter maintenance — the live word-frequency
    * monitor ([[graft.ops.Sketches]]'s frequency member under the
    * streaming contract). Emits COUNTER UPSERTS: (row, col, cnt) rows
    * in update mode where cnt is the cumulative STREAM count of the
    * cell; the reader overlays them ADDITIVELY onto the persisted
    * snapshot index (`index_cnt + coalesce(stream_cnt, 0)` per cell).
    *
    * Unlike [[streamingDistinctSketch]], the persisted index must NOT
    * fold into the stream state: CountMin merge is additive, not
    * idempotent — seeding each micro-batch would re-add history per
    * batch. The overlay therefore stays on the read side, which is
    * exact because disjoint slices sum (the [[Sketches.cmMerge]]
    * contract). The stateful side is ONE groupBy-count whose state is
    * hard-bounded at d·w = 8192 rows — no watermark needed.
    *
    * Streaming==batch parity (index + final upserts == full-corpus
    * counters, cell for cell) is StreamingSpec-pinned.
    *
    * Input schema: (doc_id LONG, ts TIMESTAMP, text STRING).
    */
  def streamingFreqSketch(docs: DataFrame): DataFrame = {
    import graft.ops.Sketches
    docs.select(explode(split(col("text"), " ")).as("w"))
      .select(explode(expr(s"sequence(0, ${Sketches.CmD - 1})")).as("row"), col("w"))
      .select(col("row"), Sketches.cmColOf(col("row"), col("w")).as("col"))
      .groupBy("row", "col").agg(count(lit(1)).as("cnt"))
  }
}
