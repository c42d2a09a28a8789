package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** The contract of one persisted corpus-index kind, written once: the
  * builder stamps it, the batch consumer and the streaming gate check it
  * at plan time, and the bucketed writer persists under it.
  *
  * A stamp is schema metadata on the index's key column: the index KIND
  * (a prefix-cut jaccard index and a full-token containment index share
  * the compact (h, doc_id) schema; probing one with the other's consumer
  * is a recall hole), the HASH KIND (an xxhash64-built index probed by an
  * md5-hashing consumer matches zero tokens), the integer build
  * PARAMETERS the index's values depend on (winnow k/w, window length,
  * band geometry, Bloom (m, k), IVF centroid identity: a consumer at
  * other parameters shares no keys with the index and silently waves
  * every duplicate through), and for the prefix index the build
  * THRESHOLD (exact ppm; prefix rows below it were cut) and token ORDER
  * (both sides need one total order). A writer call adds one BUILD ID
  * across all its tables. Metadata rides the schema through parquet,
  * localCheckpoint and the catalog, costs no bytes per row, and lets a
  * consumer reject an incompatible index before any job runs instead of
  * silently losing recall (the candidate-index pattern of distributed
  * similarity joins).
  *
  * Every consumer checks strictly: each axis its spec names must be
  * present and equal, the threshold as `query >= build`. An index
  * persisted without stamps (before its kind's stamps existed, or
  * round-tripped through a schema-stripping transform) therefore fails
  * at plan time; rebuild it with the current builders, which stamp
  * automatically. There is no bypass: an unverifiable index is the
  * silent-recall surface itself. The same holds when a stamp's
  * definition changes (the IVF centroid fingerprint's `chash_fmt`):
  * re-run the builder over the same inputs to refresh the stamp.
  *
  * @param kind        the index kind
  * @param column      the stamped key column (also the default bucket key)
  * @param portableHash md5-based (DuckDB-replayable) or native hash
  * @param params      integer build parameters
  * @param tPpm        the threshold axis: build threshold on the builder,
  *                    query threshold on the consumer
  * @param hashOrdered the token-order axis of a prefix index
  */
private[graft] final case class IndexContract(kind: String, column: String,
                                              portableHash: Boolean,
                                              params: Map[String, Long] = Map.empty,
                                              tPpm: Option[Long] = None,
                                              hashOrdered: Option[Boolean] = None) {
  import IndexContract._

  /** The column metadata of an index of this spec, with `buildId`. */
  def stamp(buildId: Option[String]): Metadata = {
    val b = new MetadataBuilder().putString(KindKey, kind).putBoolean(PortableHashKey, portableHash)
    tPpm.foreach(b.putLong(TPpmKey, _))
    hashOrdered.foreach(b.putBoolean(HashOrderedKey, _))
    buildId.foreach(b.putString(BuildIdKey, _))
    params.toSeq.sortBy(_._1).foreach { case (k, v) => b.putLong(ParamPrefix + k, v) }
    b.build()
  }

  /** `c` as this spec's stamped key column. A generator's alias drops
    * explicit metadata, so stamp in a select after the generator's. */
  def stamped(c: Column, buildId: Option[String]): Column = c.as(column, stamp(buildId))

  /** Reject, at plan time, a handed-in index that is not of this spec:
    * every axis the spec names must be stamped and equal, the threshold
    * as `query >= build`. */
  def check(idx: DataFrame): Unit = {
    val m = idx.schema(column).metadata
    // kind FIRST: a stamped index of another kind with the same schema
    // (the char-window index under the token-window consumer) should
    // fail with the kind diagnosis, not a "missing param" one
    if (m.contains(KindKey)) {
      val built = m.getString(KindKey)
      require(built == kind,
        s"index kind '$built' does not match this consumer's required " +
          s"'$kind': a prefix-cut index under a containment probe (or vice " +
          "versa) is a silent recall hole — build the right index")
    }
    val missing = (Seq(KindKey, PortableHashKey) ++ tPpm.map(_ => TPpmKey) ++
      hashOrdered.map(_ => HashOrderedKey) ++ params.keys.toSeq.sorted.map(ParamPrefix + _))
      .filterNot(m.contains)
    require(missing.isEmpty,
      s"index column '$column' carries no build metadata for " +
        s"${missing.mkString(", ")}: this consumer's contract is recall 1 " +
        "and an unverifiable index is the same silent-recall-loss surface " +
        "the stamps exist to close — rebuild it with the current builders " +
        "(they stamp automatically) and keep persisted indexes on " +
        "metadata-carrying paths (parquet / catalog / localCheckpoint)")
    val builtHash = m.getBoolean(PortableHashKey)
    require(builtHash == portableHash,
      s"index hash kind (portableHash=$builtHash) does not match this " +
        s"consumer's (portableHash=$portableHash): mismatched hashes match " +
        "ZERO tokens and every duplicate is silently waved through")
    tPpm.foreach { t =>
      val built = m.getLong(TPpmKey)
      require(t >= built,
        s"query threshold $t ppm is below the index build threshold " +
          s"$built ppm: the index's prefix rows were cut at build time, so " +
          "probing below it silently breaks the recall-1 guarantee — " +
          "rebuild the index at the lower threshold")
    }
    hashOrdered.foreach { ho =>
      val built = m.getBoolean(HashOrderedKey)
      require(built == ho,
        s"index token order (hashOrdered=$built) does not match this " +
          s"consumer's prefix order (hashOrdered=$ho): the prefix " +
          "theorem requires ONE total order common to both sides")
    }
    params.toSeq.sortBy(_._1).foreach { case (name, want) =>
      val built = m.getLong(ParamPrefix + name)
      require(built == want,
        s"index build parameter $name=$built does not match this " +
          s"consumer's $name=$want: the fingerprint/window values the two " +
          "sides compute share nothing under different parameters, so the " +
          "probe join matches (near) zero rows and every duplicate is " +
          "silently waved through — rebuild the index at this consumer's " +
          "parameters or probe at the index's")
    }
  }

  /** Cross-frame corpus-identity check: the per-frame stamps cannot see
    * which corpus VERSION a frame was built from, so an index and a side
    * frame (the corpus text, a doc side, a df table) from different
    * snapshots would pass [[check]] and silently drop or mis-verify
    * candidates. Fails when both frames carry build ids that differ.
    * Frames without ids (ad-hoc lazy builds; pass `buildId` to the
    * builders, or [[IndexContract.stampBuild]] the corpus, to arm it)
    * skip the check: version coupling is then the caller's contract. A
    * runtime left-join null check was rejected on measurement: keeping
    * the candidate side forfeits the broadcast-candidate inner plan and
    * forces the corpus-sized array side through a sort-merge shuffle
    * (3.0x at 2M docs). */
  def checkBuild(idx: DataFrame, side: DataFrame, sideColumn: String = "text",
                 sideName: String = "corpus"): Unit = {
    val (mi, ms) = (idx.schema(column).metadata, side.schema(sideColumn).metadata)
    if (mi.contains(BuildIdKey) && ms.contains(BuildIdKey)) {
      val (bi, bs) = (mi.getString(BuildIdKey), ms.getString(BuildIdKey))
      require(bi == bs,
        s"index build '$bi' does not match $sideName build '$bs': the two " +
          "frames were built from different corpus versions — a stale " +
          "doc side silently drops candidates (recall loss) and a stale " +
          "df table breaks the common prefix order the recall-1 theorem " +
          "needs; rebuild from one snapshot (one writer call stamps all " +
          "its tables)")
    }
  }

  /** The probe check of an exact-join consumer: this bucket index, its
    * [[IndexContract.docSide]] (doc_id, hs, n) verification side, and —
    * when both are build-stamped — one corpus snapshot behind them. */
  def checkWithSide(idx: DataFrame, side: DataFrame): Unit = {
    check(idx)
    docSide(portableHash).check(side)
    checkBuild(idx, side, sideColumn = "hs", sideName = "doc-side")
  }

  /** Persist an index of this spec as a catalog table bucketed + sorted
    * by `by`, the probe key: the per-batch probe then meets the static
    * side Exchange-free. Build `idx` under [[IndexContract.buildId]]. */
  def write(idx: DataFrame, table: String, buckets: Int, by: String = column): Unit =
    graft.ops.Scale.writeBucketed(idx, by, buckets, table)
}

private[graft] object IndexContract {
  private val KindKey = "graft.index.kind"
  private val PortableHashKey = "graft.index.portable_hash"
  private val TPpmKey = "graft.index.t_ppm"
  private val HashOrderedKey = "graft.index.hash_ordered"
  private val BuildIdKey = "graft.index.build_id"
  /** Build-parameter stamps are `graft.index.param.<name>` longs. */
  val ParamPrefix = "graft.index.param."

  /** `given`, or one fresh build id: a writer call stamps every table it
    * writes with the same id, so consumers can tell its tables from
    * another call's. */
  def buildId(given: Option[String] = None): Some[String] =
    Some(given.getOrElse(java.util.UUID.randomUUID().toString))

  /** Stamp a corpus SNAPSHOT frame with a build id on `column`, every
    * other metadata key kept, so [[IndexContract.checkBuild]] can tell it
    * from another snapshot's index. */
  def stampBuild(df: DataFrame, buildId: String, column: String): DataFrame =
    df.withColumn(column, col(column).as(column,
      new MetadataBuilder().withMetadata(df.schema(column).metadata)
        .putString(BuildIdKey, buildId).build()))

  /** The still-set cells of a counting filter as Bloom bits: a stamped
    * [[cbfCells]] `bit` column is re-kinded to [[bloomBits]], its
    * geometry and build id kept, so a strict Bloom probe stays armed
    * through the adapter; anything else passes through unchanged. */
  def asBloomBits(cells: DataFrame): DataFrame = {
    val m = cells.schema("bit").metadata
    if (m.contains(KindKey) && m.getString(KindKey) == CbfCells)
      cells.select(col("bit").as("bit",
        new MetadataBuilder().withMetadata(m).putString(KindKey, BloomBits).build()))
    else cells
  }

  // ---- the index kinds ----

  private val BloomBits = "bloom_bits"
  private val CbfCells = "cbf_cells"

  /** MinHash LSH band signatures (doc_id, band, sig). */
  def lshBand(portableHash: Boolean): IndexContract =
    IndexContract("lsh_band", "sig", portableHash,
      Map("K" -> TextQueries.K.toLong, "bands" -> TextQueries.BANDS.toLong))

  /** The compact (h, doc_id) prefix index of the exact Jaccard join, cut
    * at `tPpm` in corpus-df order or, `hashOrdered`, plain hash order. */
  def jaccardPrefix(portableHash: Boolean, tPpm: Long, hashOrdered: Boolean): IndexContract =
    IndexContract("jaccard_prefix", "h", portableHash, tPpm = Some(tPpm),
      hashOrdered = Some(hashOrdered))

  /** The full-token (h, doc_id) index of the exact containment join. */
  def containFull(portableHash: Boolean): IndexContract =
    IndexContract("contain_full", "h", portableHash)

  /** The (doc_id, hs, n) verification side of the exact joins. */
  def docSide(portableHash: Boolean): IndexContract =
    IndexContract("doc_hash_side", "hs", portableHash)

  /** The corpus (h, df) table the df-ordered prefix index was cut in. */
  def corpusDf(portableHash: Boolean): IndexContract =
    IndexContract("corpus_df", "df", portableHash)

  /** SimHash (bk, h, dup_of) band buckets: 4 bands of 15 over 60 bits. */
  val simhashBand: IndexContract =
    IndexContract("simhash_band", "bk", portableHash = true, Map("bands" -> 4L, "bits" -> 60L))

  /** Winnow (dup_of, fp) fingerprints; `maxDf` 0 is the uncapped index. */
  def winnowFp(k: Int, w: Int, maxDf: Long): IndexContract =
    IndexContract("winnow_fp", "fp", portableHash = true,
      Map("k" -> k.toLong, "w" -> w.toLong, "max_df" -> math.max(maxDf, 0L)))

  /** Distinct k-token window hashes (h). */
  def substringTok(k: Int, portableHash: Boolean): IndexContract =
    IndexContract("substring_tok", "h", portableHash, Map("k" -> k.toLong))

  /** Distinct L-char window hashes (h). */
  def substringChar(L: Int, portableHash: Boolean): IndexContract =
    IndexContract("substring_char", "h", portableHash, Map("L" -> L.toLong))

  /** Distinct paragraph hashes (h). */
  val paragraphHash: IndexContract = IndexContract("paragraph_hash", "h", portableHash = true)

  /** Set Bloom bit positions (bit) of an (m, k) filter. */
  def bloomBits(m: Long, k: Int): IndexContract =
    IndexContract(BloomBits, "bit", portableHash = true, Map("m" -> m, "k" -> k.toLong))

  /** Counting-Bloom (bit, cnt) cells of an (m, k) filter. */
  def cbfCells(m: Long, k: Int): IndexContract =
    IndexContract(CbfCells, "bit", portableHash = true, Map("m" -> m, "k" -> k.toLong))

  /** An IVF-assigned corpus's `cell`: the centroid set's nlist, dim and
    * 60-bit fingerprint. `chash_fmt` versions the fingerprint DEFINITION
    * (2 = raw IEEE-754 bits; 1 = the retired toString rendering), so a
    * format change reads as one, not as stale centroids. */
  def ivfCell(centroids: Array[Array[Double]]): IndexContract =
    IndexContract("ivf_cell", "cell", portableHash = true,
      Map("nlist" -> centroids.length.toLong, "dim" -> centroids.head.length.toLong,
        "chash_fmt" -> 2L, "chash" -> graft.sim.Ivf.centroidFingerprint(centroids)))
}
