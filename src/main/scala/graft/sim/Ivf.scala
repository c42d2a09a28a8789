package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-style ANN: a coarse k-means quantizer trained on the driver from a
  * BOUNDED deterministic sample (`vec_id < SAMPLE_N` — never the full
  * corpus, so driver memory is O(SAMPLE_N·dim) regardless of corpus
  * size), cell assignment as pure Column arithmetic with the centroids
  * baked in as literals, and search restricted to the query's nearest
  * cell(s) — the inverted-file pruning shape, with multi-probe for
  * recall near cell boundaries.
  *
  * Cross-engine exactness: per-dimension squared differences are
  * quantized to integers before summation (same policy as the cosine
  * queries), and k-means itself is deterministic (fixed init = first k
  * sample vectors in vec_id order, fixed iteration count), so the
  * centroids — and therefore the assignments — are reproducible and the
  * DuckDB oracle evaluates the identical arithmetic from the same
  * literal centroids ([[assignSql]] / [[probesSql]]).
  */
object Ivf {

  /** Training-sample bound: first SAMPLE_N vectors by vec_id. At corpus
    * scale this is the standard IVF recipe (train the coarse quantizer
    * on a small sample, assign everything); 256×64 doubles ≈ 128 KiB on
    * the driver no matter how big the corpus is.
    */
  val SAMPLE_N = 256

  /** Deterministic Lloyd's k-means on the driver. */
  def kmeans(vectors: Array[Array[Double]], k: Int, iters: Int = 10): Array[Array[Double]] = {
    require(vectors.length >= k && k > 0)
    val dim = vectors.head.length
    var centroids = vectors.take(k).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Int](k)
      vectors.foreach { v =>
        val c = assign(v, centroids)
        counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(d => sums(c)(d) / counts(c))
      }
    }
    centroids
  }

  /** Nearest-centroid index (squared euclidean, ties → lowest index). */
  def assign(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centroids.length) {
      var acc = 0.0
      var d = 0
      while (d < v.length) {
        val diff = v(d) - centroids(c)(d)
        acc += diff * diff
        d += 1
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  /** Quantized per-cell distance array (BIGINT), as a SQL fragment over
    * column `embedding` — shared by the single-cell argmin and the
    * multi-probe top-nprobe. Dialect-neutral pieces differ, so each
    * engine gets its own renderer below.
    */
  private def distsSpark(centroids: Array[Array[Double]]): String = {
    val cents = centroids.map(_.mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    s"""transform(sequence(1, ${centroids.length}), c ->
       |  aggregate(
       |    zip_with(embedding, element_at($cents, c),
       |      (x, cd) -> CAST(round((CAST(x AS DOUBLE) - cd) * (CAST(x AS DOUBLE) - cd) * 1e12) AS BIGINT)),
       |    CAST(0 AS BIGINT), (acc, v) -> acc + v))""".stripMargin
  }

  /** Append a `cell` column: argmin over centroid distances (ties →
    * lowest cell id, matching [[assign]]).
    *
    * The entire argmin is ONE nested higher-order expression over a 2-D
    * centroid literal. Per-centroid intermediate columns (or a when-
    * fold) get inlined by CollapseProject — especially across self-joins
    * — duplicating every distance aggregate up to 16×, which blew
    * codegen to tens of seconds per query; a single self-contained
    * expression gives the optimizer nothing to copy.
    */
  def withCell(df: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty && centroids.head.nonEmpty,
      "centroid matrix must be non-empty (nlist >= 1, dim >= 1): an empty " +
        "set has no cells to assign")
    // codegen'd argmin (graft.functions.IvfCellE12): same quantized
    // arithmetic and first-lowest tie rule as the nested-HOF form
    // (equality pinned in EmbeddingKernelSpec), evaluated as one tight
    // loop instead of interpreted lambdas
    val out = df.withColumn("cell", org.apache.spark.sql.GraftBridge.column(
      graft.functions.IvfCellE12(
        org.apache.spark.sql.GraftBridge.expression(df("embedding")), centroids)))
    // stamp the centroid-set identity on `cell` (kind + nlist/dim + a
    // 60-bit fingerprint of the centroid values): an assigned corpus
    // probed under a DIFFERENT centroid set buckets the two sides by
    // different partitions of the space, so qualifying neighbors land
    // in cells the query never probes — silent recall loss, the
    // jaccard/winnow index class in the ANN family. Checked strict by
    // streamingAnnAgainst and the recall audits; survives
    // parquet/catalog round-trips.
    val spec = graft.text.IndexContract.ivfCell(centroids)
    out.select(out.columns.map { c =>
      if (c == spec.column) spec.stamped(col(c), None) else col(c)
    }: _*)
  }

  /** 60-bit fingerprint of a centroid matrix: md5 over the raw
    * IEEE-754 bit patterns (`Double.doubleToLongBits`, big-endian, row
    * by row, with nlist/dim framing). Equal fingerprints ⟺ equal
    * centroid VALUES ⟺ equal assignment functions (both the codegen'd
    * argmin and the HOF form consume the doubles directly). Hashing
    * the bits rather than `toString` renderings keeps the fingerprint
    * stable across JVM versions — JDK 19 changed Double.toString to
    * shortest-round-trip, and a rendering-dependent fingerprint would
    * spuriously reject a persisted assigned corpus after a JVM upgrade
    * (strict `chash` check in streamingAnnAgainst). Driver-side,
    * O(nlist·dim) once per plan. */
  def centroidFingerprint(centroids: Array[Array[Double]]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    def putLong(v: Long): Unit = {
      buf.clear(); buf.putLong(v); md.update(buf.array())
    }
    putLong(centroids.length.toLong)
    centroids.foreach { row =>
      putLong(row.length.toLong)
      row.foreach(d => putLong(java.lang.Double.doubleToLongBits(d)))
    }
    val hex = md.digest().take(8).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** Append `dist_e12`: the MINIMUM quantized squared distance to any
    * centroid — i.e. the distance to the assigned cell's centroid
    * (argmin ties share the min value). Codegen'd
    * ([[graft.functions.IvfMinDistE12]]), map-only: prototype pruning
    * ranks by it and kmeans‖ samples proportionally to it without any
    * join against a centroid table. */
  def withMinDist(df: DataFrame, centroids: Array[Array[Double]],
                  colName: String = "dist_e12"): DataFrame =
    df.withColumn(colName, org.apache.spark.sql.GraftBridge.column(
      graft.functions.IvfMinDistE12(
        org.apache.spark.sql.GraftBridge.expression(df("embedding")), centroids)))

  /** The HOF form of [[withMinDist]], retained for parity testing. */
  def withMinDistHof(df: DataFrame, centroids: Array[Array[Double]],
                     colName: String = "dist_e12"): DataFrame =
    df.withColumn(colName, expr(s"array_min(${distsSpark(centroids)})"))

  /** The nested-HOF argmin form, retained for parity testing. */
  def withCellHof(df: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val dists = distsSpark(centroids)
    // array_position returns the FIRST match → lowest cell id on ties
    df.withColumn("cell",
      expr(s"CAST(array_position($dists, array_min($dists)) - 1 AS INT)"))
  }

  /** Append a `probes` column: the `nprobe` nearest cell ids in distance
    * order (ties → lowest cell id). Sorting (dist, idx) BIGINT pairs
    * lexicographically gives both orders in one array_sort; the same
    * pair-sort runs in DuckDB ([[probesSql]]) so the engines agree
    * exactly.
    *
    * RETAINED AS THE ORACLE-SHAPED REFERENCE: every query path uses
    * [[withProbesFast]] (same probes, spec-pinned) — this HOF form
    * carries the centroid literal the DuckDB oracle mirrors, and the
    * parity spec is what entitles the fast kernel to the oracle's
    * green check. */
  def withProbes(df: DataFrame, centroids: Array[Array[Double]], nprobe: Int): DataFrame = {
    val dists = distsSpark(centroids)
    val k = centroids.length
    val pairs = s"transform(sequence(1, $k), c -> array(element_at(ds, c), CAST(c - 1 AS BIGINT)))"
    df.withColumn("ds", expr(dists))
      .withColumn("probes",
        expr(s"slice(transform(array_sort($pairs), p -> CAST(element_at(p, 2) AS INT)), 1, $nprobe)"))
      .drop("ds")
  }

  /** [[withProbes]] via ONE codegen'd reference-object kernel
    * ([[graft.functions.IvfProbesE12]]) — identical probe lists
    * (same lexicographic (dist, id) order and tie rule; equality
    * spec-pinned) with neither the HOF form's centroid LITERAL (a
    * ~90k-node expression tree at production geometry nlist ≈ √N)
    * nor its interpreted pair-sort (measured ~1.8 s PER INVOCATION
    * on a 16-row frame at nlist=1414). The distance scan and the
    * nprobe-selection fuse with early abandonment, so the probe
    * side costs O(nlist·dim_eff) per row inside whole-stage
    * codegen. This is the probe path the corpus-scale recall
    * ladder and the streaming ANN gate use. */
  def withProbesFast(df: DataFrame, centroids: Array[Array[Double]],
                     nprobe: Int): DataFrame =
    df.withColumn("probes", org.apache.spark.sql.GraftBridge.column(
      graft.functions.IvfProbesE12(
        org.apache.spark.sql.GraftBridge.expression(df("embedding")),
        centroids, nprobe)))

  /** DuckDB literal for the centroid matrix: exponent-carrying doubles
    * ([[DuckLiteral]]), which DuckDB parses to the same IEEE values —
    * a plain decimal rendering would go through DECIMAL first. */
  private def centsDuck(centroids: Array[Array[Double]]): String =
    DuckLiteral.matrix(centroids)

  /** DuckDB fragment: quantized distance list `ds` over `embedding`
    * given a `cents` CTE exposing the matrix as column `cc`. */
  private def distsDuck(k: Int): String =
    s"""list_transform(range(1, ${k + 1}), c ->
       |  list_sum(list_transform(range(1, len(embedding) + 1), i ->
       |    CAST(round((CAST(embedding[i] AS DOUBLE) - cc[c][i]) * (CAST(embedding[i] AS DOUBLE) - cc[c][i]) * 1e12) AS BIGINT))))""".stripMargin

  /** DuckDB CTE prefix `cents` + per-vector assignment select, matching
    * [[withCell]] exactly: `SELECT vec_id, embedding, cell FROM ...`. */
  def assignSql(centroids: Array[Array[Double]], table: String = "embeddings"): String =
    s"""WITH cents AS (SELECT ${centsDuck(centroids)} AS cc),
       |dists AS (
       |  SELECT vec_id, embedding, ${distsDuck(centroids.length)} AS ds
       |  FROM $table CROSS JOIN cents)
       |SELECT vec_id, embedding,
       |  CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell
       |FROM dists""".stripMargin

  /** [[assignSql]] plus the min distance itself (`dist_e12` — the
    * distance to the assigned centroid, [[withMinDist]]'s oracle twin):
    * `SELECT vec_id, embedding, cell, dist_e12 FROM ...`. */
  def assignDistSql(centroids: Array[Array[Double]], table: String = "embeddings"): String =
    s"""WITH cents AS (SELECT ${centsDuck(centroids)} AS cc),
       |dists AS (
       |  SELECT vec_id, embedding, ${distsDuck(centroids.length)} AS ds
       |  FROM $table CROSS JOIN cents)
       |SELECT vec_id, embedding,
       |  CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell,
       |  CAST(list_min(ds) AS BIGINT) AS dist_e12
       |FROM dists""".stripMargin

  /** DuckDB per-vector probe list (nprobe nearest cells), matching
    * [[withProbes]]: `SELECT vec_id, embedding, probes FROM ...`. */
  def probesSql(centroids: Array[Array[Double]], nprobe: Int,
                table: String = "embeddings"): String = {
    val k = centroids.length
    s"""WITH cents AS (SELECT ${centsDuck(centroids)} AS cc),
       |dists AS (
       |  SELECT vec_id, embedding, ${distsDuck(k)} AS ds
       |  FROM $table CROSS JOIN cents),
       |probed AS (
       |  SELECT vec_id, embedding,
       |    list_transform(
       |      list_sort(list_transform(range(1, ${k + 1}), c -> [ds[c], CAST(c - 1 AS BIGINT)])),
       |      p -> CAST(p[2] AS INT))[1:$nprobe] AS probes
       |  FROM dists)
       |SELECT vec_id, embedding, probes FROM probed""".stripMargin
  }

  /** Trained centroids keyed by (dir, k) — consulted by the oracle-SQL
    * builder, which has no SparkSession/dir of its own (the driver dumps
    * oracle SQL after running every query, so by then training has run
    * on exactly the dataset the oracle will read). Keyed, not a single
    * slot: a second dataset or a different k in the same session must
    * not silently swap the literals under an already-run query's oracle.
    */
  private val trained =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Array[Array[Double]]]
  @volatile private var lastKey: Option[(String, Int)] = None

  /** Centroids for the exact (dir, k) a query trained with. */
  def cachedCentroidsFor(dir: String, k: Int): Option[Array[Array[Double]]] =
    trained.get((dir, k))

  /** The one trained configuration of this session. Verify trains all
    * IVF queries on a single (dir, k); if a session has trained several,
    * picking any one silently mismatches the others' oracles — fail loud
    * instead. */
  def cachedCentroids: Option[Array[Array[Double]]] = lastKey.map { lk =>
    require(trained.size == 1,
      s"IVF oracle ambiguity: centroids trained for ${trained.keys.mkString(", ")} " +
        "in this session; oracle SQL can only be emitted for a single (dir, k)")
    trained(lk)
  }

  /** Train the coarse quantizer on the bounded deterministic sample.
    * Training itself is NOT memoized across calls: the sample collect is
    * tiny (SAMPLE_N rows) and serving a memoized result would silently
    * go stale if the parquet at `dir` is rewritten in a long-lived
    * session. The cache above only records what was last trained per
    * (dir, k), for the oracle builder. */
  def trainCentroids(spark: SparkSession, dir: String, k: Int): Array[Array[Double]] = {
    // delegates to the parameterized production recipe
    // ([[trainCentroidsOn]] — bounded deterministic sample + driver
    // Lloyd), so the oracle-green registered queries exercise the SAME
    // code path the corpus-scale √N-geometry entries run; sampleN =
    // SAMPLE_N and the default iteration count keep the trained
    // literals bit-identical to the historical direct-kmeans training
    // (the cached-literal oracles depend on that determinism).
    val cents = trainCentroidsOn(graft.Tables.embeddings(spark, dir), k, SAMPLE_N)
    trained((dir, k)) = cents
    lastKey = Some((dir, k))
    cents
  }

  /** Distributed Lloyd refinement of a centroid set over the FULL
    * corpus — full k-means (the SemDeDup paper's actual clustering
    * step, Abbas et al. 2023 §3) as opposed to the sample-only IVF
    * training above. Each iteration is ONE corpus pass: cells assign
    * through the codegen'd quantized argmin ([[withCell]] — the
    * centroids ride into the kernel as literals, no join), per-(cell,
    * dim) partial sums combine map-side, and only k × dim tiny rows
    * reach the driver, which recomputes the means. Empty cells keep
    * their previous centroid (deterministic, no respawn heuristic).
    *
    * Determinism: the assignment arithmetic is the quantized-integer
    * kernel (exact), and the recomputed means are rounded to a 1e-9
    * quantum so partition-order float summation cannot leak into the
    * published centroids (the repo's cross-row float discipline) —
    * refinement is repartition-invariant, spec-pinned in KmeansSpec.
    */
  def lloydRefine(df: DataFrame, init: Array[Array[Double]],
                  iters: Int = 5): Array[Array[Double]] = {
    require(init.nonEmpty && iters >= 0)
    val dim = init.head.length
    var cents = init
    for (_ <- 0 until iters) {
      val stats = withCell(df.select(col("embedding")), cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy("cell", "d")
        .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect()
      val sums = Array.ofDim[Double](cents.length, dim)
      val counts = new Array[Long](cents.length)
      stats.foreach { r =>
        sums(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        counts(r.getInt(0)) = r.getLong(3)
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0L) cents(c)
        else Array.tabulate(dim)(d => math.rint(sums(c)(d) / counts(c) * 1e9) / 1e9)
      }
    }
    cents
  }

  private val refinedCache =
    scala.collection.mutable.Map.empty[(String, Int), Array[Array[Double]]]
  @volatile private var lastRefinedKey: Option[(String, Int)] = None

  /** Refined centroids of the last [[refineCentroids]] run — the oracle
    * builder's literals, with the [[cachedCentroids]] fail-loud
    * ambiguity rule. */
  def cachedRefinedCentroids: Option[Array[Array[Double]]] = lastRefinedKey.map { lk =>
    require(refinedCache.size == 1,
      s"k-means oracle ambiguity: refined centroids exist for ${refinedCache.keys.mkString(", ")} " +
        "in this session; oracle SQL can only be emitted for a single (dir, k)")
    refinedCache(lk)
  }

  /** Driver-side Lloyd refinement over an in-memory vector set — the
    * bounded-sample twin of [[lloydRefine]]: the IDENTICAL assignment
    * kernel ([[graft.functions.IvfCellE12]]'s quantized arithmetic via
    * [[assignQuantized]], ties → lowest cell), identical empty-cell
    * rule, identical 1e-9 mean rounding. Spec-pinned equal to
    * [[lloydRefine]] on the same rows (KmeansSpec). O(n·k·dim) driver
    * work, zero distributed jobs. */
  def lloydRefineLocal(vectors: Array[Array[Double]],
                       init: Array[Array[Double]],
                       iters: Int): Array[Array[Double]] = {
    require(init.nonEmpty && iters >= 0)
    val dim = init.head.length
    var cents = init
    for (_ <- 0 until iters) {
      val sums = Array.ofDim[Double](cents.length, dim)
      val counts = new Array[Long](cents.length)
      vectors.foreach { v =>
        val c = assignQuantized(v, cents)
        counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0L) cents(c)
        else Array.tabulate(dim)(d => math.rint(sums(c)(d) / counts(c) * 1e9) / 1e9)
      }
    }
    cents
  }

  /** Nearest-centroid index under the QUANTIZED squared distance
    * Σ_d qround((x_d − c_d)²·1e12) — the driver twin of the codegen'd
    * [[graft.functions.IvfCellE12]] (same `qround`, same ties → lowest
    * cell), so driver-side refinement assigns exactly as the
    * distributed passes would. */
  def assignQuantized(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = Long.MaxValue
    var bestC = 0
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var acc = 0L
      var d = 0
      while (d < v.length && acc < best) {
        val diff = v(d) - cent(d)
        acc += graft.functions.QuantKernels.qround(diff * diff * 1e12)
        d += 1
      }
      if (acc < best) { best = acc; bestC = c }
      c += 1
    }
    bestC
  }

  /** Sample-train + sample-refine in one call (the emb_kmeans /
    * semdedup_km / prototypes / d4 / inertia query path); records the
    * refined centroids for the oracle builder.
    *
    * BOUNDED-SAMPLE TRAINING END TO END (r16 verdict #5, carrying
    * r15 #6): both the init AND the `iters` Lloyd refinement passes now
    * train on the deterministic SAMPLE_N-vector sample — one tiny
    * collect and pure driver arithmetic — instead of running
    * `1 + iters` distributed corpus passes per query construct. At
    * 100 TB a full-corpus refinement per query was `iters` corpus
    * scans; the sample recipe is the standard quantizer-training shape
    * ([[trainCentroidsOn]]) at any scale, and the refinement arithmetic
    * is unchanged ([[lloydRefineLocal]] ≡ [[lloydRefine]] on the same
    * rows, spec-pinned). The published centroids CHANGE where the
    * corpus outgrows SAMPLE_N (they are now a function of the sample,
    * as the init always was); every consuming query's DuckDB oracle is
    * built from the same session-trained literals, so the boards stay
    * hash-green — re-verified at sf0.001/0.01/0.1. */
  def refineCentroids(spark: SparkSession, dir: String, k: Int,
                      iters: Int = 5): Array[Array[Double]] = {
    val sample = sampleVectors(graft.Tables.embeddings(spark, dir), SAMPLE_N)
    val init = kmeans(sample, k)
    // record the init exactly as trainCentroids would (same sample,
    // same iterations): a session running both an emb_ivf_* query and
    // a refined query must publish ONE consistent literal set per
    // (dir, k)
    trained((dir, k)) = init
    lastKey = Some((dir, k))
    val cents = lloydRefineLocal(sample, init, iters)
    refinedCache((dir, k)) = cents
    lastRefinedKey = Some((dir, k))
    cents
  }

  // ---- kmeans‖ (Bahmani et al. 2011, "Scalable k-means++") ----

  /** Train a coarse quantizer of `k` cells from a BOUNDED deterministic
    * sample of `df` — the production IVF recipe at any geometry: the
    * first `sampleN` vectors by vec_id collect to the driver (state =
    * sampleN·dim doubles, independent of corpus size; 8192×64 ≈ 4 MB)
    * and seed a fixed-iteration Lloyd refine ([[kmeans]]). For
    * production geometry k ≈ √N, pick sampleN a few × k (the
    * corpus-scale entries use 8192 for k=1414, ~6 points per cell) and
    * a small `iters` — quantizer quality saturates fast on a bounded
    * sample, and the downstream recall floors gate the result. For
    * init past the sample's structural cap, use [[kmeansParInit]]. */
  def trainCentroidsOn(df: DataFrame, k: Int, sampleN: Int,
                       iters: Int = 10): Array[Array[Double]] = {
    require(sampleN >= k, s"sampleN=$sampleN must be >= k=$k")
    kmeans(sampleVectors(df, sampleN), k, iters)
  }

  /** The bounded deterministic training sample as driver doubles: first
    * `sampleN` vectors by vec_id — the ONE sample definition every
    * driver-side trainer shares ([[trainCentroidsOn]],
    * [[refineCentroids]]). */
  private[graft] def sampleVectors(df: DataFrame, sampleN: Int): Array[Array[Double]] =
    df.filter(col("vec_id") < sampleN)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Deterministic distributed kmeans‖ initialization: `rounds` passes
    * of D²-proportional OVERSAMPLING (expected `l` new candidates per
    * round, the paper's l ≈ 2k), then a driver-side weighted Lloyd over
    * the ~`rounds·l` candidates. This removes [[trainCentroids]]'s
    * structural cap (a SAMPLE_N-row driver sample can never seed more
    * than SAMPLE_N clusters, and sees none of the corpus's tail
    * structure) — the init quality of kmeans++ at corpus scale with
    * O(rounds) passes and only candidate-sized driver state.
    *
    * Determinism (repartition-invariant, spec-pinned in KmeansSpec):
    * the per-row acceptance draw is a salted xxhash64 of (round,
    * vec_id) — no RNG; distances are the quantized-integer kernel
    * ([[withMinDist]], incremental `least` against each round's NEW
    * candidates only); the round cost Σ md sums in DECIMAL(38,0), so
    * partition order cannot flip an acceptance threshold; candidates
    * append in vec_id order; the weighted refit is sequential driver
    * code from a deterministic (weight desc, arrival order) init.
    *
    * Scale: each round is one corpus pass over a persisted (vec_id,
    * embedding, md) frame (the standard kmeans‖ shape — md is
    * incremental, so round r costs O(l·dim) per row, not O(|C|·dim));
    * the acceptance collect is expected-l rows and HARD-bounded
    * (fail-loud) at 40·l, and the final per-candidate weight pass is
    * one codegen'd assignment + a |C|-row aggregate. */
  def kmeansParInit(df: DataFrame, k: Int, l: Int, rounds: Int,
                    seed: String = "kmpp"): Array[Array[Double]] = {
    require(k >= 1 && l >= 1 && rounds >= 1)
    def vecOf(r: org.apache.spark.sql.Row, i: Int): Array[Double] =
      r.getSeq[Float](i).map(_.toDouble).toArray
    val first = df.orderBy("vec_id").select("vec_id", "embedding").head()
    val cands = scala.collection.mutable.ArrayBuffer[(Long, Array[Double])](
      (first.getLong(0), vecOf(first, 1)))
    var cur = withMinDist(df.select(col("vec_id"), col("embedding")),
        Array(cands.head._2), "md")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      for (r <- 1 to rounds) {
        val costDec = cur.agg(sum(col("md").cast("decimal(38,0)"))).head().getDecimal(0)
        val cost = if (costDec == null) 0.0 else costDec.doubleValue()
        if (cost > 0) {
          // accept iff u < l·md/cost with u = (h mod 1e9 + 0.5)/1e9 — a
          // per-row pure function of (seed, round, vec_id)
          val u = (pmod(xxhash64(concat_ws("_", lit(seed), lit(r), col("vec_id"))),
            lit(1000000000L)).cast("double") + lit(0.5)) / lit(1e9)
          val accepted = cur
            .filter(u < col("md").cast("double") * lit(l.toDouble) / lit(cost))
            .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
          require(cands.size + accepted.length <= math.max(64, 40 * l),
            s"kmeans‖ round $r accepted ${accepted.length} candidates — far above " +
              s"the expected $l; refusing to collect an unbounded set")
          val seen = cands.map(_._1).toSet
          val fresh = accepted.iterator
            .map(row => (row.getLong(0), vecOf(row, 1)))
            .filterNot(c => seen(c._1)).toArray
          if (fresh.nonEmpty) {
            cands ++= fresh
            val nxt = withMinDist(
                cur.select(col("vec_id"), col("embedding"), col("md")),
                fresh.map(_._2), "nd")
              .withColumn("md", least(col("md"), col("nd"))).drop("nd")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            nxt.count()
            cur.unpersist()
            cur = nxt
          }
        }
      }
    } finally cur.unpersist()
    require(cands.size >= k,
      s"kmeans‖ produced ${cands.size} candidates < k=$k — raise l/rounds " +
        "(expected candidates ≈ rounds·l + 1)")
    // weight = corpus mass captured by each candidate (one codegen'd
    // assignment pass; |C| tiny rows to the driver)
    val cmat = cands.map(_._2).toArray
    val weights = new Array[Long](cmat.length)
    withCell(df.select(col("embedding")), cmat).groupBy("cell").count()
      .collect().foreach(r => weights(r.getInt(0)) = r.getLong(1))
    weightedKmeans(cmat, weights, k)
  }

  /** Deterministic weighted Lloyd on the driver (the kmeans‖ refit):
    * init = the k heaviest candidates (ties → arrival order), quantized
    * assignment ties → lowest index, means rounded to the 1e-9 quantum
    * ([[lloydRefine]]'s literal discipline), empty clusters keep their
    * centroid. */
  def weightedKmeans(pts: Array[Array[Double]], w: Array[Long], k: Int,
                     iters: Int = 10): Array[Array[Double]] = {
    require(pts.length >= k && pts.length == w.length)
    val dim = pts.head.length
    val order = pts.indices.sortBy(i => (-w(i), i)).take(k)
    var cents = order.map(i => pts(i).clone()).toArray
    for (_ <- 0 until iters) {
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      var i = 0
      while (i < pts.length) {
        if (w(i) > 0) {
          var best = Long.MaxValue
          var bestC = 0
          var c = 0
          while (c < k) {
            var acc = 0L
            var d = 0
            while (d < dim) {
              val diff = pts(i)(d) - cents(c)(d)
              acc += graft.functions.QuantKernels.qround(diff * diff * 1e12)
              d += 1
            }
            if (acc < best) { best = acc; bestC = c }
            c += 1
          }
          counts(bestC) += w(i)
          var d = 0
          while (d < dim) { sums(bestC)(d) += pts(i)(d) * w(i); d += 1 }
        }
        i += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0L) cents(c)
        else Array.tabulate(dim)(d => math.rint(sums(c)(d) / counts(c) * 1e9) / 1e9)
      }
    }
    cents
  }

  private val parCache =
    scala.collection.mutable.Map.empty[(String, Int), Array[Array[Double]]]
  @volatile private var lastParKey: Option[(String, Int)] = None

  /** Centroids of the last [[parRefineCentroids]] run — the oracle
    * builder's literals, with the [[cachedCentroids]] fail-loud rule. */
  def cachedParCentroids: Option[Array[Array[Double]]] = lastParKey.map { lk =>
    require(parCache.size == 1,
      s"kmeans‖ oracle ambiguity: centroids exist for ${parCache.keys.mkString(", ")} " +
        "in this session; oracle SQL can only be emitted for a single (dir, k)")
    parCache(lk)
  }

  /** kmeans‖ init + distributed Lloyd refinement in one call (the
    * emb_kmeans_pp query path); records the centroids for the oracle
    * builder. */
  def parRefineCentroids(spark: SparkSession, dir: String, k: Int,
                         l: Int = 16, rounds: Int = 3,
                         iters: Int = 2): Array[Array[Double]] = {
    val emb = graft.Tables.embeddings(spark, dir)
    val init = kmeansParInit(emb, k, l, rounds)
    val cents = lloydRefine(emb, init, iters)
    parCache((dir, k)) = cents
    lastParKey = Some((dir, k))
    cents
  }

  // ---- two-level residual VQ (coarse + shared fine residual codebook) ----

  /** Quantized-integer assignment (the kernel's exact rule: ties →
    * lowest index) on the driver, for residual training. */
  private def quantAssign(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = Long.MaxValue
    var bestC = 0
    var c = 0
    while (c < cents.length) {
      var acc = 0L
      var d = 0
      while (d < v.length) {
        val diff = v(d) - cents(c)(d)
        acc += graft.functions.QuantKernels.qround(diff * diff * 1e12)
        d += 1
      }
      if (acc < best) { best = acc; bestC = c }
      c += 1
    }
    bestC
  }

  /** Train the two-level residual quantizer: coarse = the bounded-sample
    * k-means ([[trainCentroids]]), fine = k-means over the SAMPLE's
    * coarse residuals (one shared residual codebook for all coarse
    * cells — the classic RVQ layout, so fine training is as bounded as
    * coarse). k1·k2 effective cells at (k1+k2)·dim assignment cost —
    * the scale path past the flat argmin when cluster-bucketed
    * SemDeDup/ANN needs tens of thousands of cells. */
  def trainRvq(spark: SparkSession, dir: String, k1: Int,
               k2: Int): (Array[Array[Double]], Array[Array[Double]]) = {
    val cbs = trainRvqOn(graft.Tables.embeddings(spark, dir), k1, k2)
    trained((dir, k1)) = cbs._1
    lastKey = Some((dir, k1))
    rvqCache((dir, k1, k2)) = cbs
    lastRvqKey = Some((dir, k1, k2))
    cbs
  }

  /** [[trainRvq]] on an arbitrary (vec_id, embedding) frame, without
    * the oracle-literal caches (bench / library use).
    *
    * `sampleN` sizes the bounded deterministic training sample. The
    * 256-row default matches [[trainCentroids]], but a codebook can
    * only be as balanced as its sample supports: 128 coarse cells
    * trained from 256 rows measured 6.5k/16k occupied cells with a 64k
    * max occupancy at 2M uniform vectors — an 8.7e9 candidate-pair
    * blowup (70× balanced) in the bucket-local SemDeDup self-join.
    * Size sampleN ≈ 100·k1 (the FAISS IVF training rule); driver
    * k-means cost is O(iters·sampleN·k·dim), seconds at 16k×128. */
  def trainRvqOn(df: DataFrame, k1: Int, k2: Int,
                 sampleN: Int = SAMPLE_N): (Array[Array[Double]], Array[Array[Double]]) = {
    val vecs = df.filter(col("vec_id") < sampleN)
      .orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val coarse = kmeans(vecs, k1)
    val residuals = vecs.map { v =>
      val c = coarse(quantAssign(v, coarse))
      Array.tabulate(v.length)(d => v(d) - c(d))
    }
    val fine = kmeans(residuals, k2)
    (coarse, fine)
  }

  private val rvqCache = scala.collection.mutable.Map
    .empty[(String, Int, Int), (Array[Array[Double]], Array[Array[Double]])]
  @volatile private var lastRvqKey: Option[(String, Int, Int)] = None

  /** (coarse, fine) of the last [[trainRvq]] run — the oracle builder's
    * literals, with the [[cachedCentroids]] fail-loud rule. */
  def cachedRvq: Option[(Array[Array[Double]], Array[Array[Double]])] =
    lastRvqKey.map { lk =>
      require(rvqCache.size == 1,
        s"RVQ oracle ambiguity: codebooks exist for ${rvqCache.keys.mkString(", ")} " +
          "in this session; oracle SQL can only be emitted for a single (dir, k1, k2)")
      rvqCache(lk)
    }

  /** Append `cell2` = coarse·|fine| + fine via the codegen'd two-stage
    * kernel ([[graft.functions.RvqCellE12]]) — map-only, one expression. */
  def withRvqCell(df: DataFrame, coarse: Array[Array[Double]],
                  fine: Array[Array[Double]]): DataFrame =
    df.withColumn("cell2", org.apache.spark.sql.GraftBridge.column(
      graft.functions.RvqCellE12(
        org.apache.spark.sql.GraftBridge.expression(df("embedding")), coarse, fine)))

  /** DuckDB twin of [[withRvqCell]]: coarse argmin, then the fine argmin
    * on Σ round((x − cc − f)²·1e12) from the same literal codebooks —
    * `SELECT vec_id, embedding, cell2 FROM ...`. */
  def rvqAssignSql(coarse: Array[Array[Double]], fine: Array[Array[Double]],
                   table: String = "embeddings"): String = {
    val k2 = fine.length
    s"""WITH cents AS (SELECT ${centsDuck(coarse)} AS cc, ${centsDuck(fine)} AS ff),
       |d1 AS (
       |  SELECT vec_id, embedding, ${distsDuck(coarse.length)} AS ds
       |  FROM $table CROSS JOIN cents),
       |a1 AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell
       |  FROM d1),
       |d2 AS (
       |  SELECT vec_id, embedding, cell,
       |    list_transform(range(1, ${k2 + 1}), j ->
       |      list_sum(list_transform(range(1, len(embedding) + 1), i ->
       |        CAST(round((CAST(embedding[i] AS DOUBLE) - cc[cell + 1][i] - ff[j][i])
       |          * (CAST(embedding[i] AS DOUBLE) - cc[cell + 1][i] - ff[j][i]) * 1e12) AS BIGINT)))) AS ds2
       |  FROM a1 CROSS JOIN cents)
       |SELECT vec_id, embedding,
       |  CAST(cell * $k2 + list_position(ds2, list_min(ds2)) - 1 AS INT) AS cell2
       |FROM d2""".stripMargin
  }
}
