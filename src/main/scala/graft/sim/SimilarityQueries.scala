package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Similarity-search operators over the `embeddings` table
  * (`Array[Float]`, 64-dim): exact brute-force cosine top-k as the
  * baseline, and sign-random-projection (SimHash-LSH) bucketing as the
  * approximate/scale path.
  *
  * Cross-engine exactness: inner products are quantized per-element to
  * integers (`round(x*y*1e12) :: long`) and summed exactly — double
  * summation order differs between engines, integer sums don't. The
  * 1e-12 relative quantization is far below float32 input precision.
  *
  * Scale notes (100 TB): brute-force top-k is a broadcast-join of the
  * (small) query set against the full corpus — linear scan, no shuffle
  * of the corpus. The LSH path buckets the corpus once (per-row map) and
  * turns candidate generation into a bucket-local equi-join.
  */
object SimilarityQueries {
  type Q = (SparkSession, String) => DataFrame

  private val DIM = 64
  private val PLANES = 8

  /** proj(p, d) = (phash(p || '_' || d) % 2001 − 1000), precomputed on
    * the driver: the hash depends only on (plane, dim), so evaluating
    * md5 per data row (as the oracle SQL does) is pure waste — at scale
    * that's one md5 call per plane per row of the corpus. Same values
    * as the oracle's SQL md5 by construction; the first 8 rows of any
    * larger matrix are exactly the 8-plane default's. */
  private def projMatrix(planes: Int): Array[Array[Long]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, DIM) { (p, d) =>
      val hex = mdt.digest(s"${p}_$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
    }
  }

  private[graft] lazy val projConst: Array[Array[Long]] = projMatrix(PLANES)

  /** Exact integer-quantized squared-norm scaled by 1e12. */
  private val norm2e12 =
    "aggregate(transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  private val norm2e12Sql =
    "CAST(list_sum(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT)"

  /** Quantized dot of columns e1, e2 (both array<float>). */
  private val dotE12 =
    "aggregate(zip_with(e1, e2, (x, y) -> CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12) AS BIGINT)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  private def dotE12Sql(a: String, b: String) =
    s"CAST(list_sum(list_transform(range(1, len($a) + 1), i -> CAST(round(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT)"

  /** Codegen'd quantized inner product (graft.functions.QuantizedDotE12)
    * — bit-identical arithmetic to the `dotE12`/`norm2e12` HOF strings
    * (equality pinned in EmbeddingKernelSpec), minus the per-element
    * lambda interpretation that dominated the embedding-query tail. */
  private def qdot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.QuantizedDotE12(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** Quantized cosine similarity between two embedding columns — the
    * exact scoring kernel every similarity query here uses, public so
    * the streaming ANN gate ([[graft.streaming.StreamOps]]) scores with
    * bit-identical arithmetic. */
  def cosineE12(a: Column, b: Column): Column =
    qdot(a, b).cast("double") /
      (sqrt(qdot(a, a).cast("double")) * sqrt(qdot(b, b).cast("double")))

  /** Sign-random-projection bucket of an embedding column — a single
    * codegen'd scalar ([[graft.functions.SignLshBucketE12]], the
    * projection matrix as a reference object): bucket assignment is
    * map-only, so candidate generation never shuffles the corpus. The
    * original explode(×dim) + 8-way-sum groupBy + join-back produced
    * identical buckets (EmbeddingKernelSpec pins the parity) but cost a
    * corpus-wide shuffle on vec_id — the one non-map step in every
    * bucketed plan.
    *
    * `planes` is the SCALE knob: bucket count is 2^planes, and within-
    * bucket scoring is quadratic in expected occupancy n/2^planes — a
    * fixed plane count makes any bucket-local self-join (near-dup
    * pairs, SemDeDup) blow up quadratically as the corpus grows. Size
    * planes ~ log2(n / target_occupancy); the 8-plane default matches
    * the driver queries' DuckDB oracles, BENCH_LARGE's emb_neardup
    * measures 16 planes at 2M vectors. More planes trade recall for
    * cost exactly like LSH banding — pairs split across a plane
    * boundary are missed, the standard SRP-LSH tradeoff. */
  def lshBucket(e: Column, planes: Int = PLANES): Column = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
    org.apache.spark.sql.GraftBridge.column(graft.functions.SignLshBucketE12(
      org.apache.spark.sql.GraftBridge.expression(e), projMatrix(planes)))
  }

  /** (vec_id, bucket): per-vector sign-LSH bucket, map-only. */
  private def bucketsOf(e: DataFrame, planes: Int = PLANES): DataFrame =
    e.select(col("vec_id"), lshBucket(col("embedding"), planes).as("bucket"))

  private def buckets(s: SparkSession, dir: String): DataFrame =
    bucketsOf(Tables.embeddings(s, dir))

  /** (vec_id, embedding, bucket): the vectors with their bucket
    * alongside — a projection, no join. */
  private def bucketedOf(e: DataFrame, planes: Int = PLANES): DataFrame =
    e.withColumn("bucket", lshBucket(col("embedding"), planes))

  private def bucketed(s: SparkSession, dir: String): DataFrame =
    bucketedOf(Tables.embeddings(s, dir))

  /** Embedding-space benchmark decontamination — the embedding twin of
    * text decontamination (n-gram overlap can be paraphrased away;
    * cosine proximity to the eval set cannot): drop every corpus vector
    * whose cosine to ANY eval vector reaches `threshold`. Candidate
    * generation is the sign-LSH bucket equi-join with the EVAL side
    * broadcast (eval sets are small by construction); the corpus is
    * scanned, never shuffled on the bucket key, and survivors
    * materialize through the same broadcast anti-join shape as text
    * dedupKeep. Returns the surviving corpus rows.
    *
    * The drop set (`hits`) is bounded by the number of CONTAMINATED
    * corpus vectors, not by the eval set — a heavily contaminated
    * corpus (or a loose `threshold`) can outgrow a broadcast. When the
    * caller can't bound contamination a priori, pass
    * `broadcastDrop = false`: the anti-join then shuffles both sides on
    * vec_id (they co-partition, so the corpus moves once and the drop
    * set — still only ids — stays compact). */
  def annDecontaminate(corpus: DataFrame, eval: DataFrame,
                       threshold: Double = 0.25,
                       planes: Int = PLANES,
                       broadcastDrop: Boolean = true): DataFrame = {
    val eb = bucketedOf(eval, planes)
      .select(col("vec_id").as("eid"), col("embedding").as("e1"), col("bucket"))
    val hits = bucketedOf(corpus, planes)
      .select(col("vec_id"), col("embedding").as("e2"), col("bucket"))
      .join(broadcast(eb), Seq("bucket"))
      .filter(cosineE12(col("e1"), col("e2")) >= threshold)
      .select(col("vec_id")).distinct()
    corpus.join(if (broadcastDrop) broadcast(hits) else hits,
      Seq("vec_id"), "left_anti")
  }

  /** kNN-edge CTE chain shared by the emb_knn_join and emb_pagerank
    * oracles; terminal CTE `knn` exposes (vec_id, rank, nbr, cosine)
    * at the query default k=3. */
  private def knnCtesSql: String =
    s"""bk AS ($bucketSql),
       |q AS (SELECT vec_id, embedding AS e1, bucket FROM bk),
       |c AS (SELECT vec_id AS nbr, embedding AS e2, bucket FROM bk),
       |scored AS (
       |  SELECT q.vec_id, nbr,
       |    CAST(${dotE12Sql("e1", "e2")} AS DOUBLE) /
       |      (sqrt(CAST(${norm2e12Sql.replace("embedding", "e1")} AS DOUBLE)) *
       |       sqrt(CAST(${norm2e12Sql.replace("embedding", "e2")} AS DOUBLE))) AS cosine
       |  FROM q JOIN c USING (bucket) WHERE q.vec_id != nbr),
       |knn AS (SELECT vec_id, rank, nbr, cosine FROM (
       |  SELECT vec_id, nbr, cosine,
       |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr) AS INT) AS rank
       |  FROM scored) t
       |WHERE rank <= 3)""".stripMargin

  /** The emb_pagerank oracle: the kNN CTEs plus `iters` unrolled
    * integer power-iteration rounds — the same ppb `//` arithmetic the
    * engine runs, so the match is exact. */
  private def pageRankSql(iters: Int, dampPct: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""p$i AS (SELECT v.vec_id,
         |  CAST((CAST(100 - $dampPct AS BIGINT) * 1000000000) // (100 * nn.n) + coalesce(s.m, 0) AS BIGINT) AS pr
         |  FROM embeddings v CROSS JOIN nn LEFT JOIN (
         |    SELECT dst, sum((p.pr * $dampPct) // (100 * od.od)) AS m
         |    FROM e JOIN od USING (src) JOIN p${i - 1} p ON e.src = p.vec_id
         |    GROUP BY dst) s
         |  ON v.vec_id = s.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnCtesSql,
       |e AS (SELECT vec_id AS src, nbr AS dst FROM knn),
       |od AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY src),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |p0 AS (SELECT vec_id, CAST(1000000000 // nn.n AS BIGINT) AS pr
       |       FROM embeddings CROSS JOIN nn),
       |$rounds
       |SELECT vec_id, pr AS pr_ppb FROM p$iters""".stripMargin
  }

  private val bucketSql: String =
    s"""SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN (
       |  WITH expl AS (
       |    SELECT vec_id, CAST(d - 1 AS INT) AS d, embedding[d] AS x
       |    FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS d)),
       |  planes AS (
       |    SELECT vec_id, p,
       |      sum((CAST(concat('0x', substr(md5(concat(p, '_', d)), 1, 15)) AS BIGINT) % 2001 - 1000)
       |          * CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS score
       |    FROM expl CROSS JOIN (SELECT unnest(range($PLANES)) AS p)
       |    GROUP BY vec_id, p)
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM planes GROUP BY vec_id) b ON e.vec_id = b.vec_id""".stripMargin

  val queries: Map[String, Q] = Map(
    // L2 norms of every vector
    "emb_norms" -> { (s, dir) =>
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        qdot(col("embedding"), col("embedding")).as("norm2_e12"),
        sqrt(qdot(col("embedding"), col("embedding")).cast("double") / lit(1e12)).as("l2_norm"))
    },

    // brute-force cosine top-10 for query vectors vec_id < 5
    "emb_cosine_topk" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("e1"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("e2"))
      val scored = broadcast(q).join(c, col("qid") =!= col("cid"))
        .withColumn("dot_e12", qdot(col("e1"), col("e2")))
        .withColumn("n1_e12", qdot(col("e1"), col("e1")))
        .withColumn("n2_e12", qdot(col("e2"), col("e2")))
        .withColumn("cosine", col("dot_e12").cast("double") /
          (sqrt(col("n1_e12").cast("double")) * sqrt(col("n2_e12").cast("double"))))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
    },

    // sign-random-projection LSH buckets (deterministic hashed projections;
    // all integer arithmetic so the sign is cross-engine exact)
    "emb_ann_buckets" -> { (s, dir) => buckets(s, dir) },

    // ANN top-k: candidate generation by shared LSH bucket (equi-join on
    // bucket — the scale path), exact cosine re-ranking within the bucket
    "emb_ann_topk" -> { (s, dir) =>
      val b = bucketed(s, dir)
      val q = b.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("e1"), col("bucket"))
      val c = b.select(col("vec_id").as("cid"), col("embedding").as("e2"), col("bucket"))
      // query side is tiny — broadcast it so the corpus streams through a
      // BroadcastHashJoin instead of shuffling on `bucket`
      val scored = broadcast(q).join(c, Seq("bucket")).filter(col("qid") =!= col("cid"))
        .withColumn("dot_e12", qdot(col("e1"), col("e2")))
        .withColumn("n1_e12", qdot(col("e1"), col("e1")))
        .withColumn("n2_e12", qdot(col("e2"), col("e2")))
        .withColumn("cosine", col("dot_e12").cast("double") /
          (sqrt(col("n1_e12").cast("double")) * sqrt(col("n2_e12").cast("double"))))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
    },

    // incremental ANN: new vectors matched against an existing
    // IVF-assigned corpus — the embedding twin of dedup_incremental,
    // best match per query vector (highest cosine, ties to the
    // smallest corpus id). The broadcast hint on the batch side
    // encodes the PRODUCTION assumption batch ≪ corpus (an ingest
    // batch against a standing index); the 50/50 id-parity split here
    // is only the fixture's stand-in for that shape, small enough to
    // broadcast at oracle scale
    "emb_incremental" -> { (s, dir) =>
      val cents = Ivf.trainCentroids(s, dir, k = 8)
      val asg = Ivf.withCell(Tables.embeddings(s, dir), cents)
      val corpus = asg.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("dup_of"), col("embedding").as("e2"), col("cell"))
      val batch = asg.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("qid"), col("embedding").as("e1"), col("cell"))
      val scored = corpus.join(broadcast(batch), Seq("cell"))
        .withColumn("cosine", cosineE12(col("e1"), col("e2")))
        .filter(col("cosine") >= 0.1)
      val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("dup_of"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qid"), col("dup_of"), col("cosine"))
    },

    // IVF cell assignment: driver-trained deterministic k-means coarse
    // quantizer, centroids baked in as literals (inverted-file shape;
    // the alternative scale path to the sign-LSH buckets)
    "emb_ivf_assign" -> { (s, dir) =>
      val cents = Ivf.trainCentroids(s, dir, k = 8)
      Ivf.withCell(Tables.embeddings(s, dir), cents)
        .select(col("vec_id"), col("cell"))
    },

    // k-means with 5 extra Lloyd refinement passes past the 10-pass
    // init: trained end-to-end on the bounded deterministic sample
    // (driver-side — zero distributed training jobs; the r16-verdict
    // bounded-training item), REFINED centroids baked into the same
    // codegen'd argmin over the full corpus
    "emb_kmeans" -> { (s, dir) =>
      val cents = Ivf.refineCentroids(s, dir, k = 8, iters = 5)
      Ivf.withCell(Tables.embeddings(s, dir), cents)
        .select(col("vec_id"), col("cell"))
    },

    // IVF top-k: candidates restricted to the query's cell, exact cosine
    // re-rank within the cell
    "emb_ivf_topk" -> { (s, dir) =>
      val cents = Ivf.trainCentroids(s, dir, k = 8)
      val assigned = Ivf.withCell(Tables.embeddings(s, dir), cents)
        .select(col("vec_id"), col("embedding"), col("cell"))
      val q = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("e1"), col("cell"))
      val c = assigned.select(col("vec_id").as("cid"), col("embedding").as("e2"), col("cell"))
      // broadcast the small query side (consistent with emb_ivf_topk_p2)
      val scored = broadcast(q).join(c, Seq("cell")).filter(col("qid") =!= col("cid"))
        .withColumn("dot_e12", qdot(col("e1"), col("e2")))
        .withColumn("n1_e12", qdot(col("e1"), col("e1")))
        .withColumn("n2_e12", qdot(col("e2"), col("e2")))
        .withColumn("cosine", col("dot_e12").cast("double") /
          (sqrt(col("n1_e12").cast("double")) * sqrt(col("n2_e12").cast("double"))))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
    },

    // IVF multi-probe top-k (nprobe=2): queries search their TWO nearest
    // cells — the standard recall fix for vectors near cell boundaries.
    // Corpus side is still single-cell (each vector lives in exactly one
    // inverted list), so candidates stay duplicate-free and the join is
    // the same bucket-local equi-join, just fed 2 probe rows per query.
    "emb_ivf_topk_p2" -> { (s, dir) =>
      val cents = Ivf.trainCentroids(s, dir, k = 8)
      val assigned = Ivf.withCell(Tables.embeddings(s, dir), cents)
        .select(col("vec_id"), col("embedding"), col("cell"))
      val q = Ivf.withProbesFast(
          Tables.embeddings(s, dir).filter(col("vec_id") < 10), cents, nprobe = 2)
        .select(col("vec_id").as("qid"), col("embedding").as("e1"),
          explode(col("probes")).as("cell"))
      val c = assigned.select(col("vec_id").as("cid"), col("embedding").as("e2"), col("cell"))
      val scored = broadcast(q).join(c, Seq("cell")).filter(col("qid") =!= col("cid"))
        .withColumn("dot_e12", qdot(col("e1"), col("e2")))
        .withColumn("n1_e12", qdot(col("e1"), col("e1")))
        .withColumn("n2_e12", qdot(col("e2"), col("e2")))
        .withColumn("cosine", col("dot_e12").cast("double") /
          (sqrt(col("n1_e12").cast("double")) * sqrt(col("n2_e12").cast("double"))))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
    },

    // IVF-PQ top-k: the at-scale layout — corpus vectors compressed to
    // m=8 per-subspace codes over coarse-cell residuals, candidates
    // ranked by codegen'd ADC distance against the codes alone, raw
    // vectors touched only for the exact re-rank of the top-SHORTLIST.
    // At 100 TB the corpus side carries 8 bytes + cell id per vector
    // instead of 256 bytes of floats; training stays driver-bounded.
    "emb_ivfpq_topk" -> { (s, dir) =>
      val cents = Ivf.trainCentroids(s, dir, k = 8)
      val cbs = Pq.trainCodebooks(s, dir, cents)
      val assigned = Ivf.withCell(Tables.embeddings(s, dir), cents)
      val withRes = Pq.withResidual(assigned, cents)
      val corpus = withRes
        .withColumn("codes", Pq.encodeCol(col("res"), cbs))
        .select(col("vec_id").as("cid"), col("embedding").as("e2"),
          col("cell"), col("codes"))
      val q = withRes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("e1"),
          col("cell"), col("res").as("qr"))
      val adc = broadcast(q).join(corpus, Seq("cell"))
        .filter(col("qid") =!= col("cid"))
        .withColumn("adc", Pq.adcCol(col("qr"), col("codes"), cbs))
      val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc"), col("cid"))
      val shortlist = adc.withColumn("arank", row_number().over(wAdc))
        .filter(col("arank") <= Pq.SHORTLIST)
      val scored = shortlist
        .withColumn("dot_e12", qdot(col("e1"), col("e2")))
        .withColumn("n1_e12", qdot(col("e1"), col("e1")))
        .withColumn("n2_e12", qdot(col("e2"), col("e2")))
        .withColumn("cosine", col("dot_e12").cast("double") /
          (sqrt(col("n1_e12").cast("double")) * sqrt(col("n2_e12").cast("double"))))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
    },

    // ---- ANN recall audit: IVF nprobe=2 top-k vs brute-force top-k ----
    "emb_ann_recall" -> { (s, dir) => annRecall(s, dir) },

    // embedding-cosine near-duplicate pairs above a threshold, pruned by
    // shared LSH bucket before the exact check
    "emb_neardup_pairs" -> { (s, dir) => neardupPairsOf(Tables.embeddings(s, dir)) },

    // ---- embedding-space benchmark decontamination ----
    // the embedding twin of txt_decontaminate (n-gram overlap can be
    // paraphrased away; cosine proximity to the eval set cannot): drop
    // every corpus vector whose cosine to ANY benchmark vector clears
    // the bar. Candidate generation is the sign-LSH bucket join with the
    // BENCHMARK side broadcast (eval sets are small by construction);
    // the corpus is scanned, never shuffled, and survivors materialize
    // through the same broadcast anti-join shape as dedupKeep.
    "emb_decontaminate" -> { (s, dir) =>
      val all = Tables.embeddings(s, dir)
      annDecontaminate(
        all.filter(col("vec_id") % 20 =!= 0),
        all.filter(col("vec_id") % 20 === 0))
        .select(col("vec_id"))
    },

    // ---- PCA projection: bounded-sample train, map-only apply ----
    "emb_pca" -> { (s, dir) =>
      val (mean, comps) = Pca.train(s, dir, k = 4)
      Pca.project(Tables.embeddings(s, dir), mean, comps)
    },

    // ---- PCA whitening: decorrelated unit-variance coordinates ----
    "emb_whiten" -> { (s, dir) =>
      val (mean, w) = Pca.trainWhiten(s, dir, k = 4)
      Pca.project(Tables.embeddings(s, dir), mean, w)
        .select(col("vec_id") +: (1 to 4).map(i =>
          col(s"pc${i}_e12").as(s"w${i}_e12")): _*)
    },

    // ---- SemDeDup: semantic near-dup REMOVAL over the embedding space ----
    "emb_semdedup" -> { (s, dir) =>
      val pairs = neardupPairsOf(Tables.embeddings(s, dir)).select(col("v1"), col("v2"))
      val comp = graft.ops.Components.connectedComponents(pairs, "v1", "v2")
      val drop = comp.filter(col("node") =!= col("component"))
        .select(col("node").as("vec_id"))
      Tables.embeddings(s, dir)
        .join(broadcast(drop), Seq("vec_id"), "left_anti")
        .select(col("vec_id"))
    },

    // ---- SemDeDup bucketed in the PCA-reduced space (the production
    // recipe: cluster on reduced vectors, verify on originals) ----
    "emb_semdedup_pca" -> { (s, dir) =>
      val (mu, comps) = Pca.train(s, dir, k = 4)
      // 81 buckets over the 500-vector fixture (occupancy ~6) so the
      // pair graph the oracle closes transitively is non-trivial
      semdedupPca(Tables.embeddings(s, dir), mu, comps, gridDims = 4, bins = 3)
    },

    // ---- SemDeDup in the PAPER's form (Abbas et al. 2023 §3): k-means
    // CLUSTERS as the candidate buckets. Same tail as emb_semdedup /
    // emb_semdedup_pca (exact cosine within bucket → CC → min-id
    // representative); only the partition of the space differs — the
    // sample-refined Lloyd centroids of emb_kmeans (same k, so the two
    // queries share one cached literal set). The %4 slice bounds the
    // k=8 oracle's within-cell pair count; at corpus scale k is tens of
    // thousands (the paper's 50k at 100M) and occupancy n/k stays put.
    "emb_semdedup_km" -> { (s, dir) =>
      val cents = Ivf.refineCentroids(s, dir, k = 8, iters = 5)
      val e = Tables.embeddings(s, dir).filter(col("vec_id") % 4 === 0)
      val drop = semdedupCellsDrop(e, cents)
      e.join(broadcast(drop), Seq("vec_id"), "left_anti").select(col("vec_id"))
    },

    // ---- SSL-prototype pruning (Sorscher et al. 2022): per-cluster
    // rank by distance to the assigned centroid, keep the HARDEST
    // keepFrac (farthest from the prototype — the regime the paper
    // prescribes for big datasets) ----
    "emb_prototypes" -> { (s, dir) =>
      val cents = Ivf.refineCentroids(s, dir, k = 8, iters = 5)
      prototypesKeep(Tables.embeddings(s, dir), cents, keepFrac = 0.5)
    },

    // ---- D4 (Tirumala et al. 2023): SemDeDup, then prototype pruning
    // of the survivors — the composed embedding-curation pipeline, with
    // both stages on the same refined centroids ----
    "emb_d4" -> { (s, dir) =>
      val cents = Ivf.refineCentroids(s, dir, k = 8, iters = 5)
      val e = Tables.embeddings(s, dir).filter(col("vec_id") % 4 === 0)
      val drop = semdedupCellsDrop(e, cents)
      val kept = e.join(broadcast(drop), Seq("vec_id"), "left_anti")
      prototypesKeep(kept, cents, keepFrac = 0.5)
    },

    // ---- exact embedding dedup: byte-identical vectors (after the 1e6
    // integer quantization every query scores with) keep their min
    // vec_id. Grouping is on the 16-byte md5 of the canonical integer
    // string, so only compact digests shuffle, never the vectors ----
    "emb_dedup_exact" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .withColumn("k", md5(concat_ws(",", expr(
          "transform(embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS STRING))"))))
        .groupBy("k")
        .agg(min("vec_id").as("vec_id"), count(lit(1)).as("n_copies"))
        .select(col("vec_id"), col("n_copies"))
    },

    // ---- kmeans‖ (Bahmani et al. 2011): distributed D²-oversampling
    // init + corpus Lloyd refinement — k-means init past the bounded
    // driver sample's structural k ≤ SAMPLE_N cap ----
    "emb_kmeans_pp" -> { (s, dir) =>
      val cents = Ivf.parRefineCentroids(s, dir, k = 8, l = 16, rounds = 3, iters = 2)
      Ivf.withCell(Tables.embeddings(s, dir), cents)
        .select(col("vec_id"), col("cell"))
    },

    // ---- approximate kNN GRAPH: every vector's top-k bucket-local
    // neighbors (directed; kNN is asymmetric) — the self-join form of
    // emb_ann_topk and the building block for graph-based curation ----
    "emb_knn_join" -> { (s, dir) => knnEdges(s, dir) },

    // ---- PageRank centrality over the kNN graph: the graph-quality
    // signal of web-curation pipelines, on the corpus's own
    // similarity structure ----
    "emb_pagerank" -> { (s, dir) => knnPageRank(s, dir) },

    // ---- kNN-graph in-degree histogram: hubness report ----
    "emb_knn_degree" -> { (s, dir) => knnDegreeOn(Tables.embeddings(s, dir)) },

    // ---- per-cluster inertia report (the k-means quality/elbow
    // observable): one map-only min-dist pass, k tiny output rows ----
    "emb_kmeans_inertia" -> { (s, dir) =>
      val cents = Ivf.refineCentroids(s, dir, k = 8, iters = 5)
      Ivf.withMinDist(Ivf.withCell(Tables.embeddings(s, dir), cents), cents)
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), sum("dist_e12").as("inertia_e12"))
        .select(col("cell"), col("n"), col("inertia_e12"))
    },

    // ---- two-level residual-VQ cell assignment: k1·k2 effective cells
    // at (k1+k2)·dim per-row cost — the bucketing that keeps paper-form
    // SemDeDup affordable when the cell count needs to be 10k+ ----
    "emb_rvq_assign" -> { (s, dir) =>
      val (co, fi) = Ivf.trainRvq(s, dir, k1 = 8, k2 = 8)
      Ivf.withRvqCell(Tables.embeddings(s, dir), co, fi)
        .select(col("vec_id"), col("cell2"))
    },

    // ---- SemDeDup over the RVQ cells (64 buckets on the 500-vector
    // fixture, occupancy ~8): the corpus-scale configuration of the
    // k-means form — same exact-cosine/CC/min-id tail, candidate
    // buckets from the two-stage kernel ----
    "emb_semdedup_rvq" -> { (s, dir) =>
      val (co, fi) = Ivf.trainRvq(s, dir, k1 = 8, k2 = 8)
      val e = Tables.embeddings(s, dir)
      val b = Ivf.withRvqCell(e, co, fi)
        .select(col("vec_id"), col("embedding"), col("cell2").as("bucket"))
      val drop = semdedupDropFromBuckets(b, threshold = 0.25)
      e.join(broadcast(drop), Seq("vec_id"), "left_anti").select(col("vec_id"))
    }
  )

  /** Directed approximate kNN edges — every vector's top-`k`
    * bucket-local cosine neighbors (the emb_knn_join frame): candidates
    * meet in sign-LSH buckets, never all-pairs; the per-vector top-k is
    * a WindowGroupLimit on the vec_id key. */
  private def knnEdges(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    knnEdgesOf(Tables.embeddings(s, dir), k)

  /** Public frame-parametric form (the corpus-scale bench path). */
  def knnEdgesOn(e: DataFrame, k: Int = 3, planes: Int = PLANES): DataFrame =
    knnEdgesOf(e, k, planes)

  /** kNN-graph in-degree histogram — the hubness report (hubs distort
    * ANN quality; out-degree is k by construction, in-degree is the
    * observable): (in_deg, n_nodes) incl. 0-degree nodes via a left
    * join against the node set. The compact edge ids CHECKPOINT before
    * the join: feeding the node join the raw kNN DAG measured 78 s vs
    * 31.5 s at 2M vectors (identical output checksum) — the
    * winnowIndex materialize-before-reuse lesson, here triggered by
    * AQE re-planning the expensive subtree under the join. One shared
    * path for the query and the corpus-scale bench. */
  def knnDegreeOn(e: DataFrame, k: Int = 3, planes: Int = PLANES): DataFrame = {
    val deg = graft.ops.Scale.materializeCompact(
        knnEdgesOf(e, k, planes).select(col("nbr")))
      .groupBy(col("nbr").as("vec_id")).agg(count(lit(1)).as("in_deg"))
    e.select(col("vec_id"))
      .join(deg, Seq("vec_id"), "left").na.fill(0L, Seq("in_deg"))
      .groupBy("in_deg").agg(count(lit(1)).as("n_nodes"))
  }

  private def knnEdgesOf(e: DataFrame, k: Int, planes: Int = PLANES): DataFrame = {
    val b = bucketedOf(e, planes)
    val a = b.select(col("vec_id"), col("embedding").as("e1"), col("bucket"))
    val c = b.select(col("vec_id").as("nbr"), col("embedding").as("e2"), col("bucket"))
    val scored = a.join(c, Seq("bucket")).filter(col("vec_id") =!= col("nbr"))
      .withColumn("cosine", cosineE12(col("e1"), col("e2")))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("nbr"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("vec_id"), col("rank"), col("nbr"), col("cosine"))
  }

  /** PageRank centrality over the approximate kNN graph (Page et al.
    * 1999) — the graph-centrality quality signal of web-scale curation
    * (CommonCrawl's own crawl ordering ranks hosts by centrality;
    * within a corpus, high-centrality vectors sit in dense semantic
    * neighborhoods, isolated ones are outliers). Power iteration in
    * EXACT integer parts-per-billion: rank_0 = 1e9 div n; each round
    * every edge carries (pr·damp) div (100·outdeg) to its target and
    * every node restarts from ((100−damp)·1e9) div (100·n) — all-long
    * arithmetic, so sums are associative and the result is
    * partition-order-free and oracle-exact (the `div`-truncated mass
    * leaks, as does mass reaching dangling bucket-singletons: this is
    * the documented "PageRank with leaks" variant — fine for a
    * RANKING signal, and exactly replayed by the oracle).
    *
    * Scale shape: the kNN join runs ONCE and checkpoints to a compact
    * (src, dst, outdeg) edge list (ids only — embeddings never enter
    * the iteration); each of the `iters` rounds is one src-keyed
    * equi-join plus one dst-keyed map-side-combined aggregate —
    * 2·iters shuffles of 24-byte rows, the canonical distributed
    * power-iteration shape. Emits (vec_id, pr_ppb). */
  def knnPageRank(s: SparkSession, dir: String, iters: Int = 3,
                  dampPct: Int = 85, k: Int = 3): DataFrame =
    knnPageRankOn(Tables.embeddings(s, dir), iters, dampPct, k)

  /** Frame-parametric form of [[knnPageRank]] (the corpus-scale bench
    * path). */
  def knnPageRankOn(e: DataFrame, iters: Int = 3,
                    dampPct: Int = 85, k: Int = 3,
                    planes: Int = PLANES): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100)
    val nodes = e.select(col("vec_id"))
    val n = nodes.count()
    require(n > 0, "pagerank over an empty vector table")
    val edges = knnEdgesOf(e, k, planes)
      .select(col("vec_id").as("src"), col("nbr").as("dst"))
    val ewd = graft.ops.Scale.materializeCompact(edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("od")), "src"))
      // one kNN pass; rounds re-scan compact ids
    val base = ((100L - dampPct) * 1000000000L) / (100L * n)
    var p = nodes.withColumn("pr", lit(1000000000L / n))
    for (_ <- 1 to iters) {
      val contrib = ewd.join(p.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst"), expr(s"(pr * $dampPct) div (100 * od)").as("share"))
        .groupBy("dst").agg(sum(col("share")).as("m"))
      p = nodes.join(contrib, nodes("vec_id") === contrib("dst"), "left")
        .select(nodes("vec_id"), (lit(base) + coalesce(col("m"), lit(0L))).as("pr"))
    }
    p.select(col("vec_id"), col("pr").as("pr_ppb"))
  }

  /** The SemDeDup drop tail shared by every bucketing (k-means cells,
    * RVQ cells, sign-LSH, PCA grid): within-bucket exact-cosine pairs →
    * connected components → everything except the min-id
    * representative. Candidate cost is quadratic in bucket occupancy,
    * so the bucket count is the anti-quadratic knob in every form. */
  private[graft] def semdedupDropFromBuckets(b: DataFrame,
                                             threshold: Double): DataFrame = {
    val a = b.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("bucket"))
    val c = b.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("bucket"))
    val pairs = a.join(c, Seq("bucket")).filter(col("v1") < col("v2"))
      .withColumn("cosine", cosineE12(col("e1"), col("e2")))
      .filter(col("cosine") >= threshold)
      .select(col("v1"), col("v2"))
    graft.ops.Components.connectedComponents(pairs, "v1", "v2")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("vec_id"))
  }

  /** The SemDeDup drop set with k-means cells as buckets (Abbas et al.
    * 2023's own partition of the space). */
  private[graft] def semdedupCellsDrop(e: DataFrame, cents: Array[Array[Double]],
                                       threshold: Double = 0.25): DataFrame =
    semdedupDropFromBuckets(
      Ivf.withCell(e, cents)
        .select(col("vec_id"), col("embedding"), col("cell").as("bucket")),
      threshold)

  /** Prototype-based pruning (Sorscher et al. 2022): assign each vector
    * to its k-means prototype, rank within the cluster by the quantized
    * distance to it (both codegen'd map-only kernels — no join against
    * a centroid table), keep the hardest ceil(keepFrac·|cluster|). The
    * per-cluster window shuffles on `cell`, so parallelism = k: at
    * corpus scale k is tens of thousands (occupancy n/k bounded), the
    * same knob that bounds SemDeDup's pair cost. */
  private[graft] def prototypesKeep(e: DataFrame, cents: Array[Array[Double]],
                                    keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1, s"keepFrac in (0,1], got $keepFrac")
    val d = Ivf.withMinDist(Ivf.withCell(e, cents), cents)
    val w = Window.partitionBy("cell").orderBy(col("dist_e12").desc, col("vec_id"))
    d.withColumn("rn", row_number().over(w))
      .withColumn("n_c", count(lit(1)).over(Window.partitionBy("cell")))
      .filter(col("rn") <= ceil(lit(keepFrac) * col("n_c")).cast("long"))
      .select(col("vec_id"), col("cell"), col("dist_e12"))
  }

  /** Equi-depth grid cutoffs over the first `gridDims` QUANTIZED PCA
    * coordinates, from the bounded deterministic sample (the
    * [[Ivf.trainCentroids]]/[[Pca.train]] discipline): cutoffs(j) =
    * the `bins`−1 sample quantiles of coordinate j — integer (e12)
    * values, so the bin comparison is exact cross-engine. Driver cost
    * O(sample·dim·k); the cutoff matrix is (gridDims)×(bins−1) longs. */
  private[graft] def pcaGridCutoffs(e: DataFrame, mean: Array[Double],
                                    comps: Array[Array[Double]],
                                    gridDims: Int, bins: Int): Array[Array[Long]] = {
    val sample = e.filter(col("vec_id") < Pca.SAMPLE_N).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "grid cutoffs need a non-empty sample")
    val projs = sample.map { x =>
      Array.tabulate(gridDims) { j =>
        var acc = 0L
        var d = 0
        while (d < mean.length) {
          acc += graft.functions.QuantKernels.qround(
            (x(d).toDouble - mean(d)) * comps(j)(d) * 1e12)
          d += 1
        }
        acc
      }
    }
    Array.tabulate(gridDims) { j =>
      val sorted = projs.map(_(j)).sorted
      Array.tabulate(bins - 1)(b => sorted(((b + 1).toLong * sorted.length / bins).toInt
        .min(sorted.length - 1)))
    }
  }

  /** Grid-bucket id over the quantized PCA coordinates (`proj` bound as
    * array<long>): bin_j = #cutoffs(j) strictly below pc_j (ties to the
    * lower bin), bucket = Σ bin_j · bins^j — pure integer comparisons,
    * exact cross-engine. */
  private def gridBucketCol(cuts: Array[Array[Long]], bins: Int): Column =
    cuts.indices.map { j =>
      val bin = cuts(j).map(c =>
        when(expr(s"element_at(proj, ${j + 1})") > lit(c), 1L).otherwise(0L))
        .reduce(_ + _)
      bin * lit(math.pow(bins.toDouble, j.toDouble).toLong)
    }.reduce(_ + _)

  /** SemDeDup with candidate generation in the PCA-REDUCED space (Abbas
    * et al. 2023 cluster on reduced embeddings before scoring): bucket
    * by an EQUI-DEPTH grid over the top `gridDims` PCA coordinates
    * (sample-quantile cutoffs, `bins` bins per dim → bins^gridDims
    * buckets), then score candidate pairs with the EXACT quantized
    * cosine on the ORIGINAL vectors, resolve groups by connected
    * components, keep the min-id representative, anti-join the
    * broadcast drop-set (the [[neardupPairsOf]]/emb_semdedup shape
    * end to end).
    *
    * Why a quantile grid and not sign-LSH over the reduced coords: n
    * sign planes in a k-dim space cut out at most Σ_{i≤k} C(n−1, i)
    * distinct regions, and correlated projections concentrate the mass
    * — measured 577 s at 2M vectors (16 planes over k=8) vs 8.4 s for
    * the full-space bucketing, a quadratic bucket-local blowup. The
    * equi-depth grid is balanced BY CONSTRUCTION on the sample
    * distribution (occupancy ≈ n / bins^gridDims regardless of shape),
    * and it splits along the top-variance directions, which is the
    * point of reducing first. Near-dup pairs straddling a cutoff are
    * the recall tradeoff, exactly like LSH banding. Bucket assignment
    * is map-only: one codegen'd projection + gridDims·(bins−1) integer
    * compares per row. */
  def semdedupPca(e: DataFrame, mean: Array[Double], comps: Array[Array[Double]],
                  gridDims: Int = 4, bins: Int = 4,
                  threshold: Double = 0.25): DataFrame = {
    require(gridDims >= 1 && gridDims <= comps.length,
      s"need 1 <= gridDims <= ${comps.length}, got $gridDims")
    require(bins >= 2, s"need >= 2 bins, got $bins")
    val cuts = pcaGridCutoffs(e, mean, comps, gridDims, bins)
    cachedPcaGrid = Some((cuts, bins))
    val projCol = org.apache.spark.sql.GraftBridge.column(
      graft.functions.PcaProjectE12(
        org.apache.spark.sql.GraftBridge.expression(e("embedding")), mean, comps))
    val b = e.withColumn("proj", projCol)
      .withColumn("bucket", gridBucketCol(cuts, bins))
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val a = b.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("bucket"))
    val c = b.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("bucket"))
    val pairs = a.join(c, Seq("bucket")).filter(col("v1") < col("v2"))
      .withColumn("cosine", cosineE12(col("e1"), col("e2")))
      .filter(col("cosine") >= threshold)
      .select(col("v1"), col("v2"))
    val comp = graft.ops.Components.connectedComponents(pairs, "v1", "v2")
    val drop = comp.filter(col("node") =!= col("component"))
      .select(col("node").as("vec_id"))
    e.join(broadcast(drop), Seq("vec_id"), "left_anti")
      .select(col("vec_id"))
  }

  /** ANN recall audit — recall@k, THE published ANN quality metric and
    * the observable nprobe/planes budget against: per query vector, how
    * many of the EXACT brute-force top-k cosine neighbors the IVF
    * nprobe=2 probe recovered. Emits (qid, n_hit, recall_ppm).
    *
    * Scale shape: the exact side is brute force over the corpus for the
    * BOUNDED query sample only (nQ rows broadcast, corpus streams once
    * — the standard recall-audit shape at any corpus size, never
    * all-pairs); the ANN side is the same probe-cell equi-join as
    * emb_ivf_topk_p2; the compare is a left-semi on (qid, cid) over two
    * nQ·k-row frames. All integer dots/ranks — exact cross-engine. */
  def annRecall(s: SparkSession, dir: String, nQ: Int = 10, k: Int = 5,
                nprobe: Int = 2): DataFrame =
    annRecallOn(Tables.embeddings(s, dir),
      Ivf.trainCentroids(s, dir, k = 8), nQ, k, nprobe)

  /** [[annRecall]] over a precomputed frame + centroids — the
    * corpus-scale bench path (no oracle-literal caching). */
  def annRecallOn(e: DataFrame, cents: Array[Array[Double]],
                  nQ: Int = 10, k: Int = 5, nprobe: Int = 2): DataFrame = {
    def topk(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k).select(col("qid"), col("cid"))
    }
    val q = e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("e1"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("e2"))
    val exact = topk(broadcast(q).join(c, col("qid") =!= col("cid"))
      .withColumn("cosine", cosineE12(col("e1"), col("e2"))))
    val assigned = Ivf.withCell(e, cents)
      .select(col("vec_id").as("cid"), col("embedding").as("e2"), col("cell"))
    val qp = Ivf.withProbesFast(e.filter(col("vec_id") < nQ), cents, nprobe = nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("e1"),
        explode(col("probes")).as("cell"))
    val ann = topk(broadcast(qp).join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cosine", cosineE12(col("e1"), col("e2"))))
    val hits = exact.join(ann, Seq("qid", "cid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    q.select(col("qid")).join(hits, Seq("qid"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("qid"), col("n_hit"),
        expr(s"n_hit * 1000000 div $k").as("recall_ppm"))
  }

  /** IVF-PQ recall audit over a frame: exact brute-force top-k (ground
    * truth, the same broadcast-query stream as [[annRecallOn]]) vs the
    * compressed-corpus path — ADC ranking over the m=8 residual codes,
    * SHORTLIST exact re-rank, single-cell probe (the emb_ivfpq_topk
    * plan). Emits (qid, n_hit, recall_ppm); recall lost here is the sum
    * of cell-boundary loss (the IVF axis) AND quantization loss (the PQ
    * axis), which is exactly why it needs its own committed floor next
    * to the uncompressed probes'.
    *
    * PRODUCTION-GEOMETRY DECOMPOSITION (measured at 2M vectors,
    * nlist = 1414 ≈ √N, nQ=16 k=10, the `*_sqrt` BENCH_LARGE
    * entries over [[ivfPqRecallOnAssigned]]): uncompressed recall
    * climbs the nprobe ladder 55.0% → 63.1% → 73.1% (nprobe 1/4/16)
    * — the cell-boundary axis, ~1 s of probe time per 4× nprobe on
    * the bucketed inverted lists — while IVF-PQ at nprobe=4 lands at
    * 34.4%, so quantization loss at this geometry is 63.1 − 34.4 =
    * 28.7 points under the SHORTLIST=64 re-rank. The nlist=8 toy
    * geometry this function's own entry gates (78/86% at nprobe 1/2,
    * PQ 20.6%) is cell-boundary-dominated and does NOT represent the
    * √N plan a 100 TB deployment runs — both are gated because a
    * regression can hide in either regime. */
  def ivfPqRecallOn(e: DataFrame, cents: Array[Array[Double]],
                    cbs: Array[Array[Array[Double]]],
                    nQ: Int = 10, k: Int = 5): DataFrame = {
    def topk(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k).select(col("qid"), col("cid"))
    }
    val q = e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("e1"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("e2"))
    val exact = topk(broadcast(q).join(c, col("qid") =!= col("cid"))
      .withColumn("cosine", cosineE12(col("e1"), col("e2"))))
    val withRes = Pq.withResidual(Ivf.withCell(e, cents), cents)
    val corpus = withRes
      .withColumn("codes", Pq.encodeCol(col("res"), cbs))
      .select(col("vec_id").as("cid"), col("embedding").as("e2"),
        col("cell"), col("codes"))
    val qr = withRes.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("e1"),
        col("cell"), col("res").as("qr"))
    val adc = broadcast(qr).join(corpus, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("adc", Pq.adcCol(col("qr"), col("codes"), cbs))
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc"), col("cid"))
    val shortlist = adc.withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= Pq.SHORTLIST)
    val ann = topk(shortlist
      .withColumn("cosine", cosineE12(col("e1"), col("e2"))))
    val hits = exact.join(ann, Seq("qid", "cid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    q.select(col("qid")).join(hits, Seq("qid"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("qid"), col("n_hit"),
        expr(s"n_hit * 1000000 div $k").as("recall_ppm"))
  }

  /** Exact brute-force top-k ground truth (qid, cid) for the first `nQ`
    * vec_ids of `e` — the audit side of every recall entry, factored
    * out so the production-geometry ladder computes it ONCE (it is
    * identical across nprobe rungs and the PQ variant) instead of
    * per-entry. One broadcast of the nQ query rows against a single
    * corpus scan; the rank window partitions by qid (nQ groups). */
  def exactTopkOf(e: DataFrame, nQ: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("e1"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("e2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    broadcast(q).join(c, col("qid") =!= col("cid"))
      .withColumn("cosine", cosineE12(col("e1"), col("e2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).select(col("qid"), col("cid"))
  }

  /** IVF recall against a PRE-ASSIGNED corpus — the production split:
    * the index build (cell assignment, [[Ivf.withCell]]) is an offline
    * pass persisted once; the query path probes the stored inverted
    * lists. `assigned` is (vec_id, embedding, cell) carrying the
    * ivf_cell stamp, checked STRICT against `cents` (kind + nlist/dim
    * + versioned centroid fingerprint — a corpus assigned under a
    * different or stale centroid set silently loses recall, and a
    * recall AUDIT computed against the wrong index would certify it).
    * `exact` is the (qid, cid) ground truth ([[exactTopkOf]]).
    *
    * Inverted-list access: the nQ·nprobe probed cell ids (a BOUNDED
    * driver collect, ≤ a few hundred ints by construction) become an
    * `isin` pushdown on the stored `cell` column, and the merge-join
    * shape keeps the scan BUCKETED so that pushdown prunes whole
    * bucket files (SelectedBucketsCount < total — plan-pinned; a
    * broadcast probe side would let the planner drop the bucketed
    * layout and decode every file). The scan reads only files that
    * can hold probed cells — the inverted-FILE shape that makes IVF
    * sub-linear at 100 TB, with pruning granularity set by the bucket
    * count (size buckets, or range-partition by cell, so nQ·nprobe
    * cells touch a small file fraction at deployment scale).
    * Emits (qid, n_hit, recall_ppm). */
  def annRecallOnAssigned(assigned: DataFrame, exact: DataFrame,
                          cents: Array[Array[Double]],
                          nQ: Int = 10, k: Int = 5, nprobe: Int = 1): DataFrame = {
    graft.text.IndexContract.ivfCell(cents).check(assigned)
    // the nQ query rows are collected ONCE (bounded by construction)
    // into a local relation: a table-backed query side would re-scan
    // the corpus-sized index for every consumer of the frame (probe
    // eval, probed-cell collect, join, final recall join — a vec_id
    // pushdown prunes nothing on a cell-sorted layout)
    val queries = localQueriesOf(assigned, nQ)
    val qp = Ivf.withProbesFast(queries, cents, nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("e1"),
        explode(col("probes")).as("cell"))
    // bounded by construction: nQ * nprobe cell ids
    val cells = qp.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val corpus = assigned.filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      .select(col("vec_id").as("cid"), col("embedding").as("e2"), col("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    // merge-join hint, NOT broadcast: under a broadcast join the
    // planner auto-disables the bucketed layout (no distribution to
    // exploit) and the In filter only drops rows AFTER a full decode.
    // The merge join keeps the corpus side bucketed — zero Exchange
    // (only the tiny probe side re-clusters), no sort (the lists are
    // cell-sorted on disk), and the pushed In filter BUCKET-PRUNES the
    // scan (SelectedBucketsCount < total, plan-pinned in PlanSpec):
    // the inverted-FILE access shape, reading only files that can
    // hold probed cells. Pruning granularity is the bucket count —
    // a deployment sizes buckets (or range-partitions by cell) so
    // nprobe·nQ cells touch a small fraction of files.
    val ann = qp.hint("shuffle_merge").join(corpus, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cosine", cosineE12(col("e1"), col("e2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).select(col("qid"), col("cid"))
    val hits = exact.join(ann, Seq("qid", "cid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    queries.select(col("vec_id").as("qid")).join(hits, Seq("qid"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("qid"), col("n_hit"),
        expr(s"n_hit * 1000000 div $k").as("recall_ppm"))
  }

  /** The first `nQ` (vec_id, embedding) rows of a corpus-sized frame as
    * a LOCAL relation — one bounded collect (nQ rows by construction),
    * so downstream probe/join/recall consumers never re-scan the big
    * frame for the tiny query side. */
  private def localQueriesOf(corpus: DataFrame, nQ: Int): DataFrame = {
    val spark = corpus.sparkSession
    val rows = corpus.filter(col("vec_id") < nQ)
      .select(col("vec_id"), col("embedding")).collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
  }

  /** IVF-PQ recall against a PRE-ENCODED corpus (`coded`: (vec_id,
    * embedding, cell, codes), stamp-checked like
    * [[annRecallOnAssigned]]) with MULTI-PROBE ADC: each query
    * evaluates a residual per PROBED cell (the residual is relative to
    * the probed cell's centroid, not the query's own —
    * [[graft.functions.IvfResidualE12]] on the exploded probe id),
    * ADC-ranks the probed cells' codes, takes one `shortlist` per
    * query across all probes, and exact-re-ranks the shortlist. Same
    * inverted-list `isin` pruning as the uncompressed path. Recall
    * lost here decomposes as cell-boundary loss (the IVF axis, shrunk
    * by nprobe) + quantization loss (the PQ axis, bounded by the
    * shortlist re-rank — `shortlist` is one of the two levers that
    * shrink it, the other being codebook capacity; BENCH_LARGE's
    * ivfpq_sqrt_* ladder measures both). Emits (qid, n_hit,
    * recall_ppm). */
  def ivfPqRecallOnAssigned(coded: DataFrame, exact: DataFrame,
                            cents: Array[Array[Double]],
                            cbs: Array[Array[Array[Double]]],
                            nQ: Int = 10, k: Int = 5, nprobe: Int = 1,
                            shortlist: Int = Pq.SHORTLIST): DataFrame = {
    graft.text.IndexContract.ivfCell(cents).check(coded)
    val queries = localQueriesOf(coded, nQ)
    val qp = Ivf.withProbesFast(queries, cents, nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("e1"),
        explode(col("probes")).as("cell"))
      .withColumn("qr", org.apache.spark.sql.GraftBridge.column(
        graft.functions.IvfResidualE12(
          org.apache.spark.sql.GraftBridge.expression(col("e1")),
          org.apache.spark.sql.GraftBridge.expression(col("cell")), cents)))
    val cells = qp.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val corpus = coded.filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      .select(col("vec_id").as("cid"), col("embedding").as("e2"),
        col("cell"), col("codes"))
    // merge-join for the bucket-pruned inverted-list scan — see
    // annRecallOnAssigned for the full rationale
    val adc = qp.hint("shuffle_merge").join(corpus, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("adc", Pq.adcCol(col("qr"), col("codes"), cbs))
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc"), col("cid"))
    val short = adc.withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= shortlist)
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    val ann = short
      .withColumn("cosine", cosineE12(col("e1"), col("e2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).select(col("qid"), col("cid"))
    val hits = exact.join(ann, Seq("qid", "cid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    queries.select(col("vec_id").as("qid")).join(hits, Seq("qid"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("qid"), col("n_hit"),
        expr(s"n_hit * 1000000 div $k").as("recall_ppm"))
  }

  /** Grid (cutoffs, bins) of the last [[semdedupPca]] run, for the
    * oracle builder (the cached-literal pattern). */
  @volatile private[graft] var cachedPcaGrid: Option[(Array[Array[Long]], Int)] = None

  /** Bucket-local near-duplicate pairs at exact cosine >= `threshold` —
    * candidate generation is the sign-LSH bucket equi-join (never
    * all-pairs), scoring is the exact quantized kernel. Shared by the
    * emb_neardup_pairs query and [[https://arxiv.org/abs/2303.09540
    * SemDeDup]]-style removal (`emb_semdedup`): bucket (the paper uses
    * k-means clusters; sign-LSH cells are this engine's equivalent
    * partition of the space), score pairs within buckets, resolve
    * duplicate GROUPS by connected components (O(log n) shuffle
    * rounds, ops.Components), keep the min-id representative, and
    * materialize survivors as corpus minus the BROADCAST drop-set —
    * the same anti-join shape as text dedupKeep: singletons never
    * participate in any join, so the corpus-sized side is scanned,
    * never shuffled. */
  def neardupPairsOf(e: DataFrame, threshold: Double = 0.25,
                     planes: Int = PLANES): DataFrame = {
    val b = bucketedOf(e, planes)
    val a = b.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("bucket"))
    val c = b.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("bucket"))
    a.join(c, Seq("bucket")).filter(col("v1") < col("v2"))
      .withColumn("dot_e12", qdot(col("e1"), col("e2")))
      .withColumn("n1_e12", qdot(col("e1"), col("e1")))
      .withColumn("n2_e12", qdot(col("e2"), col("e2")))
      .withColumn("cosine", col("dot_e12").cast("double") /
        (sqrt(col("n1_e12").cast("double")) * sqrt(col("n2_e12").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select(col("v1"), col("v2"), col("cosine"))
  }

  /** Static oracles plus the IVF literal-centroid oracles. The IVF SQL
    * depends on the trained centroids, so `oracles` is a def: Verify
    * runs every query first (training the quantizer on exactly the
    * dataset under test) and dumps oracle SQL afterwards, at which point
    * [[Ivf.cachedCentroids]] holds the matching literals. If the IVF
    * queries never ran, the entries are simply omitted → the driver
    * records its weaker rows-only check, same as before.
    */
  def oracles: Map[String, String] =
    staticOracles ++ ivfOracles ++ kmeansOracles ++ pcaOracles ++ parOracles ++
      rvqOracles ++ whitenOracles

  /** emb_whiten oracle from the whitening-scaled (mean, components)
    * literals — [[Pca.projectSql]] unchanged, columns re-aliased. */
  private def whitenOracles: Map[String, String] = Pca.cachedWhiten match {
    case None => Map.empty
    case Some((mu, w)) =>
      val aliases = w.indices.map(i => s"pc${i + 1}_e12 AS w${i + 1}_e12").mkString(", ")
      Map("emb_whiten" -> s"SELECT vec_id, $aliases FROM (${Pca.projectSql(mu, w)})")
  }

  /** emb_rvq_assign / emb_semdedup_rvq oracles from the trained
    * (coarse, fine) literals — the cached-literal pattern. */
  private def rvqOracles: Map[String, String] = Ivf.cachedRvq match {
    case None => Map.empty
    case Some((co, fi)) =>
      val pairsSql =
        s"""WITH bk AS (
           |  SELECT vec_id, embedding, cell2 AS bucket
           |  FROM (${Ivf.rvqAssignSql(co, fi)}) t),
           |a AS (SELECT vec_id AS v1, embedding AS e1, bucket FROM bk),
           |cc2 AS (SELECT vec_id AS v2, embedding AS e2, bucket FROM bk),
           |scored AS (
           |  SELECT v1, v2,
           |    CAST(${dotE12Sql("e1", "e2")} AS DOUBLE) /
           |      (sqrt(CAST(${norm2e12Sql.replace("embedding", "e1")} AS DOUBLE)) *
           |       sqrt(CAST(${norm2e12Sql.replace("embedding", "e2")} AS DOUBLE))) AS cosine
           |  FROM a JOIN cc2 USING (bucket) WHERE v1 < v2)
           |SELECT v1, v2 FROM scored WHERE cosine >= 0.25""".stripMargin
      Map(
        "emb_rvq_assign" ->
          s"SELECT vec_id, cell2 FROM (${Ivf.rvqAssignSql(co, fi)}) t",
        "emb_semdedup_rvq" ->
          s"""WITH RECURSIVE pairs AS (SELECT v1, v2 FROM ($pairsSql) np),
             |nodes AS (SELECT v1 AS n FROM pairs UNION SELECT v2 FROM pairs),
             |edges AS (SELECT v1 AS a, v2 AS b FROM pairs
             |          UNION SELECT v2 AS a, v1 AS b FROM pairs),
             |reach(a, b) AS (
             |  SELECT n AS a, n AS b FROM nodes
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
             |comp AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a)
             |SELECT e.vec_id FROM embeddings e
             |LEFT JOIN comp c ON e.vec_id = c.vec_id
             |WHERE c.component IS NULL OR c.component = e.vec_id""".stripMargin)
  }

  /** emb_kmeans + the SemDeDup/prototype/D4 family: all five queries
    * train the same (k=8, iters=5) corpus-refined centroids, so one
    * cached literal set serves every oracle. */
  private def kmeansOracles: Map[String, String] =
    Ivf.cachedRefinedCentroids match {
      case None => Map.empty
      case Some(c) =>
        Map(
          "emb_kmeans" -> s"SELECT vec_id, cell FROM (${Ivf.assignSql(c)}) t",
          "emb_semdedup_km" -> semdedupCellsSql(c),
          "emb_prototypes" ->
            s"""WITH asg AS (SELECT * FROM (${Ivf.assignDistSql(c)}) t),
               |r AS (
               |  SELECT vec_id, cell, dist_e12,
               |    row_number() OVER (PARTITION BY cell ORDER BY dist_e12 DESC, vec_id) AS rn,
               |    count(*) OVER (PARTITION BY cell) AS n_c
               |  FROM asg)
               |SELECT vec_id, cell, dist_e12 FROM r
               |WHERE rn <= CAST(ceil(0.5 * n_c) AS BIGINT)""".stripMargin,
          "emb_d4" -> d4Sql(c),
          "emb_kmeans_inertia" ->
            s"""SELECT cell, count(*) AS n, CAST(sum(dist_e12) AS BIGINT) AS inertia_e12
               |FROM (${Ivf.assignDistSql(c)}) t GROUP BY cell""".stripMargin)
    }

  /** emb_kmeans_pp oracle: the kmeans‖-initialized, corpus-refined
    * centroids as literals through the same assignment SQL. */
  private def parOracles: Map[String, String] =
    Ivf.cachedParCentroids match {
      case None => Map.empty
      case Some(c) =>
        Map("emb_kmeans_pp" -> s"SELECT vec_id, cell FROM (${Ivf.assignSql(c)}) t")
    }

  /** Within-cell cosine pairs on the %4 slice, with the literal refined
    * centroids assigning cells — the candidate stage of the k-means
    * SemDeDup oracle. */
  private def cellPairsSql(c: Array[Array[Double]], threshold: Double = 0.25): String =
    s"""WITH bk AS (
       |  SELECT vec_id, embedding, cell AS bucket
       |  FROM (${Ivf.assignSql(c, "(SELECT * FROM embeddings WHERE vec_id % 4 = 0) sub")}) t),
       |a AS (SELECT vec_id AS v1, embedding AS e1, bucket FROM bk),
       |cc2 AS (SELECT vec_id AS v2, embedding AS e2, bucket FROM bk),
       |scored AS (
       |  SELECT v1, v2,
       |    CAST(${dotE12Sql("e1", "e2")} AS DOUBLE) /
       |      (sqrt(CAST(${norm2e12Sql.replace("embedding", "e1")} AS DOUBLE)) *
       |       sqrt(CAST(${norm2e12Sql.replace("embedding", "e2")} AS DOUBLE))) AS cosine
       |  FROM a JOIN cc2 USING (bucket) WHERE v1 < v2)
       |SELECT v1, v2 FROM scored WHERE cosine >= $threshold""".stripMargin

  /** DuckDB twin of emb_semdedup_km: cell-bucket pairs, recursive-CTE
    * components, min-id survivors over the %4 slice. */
  private def semdedupCellsSql(c: Array[Array[Double]]): String =
    s"""WITH RECURSIVE pairs AS (SELECT v1, v2 FROM (${cellPairsSql(c)}) np),
       |nodes AS (SELECT v1 AS n FROM pairs UNION SELECT v2 FROM pairs),
       |edges AS (SELECT v1 AS a, v2 AS b FROM pairs
       |          UNION SELECT v2 AS a, v1 AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT n AS a, n AS b FROM nodes
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a)
       |SELECT e.vec_id FROM embeddings e
       |LEFT JOIN comp c ON e.vec_id = c.vec_id
       |WHERE e.vec_id % 4 = 0 AND (c.component IS NULL OR c.component = e.vec_id)""".stripMargin

  /** DuckDB twin of emb_d4: the semdedup keep set, then the prototype
    * window over the survivors (same literal centroids end to end). */
  private def d4Sql(c: Array[Array[Double]]): String =
    s"""WITH RECURSIVE pairs AS (SELECT v1, v2 FROM (${cellPairsSql(c)}) np),
       |nodes AS (SELECT v1 AS n FROM pairs UNION SELECT v2 FROM pairs),
       |edges AS (SELECT v1 AS a, v2 AS b FROM pairs
       |          UNION SELECT v2 AS a, v1 AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT n AS a, n AS b FROM nodes
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a),
       |keep AS (
       |  SELECT e.vec_id, e.embedding FROM embeddings e
       |  LEFT JOIN comp c ON e.vec_id = c.vec_id
       |  WHERE e.vec_id % 4 = 0 AND (c.component IS NULL OR c.component = e.vec_id)),
       |asg AS (SELECT * FROM (${Ivf.assignDistSql(c, "keep")}) t),
       |r AS (
       |  SELECT vec_id, cell, dist_e12,
       |    row_number() OVER (PARTITION BY cell ORDER BY dist_e12 DESC, vec_id) AS rn,
       |    count(*) OVER (PARTITION BY cell) AS n_c
       |  FROM asg)
       |SELECT vec_id, cell, dist_e12 FROM r
       |WHERE rn <= CAST(ceil(0.5 * n_c) AS BIGINT)""".stripMargin

  /** emb_pca / emb_semdedup_pca oracles from the (mean, components)
    * the queries trained — the cached-literal pattern ([[ivfOracles]]). */
  private def pcaOracles: Map[String, String] = Pca.cachedModel match {
    case None             => Map.empty
    case Some((mu, comps)) =>
      Map("emb_pca" -> Pca.projectSql(mu, comps)) ++
        (cachedPcaGrid match {
          case None => Map.empty[String, String]
          case Some((cuts, bins)) =>
            Map("emb_semdedup_pca" -> semdedupPcaSql(mu, comps, cuts, bins))
        })
  }

  /** DuckDB twin of [[semdedupPca]]: literal PCA projection (with the
    * original vector carried through), literal quantile-grid integer
    * bucket, exact quantized cosine on originals, recursive-CTE
    * components, min-id survivors — the emb_semdedup oracle tail over
    * the reduced-space candidate generation. */
  private def semdedupPcaSql(mu: Array[Double], comps: Array[Array[Double]],
                             cuts: Array[Array[Long]], bins: Int,
                             threshold: Double = 0.25): String = {
    val bucketSql = cuts.indices.map { j =>
      val bin = cuts(j).map(c => s"CASE WHEN pc${j + 1}_e12 > $c THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"($bin) * ${math.pow(bins.toDouble, j.toDouble).toLong}"
    }.mkString(" + ")
    val pairsSql =
      s"""WITH prj AS (${Pca.projectSql(mu, comps, withEmbedding = true)}),
         |bk AS (SELECT vec_id, embedding, CAST($bucketSql AS BIGINT) AS bucket FROM prj),
         |a AS (SELECT vec_id AS v1, embedding AS e1, bucket FROM bk),
         |c AS (SELECT vec_id AS v2, embedding AS e2, bucket FROM bk),
         |scored AS (
         |  SELECT v1, v2,
         |    CAST(${dotE12Sql("e1", "e2")} AS DOUBLE) /
         |      (sqrt(CAST(${norm2e12Sql.replace("embedding", "e1")} AS DOUBLE)) *
         |       sqrt(CAST(${norm2e12Sql.replace("embedding", "e2")} AS DOUBLE))) AS cosine
         |  FROM a JOIN c USING (bucket) WHERE v1 < v2)
         |SELECT v1, v2 FROM scored WHERE cosine >= $threshold""".stripMargin
    s"""WITH RECURSIVE pairs AS (SELECT v1, v2 FROM ($pairsSql) np),
       |nodes AS (SELECT v1 AS n FROM pairs UNION SELECT v2 FROM pairs),
       |edges AS (SELECT v1 AS a, v2 AS b FROM pairs
       |          UNION SELECT v2 AS a, v1 AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT n AS a, n AS b FROM nodes
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a)
       |SELECT e.vec_id FROM embeddings e
       |LEFT JOIN comp c ON e.vec_id = c.vec_id
       |WHERE c.component IS NULL OR c.component = e.vec_id""".stripMargin
  }

  private def ivfOracles: Map[String, String] = Ivf.cachedCentroids match {
    case None => Map.empty
    case Some(cents) =>
      val asg = Ivf.assignSql(cents)
      val prb = Ivf.probesSql(cents, nprobe = 2)
      def rerank(qSel: String): String =
        s"""WITH asg AS ($asg),
           |q AS ($qSel),
           |c AS (SELECT vec_id AS cid, embedding AS e2, cell FROM asg),
           |scored AS (
           |  SELECT qid, cid,
           |    CAST(${dotE12Sql("e1", "e2")} AS DOUBLE) /
           |      (sqrt(CAST(${norm2e12Sql.replace("embedding", "e1")} AS DOUBLE)) *
           |       sqrt(CAST(${norm2e12Sql.replace("embedding", "e2")} AS DOUBLE))) AS cosine
           |  FROM q JOIN c USING (cell) WHERE qid != cid)
           |SELECT qid, rank, cid, cosine FROM (
           |  SELECT qid, cid, cosine,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS INT) AS rank
           |  FROM scored) t
           |WHERE rank <= 5""".stripMargin
      val pq = Pq.cachedCodebooks match {
        case Some(cbs) => Map(
          "emb_ivfpq_topk" -> Pq.topkSql(cents, cbs, nQueries = 10, topK = 5))
        case None => Map.empty[String, String]
      }
      Map(
        "emb_incremental" ->
          s"""WITH asg AS ($asg),
             |b AS (SELECT vec_id AS qid, embedding AS e1, cell FROM asg WHERE vec_id % 2 = 1),
             |c AS (SELECT vec_id AS dup_of, embedding AS e2, cell FROM asg WHERE vec_id % 2 = 0),
             |scored AS (
             |  SELECT qid, dup_of,
             |    CAST(${dotE12Sql("e1", "e2")} AS DOUBLE) /
             |      (sqrt(CAST(${norm2e12Sql.replace("embedding", "e1")} AS DOUBLE)) *
             |       sqrt(CAST(${norm2e12Sql.replace("embedding", "e2")} AS DOUBLE))) AS cosine
             |  FROM b JOIN c USING (cell)),
             |ranked AS (
             |  SELECT qid, dup_of, cosine,
             |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, dup_of) AS rn
             |  FROM scored WHERE cosine >= 0.1)
             |SELECT qid, dup_of, cosine FROM ranked WHERE rn = 1""".stripMargin,

        "emb_ivf_assign" -> s"SELECT vec_id, cell FROM ($asg) t",
        "emb_ivf_topk" -> rerank(
          "SELECT vec_id AS qid, embedding AS e1, cell FROM asg WHERE vec_id < 10"),
        "emb_ivf_topk_p2" -> rerank(
          s"SELECT vec_id AS qid, embedding AS e1, unnest(probes) AS cell FROM ($prb) p WHERE vec_id < 10"),

        // brute-force top-5 vs the probe top-5, compared on (qid, cid)
        "emb_ann_recall" ->
          s"""WITH ex AS (
             |  SELECT qid, cid FROM (
             |    SELECT qid, cid,
             |      row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
             |    FROM (
             |      SELECT q.vec_id AS qid, c.vec_id AS cid,
             |        CAST(${dotE12Sql("q.embedding", "c.embedding")} AS DOUBLE) /
             |          (sqrt(CAST(${norm2e12Sql.replace("embedding", "q.embedding")} AS DOUBLE)) *
             |           sqrt(CAST(${norm2e12Sql.replace("embedding", "c.embedding")} AS DOUBLE))) AS cosine
             |      FROM embeddings q JOIN embeddings c
             |        ON q.vec_id < 10 AND q.vec_id != c.vec_id) s0) t0
             |  WHERE rank <= 5),
             |an AS (SELECT qid, cid FROM (${rerank(
                 s"SELECT vec_id AS qid, embedding AS e1, unnest(probes) AS cell FROM ($prb) p WHERE vec_id < 10")}) r),
             |h AS (SELECT ex.qid, count(*) AS n_hit
             |      FROM ex JOIN an ON ex.qid = an.qid AND ex.cid = an.cid
             |      GROUP BY ex.qid)
             |SELECT q.vec_id AS qid,
             |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             |  CAST(coalesce(h.n_hit, 0) * 1000000 // 5 AS BIGINT) AS recall_ppm
             |FROM embeddings q LEFT JOIN h ON q.vec_id = h.qid
             |WHERE q.vec_id < 10""".stripMargin
      ) ++ pq
  }

  /** The bucket-local near-dup pair oracle, shared by emb_neardup_pairs
    * and emb_semdedup (which closes the pair graph transitively). */
  private lazy val neardupPairsSql: String =
    s"""WITH bk AS ($bucketSql),
       |a AS (SELECT vec_id AS v1, embedding AS e1, bucket FROM bk),
       |c AS (SELECT vec_id AS v2, embedding AS e2, bucket FROM bk),
       |scored AS (
       |  SELECT v1, v2,
       |    CAST(${dotE12Sql("e1", "e2")} AS DOUBLE) /
       |      (sqrt(CAST(${norm2e12Sql.replace("embedding", "e1")} AS DOUBLE)) *
       |       sqrt(CAST(${norm2e12Sql.replace("embedding", "e2")} AS DOUBLE))) AS cosine
       |  FROM a JOIN c USING (bucket) WHERE v1 < v2)
       |SELECT v1, v2, cosine FROM scored WHERE cosine >= 0.25""".stripMargin

  private val staticOracles: Map[String, String] = Map(
    "emb_norms" ->
      s"""SELECT vec_id, $norm2e12Sql AS norm2_e12,
         |  sqrt(CAST($norm2e12Sql AS DOUBLE) / 1e12) AS l2_norm
         |FROM embeddings""".stripMargin,

    "emb_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS e1 FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS cid, embedding AS e2 FROM embeddings),
         |scored AS (
         |  SELECT qid, cid,
         |    CAST(${dotE12Sql("e1", "e2")} AS DOUBLE) /
         |      (sqrt(CAST(${norm2e12Sql.replace("embedding", "e1")} AS DOUBLE)) *
         |       sqrt(CAST(${norm2e12Sql.replace("embedding", "e2")} AS DOUBLE))) AS cosine
         |  FROM q JOIN c ON qid != cid)
         |SELECT qid, rank, cid, cosine FROM (
         |  SELECT qid, cid, cosine,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 10""".stripMargin,

    "emb_ann_topk" ->
      s"""WITH bk AS ($bucketSql),
         |q AS (SELECT vec_id AS qid, embedding AS e1, bucket FROM bk WHERE vec_id < 20),
         |c AS (SELECT vec_id AS cid, embedding AS e2, bucket FROM bk),
         |scored AS (
         |  SELECT qid, cid,
         |    CAST(${dotE12Sql("e1", "e2")} AS DOUBLE) /
         |      (sqrt(CAST(${norm2e12Sql.replace("embedding", "e1")} AS DOUBLE)) *
         |       sqrt(CAST(${norm2e12Sql.replace("embedding", "e2")} AS DOUBLE))) AS cosine
         |  FROM q JOIN c USING (bucket) WHERE qid != cid)
         |SELECT qid, rank, cid, cosine FROM (
         |  SELECT qid, cid, cosine,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 5""".stripMargin,

    "emb_neardup_pairs" -> neardupPairsSql,

    "emb_knn_join" ->
      s"""WITH $knnCtesSql
         |SELECT vec_id, rank, nbr, cosine FROM knn""".stripMargin,

    "emb_pagerank" -> pageRankSql(iters = 3, dampPct = 85),

    "emb_knn_degree" ->
      s"""WITH $knnCtesSql,
         |d AS (SELECT nbr AS vec_id, CAST(count(*) AS BIGINT) AS in_deg
         |      FROM knn GROUP BY nbr)
         |SELECT coalesce(d.in_deg, 0) AS in_deg, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM embeddings e LEFT JOIN d ON e.vec_id = d.vec_id
         |GROUP BY coalesce(d.in_deg, 0)""".stripMargin,

    "emb_dedup_exact" ->
      """SELECT min(vec_id) AS vec_id, count(*) AS n_copies
        |FROM (
        |  SELECT vec_id,
        |    md5(array_to_string(list_transform(embedding,
        |      x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS VARCHAR)), ',')) AS k
        |  FROM embeddings) t
        |GROUP BY k""".stripMargin,

    "emb_decontaminate" ->
      s"""WITH bk AS ($bucketSql),
         |ev AS (SELECT vec_id AS eid, embedding AS e1, bucket FROM bk WHERE vec_id % 20 = 0),
         |c AS (SELECT vec_id, embedding AS e2, bucket FROM bk WHERE vec_id % 20 <> 0),
         |bad AS (
         |  SELECT DISTINCT c.vec_id
         |  FROM c JOIN ev USING (bucket)
         |  WHERE CAST(${dotE12Sql("e1", "e2")} AS DOUBLE) /
         |      (sqrt(CAST(${norm2e12Sql.replace("embedding", "e1")} AS DOUBLE)) *
         |       sqrt(CAST(${norm2e12Sql.replace("embedding", "e2")} AS DOUBLE))) >= 0.25)
         |SELECT vec_id FROM bk
         |WHERE vec_id % 20 <> 0 AND vec_id NOT IN (SELECT vec_id FROM bad)""".stripMargin,

    "emb_semdedup" ->
      s"""WITH RECURSIVE pairs AS (SELECT v1, v2 FROM ($neardupPairsSql) np),
         |nodes AS (SELECT v1 AS n FROM pairs UNION SELECT v2 FROM pairs),
         |edges AS (SELECT v1 AS a, v2 AS b FROM pairs
         |          UNION SELECT v2 AS a, v1 AS b FROM pairs),
         |reach(a, b) AS (
         |  SELECT n AS a, n AS b FROM nodes
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a)
         |SELECT e.vec_id FROM embeddings e
         |LEFT JOIN comp c ON e.vec_id = c.vec_id
         |WHERE c.component IS NULL OR c.component = e.vec_id""".stripMargin,

    "emb_ann_buckets" ->
      s"""WITH expl AS (
         |  SELECT vec_id, CAST(d - 1 AS INT) AS d, embedding[d] AS x
         |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS d)),
         |planes AS (
         |  SELECT vec_id, p,
         |    sum((CAST(concat('0x', substr(md5(concat(p, '_', d)), 1, 15)) AS BIGINT) % 2001 - 1000)
         |        * CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS score
         |  FROM expl CROSS JOIN (SELECT unnest(range($PLANES)) AS p)
         |  GROUP BY vec_id, p)
         |SELECT vec_id,
         |  CAST(sum(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |FROM planes GROUP BY vec_id""".stripMargin
  )
}
