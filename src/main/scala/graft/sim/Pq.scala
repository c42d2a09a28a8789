package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ (product quantization over coarse-cell residuals) — the
  * standard ANN layout at real corpus scale, where raw vectors no longer
  * fit executor memory: each vector keeps only its coarse cell id plus
  * `m` uint8-range codes (8 bytes for a 64-dim float vector here, a 32×
  * compression), and candidate ranking runs against the codes (ADC),
  * touching raw vectors only for the final shortlist re-rank.
  *
  * Training mirrors the IVF recipe ([[Ivf.trainCentroids]]): the
  * per-subspace codebooks are k-means over the coarse-cell RESIDUALS of
  * the same bounded deterministic sample (first [[Ivf.SAMPLE_N]] vectors
  * by vec_id), so driver memory stays O(sample) regardless of corpus
  * size and the codebooks are reproducible — the DuckDB oracle evaluates
  * the identical quantized arithmetic from the same literal codebooks.
  */
object Pq {

  /** Subspace count (64 dims → 8 subspaces of 8). */
  val M = 8

  /** Codes per subspace. 16 here (the 256-vector training sample cannot
    * meaningfully populate the customary 256); the shape — not the
    * constant — is what scales. */
  val KCODES = 16

  /** ADC shortlist size per query before the exact re-rank. */
  val SHORTLIST = 64

  /** Train per-subspace codebooks on the bounded sample's residuals.
    * Deterministic: sample in vec_id order, k-means init = first KCODES
    * residual slices, fixed iterations ([[Ivf.kmeans]]). */
  def trainCodebooks(spark: SparkSession, dir: String,
                     cents: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    val sample = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < Ivf.SAMPLE_N)
      .orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val cbs = trainCodebooksOn(sample, cents)
    trained((dir, M, KCODES)) = cbs
    lastKey = Some((dir, M, KCODES))
    cbs
  }

  /** [[trainCodebooks]] over an in-memory sample — the corpus-scale
    * bench path (no table dir, no oracle-literal caching). Same
    * deterministic math: k-means init = first `kcodes` residual
    * slices, fixed iterations. `kcodes` defaults to the sf-scale
    * [[KCODES]]; the production √N-geometry entries pass the customary
    * 256 — their 8192-vector training sample (vs the sf oracle's 256)
    * populates a full-capacity codebook, and the capacity is exactly
    * what bounds quantization loss at fixed SHORTLIST (measured in
    * BENCH_LARGE's ivfpq_sqrt_* ladder). */
  def trainCodebooksOn(sample: Array[Array[Double]],
                       cents: Array[Array[Double]],
                       kcodes: Int = KCODES): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    require(dim % M == 0, s"dim $dim not divisible by $M subspaces")
    require(sample.length >= kcodes,
      s"codebook capacity kcodes=$kcodes exceeds the ${sample.length}-vector " +
        "training sample (k-means needs at least one point per code)")
    val dsub = dim / M
    val residuals = sample.map { v =>
      val c = cents(Ivf.assign(v, cents))
      Array.tabulate(dim)(d => v(d) - c(d))
    }
    Array.tabulate(M) { sub =>
      Ivf.kmeans(residuals.map(_.slice(sub * dsub, (sub + 1) * dsub)), kcodes)
    }
  }

  private val trained =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), Array[Array[Array[Double]]]]
  @volatile private var lastKey: Option[(String, Int, Int)] = None

  /** The one trained codebook set of this session (same single-config
    * discipline as [[Ivf.cachedCentroids]]). */
  def cachedCodebooks: Option[Array[Array[Array[Double]]]] = lastKey.map { lk =>
    require(trained.size == 1,
      s"PQ oracle ambiguity: codebooks trained for ${trained.keys.mkString(", ")}")
    trained(lk)
  }

  /** Spark literal for the centroid matrix. */
  private def centsSpark(cents: Array[Array[Double]]): String =
    cents.map(_.mkString("array(", ", ", ")")).mkString("array(", ", ", ")")

  /** Append `res` = embedding − centroid(cell), as array<double> — the
    * exact elementwise expression the oracle replays
    * (`CAST(x AS DOUBLE) − cent_d`). Requires a `cell` column. */
  def withResidual(df: DataFrame, cents: Array[Array[Double]]): DataFrame =
    df.withColumn("res", expr(
      s"zip_with(embedding, element_at(${centsSpark(cents)}, cell + 1), (x, c) -> CAST(x AS DOUBLE) - c)"))

  /** [[withResidual]] via the codegen'd reference-object kernel
    * ([[graft.functions.IvfResidualE12]]) — bit-identical residuals
    * (both are exact double subtraction; parity spec-pinned) without
    * the centroid literal, which at production geometry (nlist ≈ √N)
    * is a ~90k-node expression tree. This is the encode path the
    * corpus-scale IVF-PQ entries use. */
  def withResidualFast(df: DataFrame, cents: Array[Array[Double]]): DataFrame =
    df.withColumn("res", org.apache.spark.sql.GraftBridge.column(
      graft.functions.IvfResidualE12(
        org.apache.spark.sql.GraftBridge.expression(df("embedding")),
        org.apache.spark.sql.GraftBridge.expression(df("cell")), cents)))

  /** Codes column via the codegen'd [[graft.functions.PqEncodeE12]]. */
  def encodeCol(res: Column, cbs: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.PqEncodeE12(
      org.apache.spark.sql.GraftBridge.expression(res), cbs))

  /** ADC distance column via the codegen'd [[graft.functions.PqAdcE12]]. */
  def adcCol(qres: Column, codes: Column, cbs: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.PqAdcE12(
      org.apache.spark.sql.GraftBridge.expression(qres),
      org.apache.spark.sql.GraftBridge.expression(codes), cbs))

  // ---- DuckDB oracle fragments (same literals, same arithmetic) ----

  private def cbDuck(cbs: Array[Array[Array[Double]]]): String =
    cbs.map(DuckLiteral.matrix).mkString("[", ", ", "]")

  /** Full oracle for emb_ivfpq_topk given the trained literals. Mirrors
    * the Spark plan stage for stage: assign cells, residuals, encode,
    * ADC against codes, shortlist by (adc, cid), exact cosine re-rank.
    */
  def topkSql(cents: Array[Array[Double]], cbs: Array[Array[Array[Double]]],
              nQueries: Int, topK: Int): String = {
    val dim = cents(0).length
    val m = cbs.length
    val k = cbs(0).length
    val dsub = cbs(0)(0).length
    val dot = s"CAST(list_sum(list_transform(range(1, len(e1) + 1), i -> CAST(round(CAST(e1[i] AS DOUBLE) * CAST(e2[i] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT)"
    def norm(e: String) = s"CAST(list_sum(list_transform($e, x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT)"
    s"""WITH asg AS (${Ivf.assignSql(cents)}),
       |cbl AS (SELECT ${cbDuck(cbs)} AS cb),
       |cents2 AS (SELECT ${DuckLiteral.matrix(cents)} AS cc),
       |res AS (
       |  SELECT vec_id, embedding, cell,
       |    list_transform(range(1, ${dim + 1}), i ->
       |      CAST(embedding[i] AS DOUBLE) - cc[cell + 1][i]) AS r
       |  FROM asg CROSS JOIN cents2),
       |enc AS (
       |  SELECT vec_id, embedding, cell,
       |    list_transform(
       |      list_transform(range(0, $m), sub ->
       |        list_transform(range(1, ${k + 1}), j ->
       |          list_sum(list_transform(range(1, ${dsub + 1}), d ->
       |            CAST(round((r[sub * $dsub + d] - cb[sub + 1][j][d]) * (r[sub * $dsub + d] - cb[sub + 1][j][d]) * 1e12) AS BIGINT))))),
       |      ds -> CAST(list_position(ds, list_min(ds)) - 1 AS INT)) AS codes
       |  FROM res CROSS JOIN cbl),
       |q AS (SELECT vec_id AS qid, embedding AS e1, cell, r AS qr
       |      FROM res WHERE vec_id < $nQueries),
       |adc AS (
       |  SELECT q.qid, q.e1, c.vec_id AS cid, c.embedding AS e2,
       |    CAST(list_sum(list_transform(range(0, $m), sub ->
       |      list_sum(list_transform(range(1, ${dsub + 1}), d ->
       |        CAST(round((qr[sub * $dsub + d] - cb[sub + 1][codes[sub + 1] + 1][d]) * (qr[sub * $dsub + d] - cb[sub + 1][codes[sub + 1] + 1][d]) * 1e12) AS BIGINT))))) AS BIGINT) AS adc
       |  FROM q JOIN enc c USING (cell) CROSS JOIN cbl
       |  WHERE q.qid != c.vec_id),
       |short AS (
       |  SELECT qid, e1, cid, e2 FROM (
       |    SELECT qid, e1, cid, e2,
       |      row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS arank
       |    FROM adc) t
       |  WHERE arank <= ${SHORTLIST}),
       |scored AS (
       |  SELECT qid, cid,
       |    CAST($dot AS DOUBLE) /
       |      (sqrt(CAST(${norm("e1")} AS DOUBLE)) * sqrt(CAST(${norm("e2")} AS DOUBLE))) AS cosine
       |  FROM short)
       |SELECT qid, rank, cid, cosine FROM (
       |  SELECT qid, cid, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS INT) AS rank
       |  FROM scored) t
       |WHERE rank <= $topK""".stripMargin
  }
}
