package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PCA over the embedding column — the dimensionality-reduction /
  * whitening substrate of vector-search pipelines (FAISS's `PCAMatrix`
  * preprocessing; OPQ's rotation; SemDeDup-style clustering usually
  * runs on PCA-reduced vectors).
  *
  * Training follows the repo's bounded-sample discipline
  * ([[Ivf.trainCentroids]]): the covariance is estimated from the first
  * `SAMPLE_N` vectors by vec_id — O(SAMPLE_N·dim) driver memory
  * regardless of corpus size, the standard production recipe (FAISS
  * trains PCA on a sample, then applies it corpus-wide). The d×d
  * covariance is eigendecomposed on the driver with a deterministic
  * cyclic Jacobi sweep; components are sign-normalized (largest-|coord|
  * positive, first index on ties) and ordered by (eigenvalue desc,
  * sweep index asc), so the trained matrix is reproducible bit for bit.
  *
  * Application is one map-only pass: the mean and component matrix ride
  * into [[graft.functions.PcaProjectE12]] as reference objects (a tight
  * codegen'd k×d loop, no shuffle, no UDF), emitting quantized-integer
  * projections the DuckDB oracle replays from the same literals
  * ([[projectSql]]).
  */
object Pca {

  /** Training-sample bound (first SAMPLE_N vectors by vec_id):
    * 1024×64 doubles ≈ 512 KiB on the driver at any corpus size. */
  val SAMPLE_N = 1024

  /** Deterministic cyclic Jacobi eigendecomposition of a symmetric
    * matrix: (eigenvalues, eigenvectors as rows), unordered. Fixed
    * sweep order (upper triangle row-major), fixed convergence
    * threshold, capped sweeps — same input, same output, always. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
                               maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    // v starts as identity; accumulates rotations as COLUMNS are
    // eigenvectors — we keep v[i][j] = component i of eigenvector j
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          off = math.max(off, math.abs(a(p)(q)))
          if (math.abs(a(p)(q)) > 1e-14) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // theta == 0 (equal diagonal) needs the 45° rotation t = 1;
            // signum(0) would silently skip the rotation and never
            // converge on such pairs
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < n) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val evals = Array.tabulate(n)(i => a(i)(i))
    val evecs = Array.tabulate(n)(j => Array.tabulate(n)(i => v(i)(j)))
    (evals, evecs)
  }

  /** Top-k principal components of `sample` (rows = vectors): the mean
    * vector and k component rows, eigenvalue-descending, each
    * sign-normalized so its largest-|coordinate| entry is positive
    * (first index on magnitude ties) — the determinism contract. */
  private[graft] def fit(sample: Array[Array[Double]],
                       k: Int): (Array[Double], Array[Array[Double]], Array[Double]) = {
    require(sample.nonEmpty, "PCA needs a non-empty training sample")
    val n = sample.length
    val dim = sample.head.length
    require(k >= 1 && k <= dim, s"need 1 <= k <= $dim, got $k")
    val mean = new Array[Double](dim)
    sample.foreach { x =>
      var d = 0
      while (d < dim) { mean(d) += x(d); d += 1 }
    }
    var d = 0
    while (d < dim) { mean(d) /= n; d += 1 }
    val cov = Array.ofDim[Double](dim, dim)
    sample.foreach { x =>
      var i = 0
      while (i < dim) {
        val xi = x(i) - mean(i)
        var j = i
        while (j < dim) {
          cov(i)(j) += xi * (x(j) - mean(j))
          j += 1
        }
        i += 1
      }
    }
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        cov(i)(j) /= n
        cov(j)(i) = cov(i)(j)
        j += 1
      }
      i += 1
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(i => (-evals(i), i)).take(k)
    val comps = order.map { ei =>
      val vBase = evecs(ei)
      var arg = 0
      var best = math.abs(vBase(0))
      var p = 1
      while (p < dim) {
        if (math.abs(vBase(p)) > best) { best = math.abs(vBase(p)); arg = p }
        p += 1
      }
      if (vBase(arg) < 0) vBase.map(-_) else vBase
    }.toArray
    (mean, comps, order.map(evals(_)).toArray)
  }

  /** Trained (mean, components) keyed by (dir, k) — the [[Ivf.trained]]
    * cached-literal discipline for the oracle builder. */
  private val trained = scala.collection.concurrent.TrieMap
    .empty[(String, Int), (Array[Double], Array[Array[Double]])]
  @volatile private var lastKey: Option[(String, Int)] = None

  def cachedModel: Option[(Array[Double], Array[Array[Double]])] = lastKey.map { lk =>
    require(trained.size == 1,
      s"PCA oracle ambiguity: models trained for ${trained.keys.mkString(", ")} " +
        "in this session; oracle SQL can only be emitted for a single (dir, k)")
    trained(lk)
  }

  /** PCA-whitening models keyed by (dir, k) — separate cache from the
    * plain projection so emb_pca and emb_whiten oracles can coexist in
    * one session without tripping each other's ambiguity guard. */
  private val trainedWhiten = scala.collection.concurrent.TrieMap
    .empty[(String, Int), (Array[Double], Array[Array[Double]])]
  @volatile private var lastWhitenKey: Option[(String, Int)] = None

  def cachedWhiten: Option[(Array[Double], Array[Array[Double]])] =
    lastWhitenKey.map { lk =>
      require(trainedWhiten.size == 1,
        s"whitening oracle ambiguity: models trained for " +
          s"${trainedWhiten.keys.mkString(", ")} in this session")
      trainedWhiten(lk)
    }

  /** PCA whitening (Su et al. 2021, arXiv:2103.15316 — the standard
    * embedding post-processing before cosine retrieval/dedup):
    * decorrelate and scale each principal coordinate to unit variance.
    * The 1/sqrt(eigenvalue + eps) scale FOLDS INTO the component
    * literals, so the apply pass is the same codegen'd
    * [[graft.functions.PcaProjectE12]] kernel and the same
    * [[projectSql]] oracle as plain projection — zero new kernels,
    * map-only, zero shuffle. Trains on the bounded deterministic
    * sample (the [[Ivf]] discipline). */
  def trainWhiten(spark: SparkSession, dir: String, k: Int,
                  eps: Double = 1e-9): (Array[Double], Array[Array[Double]]) = {
    val sample = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < SAMPLE_N)
      .orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val (mean, comps, evals) = fit(sample, k)
    val w = whitenScales(comps, evals, eps)
    trainedWhiten((dir, k)) = (mean, w)
    lastWhitenKey = Some((dir, k))
    (mean, w)
  }

  /** The whitening fold itself — components scaled by
    * 1/sqrt(eigenvalue + eps) — shared by [[trainWhiten]] and the
    * corpus-scale bench path so the scale formula has ONE definition. */
  def whitenScales(comps: Array[Array[Double]], evals: Array[Double],
                   eps: Double = 1e-9): Array[Array[Double]] =
    comps.zip(evals).map { case (v, ev) =>
      val s = 1.0 / math.sqrt(ev + eps)
      v.map(_ * s)
    }

  /** Train on the bounded deterministic sample of `vectors` (needs
    * vec_id + embedding columns); no oracle-literal caching — the
    * corpus-scale bench path. */
  def trainOn(vectors: DataFrame, k: Int): (Array[Double], Array[Array[Double]]) = {
    val (mean, comps, _) = fitOn(vectors, k)
    (mean, comps)
  }

  /** [[trainOn]] with the eigenvalues exposed (for whitening scales);
    * no oracle-literal caching — the corpus-scale bench path. */
  def fitOn(vectors: DataFrame, k: Int): (Array[Double], Array[Array[Double]], Array[Double]) = {
    val sample = vectors
      .filter(col("vec_id") < SAMPLE_N)
      .orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    fit(sample, k)
  }

  /** Train on the bounded deterministic sample of the embeddings at
    * `dir` (not memoized — [[Ivf.trainCentroids]] staleness rationale). */
  def train(spark: SparkSession, dir: String, k: Int): (Array[Double], Array[Array[Double]]) = {
    val (mean, comps) = trainOn(graft.Tables.embeddings(spark, dir), k)
    trained((dir, k)) = (mean, comps)
    lastKey = Some((dir, k))
    (mean, comps)
  }

  /** Project every vector: (vec_id, pc1_e12..pck_e12) — one map-only
    * codegen'd pass, zero shuffle. */
  def project(vectors: DataFrame, mean: Array[Double],
              comps: Array[Array[Double]]): DataFrame = {
    val proj = org.apache.spark.sql.GraftBridge.column(
      graft.functions.PcaProjectE12(
        org.apache.spark.sql.GraftBridge.expression(vectors("embedding")), mean, comps))
    val cols = col("vec_id") +: comps.indices.map(k =>
      element_at(col("proj"), k + 1).as(s"pc${k + 1}_e12"))
    vectors.withColumn("proj", proj).select(cols: _*)
  }

  /** DuckDB twin of [[project]] from the trained literals (exact
    * DOUBLE literals via [[DuckLiteral]], identical per-term
    * round-then-sum).
    * `withEmbedding` carries the original vector through — the
    * reduced-space SemDeDup oracle verifies candidates on it. */
  def projectSql(mean: Array[Double], comps: Array[Array[Double]],
                 table: String = "embeddings",
                 withEmbedding: Boolean = false): String = {
    val dim = mean.length
    val mu = DuckLiteral.list(mean)
    val pc = DuckLiteral.matrix(comps)
    val outs = comps.indices.map { k =>
      s"""  CAST(list_sum(list_transform(range(1, ${dim + 1}), i ->
         |    CAST(round((CAST(embedding[i] AS DOUBLE) - mu[i]) * pc[${k + 1}][i] * 1e12) AS BIGINT))) AS BIGINT) AS pc${k + 1}_e12""".stripMargin
    }.mkString(",\n")
    val emb = if (withEmbedding) " embedding," else ""
    s"""WITH m AS (SELECT $mu AS mu, $pc AS pc)
       |SELECT vec_id,$emb
       |$outs
       |FROM $table CROSS JOIN m""".stripMargin
  }
}
