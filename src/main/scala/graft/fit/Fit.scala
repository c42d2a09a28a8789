package graft.fit

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed per-trace curve fitting — the engine's replacement for the
  * reference's sequential `bootstrapfit` loop (`analysis.py:3034-3163`):
  * per-pixel / per-trace fits are independent, so they distribute as
  * `Dataset[Trace].map(fit)` across the cluster (SURVEY.md §2.10 note);
  * only the optional row-to-row parameter propagation stays sequential.
  *
  * Lineshapes per `analysis.py:2893-2964`: gaussian, skewed gaussian,
  * the TRUE complex-wofz Voigt ([[voigt]], via [[Faddeeva]]) and the
  * cheaper pseudo-Voigt approximation ([[pseudoVoigt]]).
  */
object Fit {

  final case class Trace(key: String, xs: Array[Double], ys: Array[Double])
  final case class GaussFit(key: String, amp: Double, center: Double,
                            sigma: Double, sse: Double, iters: Int)
  final case class VoigtFit(key: String, amp: Double, center: Double,
                            sigma: Double, gamma: Double, sse: Double, iters: Int)

  // Built once: deriving a product encoder reflects over the case class,
  // which costs more than fitting a small Dataset of traces.
  private lazy val traceEncoder: Encoder[Trace] = Encoders.product[Trace]
  private lazy val gaussFitEncoder: Encoder[GaussFit] = Encoders.product[GaussFit]
  private lazy val voigtFitEncoder: Encoder[VoigtFit] = Encoders.product[VoigtFit]

  @inline def gaussian(amp: Double, ctr: Double, sig: Double, x: Double): Double =
    amp * math.exp(-(x - ctr) * (x - ctr) / (2 * sig * sig))

  /** Pseudo-Voigt profile: η·Lorentzian + (1−η)·Gaussian of common FWHM. */
  def pseudoVoigt(amp: Double, ctr: Double, fwhm: Double, eta: Double, x: Double): Double = {
    val g = math.exp(-4 * math.log(2) * (x - ctr) * (x - ctr) / (fwhm * fwhm))
    val l = 1.0 / (1.0 + 4 * (x - ctr) * (x - ctr) / (fwhm * fwhm))
    amp * (eta * l + (1 - eta) * g)
  }

  /** TRUE Voigt lineshape — the reference's exact expression
    * (`analysis.py:2933`): `amp·Re w((x−ctr+iγ)/(σ√2)) / (σ√(2π))`,
    * with w the complex Faddeeva function (SciPy's `wofz`), evaluated
    * by the self-contained [[Faddeeva]] kernel. γ=0 degenerates to the
    * area-normalized Gaussian exactly (Re w(x)=e^(−x²) on the real
    * axis); σ→0 approaches the Lorentzian γ/(π((x−ctr)²+γ²)). */
  def voigt(amp: Double, ctr: Double, sig: Double, gam: Double, x: Double): Double = {
    val s2 = sig * math.sqrt(2.0)
    amp * Faddeeva.wofzRe((x - ctr) / s2, gam / s2) / (sig * math.sqrt(2.0 * math.Pi))
  }

  /** Error function via the classic Chebyshev-fitted erfc approximation
    * (Numerical Recipes §6.2 form; |fractional error| < 1.2e-7 —
    * far below lineshape-fit noise). */
  def erf(x: Double): Double = {
    val z = math.abs(x)
    val t = 1.0 / (1.0 + 0.5 * z)
    val erfc = t * math.exp(-z * z - 1.26551223 + t * (1.00002368 + t * (0.37409196 +
      t * (0.09678418 + t * (-0.18628806 + t * (0.27886807 + t * (-1.13520398 +
        t * (1.48851587 + t * (-0.82215223 + t * 0.17087277)))))))))
    if (x >= 0) 1.0 - erfc else erfc - 1.0
  }

  /** Skewed Gaussian lineshape (O'Hagan & Leonard, Biometrika 63, 201
    * (1976)) per reference `analysis.py:2942-2966`:
    * (amp/2)·exp(−(x−ctr)²/(2σ²))·(1+erf(α·(x−ctr))). α=0 recovers the
    * symmetric Gaussian at half amplitude (the model's own convention).
    */
  @inline def skewedGaussian(amp: Double, ctr: Double, sig: Double, alph: Double, x: Double): Double =
    (amp / 2) * math.exp(-(x - ctr) * (x - ctr) / (2 * sig * sig)) * (1 + erf(alph * (x - ctr)))

  /** Damped Gauss-Newton gaussian fit of one trace. Start values from
    * moments (max, centroid, rms width). Finite-guarded: a step that
    * does not reduce SSE raises the damping instead of diverging.
    */
  def fitGaussian(xs: Array[Double], ys: Array[Double], maxIter: Int = 100,
                  start: Option[(Double, Double, Double)] = None): (Double, Double, Double, Double, Int) = {
    val n = xs.length
    require(n >= 3)
    // start values: caller-provided (warm start / propagation) or moments
    var (amp, ctr, sig) = start.getOrElse {
      val a0 = ys.max
      val ysum = ys.sum
      val c0 = if (ysum > 0) xs.zip(ys).map { case (x, y) => x * y }.sum / ysum else xs(n / 2)
      val v = if (ysum > 0) xs.zip(ys).map { case (x, y) => y * (x - c0) * (x - c0) }.sum / ysum else 1.0
      (a0, c0, math.max(math.sqrt(math.max(v, 1e-12)), 1e-6))
    }
    def sse(a: Double, c: Double, s: Double): Double = {
      var acc = 0.0
      var i = 0
      while (i < n) { val r = ys(i) - gaussian(a, c, s, xs(i)); acc += r * r; i += 1 }
      acc
    }
    var cost = sse(amp, ctr, sig)
    var lambda = 1e-3
    var it = 0
    var converged = false
    while (it < maxIter && !converged && lambda < 1e10) {
      // J^T J (3×3) and J^T r accumulated in one pass
      val jtj = Array.ofDim[Double](3, 3)
      val jtr = new Array[Double](3)
      var i = 0
      while (i < n) {
        val x = xs(i)
        val ex = math.exp(-(x - ctr) * (x - ctr) / (2 * sig * sig))
        val f = amp * ex
        val r = ys(i) - f
        val ja = ex
        val jc = f * (x - ctr) / (sig * sig)
        val js = f * (x - ctr) * (x - ctr) / (sig * sig * sig)
        val jv = Array(ja, jc, js)
        var p = 0
        while (p < 3) {
          jtr(p) += jv(p) * r
          var q = 0
          while (q < 3) { jtj(p)(q) += jv(p) * jv(q); q += 1 }
          p += 1
        }
        i += 1
      }
      // damped 3×3 solve (Cramer on JTJ + λ·diag)
      val m = Array.tabulate(3, 3)((p, q) =>
        jtj(p)(q) + (if (p == q) lambda * (1 + jtj(p)(p)) else 0.0))
      val det =
        m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
          m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
          m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
      if (det == 0 || !java.lang.Double.isFinite(det)) {
        lambda *= 10
      } else {
        def solve(k: Int): Double = {
          val mm = m.map(_.clone())
          for (p <- 0 until 3) mm(p)(k) = jtr(p)
          (mm(0)(0) * (mm(1)(1) * mm(2)(2) - mm(1)(2) * mm(2)(1)) -
            mm(0)(1) * (mm(1)(0) * mm(2)(2) - mm(1)(2) * mm(2)(0)) +
            mm(0)(2) * (mm(1)(0) * mm(2)(1) - mm(1)(1) * mm(2)(0))) / det
        }
        val (da, dc, ds) = (solve(0), solve(1), solve(2))
        val (na, nc, ns) = (amp + da, ctr + dc, math.max(math.abs(sig + ds), 1e-9))
        val nCost = sse(na, nc, ns)
        if (java.lang.Double.isFinite(nCost) && nCost < cost) {
          val rel = (cost - nCost) / math.max(cost, 1e-300)
          amp = na; ctr = nc; sig = ns; cost = nCost
          lambda = math.max(lambda / 3, 1e-12)
          if (rel < 1e-12) converged = true
        } else lambda *= 10
      }
      it += 1
    }
    (amp, ctr, sig, cost, it)
  }

  /** Damped Gauss-Newton Voigt fit of one trace (amp, ctr, σ, γ) with a
    * forward-difference Jacobian — same damping scheme as
    * [[fitGaussian]], generalized to 4 parameters. Start values from
    * moments, width split σ:γ = 7:3, amplitude scaled so the model peak
    * matches the data maximum. */
  def fitVoigt(xs: Array[Double], ys: Array[Double], maxIter: Int = 200,
               start: Option[(Double, Double, Double, Double)] = None)
      : (Double, Double, Double, Double, Double, Int) = {
    val n = xs.length
    require(n >= 5)
    var p = start match {
      case Some((a0, c0, s0, g0)) =>
        Array(a0, c0, math.max(math.abs(s0), 1e-9), math.max(g0, 0.0))
      case None =>
        val ysum = ys.sum
        val c0 = if (ysum > 0) xs.zip(ys).map { case (x, y) => x * y }.sum / ysum else xs(n / 2)
        val v = if (ysum > 0) xs.zip(ys).map { case (x, y) => y * (x - c0) * (x - c0) }.sum / ysum else 1.0
        val w = math.max(math.sqrt(math.max(v, 1e-12)), 1e-6)
        val s0 = 0.7 * w; val g0 = 0.3 * w
        val peak = voigt(1.0, c0, s0, g0, c0)
        Array(if (peak > 0) ys.max / peak else ys.max, c0, s0, g0)
    }
    def clamp(q: Array[Double]): Array[Double] =
      Array(q(0), q(1), math.max(math.abs(q(2)), 1e-9), math.max(q(3), 0.0))
    def sse(q: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < n) { val r = ys(i) - voigt(q(0), q(1), q(2), q(3), xs(i)); acc += r * r; i += 1 }
      acc
    }
    var cost = sse(p)
    var lambda = 1e-3
    var it = 0
    var converged = false
    while (it < maxIter && !converged && lambda < 1e10) {
      // forward-difference Jacobian columns at the current point
      val h = p.map(v => 1e-6 * math.max(math.abs(v), 1e-3))
      val f0 = Array.tabulate(n)(i => voigt(p(0), p(1), p(2), p(3), xs(i)))
      val jcols = Array.tabulate(4) { k =>
        val q = clamp(p.updated(k, p(k) + h(k)))
        Array.tabulate(n)(i => (voigt(q(0), q(1), q(2), q(3), xs(i)) - f0(i)) / h(k))
      }
      val jtj = Array.ofDim[Double](4, 4)
      val jtr = new Array[Double](4)
      var i = 0
      while (i < n) {
        val r = ys(i) - f0(i)
        var a = 0
        while (a < 4) {
          jtr(a) += jcols(a)(i) * r
          var b = 0
          while (b < 4) { jtj(a)(b) += jcols(a)(i) * jcols(b)(i); b += 1 }
          a += 1
        }
        i += 1
      }
      val m = Array.tabulate(4, 4)((a, b) =>
        jtj(a)(b) + (if (a == b) lambda * (1 + jtj(a)(a)) else 0.0))
      val step = solve4(m, jtr)
      if (step == null) lambda *= 10
      else {
        val np = clamp(Array.tabulate(4)(k => p(k) + step(k)))
        val nCost = sse(np)
        if (java.lang.Double.isFinite(nCost) && nCost < cost) {
          val rel = (cost - nCost) / math.max(cost, 1e-300)
          p = np; cost = nCost
          lambda = math.max(lambda / 3, 1e-12)
          if (rel < 1e-12) converged = true
        } else lambda *= 10
      }
      it += 1
    }
    (p(0), p(1), p(2), p(3), cost, it)
  }

  /** 4×4 linear solve (Gaussian elimination, partial pivoting); null on
    * a singular/non-finite system (caller raises damping). */
  private def solve4(m0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val m = m0.map(_.clone()); val b = b0.clone()
    var col = 0
    while (col < 4) {
      var piv = col
      var r = col + 1
      while (r < 4) { if (math.abs(m(r)(col)) > math.abs(m(piv)(col))) piv = r; r += 1 }
      if (m(piv)(col) == 0.0 || !java.lang.Double.isFinite(m(piv)(col))) return null
      if (piv != col) {
        val t = m(piv); m(piv) = m(col); m(col) = t
        val tb = b(piv); b(piv) = b(col); b(col) = tb
      }
      r = col + 1
      while (r < 4) {
        val f = m(r)(col) / m(col)(col)
        var c = col
        while (c < 4) { m(r)(c) -= f * m(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](4)
    var r = 3
    while (r >= 0) {
      var acc = b(r)
      var c = r + 1
      while (c < 4) { acc -= m(r)(c) * x(c); c += 1 }
      x(r) = acc / m(r)(r)
      if (!java.lang.Double.isFinite(x(r))) return null
      r -= 1
    }
    x
  }

  /** Fit every trace in parallel across the cluster. */
  def fitTraces(traces: Dataset[Trace]): Dataset[GaussFit] =
    traces.map { (t: Trace) =>
      val (a, c, s, sse, it) = fitGaussian(t.xs, t.ys)
      GaussFit(t.key, a, c, s, sse, it)
    }(gaussFitEncoder)

  /** [[fitTraces]] with the true-Voigt lineshape — same distributed
    * shape (per-trace fits are independent `Dataset.map` work). */
  def fitTracesVoigt(traces: Dataset[Trace]): Dataset[VoigtFit] =
    traces.map { (t: Trace) =>
      val (a, c, s, g, sse, it) = fitVoigt(t.xs, t.ys)
      VoigtFit(t.key, a, c, s, g, sse, it)
    }(voigtFitEncoder)

  /** Sequential bootstrap fitting with forward parameter propagation
    * (reference `bootstrapfit` with `pbar=True`, `analysis.py:3132-3139`):
    * trace i+1 starts from trace i's fitted parameters. Inherently
    * sequential, so driver-side by design; use [[fitTraces]] when
    * propagation is not needed.
    */
  def bootstrapFit(traces: Seq[Trace]): Seq[GaussFit] = {
    var prev: Option[(Double, Double, Double)] = None
    traces.map { t =>
      val (a, c, s, sse, it) = prev match {
        case Some((pa, pc, ps)) => fitGaussianFrom(t.xs, t.ys, pa, pc, ps)
        case None => fitGaussian(t.xs, t.ys)
      }
      prev = Some((a, c, s))
      GaussFit(t.key, a, c, s, sse, it)
    }
  }

  /** [[fitGaussian]] warm-started from propagated parameters: the
    * Gauss-Newton iteration runs from (a0, c0, s0) directly, which is
    * the reference's bootstrapfit semantics — the propagated start keeps
    * the chain in the drifting peak's basin even when another feature
    * would give a globally lower SSE, and costs one fit per trace. */
  def fitGaussianFrom(xs: Array[Double], ys: Array[Double],
                      a0: Double, c0: Double, s0: Double,
                      maxIter: Int = 100): (Double, Double, Double, Double, Int) =
    fitGaussian(xs, ys, maxIter, Some((a0, c0, math.max(math.abs(s0), 1e-9))))

  /** Per-parameter time-dependence tensor (reference
    * `build_dynamic_matrix`, `analysis.py:3243-3282`): for each fitted
    * parameter and each time step, (value, Δ from t0, Δ/I0).
    * Rows: (param name, step index, value, delta, deltaNorm). */
  def buildDynamicMatrix(fits: Seq[GaussFit]): Seq[(String, Int, Double, Double, Double)] = {
    require(fits.nonEmpty)
    val params: Seq[(String, GaussFit => Double)] =
      Seq("amp" -> (_.amp), "center" -> (_.center), "sigma" -> (_.sigma))
    params.flatMap { case (name, get) =>
      val v0 = get(fits.head)
      fits.zipWithIndex.map { case (f, i) =>
        val v = get(f)
        (name, i, v, v - v0, if (v0 != 0) (v - v0) / v0 else 0.0)
      }
    }
  }

  /** Build per-key traces from a binned histogram table: one trace per
    * `keyCol`, (bin, cnt) pairs sorted by bin. */
  def tracesFromHistogram(spark: SparkSession,
                          hist: org.apache.spark.sql.DataFrame,
                          keyCol: String, binCol: String, cntCol: String): Dataset[Trace] =
    hist.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(binCol), col(cntCol)))).as("pts"))
      .select(col(keyCol).cast("string").as("key"),
        expr("transform(pts, p -> CAST(p." + binCol + " AS DOUBLE))").as("xs"),
        expr("transform(pts, p -> CAST(p." + cntCol + " AS DOUBLE))").as("ys"))
      .as(traceEncoder)
}
