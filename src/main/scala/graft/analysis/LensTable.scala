package graft.analysis

/** Igor-era lens-table calibration parsing and interpolation — reference
  * `legacy.py:49-233`: read the SPECS text calibration file's
  * WideAngleMode sections (angular range + energy shift defaults, and
  * per-retardation-ratio `aInner` + Da1/Da3/Da5/Da7 polynomial
  * coefficient rows), interpolate the coefficient tables at a working
  * retardation ratio via Igor's fractional-index scheme
  * (`BinarySearchInterp` + linear interp, `legacy.py:28-47`), and
  * evaluate the SPECS HSA isoline position (`MCP_Position_mm` /
  * `zInner` / `zInner_Diff`, `legacy.py:190-233`): a polynomial in
  * angle with energy-dependent coefficients, Taylor-extended to first
  * order beyond `aInner`.
  *
  * This is driver-side configuration machinery (the distributed use is
  * baking the resulting small coefficient tables into Column
  * expressions, as `cal_tof2ev`/`dfield_lookup` do for their params).
  */
object LensTable {

  /** Parsed WideAngleMode calibration: detector defaults plus one row
    * of polynomial coefficients per retardation ratio. `daN(i)` holds
    * the 3 energy-polynomial coefficients (highest degree first, numpy
    * `polyval` convention) for retardation ratio `rr(i)`. */
  final case class WideAngleCalib(aRange: Array[Double], eShift: Array[Double],
                                  rr: Array[Double], aInner: Array[Double],
                                  da1: Array[Array[Double]], da3: Array[Array[Double]],
                                  da5: Array[Array[Double]], da7: Array[Array[Double]])

  private val NUM = """[-+]?\d*\.\d+|[-+]?\d+""".r

  private def nums(line: String): Array[Double] =
    NUM.findAllIn(line).map(_.toDouble).toArray

  /** Parse the WideAngleMode sections of a SPECS calibration text —
    * the same line-offset layout `readLensModeParameters` walks
    * (`legacy.py:81-187`): defaults block carries the angular range at
    * +2 and eShift at +3; each `[WideAngleMode@rr]` block carries rr at
    * +0, aInner at +1, and Da1/3/5/7 at +2..+5 (coefficients 1:4 — the
    * leading number on each Da line is its index, not a coefficient).
    */
  def parseWideAngleMode(text: String): WideAngleCalib = {
    val lines = text.linesIterator.toArray
    val defaults = lines.indices.filter(i => lines(i).contains("[WideAngleMode defaults"))
    val params = lines.indices.filter(i => lines(i).contains("[WideAngleMode@"))
    require(params.nonEmpty, "no [WideAngleMode@...] sections found")
    val aRange = defaults.flatMap(i => nums(lines(i + 2))).toArray
    val eShift = defaults.flatMap(i => nums(lines(i + 3))).toArray
    val rr = params.map(i => nums(lines(i))(0)).toArray
    val aInner = params.map(i => nums(lines(i + 1))(0)).toArray
    def daRows(off: Int): Array[Array[Double]] =
      params.map(i => nums(lines(i + off)).slice(1, 4)).toArray
    WideAngleCalib(aRange, eShift, rr, aInner,
      daRows(2), daRows(3), daRows(4), daRows(5))
  }

  /** Igor `BinarySearchInterp` (`legacy.py:28-39`): fractional index of
    * `v` in `arr`, linear between the bracketing elements; the bracket
    * is Igor `BinarySearch`, [[Analysis.binarySearch]]. */
  def searchInterp(arr: Array[Double], v: Double): Double = {
    val i = Analysis.binarySearch(arr, v)
    // Exact left-edge match: searchsorted(side='left')-1 yields -1 and
    // the reference's scipy interp1d over the resulting empty slice
    // raises — Igor's real BinarySearch returns the matched index.
    // Follow Igor: fractional index 0 for v == arr(0).
    if (i < 0 && v == arr(0)) return 0.0
    require(i >= 0 && i + 1 < arr.length, s"value $v outside table range")
    i + (v - arr(i)) / (arr(i + 1) - arr(i))
  }

  /** Linear interpolation at integer index + fraction (`legacy.py:41-47`). */
  def linterp(xind: Int, yarr: Array[Double], frac: Double): Double =
    yarr(xind) * (1 - frac) + yarr(xind + 1) * frac

  /** Interpolate all four Da coefficient tables (and aInner) at a
    * working retardation ratio — the canonical lens-table use: each
    * coefficient is linterp'd at rr's fractional index. Returns
    * (aInner, Array(da1, da3, da5, da7)). */
  def atRetardationRatio(c: WideAngleCalib, rrWork: Double): (Double, Array[Array[Double]]) = {
    val fi = searchInterp(c.rr, rrWork)
    val i = math.min(fi.toInt, c.rr.length - 2)
    val frac = fi - i
    def interpRows(rows: Array[Array[Double]]): Array[Double] =
      Array.tabulate(rows(0).length)(k =>
        rows(i)(k) * (1 - frac) + rows(i + 1)(k) * frac)
    val aIn = c.aInner(i) * (1 - frac) + c.aInner(i + 1) * frac
    (aIn, Array(interpRows(c.da1), interpRows(c.da3), interpRows(c.da5), interpRows(c.da7)))
  }

  /** numpy `polyval`: coefficients highest degree first. */
  def polyval(coeffs: Array[Double], x: Double): Double =
    coeffs.foldLeft(0.0)((acc, c) => acc * x + c)

  /** Isoline position inside [-aInner, aInner] (`zInner`,
    * `legacy.py:213-222`): Σ 10^(2-2n)·poly(Da_{2n-1}, Ek)·Ang^(2n-1). */
  def zInner(ek: Double, ang: Double, da: Array[Array[Double]]): Double =
    polyval(da(0), ek) * ang +
      1e-2 * polyval(da(1), ek) * math.pow(ang, 3) +
      1e-4 * polyval(da(2), ek) * math.pow(ang, 5) +
      1e-6 * polyval(da(3), ek) * math.pow(ang, 7)

  /** d(zInner)/dAng (`zInner_Diff`, `legacy.py:224-233`). */
  def zInnerDiff(ek: Double, ang: Double, da: Array[Array[Double]]): Double =
    polyval(da(0), ek) +
      3e-2 * polyval(da(1), ek) * ang * ang +
      5e-4 * polyval(da(2), ek) * math.pow(ang, 4) +
      7e-6 * polyval(da(3), ek) * math.pow(ang, 6)

  /** SPECS HSA MCP position (`MCP_Position_mm`, `legacy.py:190-210`):
    * exact polynomial inside ±aInner, first-order Taylor beyond. */
  def mcpPositionMm(ek: Double, ang: Double, aInner: Double,
                    da: Array[Array[Double]]): Double =
    if (math.abs(ang) <= aInner) zInner(ek, ang, da)
    else {
      val dA = math.abs(ang) - aInner
      math.signum(ang) * (zInner(ek, aInner, da) + dA * zInnerDiff(ek, aInner, da))
    }

  // --- distributed form: the interpolated coefficient tables baked into
  // Column expressions (the same driver-literals-into-codegen pattern as
  // `cal_tof2ev`/`tps_apply`). Only IEEE *, +, abs, sign and comparisons,
  // with the Column and SQL builders emitting the IDENTICAL operation
  // tree, so Spark and the DuckDB oracle agree bit-for-bit.

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{lit, when, abs => cabs, signum}

  /** numpy `polyval` as a Column: same fold order as [[polyval]]. */
  def polyvalCol(coeffs: Array[Double], x: Column): Column =
    coeffs.foldLeft(lit(0.0): Column)((acc, c) => acc * x + lit(c))

  /** Render a double as a DuckDB DOUBLE literal. Plain decimal literals
    * are DECIMAL-typed there, and DECIMAL→DOUBLE conversion divides by a
    * power of ten in double arithmetic — NOT correctly rounded (observed
    * 1-ULP drift on 17-digit constants). Exponent notation is lexed as
    * DOUBLE and goes through strtod, which is exact. */
  private def dlit(c: Double): String = {
    val s = c.toString
    if (s.contains('e') || s.contains('E') || s == "Infinity" || s == "-Infinity") s
    else s + "e0"
  }

  private def polyvalSql(coeffs: Array[Double], x: String): String =
    coeffs.foldLeft("0.0e0")((acc, c) => s"(($acc) * ($x) + ${dlit(c)})")

  private def pow(ang: Column, n: Int): Column =
    Seq.fill(n)(ang).reduce(_ * _)

  // outer parens matter: without them SQL left-associates the enclosing
  // `c * poly * a * a * a` chain, while the Column tree multiplies the
  // pow subtree as one operand — a 1-ULP divergence at the hash gate
  private def powSql(ang: String, n: Int): String =
    "(" + Seq.fill(n)(s"($ang)").mkString(" * ") + ")"

  /** [[zInner]] as a Column over per-row (ek, ang). */
  def zInnerCol(ek: Column, ang: Column, da: Array[Array[Double]]): Column =
    polyvalCol(da(0), ek) * ang +
      lit(1e-2) * polyvalCol(da(1), ek) * pow(ang, 3) +
      lit(1e-4) * polyvalCol(da(2), ek) * pow(ang, 5) +
      lit(1e-6) * polyvalCol(da(3), ek) * pow(ang, 7)

  private def zInnerSql(ek: String, ang: String, da: Array[Array[Double]]): String =
    s"${polyvalSql(da(0), ek)} * ($ang) + " +
      s"1.0e-2 * ${polyvalSql(da(1), ek)} * ${powSql(ang, 3)} + " +
      s"1.0e-4 * ${polyvalSql(da(2), ek)} * ${powSql(ang, 5)} + " +
      s"1.0e-6 * ${polyvalSql(da(3), ek)} * ${powSql(ang, 7)}"

  /** [[zInnerDiff]] as a Column. */
  def zInnerDiffCol(ek: Column, ang: Column, da: Array[Array[Double]]): Column =
    polyvalCol(da(0), ek) +
      lit(3e-2) * polyvalCol(da(1), ek) * pow(ang, 2) +
      lit(5e-4) * polyvalCol(da(2), ek) * pow(ang, 4) +
      lit(7e-6) * polyvalCol(da(3), ek) * pow(ang, 6)

  private def zInnerDiffSql(ek: String, ang: String, da: Array[Array[Double]]): String =
    s"${polyvalSql(da(0), ek)} + " +
      s"3.0e-2 * ${polyvalSql(da(1), ek)} * ${powSql(ang, 2)} + " +
      s"5.0e-4 * ${polyvalSql(da(2), ek)} * ${powSql(ang, 4)} + " +
      s"7.0e-6 * ${polyvalSql(da(3), ek)} * ${powSql(ang, 6)}"

  /** [[mcpPositionMm]] as a Column: the edge terms bake `ang = aInner`
    * (a literal) into the polynomial, so the Taylor branch costs two
    * constant polynomials in ek plus one multiply per row. */
  def mcpPositionCol(ek: Column, ang: Column, aInner: Double,
                     da: Array[Array[Double]]): Column = {
    val edge = zInnerCol(ek, lit(aInner), da)
    val diff = zInnerDiffCol(ek, lit(aInner), da)
    when(cabs(ang) <= lit(aInner), zInnerCol(ek, ang, da))
      .otherwise(signum(ang) * (edge + (cabs(ang) - lit(aInner)) * diff))
  }

  /** The DuckDB-dialect twin of [[mcpPositionCol]] — identical tree. */
  def mcpPositionSql(ek: String, ang: String, aInner: Double,
                     da: Array[Array[Double]]): String = {
    val aIn = dlit(aInner)
    val edge = zInnerSql(ek, aIn, da)
    val diff = zInnerDiffSql(ek, aIn, da)
    s"""CASE WHEN abs($ang) <= $aIn THEN ${zInnerSql(ek, ang, da)}
       | ELSE CAST(sign($ang) AS DOUBLE) * (($edge) + (abs($ang) - $aIn) * ($diff)) END""".stripMargin
  }

  /** A SPECS-style WideAngleMode calibration fixture (three retardation
    * ratios) for the `lens_mcp_position` query and its tests — synthetic
    * values in the magnitude range the real calibration files use. */
  val FIXTURE: String =
    """# synthetic SPECS calibration
      |[WideAngleMode defaults for Ep]
      |detector
      |aRange = -15.0 15.0
      |eShift = -0.1 0.0 0.1
      |[WideAngleMode@1.5]
      |aInner = 10.0
      |Da1 = 0.42 1.80 0.95
      |Da3 = 0.08 0.35 0.21
      |Da5 = 0.012 0.038 0.019
      |Da7 = 0.0011 0.0042 0.0023
      |[WideAngleMode@3.0]
      |aInner = 12.0
      |Da1 = 1.35 3.90 2.85
      |Da3 = 0.27 0.77 0.58
      |Da5 = 0.031 0.083 0.057
      |Da7 = 0.0032 0.0081 0.0064
      |[WideAngleMode@9.0]
      |aInner = 13.5
      |Da1 = 2.10 5.20 4.05
      |Da3 = 0.44 1.05 0.83
      |Da5 = 0.052 0.114 0.088
      |Da7 = 0.0055 0.0122 0.0097
      |""".stripMargin
}
