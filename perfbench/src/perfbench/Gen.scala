package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.binning.BinAxis
import graft.warp.Warp

/** The synthetic instrument every workload shares: a round detector
  * footprint, two parabolic bands, six "K-point" spots on a hexagon and a
  * hot pixel, with the reference's calibration chain (homography, k-axis,
  * ToF→E) mapping detector events into (kx, ky, E).
  *
  * The ranges are chosen so the chain can never push an event across an
  * axis edge: every event that survives the X/Y filters lands well inside
  * the kx, ky and E ranges, with a margin of many bins (jitter moves an
  * event by at most half a bin). The expected grid total is therefore the
  * filtered event count, which needs no calibration or binning code.
  */
object Model {
  // detector (pixels) and the reference's Tutorial_02 filter window
  val Xc = 1050.0; val Yc = 1000.0; val RDisk = 700.0
  val FilterX = (300.0, 1800.0); val FilterY = (200.0, 1800.0)
  val HotX = 1100.0; val HotY = 950.0

  // ToF → E: E = 2.84281e-12 (d / (t·bw·2) − t0)² + e0, d = 1, t0 = 0
  val D = 1.0; val T0 = 0.0; val E0 = -9.0
  private val TScale = 4.125e-12 * 2
  val TLo = 68000.0; val THi = 90000.0
  def eOfT(t: Double): Double = { val u = D / (t * TScale - T0); 2.84281e-12 * u * u + E0 }
  val ELo: Double = eOfT(THi); val EHi: Double = eOfT(TLo)

  // momentum scale: k = Fr · (pixels from the detector centre)
  val Fr = 0.0018
  val KMax = 1.6

  // bands E_b(k) = top − curv·k², Gaussian width SigE; spots on a hexagon
  val Bands = Seq((-0.6, 0.35, 1.0), (-2.2, 0.25, 0.4)) // (top, curvature, weight)
  val SigE = 0.05
  val SpotK = 0.9; val SpotE = -1.7; val SpotSigK = 0.04; val SpotRot = math.toRadians(10)

  /** Detector → corrected-detector homography, estimated by DLT from four
    * landmark pairs of a composed rotation/scaling/shear with a slight
    * perspective tilt — the reference's momentum-correction step. */
  val Homography: Array[Array[Double]] = {
    val m = Warp.compose(
      Warp.rotation(math.toRadians(2.0), Xc, Yc),
      Warp.scaling(1.02, 0.98, Xc, Yc),
      Warp.translation(Xc, Yc), Warp.shearing(0.01, 0.0), Warp.translation(-Xc, -Yc))
    val src = Array((Xc - 600, Yc - 600), (Xc + 600, Yc - 600), (Xc + 600, Yc + 600),
      (Xc - 600, Yc + 600), (Xc, Yc))
    val dst = src.map { case (x, y) => Warp.applyH(m, x, y) }
      .zipWithIndex.map { case ((x, y), i) => if (i == 2) (x + 3.0, y + 2.0) else (x, y) }
    Warp.findHomography(src, dst)
  }

  /** The e1 grid: Tutorial_02's 100 × 100 × 200 over (kx, ky, E). */
  val E1Axes = Seq(BinAxis("kx", 100, -KMax, KMax), BinAxis("ky", 100, -KMax, KMax),
    BinAxis("E", 200, ELo - 0.02, EHi + 0.02))

  /** Seeded float32 event table (X, Y, t, ADC). Kinds by share: 3 % noise
    * left of the X filter window, 8 % on one hot pixel, 5 % in the six
    * spots, 14 % flat background, 70 % on the two bands. */
  def events(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame = {
    val u0 = rand(seed); val u1 = rand(seed + 1); val u2 = rand(seed + 2); val u3 = rand(seed + 3)
    val g1 = randn(seed + 4); val g2 = randn(seed + 5); val g3 = randn(seed + 6); val u4 = rand(seed + 7)
    val base = spark.range(0, n, 1, parts).select(u0.as("u0"), u1.as("u1"), u2.as("u2"),
      u3.as("u3"), g1.as("g1"), g2.as("g2"), g3.as("g3"), u4.as("u4"))
    val kind = col("u0")
    val noise = kind < 0.03
    val hot = kind < 0.11
    val spot = kind < 0.16
    val bg = kind < 0.30
    // uniform point on the detector disk
    val r = sqrt(col("u1")) * lit(RDisk)
    val th = col("u2") * lit(2 * math.Pi)
    val diskX = lit(Xc) + r * cos(th)
    val diskY = lit(Yc) + r * sin(th)
    val spotIdx = floor(col("u3") * 6)
    val spotAng = lit(SpotRot) + spotIdx * lit(math.Pi / 3)
    val spotPx = SpotK / Fr; val spotSig = SpotSigK / Fr
    val x = when(noise, lit(50.0) + col("u1") * 200.0)
      .when(hot, lit(HotX))
      .when(spot, lit(Xc) + lit(spotPx) * cos(spotAng) + col("g1") * spotSig)
      .otherwise(diskX)
    val y = when(noise, lit(FilterY._1) + col("u2") * 1600.0)
      .when(hot, lit(HotY))
      .when(spot, lit(Yc) + lit(spotPx) * sin(spotAng) + col("g2") * spotSig)
      .otherwise(diskY)
    val withXY = base.select(col("*"), x.as("X"), y.as("Y"))
    val k2 = (pow(col("X") - Xc, 2) + pow(col("Y") - Yc, 2)) * (Fr * Fr)
    val (b1, b2) = (Bands(0), Bands(1))
    val bandE = when(col("u3") < b1._3 / (b1._3 + b2._3), lit(b1._1) - k2 * b1._2)
      .otherwise(lit(b2._1) - k2 * b2._2)
    val e = when(noise || (bg && !spot), lit(ELo) + col("u4") * (EHi - ELo))
      .when(spot && !hot, lit(SpotE) + col("g3") * SigE)
      .otherwise(bandE + col("g3") * SigE)
    // invert the ToF model, then clamp into the detector's ToF window
    val t = lit(1.0) / (lit(TScale) * sqrt((e - lit(E0)) / lit(2.84281e-12)))
    withXY.select(
      col("X").cast("float").as("X"), col("Y").cast("float").as("Y"),
      least(greatest(t, lit(TLo)), lit(THi)).cast("float").as("t"),
      floor(col("u4") * 4096).cast("float").as("ADC"))
  }

  /** The exact count of events inside the X/Y filter window, by a plain
    * filter and count — no calibration or binning code. */
  def inWindowCount(raw: DataFrame): Long =
    raw.filter(col("X") > FilterX._1 && col("X") < FilterX._2 &&
      col("Y") > FilterY._1 && col("Y") < FilterY._2).count()

  /** The reference E1 chain from a raw event table up to the jittered
    * (kx, ky, E) columns. */
  def e1Pipeline(p: graft.EventPipeline, seed: Long): graft.EventPipeline =
    calibrated(p).applyJitter(Seq("kx" -> E1Axes(0).step, "ky" -> E1Axes(1).step), seed)

  def calibrated(p: graft.EventPipeline): graft.EventPipeline =
    p.applyFilter("X", FilterX._1, FilterX._2)
      .applyFilter("Y", FilterY._1, FilterY._2)
      .applyKCorrection("X", "Y", Homography)
      .appendKAxis("Xm", "Ym", 0.0, 0.0, Xc, Yc, Fr, Fr, 1.0, 1.0)
      .appendEAxis("t", D, T0, E0)

  /** A planted energy-calibration series: one EDC per bias value, each with
    * a main and a satellite peak whose drift-time positions follow a known
    * quadratic E(t). Returns (traces, biases, planted main-peak positions). */
  def calibSeries(n: Int, len: Int, seed: Long): (Array[Array[Double]], Array[Double], Array[Double]) = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val biases = Array.tabulate(n)(i => 0.4 * i)
    // E(t) = a1 t + a2 t², monotone on [0, len); peak i sits where E = E(tRef) + bias_i
    val a1 = 4.0 / len; val a2 = 1.0 / (len.toDouble * len)
    def eOf(t: Double) = a1 * t + a2 * t * t
    def tOf(en: Double) = (-a1 + math.sqrt(a1 * a1 + 4 * a2 * en)) / (2 * a2)
    val tRef = 0.2 * len
    val pos = biases.map(b => tOf(eOf(tRef) + b))
    val traces = pos.map { p =>
      Array.tabulate(len) { t =>
        val main = 100 * math.exp(-(t - p) * (t - p) / (2 * 9.0))
        val sat = 40 * math.exp(-(t - p - 0.12 * len) * (t - p - 0.12 * len) / (2 * 25.0))
        5 + main + sat + 2 * (rng.nextDouble() - 0.5)
      }
    }
    (traces, biases, pos)
  }
}
