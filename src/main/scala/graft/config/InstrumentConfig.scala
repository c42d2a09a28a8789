package graft.config

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.io.Sources

/** The reference's static instrument-configuration tables, materialized
  * as small parquet dimension tables (SURVEY §2 "aperture/lens-mode
  * config"): `aperture_dict` (`fprocessing.py:50-79`) — per validity
  * timestamp, the motor-position windows identifying each field/contrast
  * aperture size — and `lens_mode_dict` (`fprocessing.py:81-193`) — the
  * electrode voltage set of each named lens mode. Values are the
  * reference's own published instrument constants, carried for semantic
  * parity.
  *
  * These are classic slowly-changing dimensions: tiny (tens of rows),
  * keyed by validity timestamp / mode name, joined against billions of
  * event rows. The right 100 TB shape is therefore broadcast (or a
  * driver-literal lookup), never a shuffle — see
  * [[graft.ops.TemporalQueries]] `config_asof`.
  */
object InstrumentConfig {

  /** (valid_from ISO ts, kind fa|ca, size label, x_lo, x_hi, y_lo, y_hi);
    * contrast-aperture (ca) entries have a single window → y bounds null.
    * Faithful to `fprocessing.py:50-79` (windows kept in dict order). */
  val apertureRows: Seq[(String, String, String, Double, Double, Option[Double], Option[Double])] = Seq(
    ("2018-01-23T19:35:15", "fa", "750", -3.0, -1.4, Some(-5.4), Some(-4.6)),
    ("2018-01-23T19:35:15", "fa", "grid", -3.0, -1.4, Some(0.15), Some(1.75)),
    ("2018-01-23T19:35:15", "fa", "1500", -3.0, -1.4, Some(6.25), Some(7.75)),
    ("2018-01-23T19:35:15", "fa", "200", 3.3, 4.4, Some(-5.4), Some(-4.6)),
    ("2018-01-23T19:35:15", "fa", "500", 3.3, 4.4, Some(0.15), Some(1.75)),
    ("2018-01-23T19:35:15", "fa", "1000", 3.3, 4.4, Some(6.25), Some(7.75)),
    ("2018-01-23T19:35:15", "fa", "20", 9.6, 10.1, Some(-5.4), Some(-4.6)),
    ("2018-01-23T19:35:15", "fa", "50", 9.6, 10.1, Some(0.15), Some(1.75)),
    ("2018-01-23T19:35:15", "fa", "100", 9.6, 10.1, Some(6.25), Some(7.75)),
    ("2018-01-23T19:35:15", "fa", "open", -10.4, -9.4, Some(-9.5), Some(-8.9)),
    ("2018-01-23T19:35:15", "ca", "50", 8.0, 8.4, None, None),
    ("2018-01-23T19:35:15", "ca", "200", -0.5, -0.9, None, None),
    ("2018-01-23T19:35:15", "ca", "100", 3.4, 3.8, None, None),
    ("2018-01-23T19:35:15", "ca", "grid", -5.3, -5.9, None, None),
    ("2018-01-23T19:35:15", "ca", "open", -12.0, -10.8, None, None),
    ("2020-01-23T19:35:15", "fa", "750", -6.2, -4.8, Some(5.0), Some(6.0)),
    ("2020-01-23T19:35:15", "fa", "grid", -6.2, -4.8, Some(-0.7), Some(-0.3)),
    ("2020-01-23T19:35:15", "fa", "500", -6.2, -4.8, Some(-7.0), Some(-6.0)),
    ("2020-01-23T19:35:15", "fa", "200", 0.5, 0.9, Some(-0.7), Some(-0.3)),
    ("2020-01-23T19:35:15", "fa", "100", 0.5, 0.9, Some(-7.0), Some(-6.0)),
    ("2020-01-23T19:35:15", "fa", "300", 0.5, 0.9, Some(5.0), Some(6.0)),
    ("2020-01-23T19:35:15", "fa", "10", 6.5, 6.9, Some(-7.0), Some(-6.0)),
    ("2020-01-23T19:35:15", "fa", "20", 6.5, 6.9, Some(-0.7), Some(-0.3)),
    ("2020-01-23T19:35:15", "fa", "50", 6.5, 6.9, Some(5.0), Some(6.0)),
    ("2020-01-23T19:35:15", "fa", "open", -10.4, -9.4, Some(-9.5), Some(-8.9)),
    ("2020-01-23T19:35:15", "ca", "50", 9.0, 11.0, None, None),
    ("2020-01-23T19:35:15", "ca", "300", -0.1, 0.1, None, None),
    ("2020-01-23T19:35:15", "ca", "200", 0.7, 1.5, None, None),
    ("2020-01-23T19:35:15", "ca", "100", 5.1, 5.9, None, None),
    ("2020-01-23T19:35:15", "ca", "grid", -5.5, -5.2, None, None),
    ("2020-01-23T19:35:15", "ca", "open", -11.2, -10.8, None, None))

  /** (mode, Extr, UCA, UFA, Z1, Z2, A…I, TOF, MCPfront) — all 14 modes
    * of `lens_mode_dict` (`fprocessing.py:81-193`). */
  val lensModeRows: Seq[(String, Seq[Double])] = Seq(
    "6kV_kmodem4.0_20VTOF_v3.sav" -> Seq(6000.0, 1200, 600.0, 2452.9, 1489.9,
      420.07, 2494.8, 489.2, 228.05, 113.82, 54.232, 20.0, 25.5, 36.0, 20.0, 20.0),
    "6kV_kmodem4.0_30VTOF_453ns_focus.sav" -> Seq(6000.0, 1200, 600.0, 2452.9, 1489.9,
      403.07, 2500, 422.25, 208.88, 199.49, 68.735, 30.0, 30.0, 44.5, 30.0, 30.0),
    "6kV_kmodem4.0_30VTOF_453ns_focus_Gated_22.5V_FMCP.sav" -> Seq(6000.0, 1200, 600.0, 2450, 1489.9,
      403.07, 2500, 422.25, 208.88, 199.49, 69.235, 30.0, 30.0, 44.5, 30.0, 22.5),
    "6kV_kmodem4.2_30VTOF_453ns_focus_Gated_21.0V_FMCP.sav" -> Seq(6000.0, 1200, 600.0, 2450, 1489.9,
      403.07, 2500, 422.25, 208.88, 199.49, 69.235, 30.0, 30.0, 44.5, 30.0, 21.0),
    "6kV_kmodem1_20VTOF.sav" -> Seq(6000.0, 1200, 600.0, 2452.9, 1489.9,
      943.97, 1621.97, 462.98, 366.31, 418.83, 112.99, 20.0, 23.75, 22.25, 20.0, 20.0),
    "6kV_kmodem1.4_20VTOF.sav" -> Seq(6000.0, 1200, 600.0, 2452.9, 1489.9,
      709.05, 1769.3, 431.03, 217.72, 346.9, 92.547, 20.0, 22.0, 24.75, 20.0, 20.0),
    "6kV_kmodem2.0_20VTOF.sav" -> Seq(6000.0, 1200, 600.0, 2452.9, 1489.9,
      772.38, 2265.4, 496.39, 228.83, 246.37, 50.317, 20.0, 20.75, 22.75, 20.0, 20.0),
    "6kV_kmodem2.8_20VTOF_v2.sav" -> Seq(6000.0, 1200, 600.0, 2452.9, 1489.9,
      796.85, 2471.0, 403.69, 196.85, 191.16, 59.557, 20.0, 28.75, 20.75, 20.0, 20.0),
    "6kV_kmodem2.0_30VTOF_MoTe2_2340VMCP.sav" -> Seq(6000.0, 1200, 600.0, 2452.9, 1489.9,
      784.58, 3253.0, 752.07, 682.18, 200.93, 68.557, 30.0, 30.0, 44.5, 30.0, 30.0),
    "6kV_kmodem4.0_30VTOF_WTe2_2340VMCP.sav" -> Seq(6000.0, 1200, 600.0, 2450, 1489.9,
      403.07, 2500, 422.25, 208.88, 199.49, 68.735, 30.0, 30.0, 44.5, 30.0, 30.0),
    "6kV_momentum_Gerd's_setting.sav" -> Seq(6000.0, 1200, 600.0, 2452.9, 1489.9,
      800.0, 600.0, 300.0, 130.0, 60.0, 30.0, 12.5, 35.0, 77.25, 25.0, 30.0),
    "7kV_momentum_Gerd's_setting.sav" -> Seq(7000.0, 1200, 600.0, 2452.9, 1489.9,
      800.0, 600.0, 300.0, 130.0, 60.0, 30.0, 12.5, 35.0, 77.25, 25.0, 30.0),
    "6kV_spatialx4_110mumFOV_20VTOF.sav" -> Seq(6000.0, 1200, 600.0, 2452.9, 1489.9,
      518.64, 2198.97, 76.771, 256.4, 554.45, 47.91, 20.0, 35.0, 42.25, 20.0, 20.0),
    "6kV_spatialx4_110mumFOV_30VTOF.sav" -> Seq(6000.0, 1200, 600.0, 2452.9, 1489.9,
      302.44, 2241.7, 84.478, 346.38, 699.28, 83.378, 30.0, 35.0, 48.75, 30.0, 30.0))

  private val lensParamNames = Seq("Extr", "UCA", "UFA", "Z1", "Z2",
    "A", "B", "C", "D", "E", "F", "G", "H", "I", "TOF", "MCPfront")

  def apertureDf(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("valid_from", TimestampType),
      StructField("kind", StringType),
      StructField("size_label", StringType),
      StructField("x_lo", DoubleType), StructField("x_hi", DoubleType),
      StructField("y_lo", DoubleType), StructField("y_hi", DoubleType)))
    val rows = apertureRows.map { case (ts, kind, lbl, xl, xh, yl, yh) =>
      Row(java.sql.Timestamp.valueOf(ts.replace('T', ' ')), kind, lbl, xl, xh,
        yl.map(java.lang.Double.valueOf).orNull, yh.map(java.lang.Double.valueOf).orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  def lensModeDf(spark: SparkSession): DataFrame = {
    val schema = StructType(StructField("mode", StringType) +:
      lensParamNames.map(n => StructField(n, DoubleType)))
    val rows = lensModeRows.map { case (mode, vs) => Row.fromSeq(mode +: vs) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Materialize both dims as parquet under `path`. */
  def writeDims(spark: SparkSession, path: String): Unit = {
    apertureDf(spark).coalesce(1).write.mode("overwrite").parquet(s"$path/aperture_config")
    lensModeDf(spark).coalesce(1).write.mode("overwrite").parquet(s"$path/lens_mode_config")
  }

  def loadAperture(spark: SparkSession, path: String): DataFrame =
    Sources.parquet(spark, s"$path/aperture_config")
  def loadLensMode(spark: SparkSession, path: String): DataFrame =
    Sources.parquet(spark, s"$path/lens_mode_config")

  /** Demo calibration schedule for the `config_asof` query: weekly
    * aperture re-selections inside the test events' Jan-2024 range,
    * using (fa_size, ca_size) pairs that exist in [[apertureRows]]. The
    * MECHANISM under test is the reference's "config valid as of the
    * event's timestamp" selection (`aperture_dict`'s datetime keys);
    * the 2018/2020 keys themselves predate every test event, which
    * would make the as-of vacuous. (epoch seconds, fa_size, ca_size) */
  val calibrationSchedule: Seq[(Long, Double, Double)] = Seq(
    (java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond, 750.0, 50.0),
    (java.time.Instant.parse("2024-01-08T00:00:00Z").getEpochSecond, 500.0, 200.0),
    (java.time.Instant.parse("2024-01-15T00:00:00Z").getEpochSecond, 200.0, 100.0),
    (java.time.Instant.parse("2024-01-22T00:00:00Z").getEpochSecond, 100.0, 50.0))
}
