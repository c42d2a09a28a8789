package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.binning.{BinAxis, Binning}
import graft.transforms.Calib

/** mpes-core operator surface over the `events` stream table (the stand-in
  * for the single-electron event table, FIXTURES.md §B): N-D histogram
  * binning, calibration column transforms, markers, count-rate /
  * elapsed-time, EDC extraction, block normalization, step interpolation.
  *
  * Every query here is the Spark expression of a SURVEY.md §2 row; the
  * oracle SQL is generated from the same `BinAxis`/`Calib` parameters so
  * both engines evaluate identical IEEE arithmetic.
  */
object EventQueries {
  type Q = (SparkSession, String) => DataFrame

  // Shared binning axes (Tutorial_02-shaped: a 3D grid over the event table)
  private val axValue = BinAxis("value", 100, 0.0, 500.0)
  private val axUser = BinAxis("user", 40, 0.0, 200.0)
  private val axHour = BinAxis("hour", 24, 0.0, 24.0)
  private val axValueFine = BinAxis("value", 200, 0.0, 500.0)
  private val axMinute = BinAxis("minute", 12, 0.0, 60.0)

  /** The reference's headline 4-axis grid shape (kx, ky, E, delay —
    * dedicated 4D kernels at `fprocessing.py:3594-3609`), stood in by
    * user × hour × value × minute. Exposed for the 4D grid-export specs. */
  val axes4d: Seq[BinAxis] = Seq(axUser, axHour, axValue, axMinute)

  /** Column expressions feeding [[axes4d]], in order. */
  def cols4d(df: DataFrame): Seq[org.apache.spark.sql.Column] = Seq(
    df("user_id").cast("double"),
    hour(df("ts")).cast("double"),
    df("value"),
    minute(df("ts")).cast("double"))

  val queries: Map[String, Q] = Map(
    // ---- the defining operator: N-D histogram (fprocessing.py:2448-2486) ----
    "hist_1d" -> { (s, dir) =>
      Binning.histogramNd(Tables.events(s, dir), Seq(col("value") -> axValue))
    },

    "hist_2d" -> { (s, dir) =>
      Binning.histogramNd(Tables.events(s, dir),
        Seq(col("user_id").cast("double") -> axUser, col("value") -> axValue))
    },

    "hist_3d" -> { (s, dir) =>
      Binning.histogramNd(Tables.events(s, dir), Seq(
        col("user_id").cast("double") -> axUser,
        hour(col("ts")).cast("double") -> axHour,
        col("value") -> axValue))
    },

    // 4D binning — the reference's actual headline case (kx, ky, E,
    // delay scans; dedicated 4D kernels fprocessing.py:3594-3609). Same
    // flat-key relational aggregation; the key spans 4 axes (1.152M
    // cells), still far under the 2^53 flat-key bound.
    "hist_4d" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      Binning.histogramNd(ev, cols4d(ev).zip(axes4d))
    },

    // jittered variant — nondeterministic by design ⇒ rows-only check
    "hist_1d_jitter" -> { (s, dir) =>
      val jv = Calib.jitterUniform(col("value"), amp = 0.5, step = axValue.step, seed = 42L)
      Binning.histogramNd(Tables.events(s, dir).withColumn("value", jv),
        Seq(col("value") -> axValue))
    },

    // hash-jittered variant: same uniform-in-[-amp·step, amp·step) noise
    // semantics (the reference's anti-moiré jitter, fprocessing.py:
    // 3538-3609), but the per-event offset derives from a portable hash
    // of event_id instead of an RNG stream — deterministic AND
    // cross-engine reproducible, so THE defining jittered-binning
    // operator gets a full hash-match oracle instead of rows-only
    "hist_1d_jitter_hash" -> { (s, dir) =>
      val u = (conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % lit(1048576L)).cast("double") / lit(1048576.0)
      val jv = col("value") + lit(0.5 * axValue.step) * (lit(2.0) * u - lit(1.0))
      Binning.histogramNd(Tables.events(s, dir).withColumn("value", jv),
        Seq(col("value") -> axValue))
    },

    // weighted/binned-statistic histogram: per-cell count, exact weight
    // sum, and mean — the binned-statistic generalization of the counts
    // histogram (same partial+final aggregation shape)
    "hist_2d_weighted" -> { (s, dir) =>
      val axU = axUser; val axV = axValue
      Tables.events(s, dir)
        .filter(axU.pred(col("user_id").cast("double")) && axV.pred(col("value")))
        .groupBy(
          axU.bin(col("user_id").cast("double")).as("bin_user"),
          axV.bin(col("value")).as("bin_value"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("value") * lit(100)).cast("long")).as("w_cents"),
          // mean from exact integers → identical doubles both engines
          (sum(round(col("value") * lit(100)).cast("long")).cast("double") /
            (count(lit(1)) * lit(100.0))).as("mean_value"))
    },

    // rebin by factor 2 (utils.arraybin, utils.py:295-333): counts conserved
    "hist_rebin" -> { (s, dir) =>
      val h = Binning.histogramNd(Tables.events(s, dir), Seq(col("value") -> axValueFine))
      Binning.rebin(h, Seq("bin_value"), Seq(2))
    },

    // per-axis QC histograms (viewEventHistogram, fprocessing.py:2763-2805)
    "hist_per_axis" -> { (s, dir) =>
      Binning.eventHistograms(Tables.events(s, dir), Seq(
        col("value") -> axValue,
        col("user_id").cast("double") -> axUser))
    },

    // ---- range filter (applyFilter, fprocessing.py:2185-2203; strict bounds) ----
    "range_filter" -> { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("value") > 100.0 && col("value") < 200.0)
        .select(col("event_id"), col("value"))
    },

    // ---- calibration transforms as computed columns ----
    "cal_tof2ev" -> { (s, dir) =>
      // d/(t-t0)^2 model with binwidth=1, binning=0 so magnitudes stay sane
      val e = Calib.tof2ev(col("value"), d = 900.0, t0 = -50.0, e0 = 10.0,
        binwidth = 1.0, binning = 0)
      Tables.events(s, dir).select(col("event_id"), e.as("energy"))
    },

    "cal_tof2evpoly" -> { (s, dir) =>
      val e = Calib.tof2evpoly(col("value"), Seq(1.0e-6, -2.0e-4, 3.0e-2), e0 = 1.5)
      Tables.events(s, dir).select(col("event_id"), e.as("energy"))
    },

    "cal_krc" -> { (s, dir) =>
      val kx = Calib.detrc2krc(col("value"), rstart = 0.0, r0 = 250.0, fr = 0.01, rstep = 1.0)
      val ky = Calib.detrc2krc(col("user_id").cast("double"), rstart = 0.0, r0 = 100.0, fr = 0.02, rstep = 1.0)
      Tables.events(s, dir).select(col("event_id"), kx.as("kx"), ky.as("ky"))
    },

    "ecorr_spherical" -> { (s, dir) =>
      val c = Calib.eCorrectionSpherical(
        col("value"), col("user_id").cast("double"),
        xc = 250.0, yc = 100.0, d = 100.0, t0 = 0.06, amplitude = -1.0)
      Tables.events(s, dir).select(col("event_id"), (col("value") + c).as("t_corr"))
    },

    "ecorr_lorentzian" -> { (s, dir) =>
      val c = Calib.eCorrectionLorentzian(
        col("value"), col("user_id").cast("double"),
        xc = 250.0, yc = 100.0, gam = 300.0, amplitude = -1.0)
      Tables.events(s, dir).select(col("event_id"), (col("value") + c).as("t_corr"))
    },

    "ecorr_gaussian" -> { (s, dir) =>
      val c = Calib.eCorrectionGaussian(
        col("value"), col("user_id").cast("double"),
        xc = 250.0, yc = 100.0, sig = 300.0, amplitude = -1.0)
      // exp() is not correctly-rounded across libms → quantize at 1e-6 (step >> libm drift) both sides
      Tables.events(s, dir).select(col("event_id"), round(col("value") + c, 6).as("t_corr"))
    },

    "cal_perspective" -> { (s, dir) =>
      val m = Array(
        Array(0.98, 0.02, 1.5),
        Array(-0.01, 1.01, -2.0),
        Array(1.0e-5, -2.0e-5, 1.0))
      val (xp, yp) = Calib.perspectiveTransform(col("value"), col("user_id").cast("double"), m)
      Tables.events(s, dir).select(col("event_id"), xp.as("xm"), yp.as("ym"))
    },

    // Igor-era lens-table calibration (legacy.py:49-233): parse the
    // SPECS WideAngleMode tables, interpolate the Da coefficient rows at
    // a working retardation ratio on the DRIVER, then evaluate the MCP
    // isoline position per row with the interpolated coefficients baked
    // into the Column tree — config machinery stays driver-side, the
    // per-event math is pure codegen'd arithmetic (no join, no shuffle).
    "lens_mcp_position" -> { (s, dir) =>
      import graft.analysis.LensTable
      val calib = LensTable.parseWideAngleMode(LensTable.FIXTURE)
      val (aInner, da) = LensTable.atRetardationRatio(calib, 2.25)
      val ek = col("value") / lit(25.0)
      val ang = (col("user_id") % lit(61)).cast("double") - lit(30.0)
      Tables.events(s, dir).select(col("event_id"),
        LensTable.mcpPositionCol(ek, ang, aInner, da).as("mcp_mm"))
    },

    // appendMarker (fprocessing.py:2435-2445) + count per marker level
    "marker_multithresh" -> { (s, dir) =>
      val levels = Seq((0.0, 50.0, 1.0), (50.0, 150.0, 2.0), (150.0, 400.0, 3.0))
      Tables.events(s, dir)
        .withColumn("marker", Calib.multithresh(col("value"), levels))
        .groupBy("marker").agg(count(lit(1)).as("cnt"))
    },

    // ---- temporal aggregates ----
    // count rate: events per 1-minute window (fprocessing.py:2808-2832)
    "count_rate" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 minute").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_timestamp(col("w.start")).as("minute_epoch"), col("cnt"))
    },

    // elapsed time: max(ts) - min(ts) in seconds (fprocessing.py:2835-2851)
    "elapsed_time" -> { (s, dir) =>
      Tables.events(s, dir)
        .agg((unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))).as("elapsed_sec"),
          count(lit(1)).as("n_events"))
    },

    // EDC extraction: per-trace 1D histograms (extractEDC, fprocessing.py:3418-3435)
    "edc_extract" -> { (s, dir) =>
      val ax = BinAxis("value", 50, 0.0, 500.0)
      Tables.events(s, dir)
        .filter(ax.pred(col("value")))
        .groupBy(col("event_type"), ax.bin(col("value")).as("bin_value"))
        .agg(count(lit(1)).as("cnt"))
    },

    // grouped agg parity (ridge extraction shape, analysis.py:1338-1354)
    "grouped_mean_min" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(
          sum(round(col("value") * lit(100)).cast("long")).as("sum_val_cents"),
          min(col("value")).as("min_val"),
          max(col("value")).as("max_val"),
          count(lit(1)).as("cnt"))
    },

    // blocknorm moving-block max (analysis.py:1184-1208): a globally-
    // ordered look-ahead frame, evaluated as partitioned windows over
    // event_id-range chunks with head-row spill (Stitch.blockMax) — no
    // single-task global WindowExec
    "block_max_norm" -> { (s, dir) =>
      Stitch.blockMax(Tables.events(s, dir), expr("event_id div 1000"),
        col("event_id"), col("value"), follow = 9, out = "block_max")
        .select(col("event_id"), col("value"), col("block_max"))
    },

    // nearest-neighbor planar filter (beamtime.py:50-109) over the 2D
    // histogram grid, distributed: explode-to-window + sum instead of a
    // dense driver volume (NnFilter.sparse); edges keep original values
    "grid_nn_filter" -> { (s, dir) =>
      val h = Binning.histogramNd(Tables.events(s, dir),
        Seq(col("user_id").cast("double") -> axUser, col("value") -> axValue))
      graft.analysis.NnFilter.sparse(h, "bin_user", "bin_value", "cnt",
        ni = axUser.nbins, nj = axValue.nbins, lsh = 1, rsh = 2, ush = 1, dsh = 2)
    },

    // msMarkers-style step interpolation (fprocessing.py:664-697): carry
    // forward the last observed purchase value over the event sequence —
    // two-pass chunk carry + driver prefix-stitch (Stitch.carryForward),
    // the same offset trick the reference plays with msMarkers
    "step_interpolate" -> { (s, dir) =>
      Stitch.carryForward(Tables.events(s, dir),
        expr("unix_timestamp(ts) div 3600"),
        Seq(col("ts"), col("event_id")),
        when(col("event_type") === "purchase", col("value")),
        out = "last_purchase")
        .select(col("event_id"), col("last_purchase"))
    }
  )

  val oracles: Map[String, String] = {
    val histSql1 = Binning.histogramNdSql("events", Seq("value" -> axValue))
    val histSql2 = Binning.histogramNdSql("events",
      Seq("CAST(user_id AS DOUBLE)" -> axUser, "value" -> axValue))
    val histSql3 = Binning.histogramNdSql("events", Seq(
      "CAST(user_id AS DOUBLE)" -> axUser,
      "CAST(hour(ts) AS DOUBLE)" -> axHour,
      "value" -> axValue))
    val histFine = Binning.histogramNdSql("events", Seq("value" -> axValueFine))
    val axValueOracleHi = axValue.nbins - 2 // nj - rsh for grid_nn_filter

    Map(
      "hist_1d" -> histSql1,

      "hist_1d_jitter_hash" -> {
        val u = "(CAST(CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1048576 AS DOUBLE) / 1048576.0)"
        val jv = s"(value + ${0.5 * axValue.step} * (2.0 * $u - 1.0))"
        Binning.histogramNdSql("events", Seq(jv -> axValue))
      },
      "hist_2d" -> histSql2,
      "hist_3d" -> histSql3,
      "hist_4d" -> Binning.histogramNdSql("events", Seq(
        "CAST(user_id AS DOUBLE)" -> axUser,
        "CAST(hour(ts) AS DOUBLE)" -> axHour,
        "value" -> axValue,
        "CAST(minute(ts) AS DOUBLE)" -> axMinute)),

      "hist_2d_weighted" -> {
        val u = axUser; val v = axValue
        s"""SELECT ${u.sqlBin("CAST(user_id AS DOUBLE)")} AS bin_user,
           |  ${v.sqlBin("value")} AS bin_value,
           |  count(*) AS cnt,
           |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS w_cents,
           |  CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
           |    / (count(*) * 100.0) AS mean_value
           |FROM events
           |WHERE ${u.sqlPred("CAST(user_id AS DOUBLE)")} AND ${v.sqlPred("value")}
           |GROUP BY bin_user, bin_value""".stripMargin
      },

      "hist_rebin" ->
        s"""SELECT CAST(floor(bin_value / 2) AS BIGINT) AS bin_value,
           |  CAST(sum(cnt) AS BIGINT) AS cnt
           |FROM ($histFine) GROUP BY 1""".stripMargin,

      "hist_per_axis" -> {
        val a = Binning.histogramNdSql("events", Seq("value" -> axValue))
          .replace("SELECT ", "SELECT 'value' AS axis, ")
          .replace("AS bin_value", "AS bin")
          .replace("GROUP BY bin_value", "GROUP BY bin")
        val b = Binning.histogramNdSql("events", Seq("CAST(user_id AS DOUBLE)" -> axUser))
          .replace("SELECT ", "SELECT 'user' AS axis, ")
          .replace("AS bin_user", "AS bin")
          .replace("GROUP BY bin_user", "GROUP BY bin")
        s"$a UNION ALL $b"
      },

      "range_filter" ->
        "SELECT event_id, value FROM events WHERE value > 100.0 AND value < 200.0",

      "cal_tof2ev" -> {
        val e = Calib.tof2evSql("value", d = 900.0, t0 = -50.0, e0 = 10.0,
          binwidth = 1.0, binning = 0)
        s"SELECT event_id, $e AS energy FROM events"
      },

      "cal_tof2evpoly" -> {
        val e = Calib.tof2evpolySql("value", Seq(1.0e-6, -2.0e-4, 3.0e-2), e0 = 1.5)
        s"SELECT event_id, $e AS energy FROM events"
      },

      "cal_krc" -> {
        val kx = Calib.detrc2krcSql("value", 0.0, 250.0, 0.01, 1.0)
        val ky = Calib.detrc2krcSql("CAST(user_id AS DOUBLE)", 0.0, 100.0, 0.02, 1.0)
        s"SELECT event_id, $kx AS kx, $ky AS ky FROM events"
      },

      "ecorr_spherical" -> {
        val c = Calib.eCorrectionSphericalSql("value", "CAST(user_id AS DOUBLE)",
          250.0, 100.0, 100.0, 0.06, -1.0)
        s"SELECT event_id, (value + $c) AS t_corr FROM events"
      },

      "ecorr_lorentzian" -> {
        val c = Calib.eCorrectionLorentzianSql("value", "CAST(user_id AS DOUBLE)",
          250.0, 100.0, 300.0, -1.0)
        s"SELECT event_id, (value + $c) AS t_corr FROM events"
      },

      "ecorr_gaussian" -> {
        val c = Calib.eCorrectionGaussianSql("value", "CAST(user_id AS DOUBLE)",
          250.0, 100.0, 300.0, -1.0)
        s"SELECT event_id, round(value + $c, 6) AS t_corr FROM events"
      },

      "cal_perspective" -> {
        val m = Array(
          Array(0.98, 0.02, 1.5),
          Array(-0.01, 1.01, -2.0),
          Array(1.0e-5, -2.0e-5, 1.0))
        val (xp, yp) = Calib.perspectiveTransformSql("value", "CAST(user_id AS DOUBLE)", m)
        s"SELECT event_id, $xp AS xm, $yp AS ym FROM events"
      },

      "lens_mcp_position" -> {
        import graft.analysis.LensTable
        val calib = LensTable.parseWideAngleMode(LensTable.FIXTURE)
        val (aInner, da) = LensTable.atRetardationRatio(calib, 2.25)
        val mcp = LensTable.mcpPositionSql("value / 25.0",
          "CAST(user_id % 61 AS DOUBLE) - 30.0", aInner, da)
        s"SELECT event_id, ($mcp) AS mcp_mm FROM events"
      },

      "marker_multithresh" -> {
        val m = Calib.multithreshSql("value",
          Seq((0.0, 50.0, 1.0), (50.0, 150.0, 2.0), (150.0, 400.0, 3.0)))
        s"SELECT $m AS marker, count(*) AS cnt FROM events GROUP BY 1"
      },

      "count_rate" ->
        """SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS minute_epoch,
          |  count(*) AS cnt
          |FROM events GROUP BY 1""".stripMargin,

      "elapsed_time" ->
        """SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS elapsed_sec,
          |  count(*) AS n_events FROM events""".stripMargin,

      "edc_extract" -> {
        val ax = BinAxis("value", 50, 0.0, 500.0)
        s"""SELECT event_type, ${ax.sqlBin("value")} AS bin_value, count(*) AS cnt
           |FROM events WHERE ${ax.sqlPred("value")}
           |GROUP BY event_type, bin_value""".stripMargin
      },

      "grouped_mean_min" ->
        """SELECT event_type, user_id,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_val_cents,
          |  min(value) AS min_val, max(value) AS max_val, count(*) AS cnt
          |FROM events GROUP BY event_type, user_id""".stripMargin,

      "grid_nn_filter" ->
        s"""WITH h AS ($histSql2),
           |contrib AS (
           |  SELECT bin_user + du AS ti, bin_value + dv AS tj, cnt
           |  FROM h
           |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS du)
           |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dv)),
           |interior AS (
           |  SELECT ti AS bin_user, tj AS bin_value,
           |    CAST(sum(cnt) AS DOUBLE) / 9 AS f
           |  FROM contrib
           |  WHERE ti >= 1 AND ti < ${axUser.nbins - 2}
           |    AND tj >= 1 AND tj < ${axValueOracleHi}
           |  GROUP BY ti, tj),
           |edges AS (
           |  SELECT bin_user, bin_value, CAST(cnt AS DOUBLE) AS f FROM h
           |  WHERE bin_user < 1 OR bin_user >= ${axUser.nbins - 2}
           |     OR bin_value < 1 OR bin_value >= ${axValueOracleHi})
           |SELECT bin_user, bin_value, f FROM interior
           |UNION ALL SELECT bin_user, bin_value, f FROM edges""".stripMargin,

      "block_max_norm" ->
        """SELECT event_id, value,
          |  max(value) OVER (ORDER BY event_id
          |    ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS block_max
          |FROM events""".stripMargin,

      "step_interpolate" ->
        """SELECT event_id,
          |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
          |    OVER (ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
          |FROM events""".stripMargin
    )
  }
}
