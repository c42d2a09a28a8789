package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up one workload, run it as a closed loop with one
  * client for the given seconds, check every answer, and print one JSON
  * result line last.
  *
  * {{{
  * Main --workload e1_bin3d|explore --seed N --seconds S --trace 0|1
  *      --work DIR --traces DIR [--scale F] [--fault 0|1] [--cores N]
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` alternates plain
  * and traced passes and prints the per-layer metrics, the tracing overhead
  * and each layer's share of a traced pass. `--scale` shrinks the inputs
  * (self-test); `--fault 1` plants a wrong expected answer in every check.
  */
object Main {
  private val SetupReps = 3
  private val MinPasses = 3
  private val MinTracedPairs = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val scale = opt.getOrElse("scale", "1").toDouble
    val fault = opt.getOrElse("fault", "0") == "1"
    val cores = opt.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    require(Set("e1_bin3d", "explore")(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = s"$workload-$seed-${if (trace) "traced" else "plain"}"
    val c = new Collector(spark, runId)
    val ctx = Ctx(spark, c, new Look(c, spark), work, seed, scale, fault)
    def sized(x: Double): Long = math.max(1L, math.round(x * scale))
    val w: Workload = workload match {
      case "e1_bin3d" => new E1(ctx, sized(1e6))
      case "explore" => new Explore(ctx, sized(1.5e6), 12)
    }
    val tally = new Tally

    // set-up, SetupReps times: inputs and expected answers, then one
    // warm-up pass; setup_s is the session start plus the median rep
    val reps = (1 to SetupReps).map { _ =>
      val prepare = secs(w.prepare())
      (prepare, secs(w.pass(tally, traced = false)))
    }
    val setupS = sessionS + median(reps.map { case (p, wp) => p + wp })

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val plain = ArrayBuffer[Snap]()
    val requests = ArrayBuffer[Double]()
    val layers = ArrayBuffer[Map[String, Double]]()
    while (System.nanoTime() < deadline || plain.length < (if (trace) MinTracedPairs else MinPasses)) {
      // each pass starts from a collected heap, as graft.Bench isolates its
      // queries, so one pass's garbage is not collected inside the next
      System.gc()
      val (reqs, d) = c.measure("pass")(w.pass(tally, traced = false))
      plain += d
      requests ++= (if (reqs.isEmpty) Seq(d.wallS) else reqs)
      if (trace) {
        c.resetTotals()
        System.gc()
        c.tracing = true
        val (_, dt) = try c.measure("pass")(w.pass(tally, traced = true)) finally c.tracing = false
        layers += Layers(w, dt, c.totals.toMap)
      }
    }

    val runS = median(plain.map(_.wallS).toSeq)
    val summary = ArrayBuffer[String]()
    summary += f"workload=$workload seed=$seed passes=${plain.length} requests=${requests.length} " +
      f"attempted=${tally.attempted} failed=${tally.failed} " +
      f"error_rate=${tally.failed.toDouble / math.max(1L, tally.attempted)}%.4f " +
      f"setup: session ${sessionS}%.3f s, prepare + warm-up pass " +
      reps.map { case (p, wp) => f"$p%.3f+$wp%.3f" }.mkString(" / ") + " s; " +
      f"passes ${plain.map(p => f"${p.wallS}%.3f").mkString("/")} s, " +
      f"cpu ${plain.map(p => f"${p.cpuS}%.3f").mkString("/")} s, gc ${plain.map(_.gcMs).mkString("/")} ms"
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        summary += f"request_tail_s is the p90 of ${requests.length} requests; " +
          f"peak RSS ${Proc.peakRssMb}%.0f MiB"
        Seq(
          ("events_per_s", w.eventsPerPass / runS, "events/s"),
          ("run_s", runS, "s"),
          ("cpu_s", median(plain.map(_.cpuS).toSeq), "s"),
          ("request_p50_s", median(requests.toSeq), "s"),
          ("request_tail_s", p90(requests.toSeq), "s"),
          ("setup_s", setupS, "s"))
      } else {
        val med = Layers.names.map { case (n, u) => (n, median(layers.map(_(n)).toSeq), u) }
        val overhead = median(layers.map(_("trace.pass_s")).toSeq) - runS
        val shares = Layers.shares(layers.toSeq)
        val (top, topShare) = shares.filter(_._1 != "other").maxBy(_._2)
        summary += "layer self-time shares of a traced pass: " +
          shares.map { case (n, s) => f"$n ${100 * s}%.1f%%" }.mkString(", ")
        summary += f"dominant layer: $top (${100 * topShare}%.1f%% of self time); " +
          f"tracing overhead ${overhead}%.4f s on a ${runS}%.4f s plain pass; ${c.spanCount} spans"
        med ++ Seq(("trace.overhead_s", overhead, "s"), ("trace.dominant_share", topShare, "ratio"))
      }
    if (trace) c.writeSpans(java.nio.file.Paths.get(opt("traces"), s"$runId.jsonl"))
    spark.stop()

    summary.foreach(s => println(s"[perfbench] $s"))
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${tally.failed == 0},"attempted":${tally.attempted},""" +
      s""""failed":${tally.failed},"metrics":{${body.mkString(",")}}}""")
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the session settings graft.Bench runs the engine with
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def secs(body: => Any): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The 90th percentile, interpolated between the closest ranks. */
  def p90(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val pos = 0.9 * (s.length - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.length) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }
}

/** Per-layer numbers of one traced pass, from the per-call totals. */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "io.scan_s" -> "s", "io.scan_cpu_s" -> "s", "io.input_bytes" -> "bytes", "io.input_records" -> "count",
    "transforms.s" -> "s", "transforms.cpu_s" -> "s",
    "binning.agg_s" -> "s", "binning.agg_cpu_s" -> "s", "binning.shuffle_write_bytes" -> "bytes",
    "binning.shuffle_records" -> "count", "binning.combine_ratio" -> "ratio", "binning.spill_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "binning.collect_s" -> "s", "binning.collect_rows" -> "count",
    "binning.save_s" -> "s", "binning.save_bytes" -> "bytes", "binning.load_s" -> "s",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count", "sched.delay_s" -> "s",
    "analysis.shirley_s" -> "s", "analysis.peakdetect_s" -> "s", "analysis.segment_s" -> "s",
    "analysis.curvature_s" -> "s", "analysis.calibrate_s" -> "s", "warp.tps_s" -> "s",
    "fit.traces_s" -> "s", "fit.cpu_s" -> "s", "trace.pass_s" -> "s")

  /** Layers whose self times partition a traced pass (prefix differences
    * for the Spark chain, span totals for the rest, "other" the remainder). */
  private val partition = Seq("io.scan_s", "transforms.s", "binning.agg_s", "binning.collect_s",
    "binning.save_s", "binning.load_s", "analysis.shirley_s", "analysis.peakdetect_s",
    "analysis.segment_s", "analysis.curvature_s", "analysis.calibrate_s", "warp.tps_s", "fit.traces_s")

  def apply(w: Workload, pass: Snap, t: Map[String, Snap]): Map[String, Double] = {
    def get(n: String) = t.getOrElse(n, Snap.zero)
    val (scan, tr, agg, full) = (get("io.scan"), get("transforms"), get("binning.agg"), get("binning.bin"))
    val prefix = scan + tr + agg + get("prefix.warm")
    val rest = pass - prefix
    val binned = w.binnedPerPass
    Map(
      "io.scan_s" -> scan.wallS, "io.scan_cpu_s" -> scan.cpuS,
      // Spark's task bytesRead misses the parquet reader's vectored reads,
      // so input bytes are the on-disk size of the files the pass scans
      "io.input_bytes" -> w.inputBytesPerPass.toDouble, "io.input_records" -> scan(K.InputRecords).toDouble,
      "transforms.s" -> (tr.wallS - scan.wallS), "transforms.cpu_s" -> (tr.cpuS - scan.cpuS),
      "binning.agg_s" -> (agg.wallS - tr.wallS), "binning.agg_cpu_s" -> (agg.cpuS - tr.cpuS),
      "binning.shuffle_write_bytes" -> full(K.ShuffleWriteBytes).toDouble,
      "binning.shuffle_records" -> full(K.ShuffleWriteRecords).toDouble,
      "binning.combine_ratio" -> (if (binned > 0) full(K.ShuffleWriteRecords).toDouble / binned else 0.0),
      "binning.spill_bytes" -> full(K.SpillBytes).toDouble,
      "jvm.gc_s" -> rest.gcMs / 1e3,
      "binning.collect_s" -> (full.wallS - agg.wallS),
      "binning.collect_rows" -> w.collectRows.toDouble,
      "binning.save_s" -> get("binning.save").wallS,
      "binning.save_bytes" -> w.savedBytes.toDouble,
      "binning.load_s" -> get("binning.load").wallS,
      "plan.analysis_s" -> rest(K.PlanAnalysisMs) / 1e3,
      "plan.optimization_s" -> rest(K.PlanOptimizationMs) / 1e3,
      "plan.planning_s" -> rest(K.PlanPlanningMs) / 1e3,
      "sched.jobs" -> rest(K.Jobs).toDouble, "sched.stages" -> rest(K.Stages).toDouble,
      "sched.tasks" -> rest(K.Tasks).toDouble, "sched.delay_s" -> rest(K.SchedDelayMs) / 1e3,
      "analysis.shirley_s" -> get("analysis.shirley").wallS,
      "analysis.peakdetect_s" -> get("analysis.peakdetect").wallS,
      "analysis.segment_s" -> get("analysis.segment").wallS,
      "analysis.curvature_s" -> get("analysis.curvature").wallS,
      "analysis.calibrate_s" -> get("analysis.calibrate").wallS,
      "warp.tps_s" -> get("warp.tps").wallS,
      "fit.traces_s" -> get("fit.traces").wallS, "fit.cpu_s" -> get("fit.traces").cpuS,
      "trace.pass_s" -> rest.wallS)
  }

  /** Median self-time share of each layer in a traced pass; "other" is the
    * benchmark's own work (checks, grid slicing) between calls. */
  def shares(passes: Seq[Map[String, Double]]): Seq[(String, Double)] = {
    val per = passes.map { l =>
      val parts = partition.map(n => n -> l(n))
      val other = l("trace.pass_s") - parts.map(_._2).sum
      (parts :+ ("other" -> other)).map { case (n, v) => n -> v / l("trace.pass_s") }
    }
    per.head.map(_._1).map(n => n.stripSuffix("_s") -> Main.median(per.map(_.toMap.apply(n))))
  }
}
