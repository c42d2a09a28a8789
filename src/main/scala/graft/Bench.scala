package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): times every registered
  * query on SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Two stdout lines carry `"metric":"total"`: the full line with the
  * per-query map, then (after the per-query `{"q","sec"}` lines) the
  * compact [[compactLine]], which ends the output. Consumers take the
  * LAST `"metric":"total"` line; both carry the same total, and the
  * name stays because existing parsers key on it.
  *
  * Each query is forced through the `noop` sink — unlike `count()`,
  * which lets Catalyst prune projected columns, noop materializes every
  * output column through the full physical plan, so transform-only
  * queries (e.g. the calibration columns) measure real work.
  */
object Bench {
  /** ONLY-mode artifact naming: a partial run must never masquerade as
    * a full one — the full artifact goes to `out`, a filtered run to
    * `<out-stem>_only.json` (spec-pinned in BenchOnlySpec). */
  def outPathFor(out: String, onlyMode: Boolean): String =
    if (!onlyMode) out
    else if (out.endsWith(".json")) out.stripSuffix(".json") + "_only.json"
    else out + "_only"

  /** The mode tags the JSON line carries (spec-pinned): a partial run
    * is always marked `"only":true`, a warm partial additionally
    * `"warm":true` — so an artifact's protocol is self-describing. */
  def modeTags(onlyMode: Boolean, warm: Boolean): String =
    (if (onlyMode) "\"only\":true," else "") +
      (if (warm) "\"warm\":true," else "")

  /** One per-query record line (spec-pinned < 1 KB): the driver keeps a
    * BOUNDED stdout tail, and the full 204-entry JSON line outgrew it
    * around r08 (BENCH_r15/r16 both came back `parsed: null` — the line
    * is ~7 KB and the tail cut it mid-object). Emitting each query as
    * its own short line means a tail of ANY size captures complete,
    * independently parseable records for the queries nearest the end. */
  def perQueryLine(name: String, sec: Double): String =
    s"""{"q":"$name","sec":$sec}"""

  /** The compact LAST stdout line (spec-pinned: no per-query map, so its
    * length is bounded by the failure list alone): total seconds, query
    * count, failures, scale factor. A 2000-char tail always contains it
    * whole, so the driver regains a parseable ground-truth total even
    * when the full line above it is truncated. */
  def compactLine(total: Double, n: Int, onlyTag: String,
                  failsJson: String, sfDir: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec",$onlyTag"n":$n,"failures":$failsJson,"sf":"$sfDir"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // ONLY mode (mirrors BenchLarge's SPARK_GRAFT_LARGE_ONLY): time a
    // named subset — adjudicating one query's drift should not cost a
    // full 204-query run. The JSON carries "only":true and is written
    // to a *_only.json path so a partial run never overwrites (or
    // reads as) the full-run artifact.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_BENCH_ONLY names unregistered queries: ${unknown.toSeq.sorted.mkString(", ")}")
    // WARM mode (ONLY-mode companion): cold ONLY numbers are biased
    // 2-3x high for sub-second queries — a full run warms each query
    // with the ~200 that precede it in the same JVM (shared codegen
    // paths, shuffle/broadcast machinery, JIT tiers), which a 2-query
    // ONLY run never gets. Warm mode sweeps the selected set once
    // UNTIMED, then runs the normal timed protocol — so ONLY numbers
    // become usable for ABSOLUTE drift calls, not just relative/plan
    // comparisons, at ~2x the filtered cost. Meaningless without ONLY
    // (a full run already self-warms), so it fail-louds there.
    // value: "true"/"1"..."9" = that many untimed sweeps (a single
    // sweep measured ~1.5x-high on sub-second controls — C2 needs more
    // executions of the shared infra than 3 runs of 4 queries provide)
    val warmSweeps: Int = sys.env.get("SPARK_GRAFT_BENCH_WARM") match {
      case None => 0
      case Some(v) if v.equalsIgnoreCase("true") => 1
      case Some(v) => v.toInt
    }
    val warm = warmSweeps > 0
    require(!warm || only.nonEmpty,
      "SPARK_GRAFT_BENCH_WARM is only meaningful with SPARK_GRAFT_BENCH_ONLY " +
        "(a full run self-warms: every query is preceded by the rest of the suite)")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Size the generated-class cache to the suite's plan diversity
      // (static conf; default 100 entries). 204 queries × ~10-20
      // codegen units × the two-pass protocol is thousands of distinct
      // generated sources, so at the default the cache thrashes and
      // every pass re-compiles (Janino) and re-JITs classes that are
      // byte-identical to already-compiled ones — measured on this
      // suite as 600 s of aggregate JIT-compiler-thread time, 22 s of
      // GC (Janino allocation churn), and a duration-graded tax that
      // hit short multi-stage plans hardest (the r15 "scrub family
      // drift" signature). With the cache sized to the suite: total
      // 294.6 → 217.1 s, suite JIT time 421 s, GC 8.3 s. Not a
      // core-count or scale-factor tune — the cache is keyed by
      // generated source and sized to QUERY DIVERSITY, which is the
      // same property a long-running production driver sizes it for.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warm-up outside the timed region (the driver measures
    // steady-state throughput, not JIT compilation)
    try SparkEntry.queries("q1_agg")(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    // two passes per query, report the faster: pass 1 pays Janino/JIT
    // compilation of each query's generated code, pass 2 is the
    // steady-state throughput a long-running cluster job sees
    val failures = scala.collection.mutable.ListBuffer[String]()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // warm sweep: every selected query once, untimed — pays the
    // cross-query JIT/infra warming a full run gives for free
    (1 to warmSweeps).foreach { _ =>
      selected.foreach { case (_, fn) =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => } // the timed loop reports failures
      }
    }
    val results = selected.map { case (name, fn) =>
      // isolate queries from each other's garbage: without this, one
      // allocation-heavy query taxes its successors with collection
      // pauses inside THEIR timed region (BENCH_r01 recorded two 11 s
      // outliers on sub-second plans this way)
      System.gc()
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          if (!failures.contains(name)) {
            failures += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
        }
        (System.nanoTime() - t0) / 1e9
      }
      // a failed query must not masquerade as a fast one
      name -> (if (failures.contains(name)) -1.0 else times.min)
    }
    // JVM-state diagnostic (stderr, never the JSON contract): suite
    // growth loads more classes and fills the JIT code heaps, and
    // late-alphabet queries inherit that state — the r15/r16 scrub-
    // family investigation needed exactly these numbers to separate
    // "this plan got slower" from "the JVM this plan runs in got
    // heavier". Printed every run so future drift calls have them.
    locally {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(p => f"${p.getName}=${p.getUsage.getUsed / 1048576.0}%.1f MiB")
      val classes = java.lang.management.ManagementFactory.getClassLoadingMXBean
        .getLoadedClassCount
      System.err.println(
        s"[bench] jvm-state: loaded_classes=$classes ${pools.mkString(" ")}")
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val fails = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val onlyTag = modeTags(only.nonEmpty, warm)
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$onlyTag"queries":$qs,"failures":$fails,"sf":"$sfDir"}"""
    println(line)
    // tail-proof reporting (the full line above IS the driver contract,
    // but it is ~7 KB at 204 queries and the driver keeps a bounded
    // stdout tail — BENCH_r15/r16 both parsed null): every per-query
    // time repeats as its own <1 KB line, and the LAST line is a
    // compact total with no per-query map, so any tail ends with a
    // complete parseable record set
    results.foreach { case (name, sec) => println(perQueryLine(name, sec)) }
    println(compactLine(total, results.size, onlyTag, fails, sfDir))
    // the driver captures a bounded stdout tail — with 100+ per-query
    // entries the JSON line outgrows it (BENCH_r08 lost 56 of 109
    // times), so the full line is also written to a file the driver
    // (or a human) can copy verbatim
    val out = outPathFor(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"),
      onlyMode = only.nonEmpty)
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    spark.stop()
  }
}
