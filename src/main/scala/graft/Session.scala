package graft

import org.apache.spark.sql.SparkSession

/** The one place an engine `SparkSession` is built. `Bench`,
  * `BenchLarge`, `Verify` and the test suite's shared session all get
  * theirs here, so a timed run, a correctness dump, a plan capture and
  * a test plan under the same settings: `local[cpus]` with as many
  * shuffle partitions, AQE on, UTC, no UI, log level WARN. */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, 4 when unset. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The JVM's session, created on first use. A later call joins the
    * existing session and re-applies the runtime settings (shuffle
    * partitions, AQE, time zone); the static ones (master, UI, codegen
    * cache) keep the creator's values. */
  def get(cpus: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
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
    spark
  }

  /** Runs `body` on [[get]]. The session is stopped afterwards only if
    * this call created it: a session someone else made (the test
    * suite's shared one) outlives the call. */
  def run[T](body: SparkSession => T): T = {
    val preexisting = SparkSession.getDefaultSession.isDefined
    val spark = get()
    try body(spark) finally if (!preexisting) spark.stop()
  }
}
