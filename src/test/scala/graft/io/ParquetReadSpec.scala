package graft.io

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{EventPipeline, Tables}
import graft.SparkTestSession.spark
import graft.config.InstrumentConfig
import graft.streaming.StreamOps

/** [[Sources.parquet]] against `spark.read.parquet`: the same schema,
  * plan and rows on every layout the engine reads, Spark's own errors
  * where the footer cannot decide, and no Spark job on any engine read
  * path. */
class ParquetReadSpec extends AnyFunSuite {

  /** The sf0.1 tables, beside the shared session's smaller scale factor. */
  private val sf = Paths.get(graft.SparkTestSession.sfDir).resolveSibling("sf0.1").toString
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The optimized plan with expression ids stripped. */
  private def plan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#")

  /** Row count and two order-free sums of per-row hashes. */
  private def checksum(df: DataFrame): Row = {
    val cols = df.columns.map(col)
    df.agg(count(lit(1)), sum(hash(cols: _*).cast("long")),
      sum(pmod(xxhash64(cols: _*), lit(2147483647L)))).head()
  }

  private def assertSameRead(paths: String*): Unit = {
    val ours = Sources.parquet(spark, paths: _*)
    val theirs = spark.read.parquet(paths: _*)
    assert(ours.schema == theirs.schema, paths.mkString(","))
    assert(plan(ours) == plan(theirs), paths.mkString(","))
    assert(checksum(ours) == checksum(theirs), paths.mkString(","))
  }

  private def jobsDuring[T](body: => T): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** A Spark-written float32 event directory (with `_SUCCESS` and
    * `.crc` files) in three parts. */
  private def floatEvents(n: Int, seed: Long): String = {
    val dir = tmp("float_events") + "/events"
    spark.range(0, n, 1, 3)
      .select(rand(seed).cast("float").as("X"), randn(seed + 1).cast("float").as("Y"),
        (col("id") * 7 % 1000).cast("float").as("t"))
      .write.parquet(dir)
    dir
  }

  test("same schema, plan and rows as spark.read.parquet on every sf0.1 table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // as Tables.events reads
    tables.foreach(t => assertSameRead(s"$sf/$t.parquet"))
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("same read on a Spark-written float32 directory, a glob and two paths") {
    val a = floatEvents(2000, 1)
    val b = floatEvents(500, 2)
    assert(Files.exists(Paths.get(a, "_SUCCESS")))
    assertSameRead(a)
    assertSameRead(s"$a/*.parquet")
    assertSameRead(a, b)
    assert(Sources.parquet(spark, a, b).count() == 2500)
  }

  test("same read on key=value partitioned directories") {
    val dir = tmp("partitioned") + "/t"
    spark.range(0, 300, 1, 2).select(col("id"), (col("id") % 3).cast("int").as("k"), col("id").cast("double").as("v"))
      .write.partitionBy("k").parquet(dir)
    assertSameRead(dir)
    assert(Sources.parquet(spark, dir).schema("k").dataType == org.apache.spark.sql.types.IntegerType)
    // a file that also carries its partition column: Spark types it
    val both = tmp("partitioned_dup") + "/t"
    spark.range(10).select(col("id"), lit("x").as("k")).write.parquet(s"$both/k=1")
    assert(Sources.footerSchema(spark, both).isEmpty)
    assertSameRead(both)
  }

  test("a streaming file sink's output is listed by Spark, from its log") {
    val src = floatEvents(300, 4)
    val out = tmp("sink") + "/out"
    val q = spark.readStream.schema(Sources.footerSchema(spark, src).get).parquet(src)
      .writeStream.format("parquet").option("checkpointLocation", tmp("sink_ckpt")).start(out)
    try q.processAllAvailable() finally q.stop()
    assert(Files.isDirectory(Paths.get(out, "_spark_metadata")))
    assert(Sources.footerSchema(spark, out).isEmpty)
    assertSameRead(out)
  }

  test("a missing path and an empty directory raise Spark's own errors") {
    def condition(read: => DataFrame): String = intercept[AnalysisException](read).getCondition
    val missing = tmp("missing") + "/nope"
    assert(condition(Sources.parquet(spark, missing)) == "PATH_NOT_FOUND")
    assert(condition(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
    val empty = tmp("empty")
    assert(condition(Sources.parquet(spark, empty)) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(spark.read.parquet(empty)) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("schema merging follows spark.sql.parquet.mergeSchema") {
    val dir = tmp("merge") + "/t"
    spark.range(5).select(col("id"), col("id").as("a")).coalesce(1).write.parquet(dir)
    spark.range(5).select(col("id"), col("id").cast("double").as("b")).coalesce(1).write.mode("append").parquet(dir)
    assertSameRead(dir)
    assert(Sources.parquet(spark, dir).columns.length == 2)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertSameRead(dir)
      assert(Sources.parquet(spark, dir).columns.toSet == Set("id", "a", "b"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("no engine read path runs a Spark job") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = floatEvents(1000, 3)
    val dims = tmp("dims")
    InstrumentConfig.writeDims(spark, dims)
    val drop = Files.createDirectory(Paths.get(tmp("drop"), "in"))
    Files.copy(Paths.get(s"$sf/events.parquet"), drop.resolve("events_0.parquet"))
    assert(jobsDuring(EventPipeline.read(spark, events)) == 0, "EventPipeline.read")
    assert(jobsDuring(Tables.table(spark, sf, "lineitem")) == 0, "Tables.table")
    assert(jobsDuring(Tables.events(spark, sf)) == 0, "Tables.events")
    assert(jobsDuring(Sources.readFiles(spark, Seq(events))) == 0, "Sources.readFiles")
    assert(jobsDuring(InstrumentConfig.loadAperture(spark, dims)) == 0, "loadAperture")
    assert(jobsDuring(InstrumentConfig.loadLensMode(spark, dims)) == 0, "loadLensMode")
    assert(jobsDuring(StreamOps.readEvents(spark, drop.toString)) == 0, "StreamOps.readEvents")
    // and the reads still answer
    assert(EventPipeline.read(spark, events).count() == 1000)
    assert(InstrumentConfig.loadAperture(spark, dims).count() > 0)
  }

  test("no main source outside Sources.scala calls read.parquet(") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val offenders = Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Sources.scala")
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("read.parquet("))
    assert(offenders.isEmpty, s"read parquet through graft.io.Sources.parquet: ${offenders.mkString(", ")}")
  }
}
