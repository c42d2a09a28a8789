package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.Sources

/** Table loading helpers for the driver-generated parquet test tables
  * (TESTDATA.md). At cluster scale these would be partitioned parquet
  * directories; the API shape is identical ([[Sources.parquet]] on a
  * path, which resolves the schema from one footer on the driver and
  * runs no Spark job), so everything downstream scales without change.
  */
object Tables {
  /** Read one named table from an sf directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.parquet(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` normalizes to a microsecond TimestampType column (UTC
    * session) regardless of how the driver generated the parquet:
    * TIMESTAMP(NANOS) — which Spark 4 rejects unless read as raw nanos
    * via the legacy conf, set here so it holds under any driver-created
    * session — converts ns→µs; TIMESTAMP_MICROS without UTC adjustment
    * reads as TIMESTAMP_NTZ and casts to the same wall-clock instants
    * under the UTC session; an adjusted-to-UTC file is already the
    * target type. DuckDB's view of the same file matches in all three
    * layouts.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsTs(table(spark, dir, "events"))
  }

  /** `raw` with its `ts` normalized to a microsecond TimestampType, by
    * the type it was read as: raw nanos (TIMESTAMP(NANOS) under the
    * legacy conf) convert ns→µs, TIMESTAMP_NTZ casts to the same
    * wall-clock instants under the UTC session, TimestampType passes.
    * The batch [[events]] reader and the streaming
    * [[graft.streaming.StreamOps.readEvents]] both go through it. */
  private[graft] def eventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
