package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Parquet table loaders for the driver-generated TPC-H-ish testdata
  * (see /root/repo/TESTDATA.md). All queries receive the sf directory at
  * call time so the same plan runs at any scale factor.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped in three parquet encodings across driver
    * generations; normalize all of them to session-zone TIMESTAMP so every
    * downstream operator sees one type:
    *  - TIMESTAMP(NANOS), which Spark has no type for: read as raw long
    *    nanos (`spark.sql.legacy.parquet.nanosAsLong`, set by
    *    [[graft.Session.local]]) and truncate to microseconds — exactly what
    *    DuckDB's µs-native TIMESTAMP does, so oracle comparisons agree.
    *    Integer `div` keeps full precision (a double roundtrip would
    *    corrupt epoch-nanos magnitudes).
    *  - TIMESTAMP_NTZ (isAdjustedToUTC=false µs): cast to TIMESTAMP. The
    *    engine pins the session zone to UTC (Verify.scala convention), so
    *    the cast is a wall-clock no-op and matches DuckDB's naive reading.
    *  - TIMESTAMP (µs, UTC-adjusted): pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
