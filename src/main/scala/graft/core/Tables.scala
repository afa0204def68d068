package graft.core

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Fixture-table loader for the driver-generated TPC-H-ish parquet tables
  * (TESTDATA.md). All queries take an `sfDir` and resolve tables here so the
  * same code runs at sf0.001 / 0.01 / 0.1 (and, unchanged, against a 100 TB
  * layout — `spark.read.parquet` on a directory of many files partitions
  * natively).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read every fixture table once, so timed queries do not pay
    * first-touch file-system and footer I/O. A missing or unreadable table
    * fails with its path. */
  def warm(spark: SparkSession, sfDir: String): Unit = all.foreach { t =>
    val path = s"$sfDir/$t.parquet"
    try spark.read.parquet(path).foreach(_ => ())
    catch { case NonFatal(e) =>
      throw new IllegalArgumentException(s"fixture table $path is unreadable: ${e.getMessage}", e)
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  /** `events.ts` arrives in whatever physical flavor the fixture generator
    * used; normalize every variant to a session-timezone TimestampType so
    * operators can rely on `cast(ts as bigint)`, window functions, and
    * streaming watermarks (which all reject TIMESTAMP_NTZ):
    *  - parquet TIMESTAMP(NANOS): Spark has no native type; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set by Verify/Bench
    *    sessions) it reads as LongType nanos — convert via integer div (the
    *    fixture's values are µs-aligned, so truncation is lossless).
    *  - parquet timestamp[us] without isAdjustedToUTC: Spark 4 infers
    *    TIMESTAMP_NTZ — cast to TimestampType, interpreting the naive value
    *    in the session timezone (UTC for all graft sessions), which matches
    *    how DuckDB's `epoch()` treats the same naive value in the oracle.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = load(spark, sfDir, "events")
    df.schema("ts").dataType match {
      // integer `div`, NOT `/`: epoch-nanos exceed double's 53-bit mantissa,
      // so float division would round the timestamp by up to 256 ns.
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
