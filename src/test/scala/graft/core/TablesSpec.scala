package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `Tables.events` must present `ts` as a session-timezone TimestampType no
  * matter which physical parquet flavor the fixture generator emitted —
  * TIMESTAMP(NANOS) (reads as Long under nanosAsLong), timestamp[us] without
  * isAdjustedToUTC (reads as TIMESTAMP_NTZ in Spark 4), or a plain
  * adjusted-to-UTC timestamp. Round 11's fixtures switched from nanos to
  * naive-micros and every `cast(ts as bigint)` / watermark query broke; this
  * spec pins all three inputs so a future fixture change fails here first.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def writeAndLoad(dir: String, writeNtz: Boolean) = {
    val base = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), 7L, "click", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 02:10:00"), 7L, "purchase", 2.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val df = if (writeNtz) base.withColumn("ts", col("ts").cast(TimestampNTZType)) else base
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.events(spark, dir)
  }

  test("events normalizes TIMESTAMP_NTZ parquet to TimestampType") {
    val dir = java.nio.file.Files.createTempDirectory("tables_ntz").toString
    val ev = writeAndLoad(dir, writeNtz = true)
    assert(ev.schema("ts").dataType == TimestampType)
    // the operators' core idiom must work: epoch seconds via cast
    val secs = ev.orderBy("event_id").select(col("ts").cast("long")).as[Long].collect()
    // session tz is UTC, so the naive value is interpreted as UTC
    assert(secs.sameElements(Array(1704067230L, 1704075000L)))
  }

  test("events passes an already-adjusted TimestampType through unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("tables_tz").toString
    val ev = writeAndLoad(dir, writeNtz = false)
    assert(ev.schema("ts").dataType == TimestampType)
    val secs = ev.orderBy("event_id").select(col("ts").cast("long")).as[Long].collect()
    assert(secs.sameElements(Array(1704067230L, 1704075000L)))
  }

  test("warm fails with the path of a missing fixture table") {
    val dir = java.nio.file.Files.createTempDirectory("tables_warm").toString
    Seq(1L).toDF("r_regionkey").write.parquet(s"$dir/region.parquet")
    val e = intercept[IllegalArgumentException](Tables.warm(spark, dir))
    assert(e.getMessage.contains(s"$dir/nation.parquet"), e.getMessage)
  }
}
