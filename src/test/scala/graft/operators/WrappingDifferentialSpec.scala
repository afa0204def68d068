package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Channel-wrap detection and rebase against the formulas they replaced: a
  * distributed self-join of the per-cable ranges for detection, and a
  * `Window.partitionBy(cable)` minimum for the rebase. Both old formulas
  * live only here.
  */
class WrappingDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def oldDetect(df: DataFrame, cable: String, channel: String): DataFrame = {
    val ranges = Wrapping.channelRanges(df, cable, channel)
    val a = ranges.select(col(cable).as("cable_a"), col("chan_min").as("min_a"),
      col("chan_max").as("max_a"))
    val b = ranges.select(col(cable).as("cable_b"), col("chan_min").as("min_b"),
      col("chan_max").as("max_b"))
    val overlaps = a.join(broadcast(b), col("cable_a") < col("cable_b"))
      .where(col("min_a") <= col("max_b") && col("min_b") <= col("max_a"))
    val nCables = ranges.agg(count(lit(1))).first().getLong(0)
    val hasOverlap = overlaps.limit(1).count() > 0
    Seq((nCables, hasOverlap, if (hasOverlap) "A" else "B"))
      .toDF("n_cables", "has_overlap", "geometry_type")
  }

  private def oldRebase(df: DataFrame, cable: String, channel: String): DataFrame =
    df.withColumn("channel_wrapped",
      (col(channel) - min(col(channel)).over(Window.partitionBy(col(cable))) + 1)
        .cast("long"))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSame(name: String, df: DataFrame): Unit = {
    val (detNew, detOld) = (Wrapping.detectChannelGeometry(df, "cable", "channel"),
      oldDetect(df, "cable", "channel"))
    assert(detNew.collect().toSeq == detOld.collect().toSeq, s"$name: detection")
    val (rbNew, rbOld) = (Wrapping.rebaseChannels(df, "cable", "channel"),
      oldRebase(df, "cable", "channel"))
    assert(rbNew.schema == rbOld.schema, s"$name: rebase schema")
    assert(sorted(rbNew) == sorted(rbOld), s"$name: rebase rows")
  }

  private def frame(rows: (Option[Int], Option[Int])*): DataFrame =
    rows.zipWithIndex.map { case ((c, ch), i) => (i, c, ch) }
      .toDF("ord", "cable", "channel")

  test("Type A: channels restart per cable") {
    assertSame("type A", frame((Some(0), Some(1)), (Some(0), Some(3)),
      (Some(1), Some(1)), (Some(1), Some(2)), (Some(2), Some(2)), (Some(2), Some(4))))
  }

  test("Type B: channels run on across cables, ranges touching or not") {
    assertSame("type B", frame((Some(0), Some(1)), (Some(0), Some(3)),
      (Some(1), Some(4)), (Some(1), Some(6)), (Some(2), Some(9)), (Some(2), Some(7))))
    // a shared end point is an overlap (closed ranges): Type A
    assertSame("touching", frame((Some(0), Some(1)), (Some(0), Some(4)),
      (Some(1), Some(4)), (Some(1), Some(6))))
  }

  test("a single cable") {
    assertSame("single", frame((Some(5), Some(11)), (Some(5), Some(12)),
      (Some(5), Some(11))))
  }

  test("a null cable keeps its rows and its own minimum") {
    // the null cable's range overlaps cable 0's, yet takes no part in the
    // overlap test, as SQL's `<` against null decides
    val df = frame((Some(0), Some(1)), (Some(0), Some(3)), (None, Some(2)),
      (None, Some(8)), (Some(1), Some(10)), (Some(1), Some(12)))
    assertSame("null cable", df)
    assert(Wrapping.rebaseChannels(df, "cable", "channel")
      .where(col("cable").isNull).select("channel_wrapped").as[Long]
      .collect().sorted.toSeq == Seq(1L, 7L))
  }

  test("a null channel rebases to null; an all-null cable overlaps nothing") {
    assertSame("null channel", frame((Some(0), Some(1)), (Some(0), None),
      (Some(1), Some(5)), (Some(2), None), (Some(2), None)))
  }

  test("header-typed (bigint) and double channels") {
    val longs = Seq((1L, 100L), (1L, 147L), (2L, 148L), (2L, 195L))
      .toDF("cable", "channel")
    assertSame("bigint", longs)
    val doubles = Seq((1, 1.0), (1, -0.0), (2, 0.0), (2, 7.5), (3, 9.0))
      .toDF("cable", "channel")
    assertSame("double", doubles)
  }

  test("the strategy's rebase leaves the frame's partitioning alone") {
    val df = frame((Some(0), Some(1)), (Some(1), Some(2))).repartitionByRange(col("ord"))
    val plan = Wrapping.rebaseChannels(df, "cable", "channel")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Window"), plan)
  }
}
