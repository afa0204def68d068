package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Geometry detection + channel/shot renumbering (the reference's most
  * interesting relational operators).
  *
  * G5 `ChannelWrappingStrategy` (reference `ingestion/segy/
  * index_strategies.py:206-233`, detection `header_analysis.py:82-139`):
  * decide whether channel numbering restarts per cable (geometry Type A —
  * per-cable ranges overlap) or runs sequentially across cables (Type B);
  * if B, rebase channel to 1..N per cable.
  *
  * G6 `ShotWrappingStrategy` (`index_strategies.py:236-299`, detection
  * `header_analysis.py:142-191`): emit a dense per-line `shot_index`, either
  * by `searchsorted` over the line's sorted unique shots (Type A — in Spark
  * exactly `dense_rank()-1` per line) or by gun-aware floor-division rebase
  * (Type B).
  *
  * Scale: detection aggregates to one row per cable/line (a metadata-sized
  * table). G5 collects that table once: the overlap test runs on the driver
  * and the Type-B rebase is a broadcast lookup in the same rows, so it is
  * row-local and adds no exchange of trace rows. G6 rebasing is a window
  * min / dense_rank: one hash-shuffle on the line key.
  */
object Wrapping {

  /** G5 detection input: per-cable channel range. */
  def channelRanges(df: DataFrame, cable: String, channel: String): DataFrame =
    df.groupBy(col(cable))
      .agg(min(col(channel)).as("chan_min"), max(col(channel)).as("chan_max"))

  /** G5 detection input, collected: one row per cable (a null cable is its
    * own row, as in any groupBy) with the channel range over that cable. */
  def collectChannelRanges(df: DataFrame, cable: String, channel: String): ChannelRanges =
    ChannelRanges(cable, channel, df.schema(cable).dataType,
      df.schema(channel).dataType, channelRanges(df, cable, channel).collect().toSeq)

  /** G5 detection: do any two cables' channel ranges overlap?
    * Ranges overlap ⇒ channels restart per cable (Type A, no rebase needed);
    * disjoint ⇒ sequential numbering (Type B, rebase required).
    * Returns one row: (n_cables, has_overlap, geometry_type).
    */
  def detectChannelGeometry(df: DataFrame, cable: String, channel: String): DataFrame = {
    val r = collectChannelRanges(df, cable, channel)
    val sess = df.sparkSession
    import sess.implicits._
    Seq((r.nCables, r.hasOverlap, r.geometryType))
      .toDF("n_cables", "has_overlap", "geometry_type")
  }

  /** G5 rebase: channel → 1..N within each cable (`v - min(v) + 1`). */
  def rebaseChannels(df: DataFrame, cable: String, channel: String,
                     out: String = "channel_wrapped"): DataFrame =
    collectChannelRanges(df, cable, channel).rebase(df, out)

  /** The per-cable channel table of one frame, held on the driver. */
  final case class ChannelRanges(cable: String, channel: String,
                                 cableType: DataType, channelType: DataType,
                                 rows: Seq[Row]) {
    def nCables: Long = rows.size.toLong

    /** Do two distinct non-null cables have overlapping closed ranges? The
      * comparisons follow SQL: a null cable or an all-null channel range
      * overlaps nothing. Sorted by range start, an overlap always shows
      * between a range and the running maximum of the ranges before it. */
    def hasOverlap: Boolean = {
      val ord = channelOrdering(channelType)
      val ranges = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map(r => (r.get(1), r.get(2))).sortWith((a, b) => ord.lt(a._1, b._1))
      ranges.nonEmpty && ranges.tail.foldLeft((ranges.head._2, false)) {
        case ((hi, hit), (lo, up)) => (ord.max(hi, up), hit || ord.lteq(lo, hi))
      }._2
    }

    def geometryType: String = if (hasOverlap) "A" else "B"

    /** `df` plus `out` = channel − (its cable's minimum) + 1, as a long. The
      * minimum comes from a broadcast lookup of the cable in these rows,
      * null-safe so null-cable rows keep their own minimum: no exchange of
      * `df`'s rows, so its partitioning holds. */
    def rebase(df: DataFrame, out: String): DataFrame = {
      val lo = graft.functions.KeyLookup(col(cable),
        rows.map(r => r.get(0) -> r.get(1)), cableType, channelType)
      df.withColumn(out, (col(channel) - lo + 1).cast("long"))
    }
  }

  /** Spark's ascending comparison for a numeric channel type: NaN above
    * every number and -0.0 equal to 0.0, as `<=` compares them. */
  private def channelOrdering(dt: DataType): Ordering[Any] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Ordering.by[Any, Long](_.asInstanceOf[Number].longValue())
    case FloatType | DoubleType =>
      (a: Any, b: Any) => SQLOrderingUtil.compareDoubles(
        a.asInstanceOf[Number].doubleValue(), b.asInstanceOf[Number].doubleValue())
    case _: DecimalType =>
      Ordering.by[Any, java.math.BigDecimal](_.asInstanceOf[java.math.BigDecimal])
    case other =>
      throw new IllegalArgumentException(s"channel type $other is not numeric")
  }

  /** G6 Type A: dense 0-based shot index per line — exact `searchsorted` over
    * the line's sorted uniques, because dense_rank ranks distinct values.
    */
  def shotIndexDenseRank(df: DataFrame, line: String, shot: String,
                         out: String = "shot_index"): DataFrame = {
    val w = Window.partitionBy(col(line)).orderBy(col(shot))
    df.withColumn(out, (dense_rank().over(w) - 1).cast("long"))
  }

  /** G6 Type B: gun-interleaved numbering — floor-divide by gun count, then
    * rebase to a dense 0-based index per line.
    */
  def shotIndexFloorDiv(df: DataFrame, line: String, shot: String, numGuns: Int,
                        out: String = "shot_index"): DataFrame = {
    val w = Window.partitionBy(col(line))
    val divided = floor(col(shot) / numGuns)
    df.withColumn(out, (divided - min(divided).over(w)).cast("long"))
  }
}
