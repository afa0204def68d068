package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dimension inference — the reference's grid-coordinate layer.
  *
  * G1 `compute_dimensions` (reference `ingestion/segy/index_strategies.py:83-90`,
  * `core/dimension.py:17-77`): per dimension name, the sorted distinct
  * coordinate vector. A5 dim min/max (reference `core/grid.py:87-93`,
  * `commands/info.py:74-83`).
  *
  * Spark notes at scale: `distinct` is a hash-partial + final aggregate — the
  * map-side combine collapses each input partition to its local distinct set
  * before the shuffle, so shuffle volume is O(cardinality), not O(rows).
  * The `orderBy` is a range-partitioned sort over the already-distinct set.
  */
object Dimensions {

  /** Sorted distinct values of one dimension column (G1). Null rows are
    * dropped: reference headers are dense numpy arrays and can never hold a
    * null, so a null can't be a grid coordinate. The ingest writes this as
    * the table of a dim over [[driverMaxValues]]; below the gate the table
    * is the grid QC's value set, which drops nulls too.
    */
  def computeDimension(df: DataFrame, dim: String): DataFrame =
    df.select(col(dim).as("dim_value"))
      .where(col("dim_value").isNotNull)
      .distinct()
      .orderBy(col("dim_value"))

  /** Per-dimension summary: min / max / cardinality (A5, S8 "info"). All
    * aggregates run in ONE pass; countDistinct becomes a two-phase expand
    * aggregate with partial combine — no extra scan per dimension.
    */
  def dimSummary(df: DataFrame, dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "dimSummary needs at least one dimension column")
    val uniq = dims.distinct
    val aggs: Seq[Column] = uniq.flatMap { d =>
      Seq(min(col(d)).as(s"${d}_min"),
          max(col(d)).as(s"${d}_max"),
          countDistinct(col(d)).as(s"${d}_n"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Interactive-info variant: exact countDistinct over many dims in one
    * pass multiplies the expand-aggregate at 100 TB; the display path can
    * use HyperLogLog instead (J2/J3 invariants keep the exact form).
    */
  def dimSummaryApprox(df: DataFrame, dims: Seq[String], rsd: Double = 0.05): DataFrame = {
    require(dims.nonEmpty, "dimSummaryApprox needs at least one dimension column")
    val aggs: Seq[Column] = dims.distinct.flatMap { d =>
      Seq(min(col(d)).as(s"${d}_min"),
          max(col(d)).as(s"${d}_max"),
          approx_count_distinct(col(d), rsd).as(s"${d}_n"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Dim-vector cardinality gate (`graft.dims.driverMaxValues`, default
    * 10⁶): a dim vector is normally metadata-sized — grid axis labels, held
    * as in-memory arrays by the reference too — but nothing FORCES that, and
    * a pathological 10⁸-distinct dim would OOM the driver. At or below the
    * gate a dim vector may visit the driver (the ingest's dim tables, the
    * J1 broadcast index, `isel`'s position arithmetic); above it every one
    * of those paths stays distributed. Same size-vs-strategy trade as
    * `graft.cc.driverMaxEdges`.
    */
  def driverMaxValues(spark: SparkSession): Long =
    spark.conf.getOption("graft.dims.driverMaxValues").map(_.toLong)
      .getOrElse(1000000L)

  /** Ascending sort of an in-driver dim vector, matching Spark's
    * `ORDER BY … ASC` for the dim types a grid can carry: nulls first, NaN
    * after every number, strings in UTF-8 byte order (date/time and other
    * types fall back to their string form).
    */
  def sortDriverSide(dt: DataType, values: Seq[Any]): Seq[Any] = {
    val (nulls, present) = values.partition(_ == null)
    val sorted = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        present.sortBy(_.asInstanceOf[Number].longValue())
      case FloatType | DoubleType =>
        present.sortBy(_.asInstanceOf[Number].doubleValue())(
          Ordering.Double.TotalOrdering)
      case _: DecimalType =>
        present.sortBy(_.asInstanceOf[java.math.BigDecimal])(
          Ordering.ordered[java.math.BigDecimal])
      case StringType =>
        present.sortBy(v => org.apache.spark.unsafe.types.UTF8String
          .fromString(v.asInstanceOf[String]))(
          Ordering.ordered[org.apache.spark.unsafe.types.UTF8String])
      case _ => present.sortBy(_.toString) // defensive: unknown dim type
    }
    nulls ++ sorted
  }
}
