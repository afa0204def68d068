package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Coordinate population + SEG-Y coordinate scalar.
  *
  * C1 non-dim coordinate population (reference `ingestion/coordinates.py:
  * 29-77`): reduce the trace table to one coordinate value per cell, taking
  * the value at the first position of the reduced-out dims. Spark: `min_by`
  * over a deterministic order key — same "first by order" semantics without a
  * sort (single hash aggregate). The reference has a known unverified-
  * consistency gap (TODO at `ingestion/coordinates.py:74-75`); we pick the
  * deterministic min-key row and document it.
  *
  * P8 coordinate scalar (`segy/scalar.py:56-59`, applied
  * `ingestion/coordinates.py:66-67`): SEG-Y convention — positive scalar
  * multiplies, negative divides by |scalar|.
  */
object Coordinates {

  /** P8: apply a SEG-Y coordinate scalar to a column. */
  def applyScalar(c: Column, scalar: Int): Column = {
    require(scalar != 0, "SEG-Y coordinate scalar must be non-zero")
    if (scalar < 0) c / math.abs(scalar).toDouble else c * scalar.toDouble
  }

  /** P8 with a PER-TRACE scalar column — the shape the standard byte
    * reader produces ([[graft.sources.SegyRead.StandardFields.CoordScalar]]
    * surfaces header bytes 71-72 per trace). Same convention; a zero
    * scalar means "not set" in real files and applies as 1 (the rev-1
    * practice — the constant-scalar overload rejects 0 instead because a
    * caller passing a literal 0 is a bug, not a file quirk).
    */
  def applyScalarCol(c: Column, scalar: Column): Column =
    when(scalar < 0, c / abs(scalar).cast("double"))
      .when(scalar > 0, c * scalar.cast("double"))
      .otherwise(c.cast("double"))

  /** C1: one value per cell for each of `coordCols` = its value on the
    * first-ordered row. Coordinates sharing a cell-dim set reduce in ONE
    * groupBy pass (the ingest's coordinate tables, one `min_by` each). */
  def populateCoordinate(df: DataFrame, cellDims: Seq[String], coordCols: Seq[String],
                         orderKey: String, scalar: Int = 1): DataFrame = {
    val firsts = coordCols.map(c =>
      applyScalar(min_by(col(c), col(orderKey)), scalar).as(c))
    df.groupBy(cellDims.map(col): _*).agg(firsts.head, firsts.tail: _*)
  }

  /** C1 + consistency check: the reference reduces without verifying that
    * all rows of a cell agree on the coordinate (TODO at
    * `ingestion/coordinates.py:74-75`). This variant also reports, per cell,
    * how many distinct raw values were collapsed — `n_values > 1` marks a
    * cell whose reduction silently discarded disagreeing coordinates.
    */
  def populateCoordinateChecked(df: DataFrame, cellDims: Seq[String], coordCol: String,
                                orderKey: String, scalar: Int = 1): DataFrame = {
    val first = min_by(col(coordCol), col(orderKey))
    df.groupBy(cellDims.map(col): _*)
      .agg(applyScalar(first, scalar).as(coordCol),
        countDistinct(col(coordCol)).as("n_values"))
      .withColumn("consistent", col("n_values") === 1)
  }
}
