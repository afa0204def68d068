package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Labeled selection — the reference's user-facing `sel` query surface (P3).
  *
  * Reference: `dataset.sel(inline=278)`, `sel(time=slice(...))` slice all
  * variables at once (xarray; `docs/tutorials/quickstart.ipynb`). In Spark a
  * labeled selection is a conjunction of pushdown-friendly predicates:
  * equality → partition/row-group pruning, ranges → min/max row-group skips —
  * the same chunk-pruning the reference gets from Zarr indexing.
  */
object Selection {

  sealed trait Sel
  /** `sel(dim = value)` — point selection. */
  final case class Point(value: Any) extends Sel
  /** `sel(dim = slice(lo, hi))` — inclusive range, matching xarray's
    * label-based slicing (both endpoints included). */
  final case class Range(lo: Any, hi: Any) extends Sel
  /** `sel(dim = [v1, v2, ...])` — list selection. */
  final case class Values(vs: Seq[Any]) extends Sel

  def predicate(dim: String, sel: Sel): Column = sel match {
    case Point(v)            => col(dim) === lit(v)
    case Range(lo, hi)       => col(dim).between(lit(lo), lit(hi))
    case Values(vs) if vs.isEmpty => lit(false)
    case Values(vs)          => col(dim).isInCollection(vs)
  }

  /** Apply labeled selections; all variables (columns) are sliced at once. */
  def sel(df: DataFrame, sels: Map[String, Sel]): DataFrame =
    sels.foldLeft(df) { case (d, (dim, s)) => d.where(predicate(dim, s)) }

  // ------------------------------------------------- positional (isel)

  /** POSITIONAL selection — xarray's `isel` (P3's other half): integer
    * positions along the dim's sorted coordinate order. Python/xarray
    * conventions throughout: slices are start-inclusive/stop-EXCLUSIVE and
    * clamp silently; points and value lists raise on out-of-bounds;
    * negative indices count from the end.
    */
  sealed trait ISel
  /** `isel(dim = i)` — single position. */
  final case class IPoint(i: Long) extends ISel
  /** `isel(dim = slice(start, stop))` — stop exclusive, clamping. */
  final case class ISlice(start: Long, stop: Long) extends ISel
  /** `isel(dim = [i1, i2, ...])` — position list. */
  final case class IValues(is: Seq[Long]) extends ISel

  /** Resolve a positional selection over a dim's SORTED label vector
    * (Spark's `ORDER BY … ASC`: nulls first, NaN last) into a LABEL
    * selection, which then prunes like any `sel`. Pure index arithmetic,
    * as in the reference, where `isel` indexes the in-memory coordinate
    * arrays of an opened dataset (`api/io.py`). A slice reduces to its
    * first non-null and last labels: contiguous positions of a sorted
    * vector ARE a label range, so the predicate stays `between` (row-group
    * prunable). A null label matches no predicate, so a slice over nulls
    * alone is empty.
    */
  def resolvePositional(labels: IndexedSeq[Any], isel: ISel): Sel = {
    val firstPresent = labels.indexWhere(_ != null)
    val nulls = if (firstPresent < 0) labels.length else firstPresent
    resolveAt(labels.length.toLong, nulls.toLong, isel)(
      _.map(p => labels(p.toInt)))
  }

  /** The xarray semantics of [[ISel]] over a sorted vector of `size`
    * labels whose first `nulls` are null. `labelsAt` fetches the labels at
    * in-range positions, in the order asked.
    */
  private def resolveAt(size: Long, nulls: Long, isel: ISel)(
      labelsAt: Seq[Long] => Seq[Any]): Sel = {
    def norm(i: Long): Long = if (i < 0) size + i else i
    def inBounds(i: Long): Boolean = i >= 0 && i < size
    isel match {
      case IPoint(i0) =>
        val i = norm(i0)
        if (!inBounds(i)) throw new IndexOutOfBoundsException(
          s"isel position $i0 out of bounds for dim of size $size")
        Point(labelsAt(Seq(i)).head)
      case ISlice(s0, e0) =>
        val s = math.max(math.max(norm(s0), 0L), nulls)
        val e = math.min(norm(e0), size)
        if (e <= s) Values(Nil)
        else {
          val Seq(lo, hi) = labelsAt(Seq(s, e - 1))
          Range(lo, hi)
        }
      case IValues(is0) =>
        val is = is0.map(norm)
        if (!is.forall(inBounds)) throw new IndexOutOfBoundsException(
          s"isel positions ${is0.mkString(",")} out of bounds for dim of " +
            s"size $size")
        Values(if (is.isEmpty) Nil else labelsAt(is))
    }
  }

  /** A dim's label vector, sorted driver-side, from ONE bounded collect of
    * its coordinate table (distinct labels in a `dim_value` column) — or
    * None when the table holds more labels than `graft.dims.driverMaxValues`
    * (the collect stops at gate + 1 rows, so the driver never holds more).
    */
  def sortedLabels(dimTable: DataFrame): Option[IndexedSeq[Any]] = {
    val gate = Dimensions.driverMaxValues(dimTable.sparkSession)
    val rows = dimTable.select(col("dim_value"))
      .limit(math.min(gate, Int.MaxValue - 1L).toInt + 1).collect()
    if (rows.length > gate) None
    else Some(Dimensions.sortDriverSide(dimTable.schema("dim_value").dataType,
      rows.toSeq.map(_.get(0))).toIndexedSeq)
  }

  /** Resolve `isel` against a dim's coordinate table (distinct labels in a
    * `dim_value` column, any order — the store's `dims/<dim>` table). A dim
    * within the gate is one collect plus [[resolvePositional]]'s
    * arithmetic. A dim above it never visits the driver: its labels are
    * numbered distributed ([[GlobalOrder.withGlobalSeq]]) and only the
    * labels at the asked positions are collected.
    */
  def resolve(dimTable: DataFrame, isel: ISel): Sel =
    sortedLabels(dimTable).fold(resolveDistributed(dimTable, isel))(
      resolvePositional(_, isel))

  private def resolveDistributed(dimTable: DataFrame, isel: ISel): Sel = {
    val labels = dimTable.select(col("dim_value"))
    val counts = labels.agg(count(lit(1)), count(col("dim_value"))).head()
    val size = counts.getLong(0)
    val seqd = GlobalOrder.withGlobalSeq(labels, Seq("dim_value"))
    resolveAt(size, size - counts.getLong(1), isel) { ps =>
      val at = seqd.where(col("seq").isInCollection(ps.distinct))
        .select("seq", "dim_value").collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
      ps.map(at)
    }
  }
}
