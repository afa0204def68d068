package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The grid map: sparse→dense cell indexing and its invariants.
  *
  * J1 `Grid.build_map` (reference `core/grid.py:95-146`) assigns each trace a
  * dense cell index by `np.searchsorted(dimCoords, headerValue)` per spatial
  * dim. In Spark the dense scatter array disappears: the same information is a
  * broadcast equi-join of the trace table against each (tiny) sorted-distinct
  * dimension table carrying a 0-based ordinal.
  *
  * J2 live-trace-count check (`ingestion/segy/pipeline.py:89-114`): the grid
  * holds every trace iff the dim tuples are unique — `countDistinct(dims*) ==
  * count(*)`.
  *
  * J3 grid density QC (`ingestion/grid_qc.py:19-69`, thresholds
  * `core/config.py:41-50`): sparsity = ∏ dimSizes / numTraces; warn > 2,
  * error > 10.
  *
  * Scale: each dim-index table has cardinality ≪ rows (it is the reference's
  * in-memory coordinate vector); `row_number` over it is a single-partition
  * window over cardinality-sized data only, and the join back to the trace
  * table is an explicit `broadcast` — no shuffle of the big side. For the
  * pathological dim whose cardinality is NOT metadata-sized, callers pass
  * the cardinality (known from the invariant pass, like the ingest tail's
  * `writeDimTables`) and any dim over `graft.dims.driverMaxValues` numbers
  * through the over-gate branch instead: distributed distinct →
  * [[GlobalOrder.withGlobalSeq]] (two-pass zipWithIndex, no single-partition
  * window) → plain equi-join (sort-merge; the index side is too big to
  * broadcast by assumption).
  */
object GridIndex {

  /** Sorted-distinct dim values with 0-based ordinal — the searchsorted table. */
  def dimIndex(df: DataFrame, dim: String): DataFrame = {
    val w = Window.orderBy(col(dim))
    df.select(col(dim)).where(col(dim).isNotNull).distinct()
      .withColumn(s"${dim}_idx", (row_number().over(w) - 1).cast("long"))
  }

  /** The over-gate searchsorted table: identical ordinals to [[dimIndex]]
    * (ascending sort, 0-based) but no single-partition window — the
    * distinct stays distributed and numbering is the two-pass zipWithIndex.
    */
  def dimIndexDistributed(df: DataFrame, dim: String): DataFrame =
    GlobalOrder.withGlobalSeq(
      df.select(col(dim)).where(col(dim).isNotNull).distinct(),
      Seq(dim), out = s"${dim}_idx")

  /** J1: annotate each row with per-dim ordinals. Dims whose cardinality
    * exceeds the gate take the distributed branch and a sort-merge join;
    * everything else broadcasts a [[dimIndex]] table.
    *
    * Cardinality comes from the caller when known (the ingest tail knows it
    * from the invariant pass — exact, no extra scan). Dims with UNKNOWN
    * cardinality are pre-checked with ONE `approx_count_distinct` aggregate
    * over all of them together (a single column-pruned scan) so a
    * pathological 10⁷-value dim can never reach the single-partition
    * `row_number` window. The measured estimate carries HLL error (~2%), so
    * it routes through the distributed branch from 80% of the gate — the
    * distributed branch is merely slower for small dims, never wrong,
    * making under-estimation the only dangerous direction. Set
    * `graft.dims.precheck=false` to restore the scan-free lazy plan when
    * the caller is certain every dim is metadata-sized.
    */
  def withDimIndices(df: DataFrame, dims: Seq[String],
                     cardinalities: Map[String, Long] = Map.empty): DataFrame = {
    val gate = Dimensions.driverMaxValues(df.sparkSession)
    val precheck = df.sparkSession.conf
      .getOption("graft.dims.precheck").forall(_.toBoolean)
    val unknown = dims.filterNot(cardinalities.contains)
    val measured: Map[String, Long] =
      if (!precheck || unknown.isEmpty) Map.empty
      else {
        val aggs = unknown.map(d => approx_count_distinct(col(d)).as(d))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        unknown.zipWithIndex.map { case (d, i) => d -> row.getLong(i) }.toMap
      }
    dims.foldLeft(df) { (acc, d) =>
      val overGate = cardinalities.get(d) match {
        case Some(exact) => exact > gate
        case None        => measured.getOrElse(d, 0L) > gate * 4 / 5
      }
      if (overGate) acc.join(dimIndexDistributed(df, d), Seq(d))
      else acc.join(broadcast(dimIndex(df, d)), Seq(d))
    }
  }

  /** J1: row-major (C-order) flat cell ordinal over the given dims.
    * Sizes of trailing dims drive the stride; they ride along as a
    * broadcast one-row aggregate (ONE extra column-pruned scan for all dims
    * together), so the whole operator is a single lazy plan — no per-dim
    * `count()` actions against the base table (round 2 ran 2 scans per dim:
    * one inside the index join, one for the eager size).
    */
  def withCellOrdinal(df: DataFrame, dims: Seq[String], out: String = "cell",
                      cardinalities: Map[String, Long] = Map.empty): DataFrame = {
    val indexed = withDimIndices(df, dims, cardinalities)
    val sizeCols = dims.map(d => countDistinct(col(d)).as(s"__sz_$d"))
    val sizesRow = df.agg(sizeCols.head, sizeCols.tail: _*)
    // C-order strides: stride(i) = product of sizes of dims after i
    val cell = dims.zipWithIndex.map { case (d, i) =>
      dims.drop(i + 1).map(d2 => col(s"__sz_$d2"))
        .foldLeft(col(s"${d}_idx").cast("long"))(_ * _)
    }.reduce(_ + _)
    indexed.join(broadcast(sizesRow))   // scalar row — broadcast-nested-loop
      .withColumn(out, cell.cast("long"))
      .drop(dims.map(d => s"__sz_$d"): _*)
  }

  /** J2: one-row invariant check — grid holds every trace iff dim tuples unique. */
  def liveTraceCheck(df: DataFrame, dims: Seq[String]): DataFrame = {
    val dcols = dims.map(col)
    df.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(dcols.head, dcols.tail: _*).as("n_cells"),
    ).withColumn("all_unique", col("n_rows") === col("n_cells"))
  }

  /** J3: sparsity ratio with warn/error thresholds (2× / 10× defaults). */
  def sparsityQC(df: DataFrame, dims: Seq[String],
                 warnRatio: Double = 2.0, errorRatio: Double = 10.0): DataFrame = {
    val aggs: Seq[Column] =
      count(lit(1)).as("n_rows") +: dims.map(d => countDistinct(col(d)).as(s"${d}_n"))
    val gridSize = dims.map(d => col(s"${d}_n")).reduce(_ * _)
    df.agg(aggs.head, aggs.tail: _*)
      .withColumn("grid_size", gridSize.cast("long"))
      .withColumn("sparsity", when(col("n_rows") > 0,
        col("grid_size").cast("double") / col("n_rows")))
      .withColumn("warn", col("sparsity") > warnRatio)
      .withColumn("error", col("sparsity") > errorRatio)
  }
}
