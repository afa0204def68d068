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
  * J2 live-trace-count check (`ingestion/segy/pipeline.py:89-114`) and J3
  * grid density QC (`ingestion/grid_qc.py:19-69`, thresholds
  * `core/config.py:41-50`: sparsity = ∏ dimSizes / numTraces; warn > 2,
  * error > 10) share ONE two-level aggregate: a per-cell `groupBy`
  * ([[qcCells]]) reduced by [[qcAggs]]. The grid holds every trace iff the
  * cells number the traces. The ingest pipeline observes that reduction on
  * its per-cell pass, and its value sets are also the store's dim tables;
  * [[liveTraceCheck]] and [[sparsityQC]] aggregate it.
  *
  * Scale: each dim-index table has cardinality ≪ rows (it is the reference's
  * in-memory coordinate vector); `row_number` over it is a single-partition
  * window over cardinality-sized data only, and the join back to the trace
  * table is an explicit `broadcast` — no shuffle of the big side. For the
  * pathological dim whose cardinality is NOT metadata-sized, callers pass
  * the cardinality (known from the grid QC) and any dim over
  * `graft.dims.driverMaxValues` numbers through the over-gate branch
  * instead: distributed distinct → [[GlobalOrder.withGlobalSeq]] (two-pass
  * zipWithIndex, no single-partition window) → plain equi-join (sort-merge;
  * the index side is too big to broadcast by assumption).
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
    * making under-estimation the only dangerous direction.
    */
  def withDimIndices(df: DataFrame, dims: Seq[String],
                     cardinalities: Map[String, Long] = Map.empty): DataFrame = {
    val gate = Dimensions.driverMaxValues(df.sparkSession)
    val unknown = dims.filterNot(cardinalities.contains)
    val measured: Map[String, Long] =
      if (unknown.isEmpty) Map.empty
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

  /** J3 thresholds (`core/config.py:41-50`): a grid with more than 2× as
    * many cells as traces warns, more than 10× fails. */
  val SparsityWarn = 2.0
  val SparsityError = 10.0

  final class GridTraceCountError(msg: String) extends RuntimeException(msg)
  final class GridSparsityError(msg: String) extends RuntimeException(msg)

  /** The J2/J3 facts of a grid: traces, occupied cells, each dim's exact
    * cardinality and, for a dim within the gate, its sorted value vector
    * (the dim table). */
  final case class GridQC(nRows: Long, nCells: Long, cardinalities: Map[String, Long],
                          values: Map[String, Seq[Any]]) {
    /** J2: the grid holds every trace iff no two traces share a cell. */
    def allUnique: Boolean = nCells == nRows
    def gridSize: BigInt = cardinalities.values.map(BigInt(_)).product
    /** J3: ∏ dim sizes / traces. */
    def sparsity: Double = gridSize.toDouble / nRows
  }

  /** The J2/J3 per-cell level: one row per `cells` tuple with its trace
    * count `_cnt`. Each of `coords` rides along as its value on the row
    * with the least `orderKey` (C1's first-by-order rule) plus that key as
    * `__ok`, so coordinate tables over a subset of the cells reduce from
    * this table ([[Coordinates.populateCoordinate]] by `__ok`, the
    * winner of winners) instead of from the store. */
  def qcCells(df: DataFrame, cells: Seq[String], coords: Seq[String] = Nil,
              orderKey: Option[String] = None): DataFrame = {
    val coordAggs = orderKey.filter(_ => coords.nonEmpty).toSeq.flatMap(k =>
      coords.map(c => min_by(col(c), col(k)).as(c)) :+ min(col(k)).as("__ok"))
    df.groupBy(cells.map(col): _*).agg(count(lit(1)).as("_cnt"), coordAggs: _*)
  }

  /** The value-set gate of [[qcAggs]]: `graft.dims.driverMaxValues`, kept
    * clear of the array-size limit. */
  def valueGate(spark: org.apache.spark.sql.SparkSession): Int =
    math.min(Dimensions.driverMaxValues(spark), Int.MaxValue - 2L).toInt

  /** The J2/J3 reduction of [[qcCells]], one definition for ingest (which
    * observes it on its per-cell pass) and the J2/J3 operators (which
    * aggregate it): traces `n_rows`, the fullest cell `__max_cnt`, cells
    * whose dims are all non-null `n_cells` (countDistinct's rule), and per
    * dim its sorted non-null value set `__v_<d>`, sliced at `maxVals + 1`
    * so the row stays bounded; a set that arrives that long marks its dim
    * over the gate. No countDistinct rides along: its Expand cost +0.9 s
    * on the sf0.1 ingest when it did.
    */
  def qcAggs(cells: Seq[String], maxVals: Int): Seq[Column] =
    Seq(coalesce(sum(col("_cnt")), lit(0L)).as("n_rows"),
        coalesce(max(col("_cnt")), lit(0L)).as("__max_cnt"),
        count(when(cells.map(d => col(d).isNotNull).reduce(_ && _), lit(1)))
          .as("n_cells")) ++
      cells.map(d => slice(sort_array(collect_set(col(d))), 1, maxVals + 1)
        .as(s"__v_$d"))

  /** Resolve the [[qcAggs]] values `m` of the per-cell table `cellsDf` into
    * the grid's facts. A dim whose value set arrived over the gate gets its
    * exact cardinality from ONE countDistinct aggregate over `cellsDf` for
    * all such dims (a job only in that pathological case). `counter` is a
    * uniqueness counter (G3/G4) outside the cells: its labels are 1..the
    * fullest cell by construction, and every trace has its own cell.
    */
  def gridQC(cellsDf: DataFrame, m: Map[String, Any], cells: Seq[String],
             counter: Option[String], maxVals: Int): GridQC = {
    def g(name: String): Long = Option(m(name)).fold(0L)(_.asInstanceOf[Long])
    val maxCnt = g("__max_cnt")
    val vals: Map[String, Seq[Any]] =
      cells.map(d => d -> m(s"__v_$d").asInstanceOf[collection.Seq[Any]].toSeq)
        .filter { case (_, v) => v.sizeIs <= maxVals }.toMap ++
        counter.filter(_ => maxCnt <= maxVals).map(_ -> (1L to maxCnt))
    val overGate = cells.filterNot(vals.contains)
    val exact: Map[String, Long] =
      if (overGate.isEmpty) Map.empty
      else {
        val aggs = overGate.map(d => countDistinct(col(d)).as(d))
        val r = cellsDf.agg(aggs.head, aggs.tail: _*).collect().head
        overGate.map(d => d -> r.getAs[Long](d)).toMap
      }
    val cards = cells.map(d => d -> vals.get(d).fold(exact(d))(_.size.toLong)).toMap ++
      counter.map(_ -> maxCnt)
    GridQC(g("n_rows"), if (counter.nonEmpty) g("n_rows") else g("n_cells"), cards, vals)
  }

  /** [[gridQC]] of `df` with every dim a cell: the J2/J3 operators' entry. */
  def gridQC(df: DataFrame, dims: Seq[String]): GridQC = {
    val cellsDf = qcCells(df, dims)
    val maxVals = valueGate(df.sparkSession)
    val aggs = qcAggs(dims, maxVals)
    val row = cellsDf.agg(aggs.head, aggs.tail: _*).collect().head
    gridQC(cellsDf, row.getValuesMap[Any](row.schema.fieldNames.toSeq), dims, None, maxVals)
  }

  /** The J2/J3 verdict: throws [[GridTraceCountError]] when traces share
    * cells and [[GridSparsityError]] when sparsity exceeds `error` (both
    * unless `ignoreChecks`); returns the warning when it exceeds `warn`. */
  def checkGrid(qc: GridQC, warn: Double = SparsityWarn, error: Double = SparsityError,
                ignoreChecks: Boolean = false): Option[String] = {
    if (!qc.allUnique && !ignoreChecks)
      throw new GridTraceCountError(
        s"grid holds ${qc.nCells} cells for ${qc.nRows} traces — duplicate index " +
        "tuples (use HasDuplicates/NonBinned overrides)")
    if (qc.sparsity > error && !ignoreChecks)
      throw new GridSparsityError(f"grid sparsity ${qc.sparsity}%.2f exceeds $error")
    if (qc.sparsity > warn)
      Some(f"grid sparsity ${qc.sparsity}%.2f exceeds $warn (warn threshold)")
    else None
  }

  /** J2 as a one-row frame: `n_rows`, `n_cells`, `all_unique`. Lazy — the
    * value sets of [[qcAggs]] are pruned, so no dim visits the driver. */
  def liveTraceCheck(df: DataFrame, dims: Seq[String]): DataFrame = {
    val aggs = qcAggs(dims, valueGate(df.sparkSession))
    qcCells(df, dims).agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), col("n_cells"),
        (col("n_rows") === col("n_cells")).as("all_unique"))
  }

  /** J3 as a one-row frame from [[gridQC]]: `n_rows`, `<d>_n` per dim,
    * `grid_size`, `sparsity` and the `warn`/`error` flags (null on an
    * empty input). */
  def sparsityQC(df: DataFrame, dims: Seq[String],
                 warnRatio: Double = SparsityWarn,
                 errorRatio: Double = SparsityError): DataFrame = {
    val qc = gridQC(df, dims)
    val sparsity = if (qc.nRows > 0) lit(qc.sparsity) else lit(null).cast("double")
    df.sparkSession.range(1).select((lit(qc.nRows).as("n_rows") +:
      dims.map(d => lit(qc.cardinalities(d)).as(s"${d}_n"))) ++
      Seq(lit(qc.gridSize.toLong).as("grid_size"), sparsity.as("sparsity"),
        (sparsity > warnRatio).as("warn"), (sparsity > errorRatio).as("error")): _*)
  }
}
