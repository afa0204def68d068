package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O1 `optimize_access_patterns` — materialized alternate clusterings.
  *
  * Reference `optimize/access_pattern.py:26-118`: for each requested dim,
  * write a `fast_<dim>` copy of the default variable rechunked for that
  * access axis, optionally lossy-compressed with tolerance = quality × std.
  * In Spark the "rechunk" is a `repartitionByRange(dim) + sortWithinPartitions
  * (dim)` rewrite: the same rows, clustered so predicates on `dim` prune
  * files via Parquet min/max stats. As in the reference, a reader picks a
  * copy by name ([[resolve]] or [[fastTablePath]]); a store's own scan
  * always reads its exact data.
  */
object AccessPatterns {

  def fastTablePath(basePath: String, dim: String): String = s"$basePath/fast_$dim"

  /** Materialize one clustering per requested dim under `basePath`. */
  def optimize(df: DataFrame, basePath: String, dims: Seq[String],
               partitions: Int = 0): Unit =
    dims.foreach { d =>
      val n = if (partitions > 0) partitions
        else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      df.repartitionByRange(n, col(d))
        .sortWithinPartitions(col(d))
        .write.mode("overwrite")
        .parquet(fastTablePath(basePath, d))
    }

  /** Bit-interleaved Z-order (Morton) key over N non-negative integer dims:
    * bit i of dim j lands at key bit `i·N + j`, so nearby (dim₁, …, dimN)
    * tuples share key prefixes and a sort by the key clusters
    * MULTI-dimensional locality into the same files — the layout a
    * `fast_<dim>` single-axis clustering cannot give when queries slice on
    * two grid dims at once (inline AND crossline bounding boxes, the P6
    * access shape). Same idea as Delta Lake's `OPTIMIZE ZORDER BY`; built
    * from codegen'd shift/mask builtins, unrolled at plan time (`bits`
    * words per dim, a literal-width expression).
    *
    * Values must fit `bits` bits; out-of-range fails LOUDLY (same
    * philosophy as the SEG-Y writer's overflow guard — a silently masked
    * coordinate would cluster the row in the wrong region). Dims with
    * negative or huge coordinates z-order their RANK (dim-table ordinal),
    * not the raw value.
    */
  def zorderKey(dims: Seq[Column], bits: Int): Column = {
    val n = dims.size
    require(n >= 2, s"Z-order interleaves >= 2 dims, got $n (use fast_<dim>)")
    require(bits >= 1 && n * bits <= 63,
      s"$n dims x $bits bits must fit a signed 64-bit key")
    val lim = 1L << bits
    val longs = dims.map(_.cast("bigint"))
    val inRange = longs.map(_.between(0, lim - 1)).reduce(_ && _)
    val key = (for {
      i <- 0 until bits
      (c, j) <- longs.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j))
      .reduce(_ bitwiseOR _)
    when(
      assert_true(inRange, concat(
        lit(s"z-order dim value out of [0, ${lim - 1}]: "),
        concat_ws(",", longs.map(_.cast("string")): _*))).isNull, key)
  }

  def zorderTablePath(basePath: String, dims: Seq[String]): String =
    s"$basePath/fast_z_${dims.mkString("_")}"

  /** Materialize the multi-dim clustering: rows range-partitioned AND
    * sorted by the interleaved key (files then hold disjoint key ranges,
    * and parquet min/max on the ORIGINAL dim columns stay tight within
    * each file because the key clusters both dims). One shuffle,
    * write-dominated — the same cost envelope as a single-dim fast copy.
    *
    * By default the transient `_zkey` sort column is DROPPED before the
    * write (the projection after the sort keeps row order), so the layout
    * is schema-identical to the base table and a query written against the
    * base reads it unchanged; `keepKey = true` stores it for inspection.
    */
  def optimizeZorder(df: DataFrame, basePath: String, dims: Seq[String],
                     bits: Int, partitions: Int = 0,
                     keepKey: Boolean = false): String = {
    val n = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val path = zorderTablePath(basePath, dims)
    val keyed = df.withColumn("_zkey", zorderKey(dims.map(col), bits))
      .repartitionByRange(n, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
    (if (keepKey) keyed else keyed.drop("_zkey"))
      .write.mode("overwrite")
      .parquet(path)
    path
  }

  /** ZFP-tolerance parity: quantize to the given absolute tolerance before
    * (Parquet-)compressing — `round(x / (2·tol)) · 2·tol`, an explicit,
    * honest approximation of fixed-accuracy ZFP (`optimize/common.py:42-53`;
    * tolerance = quality × std, quality ∈ {6,3,1,0.1,0.01,0.001}).
    */
  def quantize(c: Column, tolerance: Double): Column = {
    require(tolerance > 0, "tolerance must be positive")
    (round(c / (2 * tolerance)) * (2 * tolerance))
  }

  /** Transform-coded storage form of [[quantize]] for TRACE (array<float|
    * double>) variables: the integer quantization indices, residual-coded
    * by an adaptive order-0..3 polynomial predictor, zigzagged, byte-plane
    * transposed, as one `binary` value per trace
    * ([[graft.functions.QuantPackExprs]]). Parquet+zstd then entropy-codes
    * planes of near-zeros instead of grid-structured float mantissas —
    * this is what closes the tight-tolerance gap to ZFP-style coding
    * (`optimize/common.py:31-53`); ratios per tier in CompressionStudy
    * (`bench/compression_ratios.json`).
    *
    * Regime rule (measured): use packed at TIGHT tolerances (q ≤ 0.01 —
    * up to 2.3× smaller than quantized floats on band-limited traces,
    * and within the fixture's computable entropy floor on noisy ones);
    * at coarse tolerances (q ≥ 0.1) stay with plain [[quantize]] floats —
    * Parquet's cross-trace dictionary+RLE beats any per-trace byte codec
    * when only a handful of distinct values survive quantization.
    */
  def packQuantized(samples: Column, tolerance: Double): Column =
    graft.functions.QuantPackExprs.pack(samples, tolerance)

  /** Inverse of [[packQuantized]]; bit-identical to
    * `transform(samples, x => quantize(x).cast(float))` of the original.
    */
  def unpackQuantized(bin: Column, tolerance: Double): Column =
    graft.functions.QuantPackExprs.unpack(bin, tolerance)

  /** The stats→tolerance link (`optimize/access_pattern.py:91-118`): lossy
    * fast-copy tolerance for a store variable = `quality × std`, with std
    * taken from the SIDECAR statistics written at ingest — never a fresh
    * data scan.
    */
  def toleranceFor(handle: graft.storage.MdioDatasetHandle, variable: String,
                   quality: Double): Double = {
    val stats = handle.schema.variable(variable)
      .flatMap(_.metadata).flatMap(_.statsV1)
      .getOrElse(throw new IllegalArgumentException(
        s"variable $variable has no sidecar statistics — ingest writes them"))
    quality * stats.std
  }

  /** O1 on a store: write a `fast_<dim>` clustering of the store's data per
    * requested dim through [[optimize]], each with its own sidecar. Quality 0
    * copies the rows exactly. A positive quality quantizes `variable` to
    * tolerance = quality × sidecar-std (element-wise for a trace array,
    * keeping its element type) and records the Zfp tolerance in each copy's
    * sidecar, so a reader knows the copy is lossy and by how much (the
    * reference stores the same in the ZFP codec config). Returns the
    * tolerance, 0 when lossless.
    */
  def optimizeStore(handle: graft.storage.MdioDatasetHandle, dims: Seq[String],
                    variable: String, quality: Double,
                    partitions: Int = 0): Double = {
    import graft.schema.Zfp
    import org.apache.spark.sql.types.ArrayType
    val lossy = quality > 0.0
    val tol = if (lossy) toleranceFor(handle, variable, quality) else 0.0
    val data =
      if (!lossy) handle.df
      else handle.df.withColumn(variable, handle.df.schema(variable).dataType match {
        case ArrayType(et, _) => transform(col(variable), x => quantize(x, tol).cast(et))
        case _ => quantize(col(variable), tol)
      })
    optimize(data, handle.path, dims, partitions)
    val fastSchema =
      if (!lossy) handle.schema
      else handle.schema.copy(variables = handle.schema.variables.map(v =>
        if (v.name == variable)
          v.copy(compressor = Some(Zfp("fixed_accuracy", tolerance = Some(tol))))
        else v))
    dims.foreach(d => graft.storage.MdioDataset.writeSidecar(
      handle.df.sparkSession, fastTablePath(handle.path, d), fastSchema))
    tol
  }

  /** Read the materialization for a predicate dim by name: `fast_<dim>`
    * when it exists, else the base table. The caller's query shape is
    * unchanged either way.
    */
  def resolve(spark: SparkSession, basePath: String, baseTable: String,
              predicateDim: String): DataFrame = {
    val fast = new Path(fastTablePath(basePath, predicateDim))
    val fs = fast.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(fast)) spark.read.parquet(fast.toString)
    else spark.read.parquet(s"$basePath/$baseTable")
  }
}
