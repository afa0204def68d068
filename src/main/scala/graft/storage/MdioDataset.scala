package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.Selection
import graft.schema.{MdioSchema, SchemaJson, NamedDimension, StoreLayout}

/** MDIO store on Parquet + JSON sidecar: the physical layer behind
  * S4 `open_mdio` (`api/io.py:38-66`), S5 `to_mdio` write modes
  * (`api/io.py:69-107`), S7 copy (`commands/copy.py:49-80`, implemented
  * against its documented behavior — the reference code path is stale), and
  * S8 info (`commands/info.py:40-155`).
  *
  * Layout: `<path>/data/` — the trace table as Parquet, partitioned/sorted by
  * the leading spatial dims; `<path>/.mdio.json` — the v1 schema sidecar
  * (metadata, dims, stats, chunk grid, units). Spark reads are lazy by
  * construction (S4's laziness is free), and labeled selection (P3) becomes
  * pushdown predicates → partition/row-group pruning — the Zarr-chunk-index
  * equivalent.
  */
object MdioDataset {

  /** Write modes, mirroring `to_mdio`'s w/w-/a/r+ (`api/io.py:69-107`). */
  object WriteMode extends Enumeration {
    val W = Value("w")            // overwrite
    val WMinus = Value("w-")      // error if exists
    val A = Value("a")            // append
    val RPlus = Value("r+")       // region (dynamic partition) overwrite
  }

  private def sidecarPath(path: String) = s"$path/.mdio.json"
  private def dataPath(path: String) = s"$path/data"

  final class LayoutMismatchError(msg: String) extends IllegalArgumentException(msg)

  /** Parsed sidecar, if the path is an MDIO store (public: the DataSourceV2
    * shim and tools use it). */
  def readSidecar(spark: SparkSession, path: String): Option[MdioSchema] = {
    val p = new Path(sidecarPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      Some(SchemaJson.fromJson(json))
    }
  }

  /** S5: write the trace table + sidecar. `sortDims` drives the physical
    * clustering (repartitionByRange + sortWithinPartitions → row-group
    * min/max pruning, the chunked-store locality); `partitionDims`
    * optionally adds Hive-style directory partitions — the region-overwrite
    * unit, so keep them coarse (inline block, cable, epoch), never a
    * high-cardinality key (one directory per value).
    *
    * The layout is recorded in the sidecar at first write; `a` and `r+`
    * validate against it — a store written flat cannot be silently
    * region-overwritten into an inconsistent partitioned tree (that was a
    * round-2 bug: `r+` after a flat `w` left stale flat files beside new
    * partition dirs). Region overwrite uses the per-writer
    * `partitionOverwriteMode=dynamic` option — session conf untouched.
    */
  def write(df: DataFrame, path: String, schema: MdioSchema,
            mode: WriteMode.Value = WriteMode.W,
            sortDims: Seq[String] = Nil,
            partitionDims: Seq[String] = Nil): Unit = {
    val existing = readSidecar(df.sparkSession, path).flatMap(_.layout)
    val layout = mode match {
      case WriteMode.W | WriteMode.WMinus =>
        StoreLayout(sortDims, partitionDims, Some(df.schema.toDDL))
      case WriteMode.A | WriteMode.RPlus =>
        val stored = existing.getOrElse(throw new LayoutMismatchError(
          s"$mode write requires an existing store with a recorded layout at $path"))
        if (sortDims.nonEmpty && sortDims != stored.sortDims)
          throw new LayoutMismatchError(
            s"$mode sortDims ${sortDims.mkString(",")} != stored layout " +
              stored.sortDims.mkString(","))
        if (partitionDims.nonEmpty && partitionDims != stored.partitionCols)
          throw new LayoutMismatchError(
            s"$mode partitionDims ${partitionDims.mkString(",")} != stored layout " +
              stored.partitionCols.mkString(","))
        // schema-drift gate: an append with a changed column type would write
        // mixed-type parquet that only fails (or silently coerces) at read
        // time when the recorded DDL is re-applied. Order and nullability
        // are free; names + types must match the recorded schema exactly.
        stored.sparkSchemaDdl.foreach { ddl =>
          val want = org.apache.spark.sql.types.StructType.fromDDL(ddl)
            .map(f => f.name -> f.dataType).toMap
          val got = df.schema.map(f => f.name -> f.dataType).toMap
          if (got != want)
            throw new LayoutMismatchError(
              s"$mode schema drift: incoming [${df.schema.toDDL}] does not " +
                s"match the store's recorded schema [$ddl]")
        }
        stored
    }
    if (mode == WriteMode.RPlus && layout.partitionCols.isEmpty)
      throw new LayoutMismatchError(
        "r+ region overwrite needs a partitioned store; this one was written " +
          "flat — rewrite with w and partitionDims first")

    val cluster = layout.sortDims
    val out =
      if (cluster.isEmpty) df
      else df.repartitionByRange(cluster.map(col): _*)
             .sortWithinPartitions(cluster.map(col): _*)
    val base = mode match {
      case WriteMode.W      => out.write.mode(SaveMode.Overwrite)
      case WriteMode.WMinus => out.write.mode(SaveMode.ErrorIfExists)
      case WriteMode.A      => out.write.mode(SaveMode.Append)
      case WriteMode.RPlus  =>
        // replace only the directory partitions present in `df`
        out.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
    }
    // Honor the schema's declared compressor physically: Blosc maps to the
    // matching parquet codec (zstd default — `compressors.py:20-26`'s
    // analog), Zfp stores zstd after the quantize stage carries the loss.
    // No declaration → session default codec.
    val codec = schema.variables.flatMap(_.compressor).collectFirst {
      case b: graft.schema.Blosc => b.cname match {
        case "lz4"            => "lz4"
        case "gzip" | "zlib"  => "gzip"
        case _                => "zstd"
      }
      case _: graft.schema.Zfp => "zstd"
    }
    val writer0 =
      if (layout.partitionCols.isEmpty) base
      else base.partitionBy(layout.partitionCols: _*)
    val writer = codec.fold(writer0)(c => writer0.option("compression", c))
    writer.parquet(dataPath(path))
    writeSidecar(df.sparkSession, path, schema.copy(layout = Some(layout)))
  }

  /** Write (or rewrite) the sidecar alone — used to patch post-write
    * metadata such as stats collected during the data write (the reference
    * patches stats into Zarr attrs the same way, `segy/blocked_io.py:137-144`).
    * A recorded layout survives patches that don't carry one.
    */
  def writeSidecar(spark: SparkSession, path: String, schema: MdioSchema): Unit = {
    val withLayout =
      if (schema.layout.nonEmpty) schema
      else schema.copy(layout = readSidecar(spark, path).flatMap(_.layout))
    val p = new Path(sidecarPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(SchemaJson.toJson(withLayout).getBytes("UTF-8")) finally os.close()
  }

  /** S4: lazy open — Parquet scan handle + parsed sidecar. The recorded
    * Spark schema is re-applied so partition-column types come from the
    * sidecar, not from directory-name inference.
    */
  def open(spark: SparkSession, path: String): MdioDatasetHandle = {
    val schema = readSidecar(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no MDIO sidecar at ${sidecarPath(path)}"))
    val reader = schema.layout.flatMap(_.sparkSchemaDdl) match {
      case Some(ddl) => spark.read.schema(ddl)
      case None      => spark.read
    }
    MdioDatasetHandle(reader.parquet(dataPath(path)), schema, path)
  }

  /** Maintenance compaction for append-accumulated stores. The streaming
    * sink ([[graft.streaming.StreamingMdio]]) lands one file set per
    * micro-batch, so a long-running stream degrades scans (the small-files
    * problem — the reference's rechunking analog is
    * `optimize/access_pattern.py:26-118`). Compact rewrites `data/` into the
    * sidecar-recorded layout (range-repartitioned + sorted on the recorded
    * sortDims) at ~`targetBytesPerFile` files: row-identical, recorded DDL
    * unchanged, row-group pruning restored.
    *
    * The rewrite is [[graft.core.Compaction.rewriteInPlace]]'s: it lands in
    * a staging dir and swaps in via delete + rename, so it is safe to run
    * between stream triggers (the sink only writes during a trigger; a
    * reader that opened mid-swap retries). Returns the parquet file counts
    * (before, after).
    */
  def compact(spark: SparkSession, path: String,
              targetBytesPerFile: Long = 128L * 1024 * 1024): (Int, Int) = {
    val schema = readSidecar(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no MDIO sidecar at ${sidecarPath(path)}"))
    val layout = schema.layout.getOrElse(throw new LayoutMismatchError(
      s"compact requires a store with a recorded layout at $path"))
    graft.core.Compaction.rewriteInPlace(spark, dataPath(path), layout.partitionCols,
        layout.sparkSchemaDdl) { df =>
      // a file scan's size statistic is its data files' total bytes
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytesPerFile).toInt)
      val cluster = layout.sortDims.map(col)
      if (cluster.isEmpty) df.repartition(nOut)
      else df.repartitionByRange(nOut, cluster: _*).sortWithinPartitions(cluster: _*)
    }
  }

  /** S7: MDIO→MDIO copy, with optional column pruning (headers/traces);
    * the source's clustering layout is re-applied when its dims survive. */
  def copy(spark: SparkSession, from: String, to: String,
           excludeColumns: Seq[String] = Nil): Unit = {
    val src = open(spark, from)
    val pruned = excludeColumns.foldLeft(src.df)((d, c) => d.drop(c))
    val keptVars = src.schema.variables.filterNot(v => excludeColumns.contains(v.name))
    val srcLayout = src.schema.layout.getOrElse(StoreLayout())
    write(pruned, to, src.schema.copy(variables = keptVars, layout = None),
      sortDims = srcLayout.sortDims.filter(pruned.columns.contains),
      partitionDims = srcLayout.partitionCols.filter(pruned.columns.contains))
  }
}

/** Runtime handle: lazy DataFrame + schema; the `sel` surface (P3). */
final case class MdioDatasetHandle(df: DataFrame, schema: MdioSchema, path: String) {

  /** Notebook HTML repr (`builder/formatting_html.py:186-253`) — rendered
    * from the sidecar alone; no Spark job runs. */
  def reprHtml: String = graft.schema.FormattingHtml.datasetReprHtml(schema)

  /** Labeled selection across all variables at once (xarray `sel`). */
  def sel(sels: (String, Selection.Sel)*): DataFrame =
    Selection.sel(df, sels.toMap)

  /** POSITIONAL selection (xarray `isel`): integer positions along each
    * dim's sorted coordinate order, resolved into label predicates — so an
    * isel prunes row groups exactly like the equivalent sel. Each dim's
    * label vector comes from the store's `dims/<dim>` table in one small
    * job (read with the dim column's type, so no schema-inference job
    * runs) and positions resolve on the driver
    * ([[Selection.resolvePositional]]). Stores written without the ingest
    * pipeline have no dim tables; the labels then come from a distinct
    * scan of the dim column. A dim above `graft.dims.driverMaxValues`
    * resolves distributed ([[Selection.resolve]]).
    */
  def isel(sels: (String, Selection.ISel)*): DataFrame = {
    val spark = df.sparkSession
    sels.foldLeft(df) { case (d, (dim, is)) =>
      val dimDir = s"$path/dims/$dim"
      val hp = new Path(dimDir)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dimTable =
        if (fs.exists(hp))
          spark.read.schema(StructType(Seq(
              StructField("dim_value", df.schema(dim).dataType))))
            .parquet(dimDir)
        else df.select(col(dim).as("dim_value")).distinct()
      d.where(Selection.predicate(dim, Selection.resolve(dimTable, is)))
    }
  }

  /** S8 info: per-dim min/max/cardinality from data + sidecar metadata.
    * (Exact `countDistinct` — the QC paths J2/J3 need exactness; use
    * approx_count_distinct for interactive display at extreme scale.)
    */
  def info(): DataFrame = {
    val dims = schema.dimensions.map(_.name).filter(df.columns.contains)
    require(dims.nonEmpty, "no dimension columns present in data")
    graft.operators.Dimensions.dimSummary(df, dims)
  }

  /** Dim sizes recorded in the sidecar (fall back to data scan if absent). */
  def dimSizes: Map[String, Long] =
    schema.dimensions.map(d => d.name -> d.size).toMap
}
