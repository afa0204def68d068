package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.JobDesc
import graft.ingestion.{GridOverrides, IngestPipeline}
import graft.operators.GridIndex
import graft.schema.{DatasetTemplate, MdioSchema}
import graft.storage.{MdioDataset, MdioDatasetHandle}

/** The library's front door, mirroring the reference's public `mdio` module
  * surface name-for-name (reference `src/mdio/__init__.py:7-31`): a user of
  * the reference finds every top-level entry point here under its Scala
  * name, delegating to the operator modules that implement it.
  *
  *  - `open_mdio`   → [[openMdio]]   (lazy handle + sidecar, `api/io.py:38-66`)
  *  - `to_mdio`     → [[toMdio]]     (w/w-/a/r+ modes, `api/io.py:69-107`);
  *                    the DataFrame surface is `df.write.format("mdio")`
  *  - `segy_to_mdio`→ [[segyStandardToMdio]] for a file or directory of
  *                    files, [[segyToMdio]] for a trace frame (ingest
  *                    pipeline, `converters/segy.py:44-80`)
  *  - `mdio_to_segy`→ [[mdioToStandardSegy]] (masked export,
  *                    `segy/mdio_to_segy.py`)
  *  - `optimize_access_patterns` → [[optimizeAccessPatterns]]
  *                    (`optimize/access_pattern.py:26-118`)
  *  - `GridOverrides` / `ResolvedSchema` → the same names in
  *    [[graft.ingestion]] / [[graft.schema]]
  *  - plus the CLI verbs `copy` ([[copyMdio]]) and `info` ([[info]]).
  */
object Mdio {

  /** S4: open a store lazily — DataFrame handle + parsed sidecar schema. */
  def openMdio(spark: SparkSession, path: String): MdioDatasetHandle =
    MdioDataset.open(spark, path)

  /** S5: write a trace table + schema sidecar with the reference's mode
    * alphabet (`w` overwrite, `w-` error-if-exists, `a` append, `r+` region
    * overwrite of the partitions present in `df`). */
  def toMdio(df: DataFrame, path: String, schema: MdioSchema,
             mode: MdioDataset.WriteMode.Value = MdioDataset.WriteMode.W,
             sortDims: Seq[String] = Nil,
             partitionDims: Seq[String] = Nil): Unit =
    MdioDataset.write(df, path, schema, mode, sortDims, partitionDims)

  /** S3 + G2–G11 + J2/J3 + A1–A3 + C1–C4: the full ingest pipeline — schema
    * resolve, index strategies, grid QC, write-pass statistics, dim and
    * coordinate tables. */
  def segyToMdio(spark: SparkSession, traces: DataFrame,
                 template: DatasetTemplate, overrides: GridOverrides,
                 path: String, ordinal: Seq[String], valueCol: String,
                 rawHeaderFields: Seq[String] = Nil): IngestPipeline.IngestResult =
    IngestPipeline.ingest(spark, traces, template, overrides, path,
      ordinal, valueCol, rawHeaderFields = rawHeaderFields)

  /** The FILE-path entry point — the reference's `segy_to_mdio` takes a URL
    * (`segy/file.py:152-186`) — for one standard-layout SEG-Y file or a
    * directory of shot files ingested as ONE dataset. Traces arrive
    * through the segy DSv2 scan: geometry self-described by the binary
    * header, header-only passes column-pruned down to the byte layer (240 B
    * read per trace), and samples decoded once, in the reader, by the one
    * sample codec. The
    * decoded `samples` column is renamed to `valueCol`, so the store keeps
    * one copy of the trace payload. `fields` are entries of the scan's
    * `fields` option: standard rev-1 names (the DSv2 catalog) or custom
    * `name@<byte>:<type>` fields. The ordinal is `trace_index`, led by
    * `source_file` for a directory, so duplicate in-file indexes across
    * members stay distinct.
    */
  def segyStandardToMdio(spark: SparkSession, segyPath: String,
                         fields: Seq[String],
                         template: DatasetTemplate, overrides: GridOverrides,
                         path: String, valueCol: String,
                         sparsityWarn: Double = GridIndex.SparsityWarn,
                         sparsityError: Double = GridIndex.SparsityError,
                         ignoreChecks: Boolean = false,
                         attributes: Map[String, String] = Map.empty)
      : IngestPipeline.IngestResult = {
    val traces = spark.read.format("segy")
      .option("fields", fields.mkString(","))
      .load(segyPath)
    require(valueCol == "samples" || !traces.columns.contains(valueCol),
      s"segy field '$valueCol' collides with the value column")
    val ordinal =
      if (traces.columns.contains("source_file")) Seq("source_file", "trace_index")
      else Seq("trace_index")
    IngestPipeline.ingest(spark, traces.withColumnRenamed("samples", valueCol),
      template, overrides, path, ordinal, valueCol,
      sparsityWarn, sparsityError, ignoreChecks, attributes = attributes)
  }

  /** [[segyStandardToMdio]] for a DIRECTORY of shot files: a real survey is
    * thousands of files under one prefix. Members are uniform-geometry
    * validated and split per (file, trace range), with `source_file`
    * carried; `fields` are standard rev-1 names.
    */
  def segyDirToMdio(spark: SparkSession, segyDir: String,
                    fields: Seq[String],
                    template: DatasetTemplate, overrides: GridOverrides,
                    path: String, valueCol: String,
                    sparsityWarn: Double = GridIndex.SparsityWarn,
                    sparsityError: Double = GridIndex.SparsityError,
                    ignoreChecks: Boolean = false,
                    attributes: Map[String, String] = Map.empty)
      : IngestPipeline.IngestResult = {
    val dir = new org.apache.hadoop.fs.Path(segyDir)
    require(dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(dir).isDirectory,
      s"$segyDir is not a directory of SEG-Y files; ingest one file with " +
        "segyStandardToMdio")
    segyStandardToMdio(spark, segyDir, fields, template, overrides, path,
      valueCol, sparsityWarn, sparsityError, ignoreChecks, attributes)
  }

  /** E1–E5: masked, globally ordered SEG-Y export of an open store in the
    * standard rev-1 layout — real 240-byte trace headers at spec offsets
    * and a self-describing binary header, so the output opens in any SEG-Y
    * tool (and in `spark.read.format("segy")`). `samplesCol` must hold
    * float samples of fixed length `nSamples`; they encode as format-1
    * IBM32 through the native kernel. `columns` are staged on the store's
    * rows before the mask (row-local expressions, as `withColumn`).
    *
    * The trace order comes from one of [[graft.export.SegyExport]]'s two
    * arms. When `handle` is the scan `openMdio` returned and the store's
    * part files already hold the masked traces in `orderKeys` order, the
    * store-order arm writes them as they lie: a key job and the write
    * ([[graft.export.SegyExport.storeOrdered]]). Otherwise the sort arm
    * range-sorts them ([[graft.export.SegyExport.maskedOrder]]). Every job
    * is labelled `export: <arm>`; the arm is returned, "store order" or
    * "sort: <reason>".
    */
  def mdioToStandardSegy(handle: MdioDatasetHandle, outFile: String,
                         mask: Column,
                         dims: Seq[String],
                         fieldCols: Seq[(graft.sources.SegyRead.HeaderField, String)],
                         orderKeys: Seq[String], samplesCol: String,
                         nSamples: Int, sampleInterval: Int,
                         textHeader: Seq[String],
                         columns: Seq[(String, Column)] = Nil): String = {
    import org.apache.spark.sql.functions.col
    import graft.export.SegyExport
    val spark = handle.df.sparkSession
    val headerFields = (fieldCols.map(_._2) :+ samplesCol).distinct
    val binaryHeader = SegyExport.standardBinaryHeader(nSamples, sampleInterval,
      formatCode = 1)
    def write(ordered: DataFrame, counts: Option[Seq[Long]]): Unit =
      SegyExport.writeSegy(
        SegyExport.serializeStandardTraces(ordered.withColumn("_pay",
          SegyExport.ibmPayload(col(samplesCol), nSamples)), fieldCols, "_pay"),
        outFile, textHeader, binaryHeader, knownCounts = counts)
    SegyExport.storeOrdered(handle, columns, mask, dims, headerFields,
        orderKeys) match {
      case Right((frame, counts)) =>
        JobDesc.withDesc(spark, "export: store order: write")(write(frame, Some(counts)))
        "store order"
      case Left(reason) =>
        JobDesc.withDesc(spark, s"export: sort: $reason")(write(SegyExport.maskedOrder(
          SegyExport.stage(handle.df, columns), mask, dims, headerFields, orderKeys), None))
        s"sort: $reason"
    }
  }

  /** O1: materialize `fast_<dim>` clustered (optionally quantized) copies
    * and register them so [[graft.plans.AccessPatternRule]] swaps scans. */
  def optimizeAccessPatterns(handle: MdioDatasetHandle, dims: Seq[String],
                             variable: String, quality: Double = 0.0): Double = {
    val tol =
      if (quality > 0.0)
        graft.operators.AccessPatterns.optimizeStore(handle, dims, variable, quality)
      else {
        graft.operators.AccessPatterns.optimize(handle.df, handle.path, dims)
        0.0
      }
    dims.foreach { d =>
      graft.plans.AccessPatternCatalog.register(s"${handle.path}/data", d,
        graft.operators.AccessPatterns.fastTablePath(handle.path, d))
    }
    tol
  }

  /** Maintenance: fold append-accumulated micro-batch files back into the
    * sidecar-recorded layout (row-identical; safe between stream triggers).
    * The reference's rechunking analog is `optimize/access_pattern.py:26-118`.
    * Returns the parquet file counts (before, after). */
  def compactMdio(spark: SparkSession, path: String): (Int, Int) =
    MdioDataset.compact(spark, path)

  /** S7: store→store copy with optional column pruning. */
  def copyMdio(spark: SparkSession, from: String, to: String,
               excludeColumns: Seq[String] = Nil): Unit =
    MdioDataset.copy(spark, from, to, excludeColumns)

  /** S8: per-dim min/max/cardinality + sidecar metadata. */
  def info(spark: SparkSession, path: String): DataFrame =
    openMdio(spark, path).info()
}
