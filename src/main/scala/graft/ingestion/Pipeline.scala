package graft.ingestion

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.JobDesc.withDesc
import graft.operators.{Coordinates, Dimensions, GridIndex}
import graft.schema._
import graft.storage.MdioDataset

/** The end-to-end ingestion pipeline — the Spark shape of
  * `ingestion/segy/pipeline.py:117-195` (§3.1 of SURVEY.md):
  *
  * 1. validate spec fields vs schema (`ingestion/segy/validation.py:15-38`)
  * 2. schema resolve: template + override effect → ResolvedSchema
  * 3. index-strategy transform (G2–G9) on the trace table
  * 4. calculated-dim verification (G11, `pipeline.py:65-87`)
  * 5. grid invariants: trace-count uniqueness (J2, `pipeline.py:89-114`) and
  *    sparsity QC (J3, `ingestion/grid_qc.py:19-69`)
  * 6. summary statistics (A1–A3, `segy/_workers.py:179-194` + merge)
  * 7. dimension tables (G1/C2) + store write with sidecar (S3/S5)
  *
  * The source is read in two passes: a header pre-pass of column-pruned
  * aggregates (channel-wrap detection, then the grid QC whose value sets
  * are also the dim tables), and the store write, whose one range exchange
  * is the only shuffle of the trace payload. The only driver-side values
  * are metadata-sized (per-cable channel ranges, QC scalars and dim
  * vectors, the stats row). A shot-wrap stage is the exception: its window
  * shuffles the rows on its own key, so its grid QC aggregates the
  * transformed rows instead of the header pre-pass.
  */
object IngestPipeline {

  /** @param sparsityWarning the J3 warning (`ingestion/grid_qc.py:19-69`)
    *   when the grid sparsity exceeds the warn threshold, else None */
  final case class IngestResult(
      path: String,
      schema: ResolvedSchema,
      nTraces: Long,
      nCells: Long,
      sparsity: Double,
      stats: SummaryStatistics,
      sparsityWarning: Option[String])

  /** Ingest `traces` under `template` (+`overrides`) into an MDIO store.
    *
    * @param ordinal  explicit file-order columns for counter strategies
    * @param valueCol amplitude-like column for summary statistics
    * @param sparsityWarn/sparsityError thresholds (`core/config.py:41-50`)
    * @param ignoreChecks like MDIO_IGNORE_CHECKS (`core/config.py:73-77`)
    * @param rawHeaderFields when non-empty, pack these header fields into a
    *   240-byte `raw_headers` V240 variable stored beside the parsed columns
    *   (the reference's raw-headers ingest switch,
    *   `ingestion/segy/raw_headers.py:32-64`)
    * @param attributes extra dataset attributes for the sidecar, beside the
    *   grid-override provenance (e.g. the source file's sample interval)
    */
  def ingest(spark: SparkSession, traces: DataFrame, template: DatasetTemplate,
             overrides: GridOverrides, path: String,
             ordinal: Seq[String], valueCol: String,
             sparsityWarn: Double = GridIndex.SparsityWarn,
             sparsityError: Double = GridIndex.SparsityError,
             ignoreChecks: Boolean = false,
             rawHeaderFields: Seq[String] = Nil,
             attributes: Map[String, String] = Map.empty): IngestResult = {

    // 1-2: resolve schema; validate override/template pairing and required
    // header fields
    IndexStrategyRegistry.validateOverridesForTemplate(overrides, template)
    val effect = IndexStrategyRegistry.schemaEffect(overrides, template)
    val resolved = SchemaResolver.resolve(template, effect)
    // P1 semantics: required = schema fields ∩ available spec fields — absent
    // coordinates are simply not read (`ingestion/segy/reader.py:47-57`);
    // only the non-calculated spatial DIMS are hard requirements.
    val available = traces.columns.toSet
    val hardRequired = resolved.dimensions.dropRight(1).toSet --
      resolved.calculatedDims.toSet -- template.synthesizeMissingDims.toSet
    val missing = hardRequired.diff(available)
    require(missing.isEmpty,
      s"header fields required by the schema are absent: ${missing.mkString(", ")}")

    // 3: strategy transform (+ optional V240 raw-header packing), split in
    // two. The leading row-local stages (component synthesis, channel wrap
    // with its detection pass) run on the source before any exchange; their
    // output `headers` is the frame the QC aggregate scans, column-pruned.
    // One range exchange on the grid dims present in `headers` then lays
    // the rows out for the store. It also satisfies a trailing counter
    // window's ClusteredDistribution, so the counter adds no exchange and
    // the payload is shuffled once; repartitionByRange's sampling pass reads
    // the source, not a window pipeline.
    val strategy = IndexStrategyRegistry.createStrategy(overrides, template)
    val ctx = StrategyContext(template, ordinal)
    val withRaw =
      if (rawHeaderFields.isEmpty) traces
      else graft.sources.Sources.withRawHeaders(traces, rawHeaderFields)
    val (local, rest) = IndexStrategyRegistry.stages(strategy).span(_.rowLocal)
    val headers = IndexStrategyRegistry.compose(local).transform(withRaw, ctx)
    val preDims = resolved.dimensions.dropRight(1)
      .filter(headers.columns.contains)               // calculated dims don't exist yet
    val preClustered =
      if (preDims.isEmpty) headers
      else headers.repartitionByRange(preDims.map(col): _*)
    val transformed = IndexStrategyRegistry.compose(rest).transform(preClustered, ctx)

    // 4: every calculated dim must now exist as a column
    SchemaResolver.verifyCalculatedDims(resolved, transformed.columns.toSeq)

    // 5: grid invariants (J2 + J3), dim tables and coordinates in ONE
    // per-cell aggregate pass (GridIndex.qcCells + qcAggs). Its cells are
    // every grid dim of `headers` when the whole chain is row-local. When
    // the chain ends in a uniqueness counter (G3/G4) they are the counter's
    // cells over `headers`: (cellDims, counter) is unique by construction,
    // the counter's cardinality equals the fullest cell, and per-dim
    // distincts are unchanged, so the QC never runs the counter window
    // (that window runs once, inside the write pass). Any other chain (a
    // shot-wrap stage computes `shot_index` over a window) aggregates the
    // transformed rows with every grid dim a cell and no counter.
    val gridDims = resolved.dimensions.dropRight(1).filter(transformed.columns.contains)
    require(gridDims.nonEmpty, s"template ${template.name} has no grid dims")
    val (qcSrc, cells, counter) =
      (if (rest.isEmpty) Some((headers, gridDims, None))
       else strategy.counterCellDims(ctx, headers.columns.toSeq).flatMap { cs =>
         gridDims.filterNot(cs.contains) match {
           case Seq(c) if !headers.columns.contains(c) && cs.forall(gridDims.contains) =>
             Some((headers, cs, Some(c)))
           case _ => None
         }
       }).getOrElse((transformed, gridDims, None))
    // Coordinates whose cell dims sit inside the cells ride the same
    // aggregate (min_by per cell + the min order key): the staged per-cell
    // table then reduces to each coordinate's own dim subset, so their
    // tables need no post-write store scan — at 100 TB a full second read.
    val orderKeyCol = ordinal.headOption.filter(qcSrc.columns.contains)
    val foldable = resolved.coordinates.filter { c =>
      val cd = c.dimensions.filter(qcSrc.columns.contains)
      orderKeyCol.nonEmpty && qcSrc.columns.contains(c.name) &&
        cd.nonEmpty && cd.toSet.subsetOf(cells.toSet)
    }.map(_.name)
    val perCell = GridIndex.qcCells(qcSrc, cells, foldable, orderKeyCol)
    // staged only when coordinates ride along (the per-cell table then
    // feeds both the QC reduction and the coordinate tables)
    val perCellSrc =
      if (foldable.isEmpty) perCell
      else withDesc(spark, "ingest: QC per-cell stage") {
        graft.core.Scratch.stage(perCell, "ingest_qc")
      }
    // the reduction is an observation of the per-cell pass, merged on the
    // driver, so it needs no second exchange or result stage; only a dim
    // whose value set overflows the gate costs a distinct-count job
    val maxVals = GridIndex.valueGate(spark)
    val aggs = GridIndex.qcAggs(cells, maxVals)
    val qcObs = Observation("ingest_qc")
    val qc = withDesc(spark, "ingest: QC reduce") {
      perCellSrc.observe(qcObs, aggs.head, aggs.drop(1): _*)
        .write.format("noop").mode("overwrite").save()
      GridIndex.gridQC(perCellSrc, qcObs.get, cells, counter, maxVals)
    }
    val sparsityWarning =
      GridIndex.checkGrid(qc, sparsityWarn, sparsityError, ignoreChecks)

    // 6: summary statistics piggyback on the WRITE pass via observe() —
    // exactly the reference's per-block partial stats collected by the
    // ingest workers (`segy/_workers.py:179-194`): no extra scan. The
    // non-zero mask lives inside each aggregate; sums accumulate in DECIMAL
    // (exact, order-independent).
    import org.apache.spark.sql.types.{ArrayType, DecimalType}
    val x = col(valueCol)
    val valueIsArray =
      transformed.schema(valueCol).dataType.isInstanceOf[ArrayType]
    val obs = Observation()
    // Range-partition + sort FIRST, observe ABOVE it: repartitionByRange
    // runs a sampling job over its child, and an observation below the
    // exchange would be double-counted by that sampling pass. When the grid
    // dims start with the pre-clustered dims (calculated dims like `trace`
    // append), the pre-cluster exchange already provides the layout
    // partitioning — only the local sort remains.
    val clustered =
      if (gridDims.isEmpty) transformed
      else if (preDims.nonEmpty && gridDims.startsWith(preDims))
        transformed.sortWithinPartitions(gridDims.map(col): _*)
      else transformed.repartitionByRange(gridDims.map(col): _*)
        .sortWithinPartitions(gridDims.map(col): _*)
    // the aggregate definitions are SHARED with the CLI validate verb
    // (graft.operators.Stats.ingestStatsAggs): the fsck recomputes exactly
    // what this records, so the two can never drift apart. Scalar path
    // masks non-zero values; array path (the CLI's standard-SEG-Y import)
    // folds every non-zero sample in one compiled pass per trace — no
    // explode, no extra shuffle — like the reference's per-sample ingest
    // stats (`segy/_workers.py:179-194`), and adds the max trace length
    // (the vertical dimension's size, recorded so export never scans).
    val observed = {
      val (nA, minA, maxA, sumA, sumsqA, lenA) =
        graft.operators.Stats.ingestStatsAggs(x, valueIsArray)
      val named = Seq(minA.as("min_val"), maxA.as("max_val"),
        sumA.as("sum_val"), sumsqA.as("sumsq_val")) ++
        lenA.map(_.as("n_samples"))
      clustered.observe(obs, nA.as("n"), named: _*)
    }

    // 7: dim sizes come from the same invariant pass above; the vertical
    // (sample) dimension's size arrives with the write-pass observation for
    // array-valued ingests, so the stats patch below adds it
    def dimSizes(verticalSize: Option[Long]): Seq[NamedDimension] =
      gridDims.map(d => NamedDimension(d, qc.cardinalities(d))) ++
        verticalSize.map(NamedDimension(resolved.dimensions.last, _))
    // an array value spans the vertical dim too; a scalar one the grid only
    val valueDims = if (valueIsArray) resolved.dimensions else gridDims
    val valueChunks = resolved.dimensions.zip(resolved.chunkShape)
      .collect { case (d, c) if valueDims.contains(d) => c }
    def schemaWith(statsOpt: Option[SummaryStatistics],
                   verticalSize: Option[Long] = None): MdioSchema = MdioSchema(
      variables = Seq(Variable(
        name = valueCol,
        dimensions = valueDims,
        dataType = Left(ScalarType.Float64),
        compressor = Some(Blosc()),
        coordinates = resolved.coordinates.map(_.name),
        metadata = Some(VariableMetadata(
          chunkGrid = Some(RegularChunkGrid(valueChunks)),
          statsV1 = statsOpt)))) ++
        (if (rawHeaderFields.isEmpty) Nil
         else Seq(Variable("raw_headers", resolved.dimensions.dropRight(1),
           Left(ScalarType.Bytes240)))),
      metadata = DatasetMetadata(resolved.name, "1.0.0",
        java.time.Instant.now().toString,
        // grid-override provenance (ingestion/metadata.py:12-19)
        attributes = overrides.toLegacyMap ++ attributes),
      dimensions = dimSizes(verticalSize))

    // the write IS the stats scan — observation resolves once it completes
    // (clustering already applied above, so no sortDims here)
    withDesc(spark, "ingest: store write") {
      MdioDataset.write(observed, path, schemaWith(None))
    }
    val m = obs.get
    val stats = SummaryStatistics(
      count = m("n").asInstanceOf[Long],
      sum = m("sum_val").asInstanceOf[Double],
      sumSquares = m("sumsq_val").asInstanceOf[Double],
      min = m("min_val").asInstanceOf[Double],
      max = m("max_val").asInstanceOf[Double])
    // patch stats into the sidecar, like the reference's post-write attr patch
    val verticalSize: Option[Long] =
      if (valueIsArray)
        Option(m("n_samples")).map(_.asInstanceOf[Number].longValue).filter(_ > 0)
      else None
    MdioDataset.writeSidecar(spark, path, schemaWith(Some(stats), verticalSize))

    // C2/C1: every dim table comes from the QC aggregate's driver vectors
    // (a counter's from its 1..max range), and folded coordinates from the
    // staged per-cell table. The store just written is read only for what
    // the aggregate could not carry: dims over the gate and coordinates
    // outside the cells (ONE groupBy scan per cell-dim set). The handful of
    // tiny table writes are submitted concurrently — each is an independent
    // one-task job, and serial submission turns per-job scheduling latency
    // into wall time.
    lazy val stored = MdioDataset.open(spark, path).df
    val storeCoords = resolved.coordinates.map(_.name)
      .filter(c => transformed.columns.contains(c) && !foldable.contains(c))
    val tailWrites: Seq[() => Unit] = gridDims.map(d => () => withDesc(spark, s"ingest: dim table $d") {
      val dt = transformed.schema(d).dataType
      qc.values.get(d) match {
        case Some(vals) => writeDimVector(spark, dt, vals, path, d)
        case None if counter.contains(d) =>
          // counter labels are 1..max by construction — generate distributed
          // (one slice: default parallelism would burn a job per empty
          // slice coalesce)
          spark.range(1, qc.cardinalities(d) + 1, 1, numPartitions = 1)
            .select(col("id").cast(dt).as("dim_value"))
            .write.mode("overwrite").parquet(s"$path/dims/$d")
        case None =>
          // over the gate: distributed distinct + range-sorted write, the
          // vector never materializes in one place
          Dimensions.computeDimension(stored, d)
            .write.mode("overwrite").parquet(s"$path/dims/$d")
      }
    }) ++ (if (foldable.isEmpty) Nil else Seq(() => withDesc(spark, "ingest: coord tables (folded)") {
      writeCoordinateTables(perCellSrc, resolved, orderKey = "__ok", path,
        only = foldable.toSet)
    })) ++ (if (storeCoords.isEmpty) Nil else Seq(() => withDesc(spark, "ingest: coord tables") {
      writeCoordinateTables(stored, resolved, orderKey = ordinal.head, path,
        exclude = foldable.toSet)
    }))
    awaitAll(tailWrites)

    IngestResult(path, resolved, qc.nRows, qc.nCells, qc.sparsity, stats, sparsityWarning)
  }

  /** Run independent driver-side write closures concurrently (each submits
    * its own small Spark job) and propagate the first failure. */
  private def awaitAll(work: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(work.map(w => Future(w()))), Duration.Inf)
  }

  /** Write one dim table (`dims/<d>`: sorted `dim_value`) from an in-driver
    * value vector. The sort happens DRIVER-SIDE (the vector is already
    * in-driver and gate-bounded): an `.orderBy` here plans a range exchange
    * whose sampling pass is an extra Spark job per dim table — 3 jobs per
    * dim became 1 after moving the sort off the cluster.
    */
  private def writeDimVector(spark: SparkSession,
                             dt: org.apache.spark.sql.types.DataType,
                             values: Seq[Any], path: String, d: String): Unit =
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          Dimensions.sortDriverSide(dt, values).map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("dim_value", dt))))
      .write.mode("overwrite").parquet(s"$path/dims/$d")

  /** C1/C2 ingest tail: coordinates sharing a cell-dim set are reduced in
    * ONE [[Coordinates.populateCoordinate]] pass; each coordinate table is
    * a pruned selection of that pass (staged once when shared). `only` /
    * `exclude` split the work between the per-cell QC table (already
    * reduced once, carrying its own `__ok` min-key column) and the store.
    */
  private[ingestion] def writeCoordinateTables(stored: DataFrame,
                                               resolved: ResolvedSchema,
                                               orderKey: String, path: String,
                                               only: Set[String] = Set.empty,
                                               exclude: Set[String] = Set.empty): Unit = {
    val present = resolved.coordinates.filter(c =>
      stored.columns.contains(c.name) &&
        (only.isEmpty || only.contains(c.name)) && !exclude.contains(c.name))
    present.groupBy(_.dimensions.filter(stored.columns.contains)).foreach {
      case (cellDims, cs) =>
        val grouped = Coordinates.populateCoordinate(stored, cellDims,
          cs.map(_.name), orderKey)
        val staged =
          if (cs.sizeIs == 1) grouped
          else graft.core.Scratch.stage(grouped, "coords")
        cs.foreach { c =>
          staged.select((cellDims :+ c.name).map(col): _*)
            .write.mode("overwrite").parquet(s"$path/coords/${c.name}")
        }
    }
  }

  /** C4: vertical dimension construction (`ingestion/segy/reader.py:84-89`):
    * labels = sample_index × interval/1000 (µs → ms), cast to long when the
    * interval is an integral number of milliseconds.
    */
  def buildVerticalDim(spark: SparkSession, numSamples: Int, intervalMicros: Int,
                       name: String): DataFrame = {
    val labels = spark.range(numSamples)
      .select((col("id") * intervalMicros / 1000.0).as(name))
    if (intervalMicros % 1000 == 0) labels.select(col(name).cast("long").as(name))
    else labels
  }
}
