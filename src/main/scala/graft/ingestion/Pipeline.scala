package graft.ingestion

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Coordinates, Dimensions}
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
  * shuffles the rows on its own key, and its QC and dim tables keep the
  * distinct-count pass and the post-write store scan.
  */
object IngestPipeline {

  final class GridTraceCountError(msg: String) extends RuntimeException(msg)
  final class GridSparsityError(msg: String) extends RuntimeException(msg)

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
             sparsityWarn: Double = 2.0, sparsityError: Double = 10.0,
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

    // 5: grid invariants (J2 + J3) and dim cardinalities in ONE aggregate
    // pass over `headers`. Its cells are every grid dim when the whole chain
    // is row-local; when the chain ends in a uniqueness counter (G3/G4),
    // they are the counter's cells: (cellDims, counter) is unique by
    // construction, the counter's cardinality equals the max per-cell count,
    // and per-dim distincts are unchanged, so the QC never runs the counter
    // window (that window runs once, inside the write pass). A chain with a
    // shot-wrap stage keeps a countDistinct pass over `transformed`.
    val gridDims = resolved.dimensions.dropRight(1).filter(transformed.columns.contains)
    val counterDims = gridDims.filterNot(headers.columns.contains)
    val fastCells =
      if (rest.isEmpty) Some(gridDims).filter(_.nonEmpty)
      else strategy.counterCellDims(ctx, headers.columns.toSeq)
        .filter(cells => counterDims.sizeIs == 1 &&
          gridDims.toSet == cells.toSet + counterDims.head)
    // On the fast path the per-dim VALUE SETS ride the same aggregate
    // (collect_set instead of countDistinct — a dim vector is metadata-
    // sized), and a counter's label vector is 1..max by construction, so
    // the dim tables need NO store scan at all. Coordinates whose cell dims
    // sit inside the cells ALSO ride this aggregate: the per-cell level
    // carries min_by(coord, orderKey) + min(orderKey), the staged per-cell
    // table then reduces to each coordinate's own dim subset
    // (winner-of-winners by the carried min key = the global min_by), so the
    // coordinate tables need no post-write store scan either — at 100 TB
    // that scan is a full second read of the store.
    val orderKeyCol = ordinal.headOption.filter(headers.columns.contains)
    val (nTraces, nCells, cardinalities, dimValues, foldedCoords) = fastCells match {
      case Some(cells) =>
        val counter = counterDims.headOption
        val foldable = resolved.coordinates.filter { c =>
          val cd = c.dimensions.filter(headers.columns.contains)
          orderKeyCol.nonEmpty && headers.columns.contains(c.name) &&
            cd.nonEmpty && cd.toSet.subsetOf(cells.toSet)
        }
        val coordAggs =
          if (foldable.isEmpty) Nil
          else foldable.map(c => min_by(col(c.name), col(orderKeyCol.get)).as(c.name)) :+
            min(col(orderKeyCol.get)).as("__ok")
        val perCell = headers.groupBy(cells.map(col): _*)
          .agg(count(lit(1)).as("_cnt"), coordAggs: _*)
        // staged only when coordinates ride along (the level-1 table then
        // feeds both the QC reduction and the coordinate tables)
        val perCellSrc =
          if (foldable.isEmpty) perCell
          else withDesc(spark, "QC per-cell stage") {
            graft.core.Scratch.stage(perCell, "ingest_qc")
          }
        // Cardinality guard: the value sets are SLICED to maxVals+1 inside
        // the aggregate (sorted, so the truncation is deterministic) — the
        // driver row stays bounded no matter how pathological a dim is. A
        // set arriving truncated marks its dim over the gate: that dim's
        // exact cardinality (sidecar + sparsity need it) comes from its own
        // distinct count and its table from the distributed write — extra
        // jobs ONLY in the pathological case; the common case keeps the
        // single two-level aggregate (no countDistinct Expand riding along:
        // measured +0.9s on the sf0.1 ingest when it did). Without a
        // counter the cell count is the number of groups whose dims are all
        // non-null (countDistinct's rule).
        val maxVals = math.min(Dimensions.driverMaxValues(spark), Int.MaxValue - 2L).toInt
        val aggs = Seq(sum(col("_cnt")).as("n_rows"),
            max(col("_cnt")).as("__max_cnt"),
            count(when(cells.map(d => col(d).isNotNull).reduce(_ && _), lit(1)))
              .as("n_cells")) ++
          cells.map(d => slice(sort_array(collect_set(col(d))), 1, maxVals + 1)
            .as(s"__v_$d"))
        // the reduction is an observation of the per-cell pass, merged on
        // the driver, so it needs no second exchange or result stage
        val qc = Observation("ingest_qc")
        val m = withDesc(spark, "QC reduce") {
          perCellSrc.observe(qc, aggs.head, aggs.drop(1): _*)
            .write.format("noop").mode("overwrite").save()
          qc.get
        }
        def g(name: String): Long = Option(m(name)).fold(0L)(_.asInstanceOf[Long])
        val counterVals: Option[(String, Seq[Any])] =
          counter.filter(_ => g("__max_cnt") <= maxVals)
            .map(_ -> (1L to g("__max_cnt")).map(v => v: Any))
        val vals: Map[String, Seq[Any]] =
          cells.map(d => d -> m(s"__v_$d").asInstanceOf[Seq[Any]])
            .filter { case (_, v) => v.sizeIs <= maxVals }.toMap ++ counterVals
        // over-the-gate dims (value set arrived truncated) still need exact
        // cardinalities for the sidecar + sparsity — ONE countDistinct
        // aggregate for all of them, not a distinct-count job per dim
        val overGate = cells.filterNot(vals.contains)
        val exactCards: Map[String, Long] =
          if (overGate.isEmpty) Map.empty
          else {
            val cdAggs = overGate.map(d => countDistinct(col(d)).as(s"__nd_$d"))
            val r = withDesc(spark, "over-gate distincts") {
              perCellSrc.agg(cdAggs.head, cdAggs.drop(1): _*).collect().head
            }
            overGate.map(d => d -> r.getAs[Long](s"__nd_$d")).toMap
          }
        val cards = cells.map(d => d ->
            (if (vals.contains(d)) vals(d).size.toLong else exactCards(d))).toMap ++
          counter.map(_ -> g("__max_cnt"))
        (g("n_rows"), if (counter.nonEmpty) g("n_rows") else g("n_cells"), cards,
          Some(vals),
          if (foldable.isEmpty) None
          else Some((perCellSrc, foldable.map(_.name).toSet)))
      case None =>
        val dcols = gridDims.map(col)
        val checkAggs =
          Seq(count(lit(1)).as("n_rows"),
              countDistinct(dcols.head, dcols.drop(1): _*).as("n_cells")) ++
            gridDims.map(d => countDistinct(col(d)).as(s"__n_$d"))
        val check = withDesc(spark, "grid QC") {
          transformed.agg(checkAggs.head, checkAggs.drop(1): _*).collect().head
        }
        (check.getAs[Long]("n_rows"), check.getAs[Long]("n_cells"),
          gridDims.map(d => d -> check.getAs[Long](s"__n_$d")).toMap,
          None, None)
    }
    if (nCells != nTraces && !ignoreChecks)
      throw new GridTraceCountError(
        s"grid holds $nCells cells for $nTraces traces — duplicate index tuples " +
        "(use HasDuplicates/NonBinned overrides)")
    val sparsity = cardinalities.values.map(_.toDouble).product / nTraces
    if (sparsity > sparsityError && !ignoreChecks)
      throw new GridSparsityError(f"grid sparsity $sparsity%.2f exceeds $sparsityError")
    val sparsityWarning =
      if (sparsity > sparsityWarn)
        Some(f"grid sparsity $sparsity%.2f exceeds $sparsityWarn (warn threshold)")
      else None

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
      gridDims.map(d => NamedDimension(d, cardinalities(d))) ++
        verticalSize.map(NamedDimension(resolved.dimensions.last, _))
    def schemaWith(statsOpt: Option[SummaryStatistics],
                   verticalSize: Option[Long] = None): MdioSchema = MdioSchema(
      variables = Seq(Variable(
        name = valueCol,
        dimensions = resolved.dimensions,
        dataType = Left(ScalarType.Float64),
        compressor = Some(Blosc()),
        coordinates = resolved.coordinates.map(_.name),
        metadata = Some(VariableMetadata(
          chunkGrid = Some(RegularChunkGrid(resolved.chunkShape)),
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
    withDesc(spark, "store write") {
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

    // C2/C1: on the fast path every dim table comes from the QC
    // aggregate's driver vectors (a counter's from its 1..max range), and
    // coordinates from the staged QC per-cell table when they rode along.
    // The store just written is read only for what the aggregate could not
    // carry: dims over the gate, coordinates outside the cells, and, on the
    // countDistinct arm, every dim table (ONE aggregate scan) and coordinate
    // (ONE groupBy scan per cell-dim set). The handful of tiny table writes
    // are submitted concurrently — each is an independent one-task job, and
    // serial submission turns per-job scheduling latency into wall time.
    lazy val stored = MdioDataset.open(spark, path).df
    val folded = foldedCoords.map(_._2).getOrElse(Set.empty[String])
    val storeCoords = resolved.coordinates.map(_.name)
      .filter(c => transformed.columns.contains(c) && !folded.contains(c))
    val maxDimVals = Dimensions.driverMaxValues(spark)
    val tailWrites: Seq[() => Unit] = (dimValues match {
      case Some(vals) => gridDims.map(d => () => withDesc(spark, s"dim table $d") {
        if (vals.contains(d))
          writeDimVector(spark, transformed.schema(d).dataType, vals(d), path, d)
        else if (counterDims.contains(d))
          // counter labels are 1..max by construction — generate distributed
          // (one slice: the vector is gate-bounded, and default parallelism
          // would burn a job per empty slice coalesce)
          spark.range(1, cardinalities(d) + 1, 1, numPartitions = 1)
            .select(col("id").cast(transformed.schema(d).dataType).as("dim_value"))
            .write.mode("overwrite").parquet(s"$path/dims/$d")
        else writeDimDistributed(stored, d, path)
      })
      case None => Seq(() => withDesc(spark, "dim tables") {
        writeDimTables(spark, stored, gridDims, path, cardinalities, maxDimVals)
      })
    }) ++ foldedCoords.toSeq.map { case (perCellSrc, names) =>
      () => withDesc(spark, "coord tables (folded)") {
        writeCoordinateTables(perCellSrc, resolved, orderKey = "__ok", path,
          only = names)
      }
    } ++ (if (storeCoords.isEmpty) Nil else Seq(() => withDesc(spark, "coord tables") {
      writeCoordinateTables(stored, resolved, orderKey = ordinal.head, path,
        exclude = folded)
    }))
    awaitAll(tailWrites)

    IngestResult(path, resolved, nTraces, nCells, sparsity, stats, sparsityWarning)
  }

  /** Run independent driver-side write closures concurrently (each submits
    * its own small Spark job) and propagate the first failure. */
  private def awaitAll(work: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(work.map(w => Future(w()))), Duration.Inf)
  }

  /** Label the jobs an ingest stage submits (ProfileQuery prints these) —
    * description is a thread-local Spark property, so the try/finally
    * restores the caller's label even inside [[awaitAll]] pool threads.
    */
  private[ingestion] def withDesc[T](spark: SparkSession, s: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"ingest: $s")
    try f finally sc.setJobDescription(prev)
  }

  /** G1/C2 ingest tail: every DRIVER-SAFE dim vector from ONE column-pruned
    * aggregate scan (collect_set per dim, map-side combined, shuffle
    * O(cardinality)) — each table then sorts and writes its handful of rows
    * locally instead of re-scanning the store once per dim. Dims whose
    * cardinality (known from the invariant pass) exceeds the gate skip the
    * driver entirely via [[writeDimDistributed]].
    */
  private[ingestion] def writeDimTables(spark: SparkSession, stored: DataFrame,
                                        gridDims: Seq[String], path: String,
                                        cardinalities: Map[String, Long] = Map.empty,
                                        maxVals: Long = Long.MaxValue): Unit = {
    if (gridDims.isEmpty) return
    val (big, small) = gridDims.partition(d =>
      cardinalities.getOrElse(d, 0L) > maxVals)
    // each over-gate dim is an independent distinct+sort+write chain to
    // its own dims/<d> path — overlap them (guide §2.6)
    graft.core.Par.map(big)(d => writeDimDistributed(stored, d, path)): Unit
    if (small.isEmpty) return
    val aggs = small.map(d => collect_set(col(d)).as(d))
    val row = stored.agg(aggs.head, aggs.drop(1): _*).collect().head
    small.foreach { d =>
      writeDimVector(spark, stored.schema(d).dataType,
        row.getSeq[Any](row.fieldIndex(d)), path, d)
    }
  }

  /** The over-the-gate dim table: distributed distinct + range-sorted write
    * — the vector never materializes in one place. */
  private[ingestion] def writeDimDistributed(stored: DataFrame, d: String,
                                             path: String): Unit =
    stored.select(col(d).as("dim_value")).distinct()
      .orderBy(col("dim_value"))
      .write.mode("overwrite").parquet(s"$path/dims/$d")

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
    * ONE groupBy pass (multiple min_by aggregates); each coordinate table is
    * a pruned selection of that pass (staged once when shared). `only` /
    * `exclude` split the work between the fast-path per-cell source (already
    * reduced once, carrying its own `__ok` min-key column) and the store.
    */
  private[ingestion] def writeCoordinateTables(stored: DataFrame,
                                               resolved: ResolvedSchema,
                                               orderKey: String, path: String,
                                               scalar: Int = 1,
                                               only: Set[String] = Set.empty,
                                               exclude: Set[String] = Set.empty): Unit = {
    val present = resolved.coordinates.filter(c =>
      stored.columns.contains(c.name) &&
        (only.isEmpty || only.contains(c.name)) && !exclude.contains(c.name))
    present.groupBy(_.dimensions.filter(stored.columns.contains)).foreach {
      case (cellDims, cs) =>
        val aggs = cs.map(c => Coordinates
          .applyScalar(min_by(col(c.name), col(orderKey)), scalar).as(c.name))
        val grouped = stored.groupBy(cellDims.map(col): _*)
          .agg(aggs.head, aggs.drop(1): _*)
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

  /** C1/C2 helper: populate one coordinate table per declared coordinate. */
  def populateCoordinates(transformed: DataFrame, resolved: ResolvedSchema,
                          orderKey: String, scalar: Int = 1): Map[String, DataFrame] =
    resolved.coordinates
      .filter(c => transformed.columns.contains(c.name))
      .map { c =>
        val cellDims = c.dimensions.filter(transformed.columns.contains)
        c.name -> Coordinates.populateCoordinate(transformed, cellDims, c.name,
          orderKey, scalar)
      }.toMap
}
