package graft.ingestion

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Counters, Wrapping, Geometry}
import graft.schema.{CollapseToTraceEffect, DatasetTemplate, InsertTraceDimEffect, SchemaEffect}

/** Typed grid-override configuration (`segy/geometry.py:29-105`). */
final case class GridOverrides(
    autoChannelWrap: Boolean = false,
    autoShotWrap: Boolean = false,
    calculateShotIndex: Boolean = false,
    nonBinned: Boolean = false,
    hasDuplicates: Boolean = false,
    chunksize: Option[Int] = None,
    nonBinnedDims: Seq[String] = Nil) {

  // NonBinned requires chunksize + dims (geometry.py:69-91)
  if (nonBinned) {
    val missing = Seq(
      if (chunksize.isEmpty) Some("chunksize") else None,
      if (nonBinnedDims.isEmpty) Some("non_binned_dims") else None).flatten
    require(missing.isEmpty,
      s"NonBinned missing parameters: ${missing.mkString(", ")}")
  }

  /** Legacy CamelCase dict shape stored in dataset metadata
    * (`geometry.py:103-105`). */
  def toLegacyMap: Map[String, String] = Seq(
    if (autoChannelWrap) Some("AutoChannelWrap" -> "true") else None,
    if (autoShotWrap) Some("AutoShotWrap" -> "true") else None,
    if (calculateShotIndex) Some("CalculateShotIndex" -> "true") else None,
    if (nonBinned) Some("NonBinned" -> "true") else None,
    if (hasDuplicates) Some("HasDuplicates" -> "true") else None,
    chunksize.map(c => "chunksize" -> c.toString),
    if (nonBinnedDims.nonEmpty) Some("non_binned_dims" -> nonBinnedDims.mkString(",")) else None,
  ).flatten.toMap
}

/** Per-ingest context the strategies need beyond the header table: the
  * template, and the explicit file-order ordinal columns (SURVEY §7.3 — the
  * reference's counters iterate in file order; Spark needs it first-class).
  */
final case class StrategyContext(template: DatasetTemplate, ordinal: Seq[String])

/** An index strategy transforms the header table and may reshape the schema
  * (`ingestion/segy/index_strategies.py:43-105`). Strategies are pure
  * `DataFrame => DataFrame` transforms — G8's composition is function
  * composition.
  */
sealed trait IndexStrategy {
  def name: String
  def transform(df: DataFrame, ctx: StrategyContext): DataFrame
  def schemaEffect: Option[SchemaEffect] = None

  /** When the strategy appends a uniqueness counter (G3/G4): the cell dims
    * the counter partitions by. `(cellDims, counter)` is then unique BY
    * CONSTRUCTION, so grid invariants are computable from the header
    * columns the counter sees, without running the counter window — the
    * ingest pipeline uses this to keep its QC pass a pruned aggregate scan.
    */
  def counterCellDims(ctx: StrategyContext, available: Seq[String]): Option[Seq[String]] = None

  /** True when the transform maps each row on its own, with no exchange or
    * window over the rows (a detection pass over pruned header columns may
    * run first). The ingest pipeline runs these stages on the source, before
    * the store-layout exchange.
    */
  def rowLocal: Boolean = false
}

/** G2: identity (`index_strategies.py:108-113`). */
case object RegularGridStrategy extends IndexStrategy {
  val name = "RegularGrid"
  def transform(df: DataFrame, ctx: StrategyContext): DataFrame = df
  override def rowLocal: Boolean = true
}

/** G7: constant-1 synthesis for dims missing from headers
  * (`index_strategies.py:302-328`). */
final case class ComponentSynthesisStrategy(dims: Seq[String]) extends IndexStrategy {
  val name = "ComponentSynthesis"
  def transform(df: DataFrame, ctx: StrategyContext): DataFrame =
    dims.filterNot(df.columns.contains)
      .foldLeft(df)((d, dim) => Counters.synthesizeComponent(d, dim))
  override def rowLocal: Boolean = true
}

/** G5: detect Type A/B channel geometry; rebase to 1..N per cable when the
  * numbering is sequential (Type B). Detection collects the per-cable
  * channel ranges once and tests overlap on the driver; the rebase is a
  * broadcast lookup in those rows, so the stage is row-local
  * (`index_strategies.py:206-233`, `header_analysis.py:82-139`).
  */
final case class ChannelWrappingStrategy(cable: String = "cable",
                                         channel: String = "channel") extends IndexStrategy {
  val name = "ChannelWrapping"
  def transform(df: DataFrame, ctx: StrategyContext): DataFrame = {
    val ranges = graft.core.JobDesc.withDesc(df.sparkSession, "ingest: strategy detect") {
      Wrapping.collectChannelRanges(df, cable, channel)
    }
    if (ranges.geometryType == "B")
      ranges.rebase(df, out = channel + "_rebased")
        .drop(channel).withColumnRenamed(channel + "_rebased", channel)
    else df
  }
  override def rowLocal: Boolean = true
}

/** G6: dense per-line shot_index. Detection (`header_analysis.py:142-191`):
  * if any line fires >1 gun, shot numbering is gun-interleaved (Type B) →
  * floor-divide by the gun count and rebase; else searchsorted semantics
  * (dense_rank − 1). `alwaysCalculate` (OBN) skips detection.
  */
final case class ShotWrappingStrategy(lineField: String, shotField: String = "shot_point",
                                      gunField: String = "gun",
                                      alwaysCalculate: Boolean = false) extends IndexStrategy {
  val name = "ShotWrapping"
  def transform(df: DataFrame, ctx: StrategyContext): DataFrame = {
    val numGuns =
      if (!alwaysCalculate && df.columns.contains(gunField))
        graft.core.JobDesc.withDesc(df.sparkSession, "ingest: strategy detect") {
          Geometry.gunShotCounts(df, lineField, gunField, shotField)
            .groupBy(col(lineField)).agg(count(lit(1)).as("n_guns"))
            .agg(max(col("n_guns"))).first().getLong(0).toInt
        }
      else 1
    if (numGuns <= 1)
      Wrapping.shotIndexDenseRank(df, lineField, shotField)
    else
      Wrapping.shotIndexFloorDiv(df, lineField, shotField, numGuns)
  }
}

/** G4: collapse non-binned dims into a `trace` counter
  * (`index_strategies.py:168-203`). */
final case class NonBinnedStrategy(chunksize: Int, nonBinnedDims: Seq[String],
                                   coordFields: Seq[String]) extends IndexStrategy {
  val name = "NonBinned"
  def transform(df: DataFrame, ctx: StrategyContext): DataFrame = {
    val kept = ctx.template.spatialDimNames
      .filterNot(nonBinnedDims.contains).filterNot(coordFields.contains)
      .filter(df.columns.contains)
    Counters.nonBinnedCounter(df, kept, ctx.ordinal)
  }
  override def schemaEffect: Option[SchemaEffect] =
    Some(CollapseToTraceEffect(nonBinnedDims, chunksize))
  override def counterCellDims(ctx: StrategyContext, available: Seq[String]): Option[Seq[String]] =
    Some(ctx.template.spatialDimNames
      .filterNot(nonBinnedDims.contains).filterNot(coordFields.contains)
      .filter(available.contains))
}

/** G3: 1-based duplicate counter over all dim fields
  * (`index_strategies.py:116-165`). */
final case class DuplicateHandlingStrategy(coordFields: Seq[String]) extends IndexStrategy {
  val name = "DuplicateHandling"
  def transform(df: DataFrame, ctx: StrategyContext): DataFrame = {
    val dims = ctx.template.spatialDimNames
      .filterNot(coordFields.contains).filter(df.columns.contains)
    Counters.duplicateCounter(df, dims, ctx.ordinal)
  }
  override def schemaEffect: Option[SchemaEffect] = Some(InsertTraceDimEffect())
  override def counterCellDims(ctx: StrategyContext, available: Seq[String]): Option[Seq[String]] =
    Some(ctx.template.spatialDimNames
      .filterNot(coordFields.contains).filter(available.contains))
}

/** G8: ordered composition; at most one schema effect
  * (`index_strategies.py:331-368`). */
final case class CompositeStrategy(strategies: Seq[IndexStrategy]) extends IndexStrategy {
  require(strategies.flatMap(_.schemaEffect).size <= 1,
    "composite allows at most one schema effect")
  val name = "Composite"
  def transform(df: DataFrame, ctx: StrategyContext): DataFrame =
    strategies.foldLeft(df)((d, s) => s.transform(d, ctx))
  override def schemaEffect: Option[SchemaEffect] =
    strategies.flatMap(_.schemaEffect).headOption
  override def rowLocal: Boolean = strategies.forall(_.rowLocal)
  /** A chain whose stages before its last are row-local keeps the last
    * stage's counter cells: those stages rewrite dim values row by row, so
    * the cells read off their output are the cells the counter sees. */
  override def counterCellDims(ctx: StrategyContext, available: Seq[String]): Option[Seq[String]] =
    if (strategies.nonEmpty && strategies.init.forall(_.rowLocal))
      strategies.last.counterCellDims(ctx, available)
    else None
}

/** G9: overrides + template hints → strategy chain
  * (`index_strategies.py:371-459`). Ordering: synthesis → channel wrap →
  * shot wrap (streamer, then OBN) → non-binned | duplicates.
  */
object IndexStrategyRegistry {

  /** Reject override/template pairings the reference forbids
    * (`segy/geometry.py:125-168`): `auto_shot_wrap` is streamer-field-
    * records-only and `calculate_shot_index` is OBN-receiver-gathers-only —
    * with the wrong template both silently produce wrong shot indices, and
    * the pairing is the one constraint the GridOverrides model can't check
    * by itself. Called by the ingest pipeline before any header parsing.
    */
  def validateOverridesForTemplate(overrides: GridOverrides,
                                   template: DatasetTemplate): Unit = {
    if (overrides.autoShotWrap && template.name != "StreamerFieldRecords3D")
      throw new IllegalArgumentException(
        s"auto_shot_wrap only supports StreamerFieldRecords3D, got " +
          s"${template.name}. For OBN templates, use calculate_shot_index.")
    if (overrides.calculateShotIndex && template.name != "ObnReceiverGathers3D")
      throw new IllegalArgumentException(
        s"calculate_shot_index only supports ObnReceiverGathers3D, got ${template.name}.")
  }

  def createStrategy(overrides: GridOverrides,
                     template: DatasetTemplate): IndexStrategy = {
    val coordFields = template.coordinateNames
    val chain = Seq(
      if (template.synthesizeMissingDims.nonEmpty)
        Some(ComponentSynthesisStrategy(template.synthesizeMissingDims)) else None,
      if (overrides.autoChannelWrap) Some(ChannelWrappingStrategy()) else None,
      if (overrides.autoShotWrap)
        Some(ShotWrappingStrategy(lineField = "sail_line")) else None,
      if (overrides.calculateShotIndex)
        Some(ShotWrappingStrategy(lineField = "shot_line", alwaysCalculate = true)) else None,
      if (overrides.nonBinned)
        Some(NonBinnedStrategy(overrides.chunksize.get, overrides.nonBinnedDims, coordFields))
      else if (overrides.hasDuplicates)
        Some(DuplicateHandlingStrategy(coordFields)) else None,
    ).flatten
    compose(chain)
  }

  /** One strategy for an ordered chain of stages. */
  def compose(chain: Seq[IndexStrategy]): IndexStrategy = chain match {
    case Seq() => RegularGridStrategy
    case Seq(one) => one
    case many => CompositeStrategy(many)
  }

  /** The stages of `strategy`, in order. */
  def stages(strategy: IndexStrategy): Seq[IndexStrategy] = strategy match {
    case CompositeStrategy(ss) => ss
    case one => Seq(one)
  }

  /** The schema effect is read off the same strategy that transforms headers,
    * so the header view and schema view can't drift (`index_strategies.py:380-395`). */
  def schemaEffect(overrides: GridOverrides, template: DatasetTemplate): Option[SchemaEffect] =
    createStrategy(overrides, template).schemaEffect
}
