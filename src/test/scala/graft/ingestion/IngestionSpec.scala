package graft.ingestion

import java.nio.file.Files

import graft.SparkSpec
import graft.schema.{CollapseToTraceEffect, InsertTraceDimEffect, TemplateRegistry}
import graft.storage.MdioDataset
import org.apache.spark.sql.functions._

class IndexStrategyRegistrySpec extends SparkSpec {
  import spark.implicits._

  private val template = TemplateRegistry.instance.get("StreamerShotGathers3D")

  test("no overrides → RegularGridStrategy (identity)") {
    val s = IndexStrategyRegistry.createStrategy(GridOverrides(), template)
    assert(s == RegularGridStrategy)
    val df = Seq((1, 2)).toDF("a", "b")
    assert(s.transform(df, StrategyContext(template, Seq("a"))).collect().sameElements(df.collect()))
  }

  test("HasDuplicates → duplicate counter + InsertTraceDim effect") {
    val s = IndexStrategyRegistry.createStrategy(
      GridOverrides(hasDuplicates = true), template)
    assert(s.isInstanceOf[DuplicateHandlingStrategy])
    assert(s.schemaEffect.contains(InsertTraceDimEffect()))
  }

  test("NonBinned wins over HasDuplicates; requires parameters") {
    val s = IndexStrategyRegistry.createStrategy(
      GridOverrides(nonBinned = true, hasDuplicates = true,
        chunksize = Some(8), nonBinnedDims = Seq("channel")), template)
    assert(s.isInstanceOf[NonBinnedStrategy])
    assert(s.schemaEffect.contains(CollapseToTraceEffect(Seq("channel"), 8)))
    intercept[IllegalArgumentException] { GridOverrides(nonBinned = true) }
  }

  test("multiple flags compose in reference order") {
    val s = IndexStrategyRegistry.createStrategy(
      GridOverrides(autoChannelWrap = true, hasDuplicates = true), template)
    val chain = s.asInstanceOf[CompositeStrategy].strategies
    assert(chain.map(_.name) == Seq("ChannelWrapping", "DuplicateHandling"))
  }

  test("override/template pairing guard rejects the reference-forbidden combos") {
    val obn = TemplateRegistry.instance.get("ObnReceiverGathers3D")
    val streamer = TemplateRegistry.instance.get("StreamerFieldRecords3D")
    // valid pairings pass
    IndexStrategyRegistry.validateOverridesForTemplate(
      GridOverrides(calculateShotIndex = true), obn)
    IndexStrategyRegistry.validateOverridesForTemplate(
      GridOverrides(autoShotWrap = true), streamer)
    // forbidden pairings fail loudly (silent wrong shot indices otherwise)
    val e1 = intercept[IllegalArgumentException] {
      IndexStrategyRegistry.validateOverridesForTemplate(
        GridOverrides(autoShotWrap = true), obn)
    }
    assert(e1.getMessage.contains("auto_shot_wrap"))
    val e2 = intercept[IllegalArgumentException] {
      IndexStrategyRegistry.validateOverridesForTemplate(
        GridOverrides(calculateShotIndex = true), streamer)
    }
    assert(e2.getMessage.contains("calculate_shot_index"))
  }

  test("ObnReceiverGathers3D template injects component synthesis first") {
    val obn = TemplateRegistry.instance.get("ObnReceiverGathers3D")
    val s = IndexStrategyRegistry.createStrategy(
      GridOverrides(calculateShotIndex = true), obn)
    val chain = s.asInstanceOf[CompositeStrategy].strategies
    assert(chain.map(_.name) == Seq("ComponentSynthesis", "ShotWrapping"))
  }

  test("ChannelWrappingStrategy rebases only sequential (Type B) numbering") {
    val ctx = StrategyContext(template, Seq("channel"))
    val typeB = Seq((0, 1), (0, 2), (1, 3), (1, 4)).toDF("cable", "channel")
    val rebased = ChannelWrappingStrategy().transform(typeB, ctx)
      .select("cable", "channel").as[(Int, Long)].collect().toSet
    assert(rebased == Set((0, 1L), (0, 2L), (1, 1L), (1, 2L)))
    val typeA = Seq((0, 1), (0, 2), (1, 1), (1, 2)).toDF("cable", "channel")
    val kept = ChannelWrappingStrategy().transform(typeA, ctx)
      .select("cable", "channel").as[(Int, Int)].collect().toSet
    assert(kept == Set((0, 1), (0, 2), (1, 1), (1, 2)))
  }

  test("ShotWrappingStrategy picks floor-div for multi-gun lines") {
    val ctx = StrategyContext(template, Seq("shot_point"))
    val multiGun = Seq((1, 10, 1), (1, 11, 2), (1, 12, 1), (1, 13, 2))
      .toDF("sail_line", "shot_point", "gun")
    val got = ShotWrappingStrategy("sail_line").transform(multiGun, ctx)
      .select("shot_point", "shot_index").as[(Int, Long)].collect().toSet
    assert(got == Set((10, 0L), (11, 0L), (12, 1L), (13, 1L)))
    val singleGun = Seq((1, 7, 1), (1, 9, 1)).toDF("sail_line", "shot_point", "gun")
    val dense = ShotWrappingStrategy("sail_line").transform(singleGun, ctx)
      .select("shot_point", "shot_index").as[(Int, Long)].collect().toSet
    assert(dense == Set((7, 0L), (9, 1L)))
  }
}

class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  // PostStack3DTime-shaped synthetic: inline × crossline grid with amplitudes
  private def grid(dup: Boolean) = {
    val rows = for (il <- 1 to 4; xl <- 1 to 4) yield (il, xl, il * 10.0 + xl)
    val extra = if (dup) Seq((1, 1, 99.0)) else Nil
    (rows ++ extra).toDF("inline", "crossline", "amplitude")
  }
  private val template = TemplateRegistry.instance.get("PostStack3DTime")

  test("regular ingest: store + sidecar + stats + invariants") {
    val path = Files.createTempDirectory("ingest").toString
    val r = IngestPipeline.ingest(spark, grid(dup = false), template,
      GridOverrides(), path, ordinal = Seq("inline", "crossline"),
      valueCol = "amplitude")
    assert(r.nTraces == 16 && r.nCells == 16 && r.sparsity == 1.0)
    assert(r.stats.count == 16 && r.stats.min == 11.0 && r.stats.max == 44.0)
    val ds = MdioDataset.open(spark, path)
    assert(ds.df.count() == 16)
    assert(ds.schema.dimensions.map(d => d.name -> d.size).toMap ==
      Map("inline" -> 4L, "crossline" -> 4L))
    assert(ds.schema.variables.head.metadata.get.statsV1.get.count == 16)
  }

  test("a scalar-valued ingest passes validate: its variable spans the grid dims only") {
    val path = Files.createTempDirectory("ingest-scalar").toString
    IngestPipeline.ingest(spark, grid(dup = false), template,
      GridOverrides(), path, ordinal = Seq("inline", "crossline"),
      valueCol = "amplitude")
    val v = MdioDataset.open(spark, path).schema.variable("amplitude").get
    assert(v.dimensions == Seq("inline", "crossline"))
    assert(v.metadata.flatMap(_.chunkGrid).map(_.asInstanceOf[
      graft.schema.RegularChunkGrid].chunkShape.length).contains(2))
    assert(graft.tools.Cli.run(Seq("validate", path), spark) == 0)
  }

  test("duplicate tuples without override → GridTraceCountError; with HasDuplicates → trace dim") {
    val path = Files.createTempDirectory("ingest").toString
    intercept[graft.operators.GridIndex.GridTraceCountError] {
      IngestPipeline.ingest(spark, grid(dup = true), template, GridOverrides(),
        path, Seq("inline", "crossline"), "amplitude")
    }
    val r = IngestPipeline.ingest(spark, grid(dup = true), template,
      GridOverrides(hasDuplicates = true), path,
      Seq("inline", "crossline", "amplitude"), "amplitude")
    assert(r.schema.dimensions == Seq("inline", "crossline", "trace", "time"))
    assert(r.nTraces == 17 && r.nCells == 17) // trace disambiguates
    val ds = MdioDataset.open(spark, path)
    assert(ds.df.columns.contains("trace"))
    assert(ds.schema.metadata.attributes.get("HasDuplicates").contains("true"))
  }

  test("sparsity beyond the error threshold aborts unless ignored") {
    // diagonal: 12×12 grid holds only 12 traces → sparsity 12 > 10
    val sparse = (1 to 12).map(i => (i, i, i * 1.0)).toDF("inline", "crossline", "amplitude")
    val path = Files.createTempDirectory("ingest").toString
    intercept[graft.operators.GridIndex.GridSparsityError] {
      IngestPipeline.ingest(spark, sparse, template, GridOverrides(), path,
        Seq("inline"), "amplitude")
    }
    val r = IngestPipeline.ingest(spark, sparse, template, GridOverrides(), path,
      Seq("inline"), "amplitude", ignoreChecks = true)
    assert(r.sparsity == 12.0)
  }

  test("sparsity over the warn threshold is reported in the result; at it, nothing") {
    def ingest(cells: Seq[(Int, Int)]): IngestPipeline.IngestResult =
      IngestPipeline.ingest(spark, cells.map { case (i, x) => (i, x, 1.0) }
          .toDF("inline", "crossline", "amplitude"), template, GridOverrides(),
        Files.createTempDirectory("ingest").toString, Seq("inline"), "amplitude")
    // diagonals: n traces on an n×n grid → sparsity n
    val at = ingest(Seq((1, 1), (2, 2)))
    assert(at.sparsity == 2.0 && at.sparsityWarning.isEmpty)
    val over = ingest(Seq((1, 1), (2, 2), (3, 3)))
    assert(over.sparsity == 3.0)
    assert(over.sparsityWarning.contains("grid sparsity 3.00 exceeds 2.0 (warn threshold)"))
  }

  test("counter fast path folds coordinate tables into the QC aggregate " +
       "and matches the store-scan path") {
    import graft.schema.DatasetTemplate
    // coords: cdp_x spans a PROPER subset of the counter cells, cdp_y the
    // full cell set — both must ride the fast-path aggregate (no store scan)
    val tmpl = DatasetTemplate("CoordGrid", "time",
      Seq("inline", "crossline", "time"), Seq(8, 8, 64),
      physicalCoords = Seq("cdp_x", "cdp_y"),
      coordDimOverrides = Map(
        "cdp_x" -> Seq("inline"), "cdp_y" -> Seq("inline", "crossline")))
    val rows = for (il <- 1 to 3; xl <- 1 to 3; k <- 1 to 2) yield
      (il, xl, il * 100 + xl * 10 + k, il * 1000.0, il * 1000.0 + xl, il + xl * 1.0)
    val traces = rows.toDF("inline", "crossline", "ord", "cdp_x", "cdp_y", "amplitude")
    val path = Files.createTempDirectory("ingest_coord").toString
    val r = IngestPipeline.ingest(spark, traces, tmpl,
      GridOverrides(hasDuplicates = true), path,
      ordinal = Seq("ord"), valueCol = "amplitude", sparsityError = 1e9)
    assert(r.nTraces == 18)
    val cx = spark.read.parquet(s"$path/coords/cdp_x")
      .as[(Int, Double)].collect().toSet
    assert(cx == Set((1, 1000.0), (2, 2000.0), (3, 3000.0)))
    val cy = spark.read.parquet(s"$path/coords/cdp_y")
      .as[(Int, Int, Double)].collect().toSet
    assert(cy == (for (il <- 1 to 3; xl <- 1 to 3)
      yield (il, xl, il * 1000.0 + xl)).toSet)
    // byte-for-byte agreement with the store-scan (non-folded) path
    val stored = MdioDataset.open(spark, path).df
    val alt = Files.createTempDirectory("ingest_coord_alt").toString
    IngestPipeline.writeCoordinateTables(stored, r.schema, orderKey = "ord", alt)
    for (c <- Seq("cdp_x", "cdp_y")) {
      val a = spark.read.parquet(s"$path/coords/$c").collect().map(_.toSeq).toSet
      val b = spark.read.parquet(s"$alt/coords/$c").collect().map(_.toSeq).toSet
      assert(a == b, s"folded vs store-scan mismatch for $c")
    }
  }

  test("dim-vector cardinality guard: a lowered gate writes the same tables " +
       "through the distributed path") {
    def ingestTo(dirTag: String): String = {
      val p = Files.createTempDirectory(dirTag).toString
      IngestPipeline.ingest(spark, grid(dup = true), template,
        GridOverrides(hasDuplicates = true), p,
        Seq("inline", "crossline", "amplitude"), "amplitude")
      p
    }
    def ingestRegular(dirTag: String): String = {
      val p = Files.createTempDirectory(dirTag).toString
      IngestPipeline.ingest(spark, grid(dup = false), template,
        GridOverrides(), p, Seq("inline", "crossline"), "amplitude")
      p
    }
    val (viaDriver, viaDriverReg) = (ingestTo("dimguard_a"), ingestRegular("dimguard_c"))
    // gate 2 < the 4-value inline/crossline dims -> distributed fallback on
    // both the counter fast path and the regular path; counter max (2) stays
    // driver-side
    spark.conf.set("graft.dims.driverMaxValues", "2")
    val (viaDist, viaDistReg) =
      try (ingestTo("dimguard_b"), ingestRegular("dimguard_d"))
      finally spark.conf.unset("graft.dims.driverMaxValues")
    for ((a, b) <- Seq((viaDriver, viaDist), (viaDriverReg, viaDistReg));
         d <- Seq("inline", "crossline") ++
           (if (a == viaDriver) Seq("trace") else Nil)) {
      val x = spark.read.parquet(s"$a/dims/$d")
        .select(col("dim_value").cast("long")).as[Long].collect().toSeq
      val y = spark.read.parquet(s"$b/dims/$d")
        .select(col("dim_value").cast("long")).as[Long].collect().toSeq
      assert(x == y, s"dim $d differs between driver and distributed paths")
      assert(x == x.sorted && x.nonEmpty)
    }
  }

  test("a null grid value never enters dims/<d>, whichever side of the gate") {
    import graft.operators.Selection.{IPoint, ISlice}
    // ignoreChecks admits the null-inline trace; it has no grid cell
    val traces = (Seq[(Option[Int], Int)]((None, 1)) ++
      (for (il <- 1 to 3; xl <- 1 to 2) yield (Some(il), xl)))
      .map { case (il, xl) => (il, xl, xl * 1.0) }
      .toDF("inline", "crossline", "amplitude")
    def ingestTo(tag: String): String = {
      val p = Files.createTempDirectory(tag).toString
      IngestPipeline.ingest(spark, traces, template, GridOverrides(), p,
        Seq("crossline"), "amplitude", ignoreChecks = true)
      p
    }
    val viaDriver = ingestTo("nulldim_a")
    // gate 1: both dims are over it, so their tables take the distributed
    // writer and isel the distributed resolver
    spark.conf.set("graft.dims.driverMaxValues", "1")
    try {
      val viaDist = ingestTo("nulldim_b")
      def table(p: String) = spark.read.parquet(s"$p/dims/inline")
        .as[Option[Int]].collect().toSeq
      assert(table(viaDriver) == Seq(Some(1), Some(2), Some(3)))
      assert(table(viaDist) == table(viaDriver))
      assert(MdioDataset.open(spark, viaDist).schema.dimensions.head.size == 3)
      def isel(p: String) = Seq(IPoint(0), IPoint(-1), ISlice(1, 3)).map(i =>
        MdioDataset.open(spark, p).isel("inline" -> i)
          .select("inline", "crossline").as[(Int, Int)].collect().toSet)
      val atGate1 = isel(viaDist)
      spark.conf.unset("graft.dims.driverMaxValues")
      assert(isel(viaDriver) == atGate1)
      assert(atGate1.head == Set((1, 1), (1, 2)))
    } finally spark.conf.unset("graft.dims.driverMaxValues")
  }

  test("missing required header fields are rejected up front") {
    val noXl = Seq((1, 1.0)).toDF("inline", "amplitude")
    intercept[IllegalArgumentException] {
      IngestPipeline.ingest(spark, noXl, template, GridOverrides(),
        Files.createTempDirectory("ingest").toString, Seq("inline"), "amplitude")
    }
  }
}

class SegyExportSpec extends SparkSpec {
  import spark.implicits._
  import graft.`export`.SegyExport

  test("maskedExport: masked, projected, globally ordered with seq") {
    val df = Seq((2, 1, true), (1, 2, true), (1, 1, false), (3, 3, true))
      .toDF("il", "xl", "live")
    val out = SegyExport.maskedExport(df, col("live"), Seq("il"),
      headerFields = Seq("il", "xl"), orderKeys = Seq("il", "xl"))
      .select("il", "xl", "seq").as[(Int, Int, Long)].collect().toList
    assert(out.sortBy(_._3) == List((1, 2, 0L), (2, 1, 1L), (3, 3, 2L)))
  }

  test("serializeStandardTraces packs headers at spec offsets + payload") {
    import graft.sources.SegyRead.StandardFields.{Crossline, Inline}
    val df = Seq((7, 260, Array[Byte](1, 2, 3))).toDF("il", "xl", "samples")
    val r = SegyExport.serializeStandardTraces(df,
      Seq(Inline -> "il", Crossline -> "xl"), "samples").collect().head
    assert(r.getAs[Long]("record_len") == 240 + 3)
    val rec = r.getAs[Array[Byte]]("trace_record")
    assert(rec.slice(188, 192).toSeq == Seq[Byte](0, 0, 0, 7))
    assert(rec.slice(192, 196).toSeq == Seq[Byte](0, 0, 1, 4)) // 260 = 0x104
    assert((rec.take(188) ++ rec.slice(196, 240)).forall(_ == 0))
    assert(rec.drop(240).toSeq == Seq[Byte](1, 2, 3))
  }
}
