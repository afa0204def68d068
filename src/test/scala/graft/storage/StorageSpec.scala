package graft.storage

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.{AccessPatterns, Selection}
import graft.schema._
import org.apache.spark.sql.functions._

class MdioDatasetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("mdio-test").toString

  private def sampleSchema = MdioSchema(
    variables = Seq(Variable("amplitude", Seq("il", "xl"), Left(ScalarType.Float64))),
    metadata = DatasetMetadata("t", "1.0.0", "2026-01-01T00:00:00Z"),
    dimensions = Seq(NamedDimension("il", 2), NamedDimension("xl", 2)))

  private def sampleDf =
    Seq((1, 10, 1.5), (1, 20, 2.5), (2, 10, 3.5), (2, 20, 4.5))
      .toDF("il", "xl", "amplitude")

  test("write + open round-trips data and sidecar; sel filters; info aggregates") {
    val path = tmp()
    MdioDataset.write(sampleDf, path, sampleSchema, sortDims = Seq("il", "xl"))
    val ds = MdioDataset.open(spark, path)
    assert(ds.schema.copy(layout = None) == sampleSchema)
    assert(ds.schema.layout.exists(_.sortDims == Seq("il", "xl")))
    assert(ds.df.count() == 4)
    assert(ds.dimSizes == Map("il" -> 2L, "xl" -> 2L))
    val slice = ds.sel("il" -> Selection.Point(1))
    assert(slice.select("amplitude").as[Double].collect().toSet == Set(1.5, 2.5))
    val info = ds.info().collect().head
    assert(info.getAs[Int]("il_min") == 1 && info.getAs[Long]("xl_n") == 2L)
  }

  test("declared Blosc compressor maps to the physical parquet codec") {
    val path = tmp()
    val schema = sampleSchema.copy(variables = sampleSchema.variables
      .map(_.copy(compressor = Some(Blosc("zstd")))))
    MdioDataset.write(sampleDf, path, schema)
    val files = new java.io.File(s"$path/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.contains("zstd")),
      s"expected zstd-compressed parts, got ${files.mkString(",")}")
    // round-trip unaffected
    assert(MdioDataset.open(spark, path).df.count() == 4)
    // no declaration → session default codec (not zstd)
    val plain = tmp()
    MdioDataset.write(sampleDf, plain, sampleSchema)
    val plainFiles = new java.io.File(s"$plain/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(plainFiles.nonEmpty && !plainFiles.exists(_.contains("zstd")))
  }

  test("write modes: w- fails on existing, a appends") {
    val path = tmp()
    MdioDataset.write(sampleDf, path, sampleSchema)
    val dimTable = new java.io.File(path, "dims/il")
    assert(dimTable.mkdirs())
    intercept[Exception] {
      MdioDataset.write(sampleDf, path, sampleSchema, MdioDataset.WriteMode.WMinus)
    }
    assert(dimTable.isDirectory, "a refused w- leaves the store's tables alone")
    MdioDataset.write(sampleDf, path, sampleSchema, MdioDataset.WriteMode.A)
    assert(MdioDataset.open(spark, path).df.count() == 8)
    assert(!new java.io.File(path, "dims").exists(), "an append drops stale dim tables")
  }

  test("a w rewrite drops the previous ingest's dim tables and fast copies") {
    import graft.Mdio
    val path = tmp()
    def grid(ils: Range) = (for (il <- ils; xl <- 100 until 110)
      yield (il, xl, il * 1000.0 + xl)).toDF("inline", "crossline", "amplitude")
    Mdio.segyToMdio(spark, grid(10 until 20),
      TemplateRegistry.instance.get("PostStack3DTime"),
      graft.ingestion.GridOverrides(), path,
      ordinal = Seq("inline", "crossline"), valueCol = "amplitude")
    Mdio.optimizeAccessPatterns(Mdio.openMdio(spark, path), Seq("inline"), "amplitude")
    val children = () => new java.io.File(path).list().toSet
    assert(Set("dims", "fast_inline").subsetOf(children()))
    Mdio.toMdio(grid(50 until 60), path, Mdio.openMdio(spark, path).schema,
      MdioDataset.WriteMode.W)
    assert(children().filter(c => c == "dims" || c == "coords" ||
      c.startsWith("fast_")).isEmpty, children())
    val first = Mdio.openMdio(spark, path).isel("inline" -> Selection.IPoint(0))
    assert(first.select("inline").as[Int].collect().toSet == Set(50))
    assert(first.count() == 10L)
    assert(AccessPatterns.resolve(spark, path, "data", "inline")
      .where(col("inline") < 50).count() == 0L)
  }

  test("w records layout; r+ replaces only the written region (S5)") {
    val path = tmp()
    MdioDataset.write(sampleDf, path, sampleSchema, sortDims = Seq("il", "xl"),
      partitionDims = Seq("il"))
    val confBefore = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    // region write: replace il=1 with a single new row; il=2 untouched
    val region = Seq((1, 30, 9.9)).toDF("il", "xl", "amplitude")
    MdioDataset.write(region, path, sampleSchema, MdioDataset.WriteMode.RPlus)
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      == confBefore, "r+ must not mutate the session conf")
    val ds = MdioDataset.open(spark, path)
    val rows = ds.df.select("il", "xl", "amplitude")
      .as[(Int, Int, Double)].collect().toSet
    assert(rows == Set((1, 30, 9.9), (2, 10, 3.5), (2, 20, 4.5)),
      s"region overwrite left $rows")
    // partition-column type comes from the recorded DDL, not dir inference
    assert(ds.df.schema("il").dataType.typeName == "integer")
    assert(ds.schema.layout.exists(_.partitionCols == Seq("il")))
  }

  test("compact keeps a partitioned store's rows, directories and layout") {
    val path = tmp()
    // string partition values that type inference would read as numbers
    val df = sampleDf.withColumn("blk", format_string("%02d", col("il")))
    MdioDataset.write(df, path, sampleSchema, sortDims = Seq("il", "xl"),
      partitionDims = Seq("blk"))
    (1 to 3).foreach(_ => MdioDataset.write(df, path, sampleSchema, MdioDataset.WriteMode.A))
    def rows() = MdioDataset.open(spark, path).df
      .select("blk", "il", "xl", "amplitude").as[(String, Int, Int, Double)]
      .collect().toSeq.sorted
    def dirs() = new java.io.File(s"$path/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val (rowsBefore, layoutBefore) =
      (rows(), MdioDataset.readSidecar(spark, path).flatMap(_.layout))
    val (nBefore, nAfter) = MdioDataset.compact(spark, path)
    assert(nBefore >= 4 && nAfter == 2, s"files $nBefore -> $nAfter")
    assert(rows() == rowsBefore)
    assert(rowsBefore.size == 16 && rowsBefore.head._1 == "01")
    assert(dirs() == Set("blk=01", "blk=02"), dirs())
    assert(MdioDataset.readSidecar(spark, path).flatMap(_.layout) == layoutBefore)
    assert(layoutBefore.exists(_.partitionCols == Seq("blk")))
    assert(!new java.io.File(s"$path/.data_compacting").exists)
  }

  test("r+ on a flat store and mismatched append layouts are rejected") {
    val path = tmp()
    MdioDataset.write(sampleDf, path, sampleSchema) // no sortDims → flat
    intercept[MdioDataset.LayoutMismatchError] {
      MdioDataset.write(sampleDf, path, sampleSchema, MdioDataset.WriteMode.RPlus)
    }
    val sorted = tmp()
    MdioDataset.write(sampleDf, sorted, sampleSchema, sortDims = Seq("il"),
      partitionDims = Seq("il"))
    intercept[MdioDataset.LayoutMismatchError] {
      MdioDataset.write(sampleDf, sorted, sampleSchema, MdioDataset.WriteMode.A,
        sortDims = Seq("xl"))
    }
    // append with the stored layout (or none) is fine and stays partitioned
    MdioDataset.write(sampleDf, sorted, sampleSchema, MdioDataset.WriteMode.A)
    assert(MdioDataset.open(spark, sorted).df.count() == 8)
  }

  test("copy prunes excluded variables (S7)") {
    val from = tmp(); val to = tmp()
    val schema2 = sampleSchema.copy(variables = sampleSchema.variables :+
      Variable("xl", Seq("il", "xl"), Left(ScalarType.Int32)))
    MdioDataset.write(sampleDf, from, schema2)
    MdioDataset.copy(spark, from, to, excludeColumns = Seq("xl"))
    val copied = MdioDataset.open(spark, to)
    assert(!copied.df.columns.contains("xl"))
    assert(!copied.schema.variables.exists(_.name == "xl"))
  }
}

class SegyHeadersSpec extends SparkSpec {
  import graft.export.SegyHeaders

  test("text header validation: 40 rows x 80 printable chars") {
    val good = Seq.fill(40)("C" + " " * 79)
    SegyHeaders.validateTextHeader(good) // no throw
    intercept[SegyHeaders.TextHeaderError] {
      SegyHeaders.validateTextHeader(good.take(39))
    }
    intercept[SegyHeaders.TextHeaderError] {
      SegyHeaders.validateTextHeader(Seq.fill(40)("short"))
    }
    intercept[SegyHeaders.TextHeaderError] {
      SegyHeaders.validateTextHeader(Seq.fill(40)("" + " " * 79))
    }
  }

  test("sanitize pads, truncates and strips non-printables") {
    val out = SegyHeaders.sanitizeTextHeader(Seq("C1", "x" * 100))
    assert(out.length == 40)
    assert(out.forall(_.length == 80))
    assert(out.head.startsWith("C 1"))
    SegyHeaders.validateTextHeader(out)
  }

  test("revision encoding packs major<<8 | minor") {
    assert(SegyHeaders.encodeRevision(1, 0) == 256)
    assert(SegyHeaders.encodeRevision(2, 1) == 513)
    assert(SegyHeaders.decodeRevision(513) == (2, 1))
  }
}

class AccessPatternsSpec extends SparkSpec {
  import spark.implicits._

  test("optimize writes fast_<dim> clusterings; resolve picks them") {
    val base = Files.createTempDirectory("ap-test").toString
    val df = (1 to 100).map(i => (i % 10, i, i * 1.0)).toDF("inline", "xl", "amp")
    df.write.parquet(s"$base/base")
    AccessPatterns.optimize(df, base, Seq("inline"), partitions = 2)
    val viaFast = AccessPatterns.resolve(spark, base, "base", "inline")
    val viaBase = AccessPatterns.resolve(spark, base, "base", "xl")
    assert(viaFast.where(col("inline") === 3).count() ==
      df.where(col("inline") === 3).count())
    assert(viaBase.count() == 100)
  }

  test("quantize rounds to the ZFP-tolerance grid") {
    val df = Seq(0.0, 0.4, 1.1, -0.9).toDF("x")
    val got = df.select(AccessPatterns.quantize(col("x"), 0.5)).as[Double].collect()
    assert(got.toSeq == Seq(0.0, 0.0, 1.0, -1.0))
  }

  test("optimizeStore quantizes with tolerance = quality × sidecar std") {
    val path = Files.createTempDirectory("ap-quant").toString
    val df = (1 to 200).map(i => (i % 10, i, i * 1.5)).toDF("inline", "xl", "amp")
    // stats the ingest pipeline would have written
    val n = 200L
    val xs = (1 to 200).map(_ * 1.5)
    val stats = SummaryStatistics(n, xs.sum, xs.map(x => x * x).sum, xs.min, xs.max)
    val schema = MdioSchema(
      variables = Seq(Variable("amp", Seq("inline", "xl"), Left(ScalarType.Float64),
        metadata = Some(VariableMetadata(statsV1 = Some(stats))))),
      metadata = DatasetMetadata("q", "1.0.0", "2026-01-01T00:00:00Z"))
    MdioDataset.write(df, path, schema)
    val handle = MdioDataset.open(spark, path)
    val tol = AccessPatterns.optimizeStore(handle, Seq("inline"), "amp", quality = 0.1)
    assert(math.abs(tol - 0.1 * stats.std) < 1e-12)
    val fast = spark.read.parquet(AccessPatterns.fastTablePath(path, "inline"))
    // every stored value sits on the 2·tol grid and within tol of the source
    val joinedErr = fast.select((col("amp") / (2 * tol)).as("g")).as[Double]
      .collect().map(g => math.abs(g - math.round(g)))
    assert(joinedErr.forall(_ < 1e-9))
    val maxErr = df.select(max(abs(col("amp") -
      AccessPatterns.quantize(col("amp"), tol)))).as[Double].collect().head
    assert(maxErr <= tol)
    // the fast copy's own sidecar records the lossy codec + tolerance
    val sidecar = new String(Files.readAllBytes(java.nio.file.Paths.get(
      AccessPatterns.fastTablePath(path, "inline"), ".mdio.json")), "UTF-8")
    val comp = SchemaJson.fromJson(sidecar).variable("amp").flatMap(_.compressor)
    assert(comp == Some(Zfp("fixed_accuracy", tolerance = Some(tol))))
  }
}

class StreamingEventsSpec extends SparkSpec {

  test("hourlyAggStream over a memory stream matches the batch expression") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = graft.streaming.StreamingEvents.hourlyAggStream(events)
    val query = agg.writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    input.addData((ts(0, 10), "click", 1.0), (ts(0, 40), "click", 2.0),
      (ts(1, 5), "view", 3.0))
    query.processAllAvailable()
    val out = spark.table("hourly_test")
      .select("hour", "event_type", "n_events", "sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    query.stop()
    assert(out == Set(
      (ts(0, 0), "click", 2L, 3.0),
      (ts(1, 0), "view", 1L, 3.0)))
  }
}
