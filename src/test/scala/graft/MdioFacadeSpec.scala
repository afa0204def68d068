package graft

import java.nio.file.{Files, Paths}

import graft.ingestion.GridOverrides
import graft.schema.TemplateRegistry
import org.apache.spark.sql.functions._

/** The reference-shaped front door: a user following the reference's
  * `mdio` module surface drives the whole lifecycle through [[Mdio]] alone.
  */
class MdioFacadeSpec extends SparkSpec {
  import spark.implicits._

  test("segyToMdio -> openMdio -> info -> optimize -> mdioToStandardSegy -> copyMdio") {
    val rows = for (il <- 10 until 20; xl <- 100 until 110)
      yield (il, xl, il * 1000.0 + xl)
    val df = rows.toDF("inline", "crossline", "amplitude")
    val store = Files.createTempDirectory("facade").toString

    // ingest
    val r = Mdio.segyToMdio(spark, df,
      TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
      store, ordinal = Seq("inline", "crossline"), valueCol = "amplitude")
    assert(r.nTraces == 100)

    // open + info
    val handle = Mdio.openMdio(spark, store)
    val info = Mdio.info(spark, store).collect().head
    assert(info.getAs[Long]("inline_n") == 10L)

    // access-pattern materialization: a reader picks the copy by name
    Mdio.optimizeAccessPatterns(handle, Seq("inline"), "amplitude")
    val fast = graft.operators.AccessPatterns.resolve(spark, store, "data", "inline")
    assert(fast.inputFiles.nonEmpty &&
      fast.inputFiles.forall(_.contains("/fast_inline/")))
    assert(fast.where(col("inline") === 12).count() == 10L)

    // masked export through the facade
    val out = Files.createTempDirectory("facade-out").toString + "/f.sgy"
    val withSamples = handle.df.withColumn("samples",
      array(col("amplitude").cast("float")))
    Mdio.mdioToStandardSegy(
      handle.copy(df = withSamples), out,
      mask = col("inline") < 15,
      dims = Seq("inline", "crossline"),
      fieldCols = Seq(
        graft.sources.SegyRead.StandardFields.Inline -> "inline",
        graft.sources.SegyRead.StandardFields.Crossline -> "crossline"),
      orderKeys = Seq("inline", "crossline"),
      samplesCol = "samples", nSamples = 1, sampleInterval = 2000,
      textHeader = graft.`export`.SegyHeaders.sanitizeTextHeader(Seq("C 1 FACADE")))
    val bytes = Files.readAllBytes(Paths.get(out))
    assert(bytes.length == 3600 + 50 * (240 + 4))

    // copy preserves row count and sidecar
    val copied = Files.createTempDirectory("facade-copy").toString + "/c"
    Mdio.copyMdio(spark, store, copied)
    assert(Mdio.openMdio(spark, copied).df.count() == 100L)

    // append twice, then compact through the facade: files shrink, rows don't
    val h = Mdio.openMdio(spark, copied)
    Seq((99, 999, 1.0), (99, 998, 2.0)).toDF("inline", "crossline", "amplitude")
      .write.format("mdio").mode("append").save(copied)
    val (nb, na) = Mdio.compactMdio(spark, copied)
    assert(na < nb && na >= 1)
    assert(Mdio.openMdio(spark, copied).df.count() == 102L)
    assert(Mdio.openMdio(spark, copied).schema.layout == h.schema.layout)
  }

  test("sel reads the store's exact data after a lossy optimizeAccessPatterns, " +
       "with the SQL extensions installed") {
    graft.functions.GraftSparkExtensions.install(spark)
    val rows = for (il <- 10 until 20; xl <- 100 until 103)
      yield (il, xl, il * 1000.0 + xl + 0.123)
    val store = Files.createTempDirectory("facade-lossy").toString
    Mdio.segyToMdio(spark, rows.toDF("inline", "crossline", "amplitude"),
      TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
      store, ordinal = Seq("inline", "crossline"), valueCol = "amplitude")
    val tol = Mdio.optimizeAccessPatterns(Mdio.openMdio(spark, store),
      Seq("inline"), "amplitude", quality = 1.0)
    assert(tol > 0.0)
    val got = Mdio.openMdio(spark, store)
      .sel("inline" -> graft.operators.Selection.Point(12))
      .select("amplitude").as[Double].collect().sorted.toSeq
    assert(got == Seq(12100.123, 12101.123, 12102.123))
    // the lossy copy is there, read by name
    val fast = graft.operators.AccessPatterns.resolve(spark, store, "data", "inline")
      .where(col("inline") === 12).select("amplitude").as[Double].collect()
    assert(fast.length == 3 && !fast.contains(12100.123))
  }

  test("segyStandardToMdio ingests a real byte-stream file (the reference's " +
       "URL entry point)") {
    import graft.sources.SegyRead.StandardFields.{Crossline, Inline}
    // write a little SEG-Y file through the sink: IEEE float32 amplitude
    // payloads assembled driver-side (the fixture is 20 traces)
    val rows = for (il <- 1 to 4; xl <- 1 to 5) yield (il, xl)
    val traces = rows.map { case (il, xl) =>
      val amp = (il * 100 + xl).toFloat
      val b = java.nio.ByteBuffer.allocate(4)
      b.putFloat(amp)
      (il, xl, b.array())
    }.toDF("inline", "crossline", "samples")
    val f = Files.createTempDirectory("facade-read").toString + "/in.sgy"
    graft.`export`.SegyExport.writeSegy(
      graft.`export`.SegyExport.serializeStandardTraces(
        traces.orderBy("inline", "crossline"),
        Seq(Inline -> "inline", Crossline -> "crossline"), "samples"),
      f, graft.`export`.SegyHeaders.sanitizeTextHeader(Seq("C 1 READ")),
      graft.`export`.SegyExport.standardBinaryHeader(nSamples = 1,
        sampleInterval = 2000, formatCode = 5))

    val store = Files.createTempDirectory("facade-read-store").toString
    val r = Mdio.segyStandardToMdio(spark, f,
      fields = Seq("inline", "crossline"),
      TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
      store, valueCol = "amplitude")
    assert(r.nTraces == 20)
    val got = Mdio.openMdio(spark, store).df
      .select(col("inline"), col("crossline"), element_at(col("amplitude"), 1))
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getFloat(2))).toSet
    assert(got == rows.map { case (il, xl) =>
      (il.toLong, xl.toLong, (il * 100 + xl).toFloat) }.toSet)
  }

  test("segyDirToMdio ingests a DIRECTORY of shot files as one dataset") {
    import spark.implicits._
    val dir = Files.createTempDirectory("facade-dir").toString
    // two shot files sharing the (inline, crossline) grid halves
    def shot(ils: Range, name: String): Unit =
      (for (il <- ils; xl <- 1 to 5) yield (il, xl))
        .map { case (il, xl) =>
          (il, xl, Seq((il * 100 + xl).toFloat)) }
        .toDF("inline", "crossline", "samples")
        .write.format("segy").option("fields", "inline,crossline")
        .mode("overwrite").save(s"$dir/$name.sgy")
    shot(1 to 2, "shot_a")
    shot(3 to 4, "shot_b")

    val store = Files.createTempDirectory("facade-dir-store").toString
    val r = Mdio.segyDirToMdio(spark, dir,
      fields = Seq("inline", "crossline"),
      TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
      store, valueCol = "amplitude")
    assert(r.nTraces == 20)
    val got = Mdio.openMdio(spark, store).df
      .withColumn("amp", element_at(col("amplitude"), 1))
      .select("inline", "crossline", "amp").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getFloat(2))).toSet
    assert(got == (for (il <- 1 to 4; xl <- 1 to 5)
      yield (il.toLong, xl.toLong, (il * 100 + xl).toFloat)).toSet)

    // a single FILE through the directory entry point is an actionable no
    val e = intercept[IllegalArgumentException] {
      Mdio.segyDirToMdio(spark, s"$dir/shot_a.sgy",
        fields = Seq("inline", "crossline"),
        TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
        Files.createTempDirectory("facade-dir-x").toString,
        valueCol = "amplitude")
    }
    assert(e.getMessage.contains("ingest one file with segyStandardToMdio"))
  }

  test("mdioToStandardSegy emits a spec-compliant file any reader opens") {
    import graft.sources.SegyRead
    import SegyRead.StandardFields._
    val rows = for (il <- 1 to 3; xl <- 1 to 4) yield (il, xl)
    val df = rows.toDF("inline", "crossline")
      .withColumn("amplitude", (col("inline") * 16 + col("crossline")).cast("double"))
    val store = Files.createTempDirectory("facade-std").toString
    Mdio.segyToMdio(spark, df,
      TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
      store, ordinal = Seq("inline", "crossline"), valueCol = "amplitude")

    val handle = Mdio.openMdio(spark, store)
    val withSamples = handle.df.withColumn("v",
      array(col("amplitude").cast("float"), lit(0.5f)))
    val out = Files.createTempDirectory("facade-std-out").toString + "/std.sgy"
    Mdio.mdioToStandardSegy(handle.copy(df = withSamples), out,
      mask = col("inline") <= 2,
      dims = Seq("inline", "crossline"),
      fieldCols = Seq(Inline -> "inline", Crossline -> "crossline"),
      orderKeys = Seq("inline", "crossline"),
      samplesCol = "v", nSamples = 2, sampleInterval = 4000,
      textHeader = graft.`export`.SegyHeaders.sanitizeTextHeader(Seq("C 1 STD")))

    val info = SegyRead.standardInfo(spark, out)
    assert(info.nSamples == 2 && info.formatCode == 1 && info.base.nTraces == 8)
    val got = spark.read.format("segy").option("fields", "inline,crossline")
      .load(out).orderBy("trace_index").collect()
      .map(r => (r.getAs[Long]("inline"), r.getAs[Long]("crossline"),
        r.getSeq[Float](r.fieldIndex("samples"))))
    assert(got.map(t => (t._1, t._2)).toSeq ==
      (for (il <- 1 to 2; xl <- 1 to 4) yield (il.toLong, xl.toLong)))
    got.foreach { case (il, xl, v) =>
      assert(v == Seq((il * 16 + xl).toFloat, 0.5f))
    }
  }
}
