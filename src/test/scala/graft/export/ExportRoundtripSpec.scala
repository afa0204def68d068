package graft.`export`

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.ingestion.{GridOverrides, IngestPipeline}
import graft.schema.TemplateRegistry
import graft.sources.SegyRead.StandardFields.{Crossline, Inline}
import graft.storage.MdioDataset
import org.apache.spark.sql.functions._

/** Ingest → masked export → SEG-Y byte round-trip, mirroring the reference's
  * parameterized masked-export integration tests
  * (`tests/integration/test_segy_import_export_masked.py:104-187,341-498`):
  * import a synthetic grid, export with a selection mask, and verify the
  * written file's structure and global trace order.
  */
class ExportRoundtripSpec extends SparkSpec {
  import spark.implicits._

  test("ingest -> mask -> ordered SEG-Y export preserves count and order") {
    // 3d_stack-like grid: inline 10..29, crossline 100..138 step 2 (20×20)
    val rows = for (il <- 10 until 30; xl <- 100 until 140 by 2)
      yield (il, xl, il * 1000.0 + xl)
    val df = rows.toDF("inline", "crossline", "amplitude")
    val storePath = Files.createTempDirectory("rt").toString
    val r = IngestPipeline.ingest(spark, df,
      TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
      storePath, ordinal = Seq("inline", "crossline"), valueCol = "amplitude")
    assert(r.nTraces == 400)

    // selection mask removes ~half the traces (even inlines only)
    val ds = MdioDataset.open(spark, storePath)
    val masked = SegyExport.maskedExport(ds.df, col("inline") % 2 === 0,
      dims = Seq("inline", "crossline"),
      headerFields = Seq("inline", "crossline"),
      orderKeys = Seq("inline", "crossline"))
    val kept = masked.count()
    assert(kept == 200)

    // serialize with one format-2 sample: the amplitude as a 4-byte
    // big-endian int
    val records = SegyExport.serializeStandardTraces(
      ds.df.where(col("inline") % 2 === 0)
        .orderBy("inline", "crossline")
        .withColumn("samples", call_function("to_binary",
          lpad(hex(col("amplitude").cast("int")), 8, "0"), lit("hex"))),
      Seq(Inline -> "inline", Crossline -> "crossline"), "samples")
    val out = Files.createTempDirectory("rt").toString + "/export.sgy"
    SegyExport.writeSegy(records, out,
      SegyHeaders.sanitizeTextHeader(Seq("C 1 ROUNDTRIP")),
      SegyExport.standardBinaryHeader(nSamples = 1, sampleInterval = 2000,
        formatCode = 2))

    val bytes = Files.readAllBytes(Paths.get(out))
    val recordLen = 240 + 4 // standard trace header + 4-byte sample payload
    assert(bytes.length == 3600 + 200 * recordLen)
    // first trace is the global minimum (inline 10, crossline 100); traces
    // appear in strictly increasing (inline, crossline) order
    def beInt(off: Int) = java.nio.ByteBuffer.wrap(bytes, off, 4).getInt
    val keys = (0 until 200).map { i =>
      val off = 3600 + i * recordLen
      (beInt(off + 188), beInt(off + 192))
    }
    assert(keys.head == ((10, 100)))
    assert(keys == keys.sorted)
    assert(keys.map(_._1).forall(_ % 2 == 0))

    // full circle: re-import the SEG-Y bytes into a trace table and compare
    // against the masked original — the Teapot-style import→export→import
    // equality (`tests/integration/test_segy_roundtrip_teapot.py:151-310`)
    val reimported = spark.read.format("segy")
      .option("fields", "inline,crossline").load(out)
      .select(col("inline").cast("int"), col("crossline").cast("int"),
        element_at(col("samples"), 1).cast("double"))
      .as[(Int, Int, Double)].collect().toSet
    val original = ds.df.where(col("inline") % 2 === 0)
      .select(col("inline"), col("crossline"), col("amplitude").cast("int").cast("double"))
      .as[(Int, Int, Double)].collect().toSet
    assert(reimported == original)
  }
}
