package graft.`export`

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingestion.{GridOverrides, IngestPipeline}
import graft.schema.TemplateRegistry
import graft.sources.SegyRead
import graft.storage.MdioDataset

/** Local disk under its own `lossy:` scheme. It is not a
  * `LocalFileSystem`, so [[SegyExport.writeSegy]] takes its object-store arm
  * (part files, then a driver concat). Under a directory whose name holds
  * `drop`, it loses `part-00001`: the create succeeds, the file never
  * appears.
  */
class LossyPartsFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("lossy:///")
  override def getScheme: String = "lossy"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    if (f.getName == "part-00001" && f.toString.contains("drop"))
      new FSDataOutputStream(java.io.OutputStream.nullOutputStream(), null)
    else super.create(f, overwrite, bufferSize, replication, blockSize, progress)
}

/** The export writes the order of its sort's partitions; no sequence
  * column is needed for it. The object-store concat fails loudly on a
  * missing part.
  */
class ExportOrderSpec extends SparkSpec {

  private val nSamples = 3
  private val fieldCols = Seq(SegyRead.StandardFields.Inline -> "inline",
    SegyRead.StandardFields.Crossline -> "crossline")
  private val text = SegyHeaders.sanitizeTextHeader(Seq("C 1 EXPORT ORDER"))

  test("seq-free export is in global dim order across >= 4 range partitions " +
    "and byte-identical to the seq-based output") {
    // a session whose sort keeps every range partition (no AQE coalescing)
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import s.implicits._
    val rows = for (il <- 10 until 30; xl <- 100 until 140 by 2)
      yield (il, xl, Seq.tabulate(nSamples)(k => (il * 1000 + xl + k).toFloat))
    val store = Files.createTempDirectory("exportorder").toString
    IngestPipeline.ingest(s, rows.toDF("inline", "crossline", "amplitude"),
      TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
      store, ordinal = Seq("inline", "crossline"), valueCol = "amplitude")
    // scatter the rows so only the export's own sort can order them
    val opened = MdioDataset.open(s, store)
    val handle = opened.copy(df = opened.df.repartition(5)
      .withColumn("samples", col("amplitude").cast("array<float>")))
    val mask = col("inline") % 3 =!= 0
    val dims = Seq("inline", "crossline")
    val headerCols = Seq("inline", "crossline", "samples")

    val ordered = SegyExport.maskedOrder(handle.df, mask, dims, headerCols, dims)
    assert(ordered.rdd.getNumPartitions >= 4)

    val dir = Files.createTempDirectory("exportorder").toString
    val out = s"$dir/order.sgy"
    graft.Mdio.mdioToStandardSegy(handle, out, mask, dims, fieldCols,
      orderKeys = dims, samplesCol = "samples", nSamples = nSamples,
      sampleInterval = 2000, textHeader = text)

    // the seq-based shape: maskedExport's globally sequenced frame
    val seqOut = s"$dir/seq.sgy"
    val withSeq = SegyExport.maskedExport(handle.df, mask, dims, headerCols, dims)
    SegyExport.writeSegy(
      SegyExport.serializeStandardTraces(
        withSeq.withColumn("_pay", SegyExport.ibmPayload(col("samples"), nSamples)),
        fieldCols, "_pay"),
      seqOut, text,
      SegyExport.standardBinaryHeader(nSamples, 2000, formatCode = 1))

    val bytes = Files.readAllBytes(Paths.get(out))
    assert(bytes.toSeq == Files.readAllBytes(Paths.get(seqOut)).toSeq)
    val record = SegyExport.standardRecordBytes(nSamples, 1).toInt
    val n = (bytes.length - 3600) / record
    val kept = rows.count { case (il, _, _) => il % 3 != 0 }
    assert(bytes.length == 3600 + kept * record && n == kept)
    def beInt(off: Int) = java.nio.ByteBuffer.wrap(bytes, off, 4).getInt
    val keys = (0 until n).map { i =>
      val off = 3600 + i * record
      (beInt(off + 188), beInt(off + 192))
    }
    assert(keys == keys.sorted && keys.distinct.length == n)
    assert(keys.forall(_._1 % 3 != 0))
  }

  test("object-store concat equals the positioned write, and a missing part " +
    "file is a MissingPartFileError that leaves no output") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.lossy.impl", classOf[LossyPartsFs].getName)
    val records = SegyExport.serializeStandardTraces(
      (1 to 30).map(i => (i, Array[Byte](i.toByte, 0, 0, 1))).toDF("k", "samples")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k"),
      Seq(SegyRead.StandardFields.Inline -> "k"), "samples")
    val bin = SegyExport.standardBinaryHeader(1, 0, formatCode = 1)
    val dir = Files.createTempDirectory("lossyparts").toString

    SegyExport.writeSegy(records, s"$dir/posix.sgy", text, bin)
    SegyExport.writeSegy(records, s"lossy://$dir/keep/store.sgy", text, bin)
    assert(Files.readAllBytes(Paths.get(s"$dir/keep/store.sgy")).toSeq ==
      Files.readAllBytes(Paths.get(s"$dir/posix.sgy")).toSeq)

    val e = intercept[SegyExport.MissingPartFileError] {
      SegyExport.writeSegy(records, s"lossy://$dir/drop/store.sgy", text, bin)
    }
    assert(e.getMessage.contains("part-00001"))
    assert(!Files.exists(Paths.get(s"$dir/drop/store.sgy")))
    assert(!Files.exists(Paths.get(s"$dir/drop/store.sgy.parts")))
  }
}
