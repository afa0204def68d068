package graft.`export`

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FileOrderedScan

import graft.SparkSpec
import graft.core.JobRecorder
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

/** The export writes the order of its sort's partitions, or of the
  * store's part files when they are already in order; no sequence column
  * is needed for either. The object-store concat fails loudly on a missing
  * part.
  */
class ExportOrderSpec extends SparkSpec {

  private val nSamples = 3
  private val fieldCols = Seq(SegyRead.StandardFields.Inline -> "inline",
    SegyRead.StandardFields.Crossline -> "crossline")
  private val text = SegyHeaders.sanitizeTextHeader(Seq("C 1 EXPORT ORDER"))
  private val mask = col("inline") % 3 =!= 0
  private val dims = Seq("inline", "crossline")

  // a session whose sorts keep every range partition (no AQE coalescing),
  // so the store holds 4 part files and the export's sort 4 partitions
  private lazy val s = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }
  private lazy val rows = for (il <- 10 until 30; xl <- 100 until 140 by 2)
    yield (il, xl, Seq.tabulate(nSamples)(k => (il * 1000 + xl + k).toFloat))
  // a space in the store path: part-file paths must survive URI quoting
  private lazy val store = {
    import s.implicits._
    val store = Files.createTempDirectory("export order").toString
    IngestPipeline.ingest(s, rows.toDF("inline", "crossline", "amplitude"),
      TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
      store, ordinal = Seq("inline", "crossline"), valueCol = "amplitude")
    store
  }

  test("seq-free export is in global dim order across >= 4 range partitions " +
    "and byte-identical to the seq-based output") {
    // scatter the rows so only the export's own sort can order them
    val opened = MdioDataset.open(s, store)
    val handle = opened.copy(df = opened.df.repartition(5)
      .withColumn("samples", col("amplitude").cast("array<float>")))
    val headerCols = Seq("inline", "crossline", "samples")

    val ordered = SegyExport.maskedOrder(handle.df, mask, dims, headerCols, dims)
    assert(ordered.rdd.getNumPartitions >= 4)

    val dir = Files.createTempDirectory("exportorder").toString
    val out = s"$dir/order.sgy"
    assert(graft.Mdio.mdioToStandardSegy(handle, out, mask, dims, fieldCols,
      orderKeys = dims, samplesCol = "samples", nSamples = nSamples,
      sampleInterval = 2000, textHeader = text) == "sort: not a store scan")

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

  test("the store-order arm writes the sort arm's bytes from a 4-file store") {
    val parts = new java.io.File(s"$store/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts >= 4, s"the store holds $parts part files")
    val opened = MdioDataset.open(s, store)
    val dir = Files.createTempDirectory("exportorder").toString
    def export(handle: graft.storage.MdioDatasetHandle, out: String): String =
      graft.Mdio.mdioToStandardSegy(handle, out, mask, dims, fieldCols,
        orderKeys = dims, samplesCol = "samples", nSamples = nSamples,
        sampleInterval = 2000, textHeader = text,
        columns = Seq("samples" -> col("amplitude").cast("array<float>")))
    assert(export(opened, s"$dir/store.sgy") == "store order")
    // a filter over the scan is no longer the store's own scan
    assert(export(opened.copy(df = opened.df.where(lit(true))), s"$dir/sort.sgy") ==
      "sort: not a store scan")
    val bytes = Files.readAllBytes(Paths.get(s"$dir/store.sgy")).toSeq
    assert(bytes == Files.readAllBytes(Paths.get(s"$dir/sort.sgy")).toSeq)
    val kept = rows.count { case (il, _, _) => il % 3 != 0 }
    assert(bytes.length == 3600 + kept * SegyExport.standardRecordBytes(nSamples, 1))
  }

  test("a split part file exports in store order, byte-equal to the sort arm") {
    // one part file of many small row groups
    val one = spark.newSession()
    one.conf.set("spark.sql.shuffle.partitions", "1")
    one.conf.set("parquet.block.size", "16384")
    val wide = 48
    val store = Files.createTempDirectory("export split").toString
    import one.implicits._
    IngestPipeline.ingest(one, (for (il <- 0 until 40; xl <- 0 until 40) yield
        (il, xl, Seq.tabulate(wide)(k => (il * 7919 + xl * 104729 + k * 31) % 65536 / 7f)))
        .toDF("inline", "crossline", "amplitude"),
      TemplateRegistry.instance.get("PostStack3DTime"), GridOverrides(),
      store, ordinal = Seq("inline", "crossline"), valueCol = "amplitude")
    val Array(file) = new java.io.File(s"$store/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file.toURI),
        spark.sparkContext.hadoopConfiguration))
    val groups = try reader.getRowGroups.size finally reader.close()
    assert(groups >= 6, s"the part file holds $groups row groups")
    one.conf.set("spark.sql.files.maxPartitionBytes", (file.length / 4).toString)
    val opened = MdioDataset.open(one, store)
    val dir = Files.createTempDirectory("exportsplit").toString
    def export(handle: graft.storage.MdioDatasetHandle, out: String): String =
      graft.Mdio.mdioToStandardSegy(handle, out, mask, dims, fieldCols,
        orderKeys = dims, samplesCol = "samples", nSamples = wide,
        sampleInterval = 2000, textHeader = text,
        columns = Seq("samples" -> col("amplitude").cast("array<float>")))
    val (arm, record) = JobRecorder.record(spark)(export(opened, s"$dir/store.sgy"))
    assert(arm == "store order")
    assert(record.tasks.head >= 3, s"the key job ran ${record.tasks.head} tasks")
    assert(export(opened.copy(df = opened.df.where(lit(true))), s"$dir/sort.sgy") ==
      "sort: not a store scan")
    val bytes = Files.readAllBytes(Paths.get(s"$dir/store.sgy")).toSeq
    assert(bytes == Files.readAllBytes(Paths.get(s"$dir/sort.sgy")).toSeq)
    assert(bytes.length == 3600 + (0 until 40).count(_ % 3 != 0) * 40 *
      SegyExport.standardRecordBytes(wide, 1))
  }

  test("a file-ordered scan never equals a plain Parquet scan of its files") {
    val fs = MdioDataset.open(s, store).df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }.get
    def scan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b.scan }.get
    val ordered = scan(FileOrderedScan.read(fs)) match { case o: FileOrderedScan => o }
    assert(ordered == scan(FileOrderedScan.read(fs)))
    val plain = ParquetScanBuilder(s, fs.location.asInstanceOf[PartitioningAwareFileIndex],
      fs.dataSchema, fs.dataSchema, ordered.options).build()
    assert(plain.readSchema == ordered.readSchema && plain.getClass != ordered.getClass)
    // ParquetScan's own equals ignores the class, so plan lookups rest on
    // this side's equals and on the class-keyed hash
    assert(ordered != plain && ordered.hashCode != plain.hashCode)
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
