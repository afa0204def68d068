package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.`export`.{SegyExport, SegyHeaders}
import graft.functions.IbmFloatDecode
import org.apache.spark.sql.functions._

/** Byte-stream reader tests, mirroring the reference's Teapot import→export
  * round-trip (`tests/integration/test_segy_roundtrip_teapot.py:151-310`):
  * a file written by the engine's own sink reads back bit-identical
  * (headers AND samples), and re-exporting the read frame reproduces the
  * original file byte-for-byte.
  */
class SegyReadSpec extends SparkSpec {
  import spark.implicits._

  private val textLines = SegyHeaders.sanitizeTextHeader(
    Seq("C 1 GRAFT READBACK", "C 2 FIXED CONTENT") ++
      (3 to 40).map(i => f"C$i%3d"))

  // samples per trace 2, format 2 (int32), revision 1.0
  private def binaryHeader: Array[Byte] =
    SegyExport.standardBinaryHeader(nSamples = 2, sampleInterval = 2000,
      formatCode = 2)

  // (il, xl, 8-byte payload = two int32 samples, big-endian)
  private val traces: Seq[(Int, Int, Array[Byte])] = Seq(
    (1, 10, Array[Byte](0, 0, 0, 1, 0, 0, 0, 2)),
    (1, 20, Array[Byte](0, 0, 0, 3, -1, -1, -1, -1)),
    (2, 10, Array[Byte](64, 16, 0, 0, 0, 0, 0, 5)),
    (-3, 7, Array[Byte](0, 1, 2, 3, 4, 5, 6, 7)))

  private val record = 240 + 8

  private def serialize(df: org.apache.spark.sql.DataFrame) = {
    import SegyRead.StandardFields._
    SegyExport.serializeStandardTraces(df,
      Seq(Inline -> "il", Crossline -> "xl"), "samples")
  }

  private def writeFile(): String = {
    val df = traces.toDF("il", "xl", "samples").orderBy("il", "xl")
    val out = Files.createTempDirectory("segyread").toString + "/in.sgy"
    SegyExport.writeSegy(serialize(df), out, textLines, binaryHeader)
    out
  }

  /** The segy scan of `f` with inline/crossline and the raw payload. */
  private def scan(f: String, tracesPerSplit: Int = 0) =
    spark.read.format("segy").option("fields", "inline,crossline")
      .option("raw", "true").option("tracesPerSplit", tracesPerSplit.toString)
      .load(f)

  // `SegyFileInfo` is the file summary `standardInfo` returns as `base`
  test("fileInfo reads trace count, text header, and revision from the " +
       "3600 fixed bytes") {
    val f = writeFile()
    val info = SegyRead.standardInfo(spark, f).base
    assert(info.nTraces == 4)
    assert(info.fileSize == 3600 + 4 * record)
    assert(info.textHeader == textLines)
    assert(info.revision == ((1, 0)))
    assert(info.binaryHeader.toSeq == binaryHeader.toSeq)
  }

  test("fileInfo rejects a file whose length is not header-aligned") {
    val f = writeFile()
    Files.write(Paths.get(f), Array[Byte](0), java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalArgumentException] {
      SegyRead.standardInfo(spark, f)
    }
    assert(e.getMessage.contains("not a multiple"))
  }

  test("the segy scan returns headers and samples bit-equal to what was " +
       "exported, in file order") {
    val f = writeFile()
    val got = scan(f).orderBy("trace_index").collect()
    val expected = traces.sortBy { case (il, xl, _) => (il, xl) }
    assert(got.length == expected.length)
    got.zip(expected).zipWithIndex.foreach {
      case ((row, (il, xl, pay)), i) =>
        assert(row.getAs[Long]("trace_index") == i.toLong)
        assert(row.getAs[Long]("inline") == il.toLong) // signed survives
        assert(row.getAs[Long]("crossline") == xl.toLong)
        assert(row.getAs[Array[Byte]]("samples").toSeq == pay.toSeq)
    }
  }

  test("split boundaries do not change the result (tracesPerSplit = 1)") {
    val f = writeFile()
    val whole = scan(f).orderBy("trace_index").collect().map(_.toSeq)
    val split = scan(f, tracesPerSplit = 1)
      .orderBy("trace_index").collect().map(_.toSeq)
    assert(split.length == 4)
    assert(whole.zip(split).forall { case (a, b) =>
      a.zip(b).forall {
        case (x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
        case (x, y) => x == y
      }
    })
  }

  test("import -> export -> import: re-exported file is byte-identical") {
    val f = writeFile()
    val info = SegyRead.standardInfo(spark, f).base
    val readBack = scan(f).orderBy("trace_index")
    val out = Files.createTempDirectory("segyread").toString + "/out.sgy"
    SegyExport.writeSegy(
      serialize(readBack.select(col("inline").as("il"),
        col("crossline").as("xl"), col("samples"))),
      out, info.textHeader, info.binaryHeader)
    assert(Files.readAllBytes(Paths.get(out)).toSeq ==
      Files.readAllBytes(Paths.get(f)).toSeq)
  }

  /** A one-trace file of `payload` under a binary header of `formatCode`,
    * decoded by [[SegyRead.decodeSamples]] from the scan's raw payload. */
  private def decoded(payload: Array[Byte], nSamples: Int,
                      formatCode: Int): Seq[Float] = {
    val df = Seq((1, 1, payload)).toDF("il", "xl", "samples")
    val out = Files.createTempDirectory("segyread").toString + "/one.sgy"
    SegyExport.writeSegy(serialize(df), out,
      SegyHeaders.sanitizeTextHeader(Seq("C 1")),
      SegyExport.standardBinaryHeader(nSamples, 2000, formatCode))
    scan(out).select(SegyRead.decodeSamples(col("samples"), nSamples,
      formatCode).as("v")).collect().head.getSeq[Float](0)
  }

  test("decodeSamples decodes a format-1 payload with the native IBM32 kernel") {
    // payload = two IBM32 words synthesized from known bit patterns
    val bits = Seq(0x41100000, 0xC1100000) // +1.0 and -1.0 in IBM hex float
    val pay = java.nio.ByteBuffer.allocate(8)
    bits.foreach(pay.putInt)
    val got = decoded(pay.array(), 2, formatCode = 1)
    assert(got == bits.map(IbmFloatDecode.decode))
    assert(got == Seq(1.0f, -1.0f))
  }

  test("decodeSamples decodes big-endian IEEE float32 (format 5) payloads") {
    val floats = Seq(1.5f, -2.25f, 0.0f, Float.MinPositiveValue)
    val pay = java.nio.ByteBuffer.allocate(16)
    floats.foreach(pay.putFloat)
    assert(decoded(pay.array(), 4, formatCode = 5) == floats)
  }

  test("standard rev-1 layout: 240-byte headers at spec offsets, " +
       "self-describing geometry, IBM32 samples") {
    // hand-assemble a STANDARD file this engine's sink never wrote:
    // binary header declares ns=3 (bytes 21-22), interval=2000 (17-18),
    // format=1/IBM32 (25-26); two traces with inline/crossline at bytes
    // 189/193, a 2-byte trace_id_code at 29 and a NEGATIVE 2-byte
    // coord_scalar at 71 (sign must survive the short decode)
    val bin = java.nio.ByteBuffer.allocate(400)
    bin.putShort(16, 2000.toShort)  // 0-based 16 = SEG-Y binary bytes 17-18
    bin.putShort(20, 3.toShort)
    bin.putShort(24, 1.toShort)
    bin.putShort(300, SegyHeaders.encodeRevision(1, 0).toShort)
    val ibm = Seq(0x41100000, 0xC1100000, 0x42640000) // +1.0, -1.0, +100.0
    def trace(il: Int, xl: Int, idCode: Short, scalar: Short): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(240 + 12)
      b.putInt(188, il)               // 0-based 188 = header bytes 189-192
      b.putInt(192, xl)
      b.putShort(28, idCode)
      b.putShort(70, scalar)
      b.position(240)
      ibm.foreach(b.putInt)
      b.array()
    }
    val out = Files.createTempDirectory("segystd").toString + "/std.sgy"
    val os = Files.newOutputStream(Paths.get(out))
    try {
      os.write(textLines.mkString.getBytes(
        java.nio.charset.Charset.forName("IBM037")))
      os.write(bin.array())
      os.write(trace(500, 900, 1, -100))
      os.write(trace(501, 901, 3, -100))
    } finally os.close()

    val info = SegyRead.standardInfo(spark, out)
    assert(info.nSamples == 3 && info.sampleInterval == 2000 &&
      info.formatCode == 1)
    assert(info.base.nTraces == 2 && info.base.revision == ((1, 0)))
    assert(info.base.textHeader == textLines)

    val got = spark.read.format("segy")
      .option("fields", "inline,crossline,trace_id_code,coord_scalar").load(out)
      .orderBy("trace_index").collect()
    assert(got.map(r => (r.getAs[Long]("inline"), r.getAs[Long]("crossline"),
      r.getAs[Long]("trace_id_code"), r.getAs[Long]("coord_scalar"))).toSeq ==
      Seq((500L, 900L, 1L, -100L), (501L, 901L, 3L, -100L)))
    got.foreach(r =>
      assert(r.getSeq[Float](r.fieldIndex("samples")) == Seq(1.0f, -1.0f, 100.0f)))
  }

  test("standard WRITE -> standard READ: spec-offset headers and IBM32 " +
       "samples round-trip bit-exactly") {
    import SegyRead.StandardFields._
    // magnitudes exactly representable in IBM32 (<= 24 significant bits,
    // hex-aligned) so the encode->decode identity is exact
    val sampleSets = Seq(
      Seq(1.0f, -1.0f, 100.0f, 0.0f),
      Seq(0.15625f, -118.625f, 0.5f, 16384.0f))
    val df = sampleSets.zipWithIndex.map { case (v, i) =>
      (200 + i, 300 + i, -100, v)
    }.toDF("inline", "crossline", "coord_scalar", "v")
    val records = SegyExport.serializeStandardTraces(
      df.orderBy("inline")
        .withColumn("samples", SegyExport.ibmPayload(col("v"), 4)),
      Seq(Inline -> "inline", Crossline -> "crossline",
        CoordScalar -> "coord_scalar"),
      "samples")
    val out = Files.createTempDirectory("segystd").toString + "/w.sgy"
    SegyExport.writeSegy(records, out, textLines,
      SegyExport.standardBinaryHeader(nSamples = 4, sampleInterval = 2000,
        formatCode = 1))

    val info = SegyRead.standardInfo(spark, out)
    assert(info.nSamples == 4 && info.formatCode == 1 &&
      info.sampleInterval == 2000 && info.base.nTraces == 2)
    val got = spark.read.format("segy")
      .option("fields", "inline,crossline,coord_scalar").load(out)
      .withColumn("v", col("samples"))
      .orderBy("trace_index").collect()
    got.zip(sampleSets).zipWithIndex.foreach { case ((r, vs), i) =>
      assert(r.getAs[Long]("inline") == 200L + i)
      assert(r.getAs[Long]("crossline") == 300L + i)
      assert(r.getAs[Long]("coord_scalar") == -100L)
      assert(r.getSeq[Float](r.fieldIndex("v")) == vs)
    }
  }

  test("IBM32 encode kernel: decode(encode(v)) is exact for hex-aligned " +
       "values and within 2^-20 relative everywhere") {
    import graft.functions.{IbmFloatDecode, IbmFloatEncode}
    Seq(1.0f, -1.0f, 0.0f, 100.0f, 0.15625f, -118.625f, 16384.0f, 0.5f,
      65536.0f, 1.0f / 16, 1.0f / 256).foreach { v =>
      assert(IbmFloatDecode.decode(IbmFloatEncode.encode(v)) == v, s"exact $v")
    }
    assert(IbmFloatEncode.encode(1.0f) == 0x41100000)
    assert(IbmFloatEncode.encode(-1.0f) == 0xC1100000)
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val v = java.lang.Float.intBitsToFloat(rnd.nextInt())
      // every finite nonzero float32 is inside IBM32's range (16^±63
      // spans far past IEEE float32's 2^±126)
      if (!v.isNaN && !v.isInfinite && v != 0.0f) {
        val back = IbmFloatDecode.decode(IbmFloatEncode.encode(v))
        assert(math.abs(back - v) <= math.abs(v) * math.pow(2, -20),
          s"$v -> $back")
      }
    }
  }

  test("per-trace coordinate scalar composes with the standard reader " +
       "(negative divides, zero applies as 1)") {
    def t(cdpX: Int, scalar: Short): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(240 + 4)
      b.putShort(70, scalar); b.putInt(180, cdpX)
      b.array()
    }
    val bin = java.nio.ByteBuffer.allocate(400)
    bin.putShort(20, 1.toShort); bin.putShort(24, 5.toShort)
    val out = Files.createTempDirectory("segysc").toString + "/sc.sgy"
    val os = Files.newOutputStream(Paths.get(out))
    try {
      os.write(new Array[Byte](3200)); os.write(bin.array())
      os.write(t(1234500, -100)); os.write(t(7, 10)); os.write(t(42, 0))
    } finally os.close()
    val got = spark.read.format("segy").option("fields", "cdp_x,coord_scalar")
      .load(out)
      .withColumn("x", graft.operators.Coordinates.applyScalarCol(
        col("cdp_x"), col("coord_scalar")))
      .orderBy("trace_index").collect().map(_.getAs[Double]("x"))
    assert(got.toSeq == Seq(12345.0, 70.0, 42.0))
  }

  test("standardInfo rejects unsupported sample format codes") {
    val bin = java.nio.ByteBuffer.allocate(400)
    bin.putShort(20, 3.toShort)
    bin.putShort(24, 4.toShort) // format 4 = fixed-point w/ gain, unsupported
    val out = Files.createTempDirectory("segystd").toString + "/bad.sgy"
    val os = Files.newOutputStream(Paths.get(out))
    try {
      os.write(new Array[Byte](3200)); os.write(bin.array())
    } finally os.close()
    val e = intercept[IllegalArgumentException] {
      SegyRead.standardInfo(spark, out)
    }
    // actionable: names the format AND the supported re-export targets
    assert(e.getMessage.contains("sample format 4"))
    assert(e.getMessage.contains("re-export"))
  }

  test("ASCII text headers auto-detect (a file not written by this engine)") {
    // hand-assemble a file with an ASCII text header: one format-2 trace,
    // inline 5 and crossline 6 at bytes 189/193, sample 7
    val ascii = textLines.mkString.getBytes(
      java.nio.charset.StandardCharsets.US_ASCII)
    val rec = java.nio.ByteBuffer.allocate(244)
    rec.putInt(188, 5); rec.putInt(192, 6); rec.putInt(240, 7)
    val out = Files.createTempDirectory("segyread").toString + "/ascii.sgy"
    val os = Files.newOutputStream(Paths.get(out))
    try {
      os.write(ascii)
      os.write(SegyExport.standardBinaryHeader(1, 2000, formatCode = 2))
      os.write(rec.array())
    } finally os.close()
    val info = SegyRead.standardInfo(spark, out).base
    assert(info.textHeader == textLines)
    assert(info.nTraces == 1)
    val row = scan(out).collect().head
    assert(row.getAs[Long]("inline") == 5L && row.getAs[Long]("crossline") == 6L)
    assert(row.getAs[Array[Byte]]("samples").toSeq ==
      Seq[Byte](0, 0, 0, 7))
  }

  test("integer sample formats 2/3/8 round-trip through intPayload -> " +
       "intSamples, negatives and width extremes included") {
    import SegyRead.StandardFields._
    // per format: values at the signed extremes of its width
    val cases = Seq(
      (2, Seq(Int.MaxValue, Int.MinValue, -1, 12345678)),
      (3, Seq(32767, -32768, -1, 1234)),
      (8, Seq(127, -128, -1, 42)))
    cases.foreach { case (fmt, vals) =>
      val df = Seq((7, 9, vals)).toDF("inline", "crossline", "v")
      val records = SegyExport.serializeStandardTraces(
        df.withColumn("samples", SegyExport.intPayload(col("v"), 4, fmt)),
        Seq(Inline -> "inline", Crossline -> "crossline"), "samples")
      val out = Files.createTempDirectory("segyint").toString + s"/f$fmt.sgy"
      SegyExport.writeSegy(records, out, textLines,
        SegyExport.standardBinaryHeader(nSamples = 4, sampleInterval = 1000,
          formatCode = fmt))
      val info = SegyRead.standardInfo(spark, out)
      assert(info.formatCode == fmt && info.nSamples == 4)
      val got = scan(out)
        .withColumn("v", SegyRead.decodeSamples(col("samples"), 4, fmt))
        .collect().head
      assert(got.getAs[Long]("inline") == 7L)
      assert(got.getSeq[Int](got.fieldIndex("v")) == vals, s"format $fmt")
    }
  }

  test("count-like trace-header fields decode unsigned: n_samples above " +
       "32767 does not read negative") {
    import SegyRead.StandardFields._
    // 40000 fits the unsigned 2-byte range; the write-side overflow check
    // accepts it and the read side must not sign-wrap it to -25536. The
    // first trace declares the binary header's 1 sample, which the reader
    // checks; the second carries the wide values.
    val df = Seq((1, 2, 1, 1000), (3, 4, 40000, 50000))
      .toDF("inline", "crossline", "ns", "si")
    val records = SegyExport.serializeStandardTraces(
      df.withColumn("samples", lit(Array[Byte](0, 0, 0, 0))),
      Seq(Inline -> "inline", Crossline -> "crossline",
        NSamples -> "ns", SampleInterval -> "si"), "samples")
    val out = Files.createTempDirectory("segyuns").toString + "/u.sgy"
    SegyExport.writeSegy(records, out, textLines,
      SegyExport.standardBinaryHeader(nSamples = 1, sampleInterval = 1000,
        formatCode = 2))
    val got = spark.read.format("segy")
      .option("fields", "inline,n_samples,sample_interval").load(out)
      .where(col("inline") === 3).collect().head
    assert(got.getAs[Long]("n_samples") == 40000L)
    assert(got.getAs[Long]("sample_interval") == 50000L)
  }

  test("header-field overflow fails loudly instead of wrapping under the " +
       "width mask") {
    import SegyRead.StandardFields._
    val df = Seq((1, 70000)).toDF("inline", "scl")
    val e = intercept[Exception] {
      SegyExport.serializeStandardTraces(
        df.withColumn("samples", lit(Array[Byte](0))),
        Seq(Inline -> "inline", CoordScalar -> "scl"), "samples")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("coord_scalar value 70000 overflows")))
  }

  test("early-terminated scans (limit) close the split's file handle via " +
       "the task-completion listener") {
    val f = writeFile()
    def openHandles: Int = {
      val fdDir = new java.io.File("/proc/self/fd")
      if (!fdDir.exists()) -1
      else fdDir.listFiles().count { l =>
        try java.nio.file.Files.readSymbolicLink(l.toPath).toString == f
        catch { case _: Exception => false }
      }
    }
    assume(openHandles >= 0, "/proc/self/fd not available")
    // limit(1) stops consuming after one row of the 4-trace split: the
    // reader never drains, so only the task-completion close can release
    // the handle (the filter keeps the limit from being pushed into the
    // planned range)
    val one = spark.read.format("segy").option("fields", "inline").load(f)
      .where(col("inline") =!= 12345).limit(1).collect()
    assert(one.length == 1)
    assert(openHandles == 0, "open handle leaked past task completion")
    // the standard reader releases its stream through its own
    // task-completion close
    val oneStd = SegyRead.readStandardTraces(spark, f,
      Seq(SegyRead.StandardFields.Inline), tracesPerSplit = 1)
      .limit(1).collect()
    assert(oneStd.length == 1)
    assert(openHandles == 0, "standard reader leaked a handle past task completion")
  }
}
