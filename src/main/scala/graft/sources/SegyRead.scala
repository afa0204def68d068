package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.export.SegyHeaders

/** SEG-Y byte-stream ingest (S1/S2/S3 over a real file): the read half of
  * [[graft.export.SegyExport]] — 3200-byte EBCDIC/ASCII text header,
  * 400-byte binary header, then fixed-length trace records (the standard
  * 240-byte trace header followed by the sample payload).
  *
  * Reference: `segy/file.py:152-186` (file info = headers + trace count
  * before any bulk work) and `segy/_workers.py:30-72` (`header_scan_worker`
  * fans fixed trace ranges to a worker pool). The Spark shape of that
  * fan-out: the DRIVER reads only the two fixed headers (3600 bytes) and
  * computes the trace count from the file length; trace ranges become an
  * RDD of splits and each task seeks to its own byte offset — no byte of
  * trace data ever crosses the driver, so a 100 TB file reads at full
  * cluster parallelism. Byte decoding per record is the one genuinely
  * imperative per-partition loop in this source, which is exactly what
  * mapPartitions is for (SURVEY §7's sanctioned exception).
  */
object SegyRead {

  val TextHeaderBytes = 3200
  val BinaryHeaderBytes = 400
  val DataOffset: Long = TextHeaderBytes + BinaryHeaderBytes

  /** Driver-side file summary — everything the reference's
    * `get_segy_file_info` returns that this format carries: decoded text
    * header rows, raw binary header, the revision word at its standard
    * offset, and the trace count derived from the file length.
    */
  final case class SegyFileInfo(
      fileSize: Long,
      nTraces: Long,
      textHeader: Seq[String],
      binaryHeader: Array[Byte],
      revision: (Int, Int))

  /** Decode a 3200-byte text header, auto-detecting EBCDIC vs ASCII the way
    * public SEG-Y readers do: decode under both charsets and keep the one
    * with more printable-ASCII characters (EBCDIC text decoded as ASCII is
    * mostly control bytes, and vice versa). Deterministic — a pure function
    * of the bytes.
    */
  def decodeTextHeader(bytes: Array[Byte]): Seq[String] = {
    require(bytes.length == TextHeaderBytes,
      s"text header must be $TextHeaderBytes bytes, got ${bytes.length}")
    def printable(s: String): Int = s.count(c => c >= 0x20 && c <= 0x7e)
    val ascii = new String(bytes, java.nio.charset.StandardCharsets.US_ASCII)
    val decoded =
      try {
        val ebcdic = new String(bytes, java.nio.charset.Charset.forName("IBM037"))
        if (printable(ebcdic) >= printable(ascii)) ebcdic else ascii
      } catch { case _: Exception => ascii }
    decoded.grouped(SegyHeaders.Cols).toSeq
  }

  /** Close-on-task-completion for a split's input stream: an iterator that
    * closes only on exhaustion leaks the handle when the consumer stops
    * early (`limit`/`take` don't drain, and an exception in `next()` skips
    * the drain entirely) — one open file per task on a long-lived executor.
    * Registering a TaskCompletionListener ties the close to the task
    * lifecycle instead; the returned thunk also closes eagerly (idempotent)
    * when the iterator does drain, so well-behaved scans release the handle
    * as soon as their range ends rather than at task end.
    */
  private def registerStreamClose(in: java.io.Closeable): () => Unit = {
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val close = () => if (closed.compareAndSet(false, true)) in.close()
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => close()))
    close
  }

  /** Decode any supported sample format to its natural element type:
    * `array<float>` for 1 (IBM32) and 5 (IEEE32), `array<double>` for 6
    * (IEEE64), `array<int>` for 2/3/8 — one compiled loop per trace
    * ([[graft.functions.SampleDecodeExpr]]), the same codec the DSv2 scan
    * decodes with. The codec validates `formatCode`; a payload shorter
    * than `nSamples` samples fails loudly.
    */
  def decodeSamples(payload: Column, nSamples: Int, formatCode: Int): Column =
    graft.functions.SampleCodec.decodeColumn(payload, nSamples, formatCode)

  // ---------------------------------------------- standard rev-1 layout

  /** A trace-header field in the STANDARD 240-byte header: 2- or 4-byte
    * big-endian int at a 1-based byte offset — the public SEG-Y rev-1
    * layout the reference's header specs describe (`segy` package
    * `HeaderField` entries). Fields default to signed (coordinates,
    * scalars); count-like fields (n_samples, sample_interval) set
    * `unsigned` so values above 32767 don't read negative — matching how
    * [[standardInfo]] reads the binary-header sample count.
    */
  final case class HeaderField(name: String, byteOffset: Int, bytes: Int,
                               unsigned: Boolean = false) {
    require(bytes == 2 || bytes == 4, s"$name: header ints are 2 or 4 bytes")
    require(byteOffset >= 1 && byteOffset + bytes - 1 <= 240,
      s"$name: bytes $byteOffset..${byteOffset + bytes - 1} outside the 240-byte header")

    /** `name@<byte>:<type>`, the form [[HeaderField.parse]] reads. */
    def spec: String =
      s"$name@$byteOffset:${if (unsigned) "u" else ""}int${bytes * 8}"
  }

  object HeaderField {
    /** A field of type `tpe` at 1-based byte `byteOffset`; the types are
      * the reference's header alphabet of int sizes and signedness. */
    def typed(name: String, byteOffset: Int, tpe: String): HeaderField = tpe match {
      case "int32"  => HeaderField(name, byteOffset, 4)
      case "int16"  => HeaderField(name, byteOffset, 2)
      case "uint32" => HeaderField(name, byteOffset, 4, unsigned = true)
      case "uint16" => HeaderField(name, byteOffset, 2, unsigned = true)
      case other => throw new IllegalArgumentException(
        s"$name: header type '$other' not supported (int16|int32|uint16|uint32)")
    }

    /** Parse `name@<byte>:<type>` (the inverse of [[HeaderField.spec]]). */
    def parse(entry: String): HeaderField = entry.split("[@:]", -1) match {
      case Array(name, loc, tpe) if name.nonEmpty =>
        val byteOffset = loc.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"$name: byte location '$loc' is not an integer"))
        typed(name, byteOffset, tpe)
      case _ => throw new IllegalArgumentException(
        s"segy field '$entry' is neither a standard name nor name@<byte>:<type>")
    }
  }

  /** The standard fields real files are indexed by (byte positions are
    * public SEG-Y rev-1; same entries the reference's default spec names).
    */
  object StandardFields {
    val TraceSeqLine = HeaderField("trace_seq_line", 1, 4)
    val FieldRecord = HeaderField("field_record", 9, 4)
    val TraceField = HeaderField("trace_field", 13, 4)
    val SourcePoint = HeaderField("source_point", 17, 4)
    val CdpEnsemble = HeaderField("cdp_ensemble", 21, 4)
    val TraceIdCode = HeaderField("trace_id_code", 29, 2)
    val Offset = HeaderField("offset", 37, 4)
    val CoordScalar = HeaderField("coord_scalar", 71, 2)
    val SourceX = HeaderField("source_x", 73, 4)
    val SourceY = HeaderField("source_y", 77, 4)
    val GroupX = HeaderField("group_x", 81, 4)
    val GroupY = HeaderField("group_y", 85, 4)
    val NSamples = HeaderField("n_samples", 115, 2, unsigned = true)
    val SampleInterval = HeaderField("sample_interval", 117, 2, unsigned = true)
    val CdpX = HeaderField("cdp_x", 181, 4)
    val CdpY = HeaderField("cdp_y", 185, 4)
    val Inline = HeaderField("inline", 189, 4)
    val Crossline = HeaderField("crossline", 193, 4)
  }

  /** Bytes per sample for the standard binary-header format code
    * (1=IBM32, 2=int32, 3=int16, 5=IEEE32, 6=IEEE64, 8=int8).
    */
  def bytesPerSample(formatCode: Int): Int =
    graft.functions.SampleCodec.bytesPerSample(formatCode)

  /** Self-describing file info for a STANDARD-layout file: samples per
    * trace (binary-header bytes 21-22), sample interval (17-18) and format
    * code (25-26) parse from the binary header itself, so the record
    * geometry needs no caller input — the reference's open path does the
    * same before planning workers (`segy/file.py:152-186`).
    */
  final case class StandardInfo(
      base: SegyFileInfo, nSamples: Int, sampleInterval: Int, formatCode: Int,
      nExtendedTextHeaders: Int = 0) {
    /** First trace byte: the fixed 3600 plus one 3200-byte record per
      * rev-1 extended textual header (bytes 3505-3506 declare the count —
      * the reference's file info carries the same field,
      * `num_extended_text_headers` in its golden header dict).
      */
    def dataOffset: Long = DataOffset + 3200L * nExtendedTextHeaders
  }

  /** Driver-side [[standardInfo]] call counter — observable evidence for
    * specs that PLANNING paths (directory-table resolution) never fall
    * back to one serial driver read per member. Test instrumentation
    * only; never read by the engine.
    */
  val driverHeaderReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Pure parse of the two fixed headers — the serialization-free core of
    * [[standardInfo]], callable from EXECUTOR tasks (directory planning
    * fans one header read per member file out as a Spark job, so the
    * parse must not touch driver state). `path` is for error text only.
    *
    * `head` is what [[readHead]] returns: the fixed headers, then the
    * first 240-byte trace header when the file holds one. A non-zero
    * samples-per-trace in that trace header (bytes 115-116) must equal the
    * binary header's: a wrong binary-header count whose record width still
    * divides the data section would otherwise misread every trace.
    */
  def parseStandardInfo(path: String, size: Long, head: Array[Byte]): StandardInfo = {
    require(head.length == DataOffset.toInt || head.length == DataOffset.toInt + 240,
      s"$path: standard info needs the $DataOffset-byte fixed headers (and " +
        s"the first trace header), got ${head.length}B")
    // binary-header bytes 97-100: the rev-2 byte-order word reads 0x04030201
    // when every multi-byte field is little-endian; rev-1 leaves the bytes
    // unassigned, so only that exact pattern is refused
    require(java.nio.ByteBuffer.wrap(head, TextHeaderBytes + 96, 4).getInt != 0x04030201,
      s"$path declares little-endian byte order (binary-header bytes 97-100); " +
        "little-endian SEG-Y is not supported")
    def beShort(off: Int): Int = // 1-based offset within the binary header
      ((head(TextHeaderBytes + off - 1) & 0xff) << 8) |
        (head(TextHeaderBytes + off) & 0xff)
    val interval = beShort(17)
    val ns = beShort(21)
    val fmt = beShort(25)
    // bytes 3505-3506: SIGNED count of 3200-byte extended textual headers
    // (-1 means "variable, scan for EndText" — rev-2 streams; fail loudly
    // rather than misalign every trace record)
    val nExt = beShort(305).toShort.toInt
    require(nExt >= 0,
      s"$path declares a variable extended-text-header count ($nExt); " +
        "EndText-delimited extended headers are not supported — rewrite " +
        "the file with an explicit count")
    require(ns > 0, s"$path declares $ns samples per trace")
    val recordLen = 240L + ns.toLong * bytesPerSample(fmt)
    val dataOffset = DataOffset + 3200L * nExt
    require(size >= dataOffset,
      s"$path is ${size}B — smaller than its declared headers " +
        s"(3600 + $nExt x 3200 extended)")
    require(head.length > DataOffset || size < dataOffset + 240,
      s"$path: the first trace header was not read")
    if (head.length > DataOffset) {
      val traceNs = ((head(DataOffset.toInt + 114) & 0xff) << 8) |
        (head(DataOffset.toInt + 115) & 0xff)
      require(traceNs == 0 || traceNs == ns,
        s"$path: the first trace header declares $traceNs samples per trace " +
          s"(trace-header bytes 115-116), the binary header $ns (bytes " +
          "3221-3222)")
    }
    require((size - dataOffset) % recordLen == 0,
      s"$path data section ${size - dataOffset}B is not a multiple of the " +
        s"$recordLen-byte standard record (ns=$ns, format=$fmt, " +
        s"extTextHeaders=$nExt)")
    val text = decodeTextHeader(java.util.Arrays.copyOfRange(head, 0, TextHeaderBytes))
    val bin = java.util.Arrays.copyOfRange(head, TextHeaderBytes, DataOffset.toInt)
    val rev = SegyHeaders.decodeRevision(
      ((bin(300) & 0xff) << 8) | (bin(301) & 0xff))
    StandardInfo(
      SegyFileInfo(size, (size - dataOffset) / recordLen, text, bin, rev),
      ns, interval, fmt, nExt)
  }

  /** Read the fixed 3600-byte header block of `path` with `conf`'s file
    * system, then the first 240-byte trace header after any extended text
    * headers when the file holds one — the one I/O [[parseStandardInfo]]
    * needs; shared by the driver wrapper and the distributed planning
    * tasks.
    */
  def readHead(conf: org.apache.hadoop.conf.Configuration,
               path: String, size: Long): Array[Byte] = {
    require(size >= DataOffset,
      s"$path is ${size}B — smaller than the $DataOffset-byte SEG-Y headers")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val head = new Array[Byte](DataOffset.toInt)
    val in = fs.open(p)
    try {
      in.readFully(0L, head)
      // bytes 3505-3506: the extended text header count (signed; a
      // negative count is refused by the parse)
      val nExt = (((head(TextHeaderBytes + 304) & 0xff) << 8) |
        (head(TextHeaderBytes + 305) & 0xff)).toShort
      val first = DataOffset + 3200L * nExt
      if (nExt >= 0 && first + 240 <= size) {
        val trace = new Array[Byte](240)
        in.readFully(first, trace)
        head ++ trace
      } else head
    } finally in.close()
  }

  /** The rev-1 binary-header FIELD CATALOG: (name, 1-based byte offset
    * within the 400-byte header, width). Names follow the reference's
    * binary-header dict (its teapot golden names them exactly —
    * `tests/integration/test_segy_roundtrip_teapot.py:100-134`); offsets
    * are the public SEG-Y rev-1 layout. Count-like fields decode
    * UNSIGNED (a 40k-sample trace must not read negative), code fields
    * signed.
    */
  val BinaryFieldCatalog: Seq[(String, Int, Int, Boolean)] = Seq(
    ("job_id", 1, 4, false), ("line_num", 5, 4, false), ("reel_num", 9, 4, false),
    ("data_traces_per_ensemble", 13, 2, true),
    ("aux_traces_per_ensemble", 15, 2, true),
    ("sample_interval", 17, 2, true), ("orig_sample_interval", 19, 2, true),
    ("samples_per_trace", 21, 2, true), ("orig_samples_per_trace", 23, 2, true),
    ("data_sample_format", 25, 2, false), ("ensemble_fold", 27, 2, true),
    ("trace_sorting_code", 29, 2, false), ("vertical_sum_code", 31, 2, false),
    ("sweep_freq_start", 33, 2, false), ("sweep_freq_end", 35, 2, false),
    ("sweep_length", 37, 2, false), ("sweep_type_code", 39, 2, false),
    ("sweep_trace_num", 41, 2, false), ("sweep_taper_start", 43, 2, false),
    ("sweep_taper_end", 45, 2, false), ("taper_type_code", 47, 2, false),
    ("correlated_data_code", 49, 2, false), ("binary_gain_code", 51, 2, false),
    ("amp_recovery_code", 53, 2, false), ("measurement_system_code", 55, 2, false),
    ("impulse_polarity_code", 57, 2, false), ("vibratory_polarity_code", 59, 2, false),
    ("fixed_length_trace_flag", 303, 2, false),
    ("num_extended_text_headers", 305, 2, false))

  /** Decode the full named rev-1 binary header (the reference's
    * `binary_header` dict shape): every catalog field plus the revision
    * split into `segy_revision_major` / `segy_revision_minor`. Order
    * follows the byte layout.
    */
  def decodeBinaryHeader(bin: Array[Byte]): Seq[(String, Int)] = {
    require(bin.length == BinaryHeaderBytes,
      s"binary header must be $BinaryHeaderBytes bytes, got ${bin.length}")
    def beAt(off0: Int, w: Int, unsigned: Boolean): Int = {
      var v = 0
      var i = 0
      while (i < w) { v = (v << 8) | (bin(off0 + i) & 0xff); i += 1 }
      if (!unsigned && w == 2) v.toShort.toInt else v
    }
    val fields = BinaryFieldCatalog.map { case (name, off1, w, uns) =>
      name -> beAt(off1 - 1, w, uns)
    }
    val (major, minor) = graft.`export`.SegyHeaders.decodeRevision(
      ((bin(300) & 0xff) << 8) | (bin(301) & 0xff))
    val (pre, post) = fields.span(_._1 != "fixed_length_trace_flag")
    pre ++ Seq("segy_revision_major" -> major, "segy_revision_minor" -> minor) ++ post
  }

  def standardInfo(spark: SparkSession, path: String): StandardInfo = {
    driverHeaderReads.incrementAndGet()
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val size = p.getFileSystem(conf).getFileStatus(p).getLen
    parseStandardInfo(path, size, readHead(conf, path, size))
  }

  /** Parse a STANDARD-layout file: 240-byte trace headers decoded at the
    * requested fields' spec offsets, sample payload raw (decode with
    * [[decodeSamples]] per the file's format code). Geometry comes from
    * [[standardInfo]], so the only caller input is which header fields to
    * surface. The engine reads through the `segy` DSv2 scan; this
    * function API remains as the scan's differential reference and for
    * the benchmark's traced layers.
    */
  def readStandardTraces(spark: SparkSession, path: String,
                         fields: Seq[HeaderField],
                         tracesPerSplit: Int = 0): DataFrame = {
    require(fields.nonEmpty, "fields must be non-empty")
    require(fields.map(_.name).distinct.size == fields.size,
      s"duplicate field names in ${fields.map(_.name).mkString(",")}")
    val info = standardInfo(spark, path)
    val sampleBytes = info.nSamples * bytesPerSample(info.formatCode)
    val recordLen = 240L + sampleBytes
    val perSplit: Long =
      if (tracesPerSplit > 0) tracesPerSplit.toLong
      else math.max(1L, (128L << 20) / recordLen)
    val nSplits = ((info.base.nTraces + perSplit - 1) / perSplit).toInt
    val specs = fields.map(f => (f.byteOffset - 1, f.bytes, f.unsigned)).toArray
    val nFields = specs.length
    val nTraces = info.base.nTraces
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration))

    val dataOffset = info.dataOffset
    val schema = StructType(
      StructField("trace_index", LongType, nullable = false) +:
        fields.map(f => StructField(f.name, LongType, nullable = false)) :+
        StructField("samples", BinaryType, nullable = false))

    val rows = spark.sparkContext
      .parallelize(0 until nSplits, math.max(1, nSplits))
      .flatMap { split =>
        val start = split.toLong * perSplit
        val end = math.min(start + perSplit, nTraces)
        val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(confSer.value)
        val in = fs.open(new org.apache.hadoop.fs.Path(path))
        val close = registerStreamClose(in)
        in.seek(dataOffset + start * recordLen)
        val buf = new Array[Byte](recordLen.toInt)
        new Iterator[Row] {
          private var i = start
          def hasNext: Boolean = {
            val more = i < end
            if (!more) close()
            more
          }
          def next(): Row = {
            in.readFully(buf)
            val vals = new Array[Any](1 + nFields + 1)
            vals(0) = i
            var f = 0
            while (f < nFields) {
              val (o, w, uns) = (specs(f)._1, specs(f)._2, specs(f)._3)
              vals(1 + f) =
                if (w == 4) {
                  val v = ((buf(o) & 0xff) << 24) | ((buf(o + 1) & 0xff) << 16) |
                    ((buf(o + 2) & 0xff) << 8) | (buf(o + 3) & 0xff)
                  if (uns) v.toLong & 0xffffffffL else v.toLong
                } else { // 16-bit: signed by default, unsigned for counts
                  val v = ((buf(o) & 0xff) << 8) | (buf(o + 1) & 0xff)
                  if (uns) v.toLong else v.toShort.toLong
                }
              f += 1
            }
            vals(1 + nFields) = java.util.Arrays.copyOfRange(buf, 240, recordLen.toInt)
            i += 1
            Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }
}
