package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import SegyRead.{HeaderField, StandardFields}

/** DataSourceV2 for STANDARD-layout (rev-1) SEG-Y files:
  * `spark.read.format("segy").load(path)` — the engine's SEG-Y reader,
  * mirroring how the reference opens a file before planning workers
  * (`segy/file.py:152-186` reads the binary header for geometry;
  * `ingestion/segy/reader.py` fans ranges out).
  *
  * The scan is **self-describing**: samples-per-trace, sample interval and
  * format code parse from the file's binary header, and the `samples`
  * column types itself per the format code (array<float> for IBM32/IEEE32,
  * array<double> for IEEE64, array<int> for 2/3/8) — or stays raw binary
  * with `option("raw", true)`.
  *
  * What makes this worth a DSv2 instead of the function API:
  *  - **column pruning reaches the byte layer.** A projection without
  *    `samples` never reads payload bytes (the reader seeks over them), and
  *    header fields absent from the projection are never decoded — the
  *    DSv2 `pruneColumns` contract decides this at plan time.
  *  - **trace_index range filters prune SPLITS.** `trace_index >= a AND
  *    trace_index < b` clips the planned trace ranges before tasks launch
  *    (the SEG-Y record length makes index→byte-offset exact), so a
  *    windowed read of a 100-TB file schedules only its window's tasks.
  *    Filters are still re-evaluated by Spark above the scan (reported
  *    pushed, not removed) — pruning is an optimization, never a
  *    correctness dependence.
  *  - **limit pushdown** caps the planned range the same way.
  *
  * Options: `fields` (comma-separated [[StandardFields]] names or custom
  * `name@<byte>:<int16|int32|uint16|uint32>` fields; default = the full
  * catalog), `raw` (keep samples as binary), `tracesPerSplit` (default
  * sizes splits to ~128 MB).
  */
class SegyDataSourceV2 extends TableProvider with DataSourceRegister {

  override def shortName(): String = "segy"
  // writes pass the DataFrame's schema straight through (the file may not
  // exist yet); reads without a user schema still go through inferSchema
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SegyDataSourceV2.table(options, providedSchema = None).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    SegyDataSourceV2.table(new CaseInsensitiveStringMap(properties),
      providedSchema = Option(schema))
}

private[graft] object SegyDataSourceV2 {

  val Catalog: Seq[HeaderField] = Seq(
    StandardFields.TraceSeqLine, StandardFields.FieldRecord,
    StandardFields.TraceField, StandardFields.SourcePoint,
    StandardFields.CdpEnsemble, StandardFields.TraceIdCode,
    StandardFields.Offset, StandardFields.CoordScalar,
    StandardFields.SourceX, StandardFields.SourceY,
    StandardFields.GroupX, StandardFields.GroupY,
    StandardFields.NSamples, StandardFields.SampleInterval,
    StandardFields.CdpX, StandardFields.CdpY,
    StandardFields.Inline, StandardFields.Crossline)

  def sampleType(formatCode: Int, raw: Boolean): DataType =
    if (raw) BinaryType
    else ArrayType(graft.functions.SampleCodec.elementType(formatCode),
      containsNull = false)

  /** Column names the scan itself produces; no header field may take one. */
  private val Reserved = Set("trace_index", "samples", "source_file")

  /** The `fields` option: comma-separated entries, each a [[Catalog]] name
    * or a custom `name@<byte>:<int16|int32|uint16|uint32>` field
    * ([[HeaderField.parse]]). Fails at plan time, naming the field, on an
    * unknown name or type, a location outside the 240-byte header, a
    * duplicate name, or a name the scan reserves.
    */
  def resolveFields(csvOpt: Option[String]): Seq[HeaderField] =
    csvOpt.filter(_.nonEmpty) match {
      case None => Catalog
      case Some(csv) =>
        val byName = Catalog.map(f => f.name -> f).toMap
        val fields = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { n =>
          if (n.contains("@")) HeaderField.parse(n)
          else byName.getOrElse(n, throw new IllegalArgumentException(
            s"unknown segy field '$n' (known: ${Catalog.map(_.name).mkString(", ")}; " +
              "or name@<byte>:<type>)"))
        }
        fields.find(f => Reserved(f.name)).foreach(f =>
          throw new IllegalArgumentException(s"segy field '${f.name}' is a reserved " +
            s"column name (${Reserved.toSeq.sorted.mkString(", ")})"))
        fields.groupBy(_.name).collectFirst { case (n, fs) if fs.sizeIs > 1 => n }
          .foreach(n => throw new IllegalArgumentException(
            s"segy field '$n' is named more than once"))
        fields
    }

  def table(options: CaseInsensitiveStringMap,
            providedSchema: Option[StructType]): SegyTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "segy format requires a file path: spark.read.format(\"segy\").load(path)"))
    val fields = resolveFields(Option(options.get("fields")))
    val raw = Option(options.get("raw")).exists(_.equalsIgnoreCase("true"))
    val perSplit = Option(options.get("tracesPerSplit")).map(_.toLong).getOrElse(0L)
    new SegyTable(path, fields, raw, perSplit, providedSchema)
  }

  /** A load path resolves to its SEG-Y member files: a directory lists its
    * `.sgy`/`.segy` entries name-sorted (a real survey is thousands of shot
    * files in one prefix — at 100 TB the DIRECTORY is the dataset); a plain
    * file is itself. Returns (isDirectory, files).
    */
  def resolveFiles(spark: SparkSession, path: String): (Boolean, Seq[String]) = {
    val (dir, members) = resolveMembers(spark, path)
    (dir, members.map(_.path))
  }

  /** [[resolveFiles]] with the stat fields the planning cache keys on —
    * size and mtime come from the SAME `listStatus` round-trip, so
    * signature computation adds zero FS calls.
    */
  def resolveMembers(spark: SparkSession, path: String)
      : (Boolean, Seq[SegyDirManifest.Member]) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.getFileStatus(p)
    if (root.isDirectory) {
      val members = fs.listStatus(p).toSeq
        .filter(s => s.isFile && {
          val n = s.getPath.getName.toLowerCase
          n.endsWith(".sgy") || n.endsWith(".segy")
        })
        .map(s => SegyDirManifest.Member(
          s.getPath.toString, s.getLen, s.getModificationTime))
        .sortBy(_.path)
      if (members.isEmpty) throw new IllegalArgumentException(
        s"$path is a directory with no .sgy/.segy files")
      (true, members)
    } else (false,
      Seq(SegyDirManifest.Member(path, root.getLen, root.getModificationTime)))
  }
}

private[sources] class SegyTable(path: String,
                                 fields: Seq[HeaderField], raw: Boolean,
                                 tracesPerSplit: Long,
                                 providedSchema: Option[StructType])
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"segy $path"

  /** Member resolution + geometry parse happen lazily — a WRITE to a
    * not-yet-existing file must never touch the file system here. A
    * directory load becomes a MULTI-FILE table: every member's geometry
    * must agree (one survey, many shot files), trace_index is per-file,
    * and a `source_file` column names the member.
    */
  private lazy val (isDir: Boolean, memberInfos: Seq[(String, SegyRead.StandardInfo)]) = {
    val spark = SparkSession.active
    val (dir, members) = SegyDataSourceV2.resolveMembers(spark, path)
    // directory members gather through the manifest (fanned out + cached
    // across re-opens - NEVER one serial driver read per member); a
    // single file is one 3600-byte driver read, same as before
    val infos =
      if (dir) SegyDirManifest.memberInfos(spark, path, members)
      else members.map(m => m.path -> SegyRead.standardInfo(spark, m.path))
    val (f0, i0) = infos.head
    infos.foreach { case (f, i) =>
      require(i.nSamples == i0.nSamples && i.formatCode == i0.formatCode,
        s"$f geometry (ns=${i.nSamples}, format=${i.formatCode}) differs " +
          s"from $f0 (ns=${i0.nSamples}, format=${i0.formatCode}) - a segy " +
          "directory table needs uniform geometry")
    }
    (dir, infos)
  }

  private def info: SegyRead.StandardInfo = memberInfos.head._2

  private def readSchema0: StructType = {
    val base =
      StructField("trace_index", LongType, nullable = false) +:
        fields.map(f => StructField(f.name, LongType, nullable = false)) :+
        StructField("samples",
          SegyDataSourceV2.sampleType(info.formatCode, raw), nullable = false)
    StructType(
      if (isDir) base :+ StructField("source_file", StringType, nullable = false)
      else base)
  }

  override def schema(): StructType = providedSchema.getOrElse(readSchema0)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SegyScanBuilder(memberInfos, fields, raw, tracesPerSplit, readSchema0)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SegyWriteBuilder(path, info)
}

/** DSv2 write: `df.write.format("segy").option("fields", "inline,crossline")
  * .mode("overwrite").save(path)` — the export sink behind a symmetric
  * table surface (the mdio DSv2 pattern: V1 fallback so the write runs
  * through [[graft.export.SegyExport]]'s one serialization + ordered
  * parallel-positioned-write path).
  *
  * Contract: the frame carries one int-typed column PER named standard
  * field (column name == field name) and a `samples` array column typed
  * for `formatCode` (float for 1/5, double for 6, int for 2/3/8). Rows
  * are globally ordered by the field list before serialization. Options:
  * `fields` (required), `formatCode` (default 1), `sampleInterval`
  * (default 2000), `nSamples` (default: measured from the first row),
  * `samplesCol` (default "samples"), `text` (one text-header line).
  * SEG-Y files are single immutable artifacts: mode("append") to an
  * existing file fails loudly; mode("overwrite") rewrites.
  */
private class SegyWriteBuilder(
    path: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  extends org.apache.spark.sql.connector.write.WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var overwriteRequested = false

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwriteRequested = true
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation
          : org.apache.spark.sql.sources.InsertableRelation =
        (data: org.apache.spark.sql.DataFrame, overwriteFlag: Boolean) => {
          import org.apache.spark.sql.functions.{col, size}
          import graft.`export`.{SegyExport, SegyHeaders}
          val opts = info.options
          val overwrite = overwriteRequested || overwriteFlag
          val fields = SegyDataSourceV2.resolveFields(
            Option(opts.get("fields")).orElse(throw new IllegalArgumentException(
              "segy write requires option(\"fields\", \"inline,crossline,...\")")))
          val fmt = Option(opts.get("formatCode")).map(_.toInt).getOrElse(1)
          val interval = Option(opts.get("sampleInterval")).map(_.toInt).getOrElse(2000)
          val samplesCol = Option(opts.get("samplesCol")).getOrElse("samples")
          val textLine = Option(opts.get("text")).getOrElse("C 1 GRAFT SEGY DSV2 EXPORT")
          val hconf = data.sparkSession.sparkContext.hadoopConfiguration
          val p = new org.apache.hadoop.fs.Path(path)
          if (!overwrite && p.getFileSystem(hconf).exists(p))
            throw new IllegalArgumentException(
              s"$path exists and SEG-Y files are immutable artifacts - " +
                "use mode(\"overwrite\") to rewrite")
          val nSamples = Option(opts.get("nSamples")).map(_.toInt).getOrElse {
            // take(1), not head(): an empty frame must fail with a real
            // message, not a bare NoSuchElementException from head()
            val first = data.select(size(col(samplesCol))).take(1)
            require(first.nonEmpty,
              "cannot write an empty DataFrame as SEG-Y (or pass option " +
                "\"nSamples\" to declare the trace length explicitly)")
            require(!first(0).isNullAt(0), s"cannot measure $samplesCol length")
            first(0).getInt(0)
          }
          val payload = fmt match {
            case 1         => SegyExport.ibmPayload(col(samplesCol), nSamples)
            case 5         => SegyExport.ieee32Payload(col(samplesCol), nSamples)
            case 6         => SegyExport.ieee64Payload(col(samplesCol), nSamples)
            case 2 | 3 | 8 => SegyExport.intPayload(col(samplesCol), nSamples, fmt)
            case c => throw new IllegalArgumentException(
              s"unsupported SEG-Y sample format code $c (supported: 1, 2, 3, 5, 6, 8)")
          }
          val records = SegyExport.serializeStandardTraces(
            data.orderBy(fields.map(f => col(f.name)): _*)
              .withColumn("_segy_payload", payload),
            fields.map(f => f -> f.name), "_segy_payload")
          SegyExport.writeSegy(records, path,
            SegyHeaders.sanitizeTextHeader(Seq(textLine)),
            SegyExport.standardBinaryHeader(nSamples, interval, fmt))
        }
    }
}

private[sources] class SegyScanBuilder(members: Seq[(String, SegyRead.StandardInfo)],
                                       fields: Seq[HeaderField], raw: Boolean,
                                       tracesPerSplit: Long,
                                       fullSchema: StructType)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters with SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private val maxTraces = members.map(_._2.base.nTraces).max
  private var required: StructType = fullSchema
  private var lo: Long = 0L // inclusive PER-FILE trace_index lower bound
  private var hi: Long = maxTraces // exclusive upper bound
  private var pushed: Array[Filter] = Array.empty
  private var pushedCount = false

  // ungrouped COUNT(*) is pure metadata: trace counts come from the file
  // sizes the binary headers already validated — the scan never opens a
  // trace. Spark only attempts aggregate pushdown when no residual filter
  // sits between the aggregate and the scan (this source always keeps
  // filters residual), and the untouched-bounds guard makes that explicit.
  private def countStarOnly(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    agg.groupByExpressions.isEmpty && lo == 0L && hi == maxTraces &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = countStarOnly(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    pushedCount = countStarOnly(agg)
    pushedCount
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // an empty projection (count(*)) still needs row COUNT; keep the struct
    // empty — the reader emits empty rows without touching bytes
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val usable = filters.filter {
      case EqualTo("trace_index", _: Long | _: Int) => true
      case GreaterThan("trace_index", _: Long | _: Int) => true
      case GreaterThanOrEqual("trace_index", _: Long | _: Int) => true
      case LessThan("trace_index", _: Long | _: Int) => true
      case LessThanOrEqual("trace_index", _: Long | _: Int) => true
      case _ => false
    }
    def num(v: Any): Long = v match {
      case l: Long => l
      case i: Int  => i.toLong
    }
    usable.foreach {
      case EqualTo(_, v) =>
        lo = math.max(lo, num(v)); hi = math.min(hi, num(v) + 1)
      case GreaterThan(_, v)        => lo = math.max(lo, num(v) + 1)
      case GreaterThanOrEqual(_, v) => lo = math.max(lo, num(v))
      case LessThan(_, v)           => hi = math.min(hi, num(v))
      case LessThanOrEqual(_, v)    => hi = math.min(hi, num(v) + 1)
      case _                        => ()
    }
    pushed = usable
    // every filter (pushed included) is returned for Spark-side
    // re-evaluation: range clipping prunes work, it does not claim
    // exactness for combined/duplicated predicates
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(limit: Int): Boolean = {
    hi = math.min(hi, lo + limit)
    false // partial: tasks still cap rows Spark-side
  }

  override def build(): Scan =
    if (pushedCount)
      new SegyCountScan(members.map(_._2.base.nTraces).sum, members.size)
    else
      new SegyScan(members, fields, raw, tracesPerSplit, required,
        math.max(lo, 0L), math.min(hi, maxTraces))
}

/** The metadata-answered COUNT(*) scan: one partition, one row, zero trace
  * bytes read (complete pushdown — Spark takes the row as the result). */
private[sources] class SegyCountScan(total: Long, nFiles: Int)
  extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"segy metadata count(*) = $total over $nFiles file(s)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(SegyInputPartition("", 0L, 1L))

  override def createReaderFactory(): PartitionReaderFactory =
    new SegyCountReaderFactory(total) // local copy: the factory must not
                                      // capture this non-serializable Scan
}

private[sources] class SegyCountReaderFactory(total: Long)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](total))
      override def close(): Unit = ()
    }
}

/** `dataOffset` is per-member: rev-1 extended text headers (bytes
  * 3505-3506) shift the first trace byte by 3200 per record, and members
  * of one directory table may legally differ.
  */
private[sources] case class SegyInputPartition(path: String, start: Long,
                                               end: Long,
                                               dataOffset: Long = SegyRead.DataOffset)
  extends InputPartition

private[sources] class SegyScan(members: Seq[(String, SegyRead.StandardInfo)],
                                fields: Seq[HeaderField], raw: Boolean,
                                tracesPerSplit: Long, required: StructType,
                                lo: Long, hi: Long)
  extends Scan with Batch {

  private def info: SegyRead.StandardInfo = members.head._2

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String = {
    val cols = required.fieldNames.mkString(",")
    val src = if (members.size == 1) members.head._1
              else s"${members.size} files"
    s"segy $src traces [$lo,$hi) cols [$cols] format ${info.formatCode}"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    if (hi <= lo) return Array.empty
    val sampleBytes = info.nSamples.toLong *
      SegyRead.bytesPerSample(info.formatCode)
    val recordLen = 240L + sampleBytes
    val perSplit =
      if (tracesPerSplit > 0) tracesPerSplit
      else math.max(1L, (128L << 20) / recordLen)
    members.toArray.flatMap { case (file, fi) =>
      // trace_index is per-file: each member clips the pushed range to its
      // own trace count
      val fHi = math.min(hi, fi.base.nTraces)
      if (fHi <= lo) Array.empty[InputPartition]
      else {
        val nSplits = ((fHi - lo + perSplit - 1) / perSplit).toInt
        Array.tabulate[InputPartition](nSplits) { i =>
          val s = lo + i.toLong * perSplit
          SegyInputPartition(file, s, math.min(s + perSplit, fHi),
            fi.dataOffset)
        }
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      new org.apache.hadoop.conf.Configuration(
        SparkSession.active.sparkContext.hadoopConfiguration))
    // per required column: decode plan resolved once at plan time
    val byName = fields.map(f => f.name -> f).toMap
    val cols: Array[SegyColDecode] = required.fields.map { sf =>
      sf.name match {
        case "trace_index" => SegyColDecode(-1, 0, unsigned = false, kind = 0)
        case "samples"     => SegyColDecode(-1, 0, unsigned = false, kind = 2)
        case "source_file" => SegyColDecode(-1, 0, unsigned = false, kind = 3)
        case n =>
          val f = byName.getOrElse(n, throw new IllegalArgumentException(
            s"segy scan asked for unknown column $n"))
          SegyColDecode(f.byteOffset - 1, f.bytes, f.unsigned, kind = 1)
      }
    }
    new SegyReaderFactory(conf, info.nSamples, info.formatCode, raw, cols)
  }
}

/** kind: 0 = trace_index, 1 = header int, 2 = samples payload,
  * 3 = source_file (directory tables). */
private[sources] case class SegyColDecode(off: Int, bytes: Int,
                                          unsigned: Boolean, kind: Int)

private[sources] class SegyReaderFactory(conf: SerializableConfiguration,
                                         nSamples: Int, formatCode: Int,
                                         raw: Boolean,
                                         cols: Array[SegyColDecode])
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[SegyInputPartition]
    new SegyPartitionReader(sp.path, conf, nSamples, formatCode, raw, cols,
      sp.start, sp.end, sp.dataOffset)
  }
}

private[sources] class SegyPartitionReader(path: String,
                                           conf: SerializableConfiguration,
                                           nSamples: Int, formatCode: Int,
                                           raw: Boolean,
                                           cols: Array[SegyColDecode],
                                           start: Long, end: Long,
                                           dataOffset: Long)
  extends PartitionReader[InternalRow] {

  private val sampleWidth = SegyRead.bytesPerSample(formatCode)
  private val sampleBytes = nSamples.toLong * sampleWidth
  private val recordLen = 240L + sampleBytes
  private val needSamples = cols.exists(_.kind == 2)
  private val needHeader = cols.exists(_.kind == 1)

  private val pathUtf8 =
    org.apache.spark.unsafe.types.UTF8String.fromString(path)
  private val hp = new org.apache.hadoop.fs.Path(path)
  private val in = hp.getFileSystem(conf.value).open(hp)
  // task-completion close (limit/take may not drain; see
  // SegyRead.registerStreamClose for the rationale)
  private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
  locally {
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => close()))
    in.seek(dataOffset + start * recordLen)
  }

  // read only the bytes the projection needs: header always 240 when any
  // header/trace column shows, payload only when samples are projected —
  // otherwise the reader SEEKS over it (a headers-only scan of a 100-TB
  // file reads 240 bytes per trace, not the trace)
  private val headBuf = new Array[Byte](240)
  private val payBuf = if (needSamples) new Array[Byte](sampleBytes.toInt) else null

  private var i = start - 1
  private var row: InternalRow = _

  override def next(): Boolean = {
    i += 1
    if (i >= end) return false
    if (needSamples) {
      in.readFully(headBuf)
      in.readFully(payBuf)
    } else if (needHeader) {
      in.readFully(headBuf)
      in.seek(dataOffset + (i + 1) * recordLen)
    } else {
      // projection needs at most trace_index: no bytes at all
      if (i == start) in.seek(dataOffset + end * recordLen)
    }
    val vals = new Array[Any](cols.length)
    var c = 0
    while (c < cols.length) {
      val col = cols(c)
      vals(c) = col.kind match {
        case 0 => i
        case 3 => pathUtf8
        case 1 =>
          var v = 0L
          var b = 0
          while (b < col.bytes) {
            v = (v << 8) | (headBuf(col.off + b) & 0xffL)
            b += 1
          }
          if (!col.unsigned) { // sign-extend from the field's width
            val shift = 64 - col.bytes * 8
            v = (v << shift) >> shift
          }
          v
        case 2 => decodeSamples()
      }
      c += 1
    }
    row = new GenericInternalRow(vals)
    true
  }

  private def decodeSamples(): Any =
    if (raw) java.util.Arrays.copyOf(payBuf, payBuf.length)
    else graft.functions.SampleCodec.decode(payBuf, 0, nSamples, formatCode)

  override def get(): InternalRow = row

  override def close(): Unit =
    if (closed.compareAndSet(false, true)) in.close()
}
