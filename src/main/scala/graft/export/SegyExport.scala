package graft.export

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  Literal, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, FileOrderedScan}

import graft.operators.{GlobalOrder, Masking, Projection}
import graft.storage.MdioDatasetHandle

/** The export driver (E1/E3/E5) — the Spark shape of
  * `converters/mdio.py:32-158`:
  * open → header-project (P2) → mask (P4/P5) → bbox (P6) → serialize (E3)
  * → ordered write (E4).
  *
  * The trace order comes from one of two arms:
  *  - **store order** ([[storeOrdered]]): the store's part files read
  *    through one file-ordered Parquet scan
  *    ([[org.apache.spark.sql.graft.FileOrderedScan]]), one partition per
  *    file in path order, so partition order is file order. One key-only
  *    job proves the masked keys ascend within and across those partitions
  *    and returns each partition's row count, which are the write's byte
  *    offsets. No sort, no shuffle: two jobs.
  *    This is the reference's shape, which writes trace blocks straight
  *    from the grid-ordered store (`segy/blocked_io.py:214-303`), and the
  *    layout `segy import` leaves (disjoint, ordered part files, each
  *    sorted).
  *  - **sort** ([[maskedOrder]]): a range-partitioned global sort, whose
  *    partitions are the order. It runs when the frame is not a plain scan
  *    of an unpartitioned store, or when the key job finds the part files
  *    out of order (appends, hand-written files).
  * Either way [[writeSegy]] writes the partitions in index order.
  */
object SegyExport {

  /** The object-store concat found a partition's part file missing. */
  final class MissingPartFileError(msg: String) extends RuntimeException(msg)

  /** E2/E3: serialize traces with STANDARD 240-byte trace headers — each
    * (field, column) pair packs a 2-/4-byte big-endian signed int at its
    * public rev-1 spec offset, every other byte zero — followed by the
    * sample payload (already encoded; see [[ibmPayload]] for format 1).
    * The inverse of the `segy` scan's `fields` decode, pure column
    * expressions throughout.
    */
  def serializeStandardTraces(df: DataFrame,
                              fieldCols: Seq[(graft.sources.SegyRead.HeaderField, String)],
                              samplesCol: String): DataFrame = {
    require(fieldCols.nonEmpty, "need at least one header field")
    val sorted = fieldCols.sortBy(_._1.byteOffset)
    sorted.sliding(2).foreach {
      case Seq((a, _), (b, _)) =>
        require(a.byteOffset + a.bytes <= b.byteOffset,
          s"${a.name} and ${b.name} overlap in the 240-byte header")
      case _ =>
    }
    val pieces = scala.collection.mutable.ArrayBuffer.empty[Column]
    var pos = 1 // 1-based next unwritten header byte
    sorted.foreach { case (f, c) =>
      if (f.byteOffset > pos)
        pieces += lit(Array.fill[Byte](f.byteOffset - pos)(0))
      pieces += beBytes(col(c), f.bytes, f.name, f.unsigned)
      pos = f.byteOffset + f.bytes
    }
    if (pos <= 240) pieces += lit(Array.fill[Byte](241 - pos)(0))
    df.withColumn("trace_record",
        concat((pieces :+ col(samplesCol).cast("binary")).toSeq: _*))
      .withColumn("record_len", octet_length(col("trace_record")).cast("long"))
  }

  /** A value packed as a `bytes`-wide big-endian word, failing LOUDLY on
    * overflow: a value outside the field's range would otherwise wrap
    * silently under the width mask (70000 in a 2-byte slot reads back as
    * 4464) — the one writer hazard no downstream check can catch. The
    * accepted range follows the field's declared signedness (mirroring
    * [[graft.sources.SegyRead.HeaderField]]): signed fields get
    * [−2^(8b−1), 2^(8b−1)−1], unsigned counts get [0, 2^(8b)−1] — a union
    * range would let e.g. 40000 pass a signed 2-byte check and read back
    * as −25536.
    */
  private def beBytes(c: Column, bytes: Int, name: String,
                      unsigned: Boolean = false): Column =
    graft.functions.BeBytesPack(c.cast("bigint"), bytes, name,
      unsigned = unsigned, checked = true)

  /** Integer sample payload (SEG-Y formats 2=int32, 3=int16, 8=int8): each
    * sample packed big-endian at its width, overflow-checked — the encode
    * inverse of [[graft.sources.SegyRead.decodeSamples]].
    */
  def intPayload(samples: Column, nSamples: Int, formatCode: Int): Column = {
    require(formatCode == 2 || formatCode == 3 || formatCode == 8,
      s"intPayload packs formats 2/3/8, got $formatCode (use ibmPayload for 1)")
    val w = graft.sources.SegyRead.bytesPerSample(formatCode)
    graft.functions.BeIntArrayPack(samples.cast("array<int>"), w, nSamples,
      s"format-$formatCode sample", checked = true)
  }

  /** Format-1 sample payload: an `array<float>` trace IBM32-encoded
    * ([[graft.functions.IbmFloatEncode.encode]]) and packed big-endian in
    * one loop per trace ([[graft.functions.FloatArrayPackExpr]]) —
    * `nSamples` is fixed per file, so the record width is a plan literal.
    */
  def ibmPayload(samples: Column, nSamples: Int): Column =
    graft.functions.SampleCodec.encodeFloatsColumn(samples, ibm = true,
      nSamples, "ibm32 sample")

  /** Format-5 sample payload (IEEE float32): each float's RAW bits (NaN
    * payloads survive) packed big-endian by the same one-loop kernel as
    * [[ibmPayload]]. Encode inverse of format-5
    * [[graft.sources.SegyRead.decodeSamples]].
    */
  def ieee32Payload(samples: Column, nSamples: Int): Column =
    graft.functions.SampleCodec.encodeFloatsColumn(samples, ibm = false,
      nSamples, "ieee32 sample")

  /** Format-6 sample payload (SEG-Y rev-2 IEEE float64): each double's RAW
    * bits ([[graft.functions.DoubleBits]] — NaN payloads survive) packed as
    * an 8-byte big-endian word ([[graft.functions.BeBytesPack]]). Encode
    * inverse of format-6 [[graft.sources.SegyRead.decodeSamples]].
    */
  def ieee64Payload(samples: Column, nSamples: Int): Column =
    concat((1 to nSamples).map { i =>
      graft.functions.BeBytesPack(
        graft.functions.DoubleBits(element_at(samples, i)), 8,
        s"ieee64 sample_$i", checked = false)
    }: _*)

  /** The standard 400-byte binary header a real reader parses: sample
    * interval at bytes 17-18, samples per trace at 21-22, format code at
    * 25-26, revision word at 301-302 — the self-describing geometry
    * [[graft.sources.SegyRead.standardInfo]] reads back.
    */
  def standardBinaryHeader(nSamples: Int, sampleInterval: Int,
                           formatCode: Int,
                           revision: (Int, Int) = (1, 0)): Array[Byte] = {
    graft.sources.SegyRead.bytesPerSample(formatCode) // validates the code
    require(nSamples > 0 && nSamples <= 0xffff, s"nSamples $nSamples not in 1..65535")
    require(sampleInterval >= 0 && sampleInterval <= 0xffff,
      s"sampleInterval $sampleInterval not in 0..65535")
    val b = java.nio.ByteBuffer.allocate(400)
    b.putShort(16, sampleInterval.toShort)
    b.putShort(20, nSamples.toShort)
    b.putShort(24, formatCode.toShort)
    b.putShort(300, SegyHeaders.encodeRevision(revision._1, revision._2).toShort)
    b.array()
  }

  /** Per-trace record width of the standard rev-1 layout: 240 header
    * bytes + nSamples fixed-width samples. [[writeSegy]] derives it from
    * the binary header it writes, so the positioned write takes partition
    * offsets from row COUNTS.
    */
  def standardRecordBytes(nSamples: Int, formatCode: Int): Long =
    240L + nSamples.toLong * graft.sources.SegyRead.bytesPerSample(formatCode)

  /** Find the RDD that READS the plan's last shuffle (the nearest shuffle
    * below `rdd`), reachable through one-to-one narrow dependencies only —
    * its partitions align 1:1 with `rdd`'s, so per-partition row counts
    * taken there equal the final stage's counts WITHOUT executing the
    * final stage (sort + encode). None when the lineage has no such
    * shuffle (the caller then counts the records RDD itself).
    */
  private def lastShuffleReader(rdd: org.apache.spark.rdd.RDD[_])
      : Option[org.apache.spark.rdd.RDD[_]] = {
    @annotation.tailrec
    def walk(r: org.apache.spark.rdd.RDD[_], depth: Int)
        : Option[org.apache.spark.rdd.RDD[_]] =
      if (depth > 8) None
      else r.dependencies.toList match {
        case (_: org.apache.spark.ShuffleDependency[_, _, _]) :: Nil => Some(r)
        case (d: org.apache.spark.OneToOneDependency[_]) :: Nil =>
          walk(d.rdd, depth + 1)
        case _ => None
      }
    walk(rdd, 0).filter(_.partitions.length == rdd.partitions.length)
  }

  /** S6/E4: write a SEG-Y-shaped file — 3200-byte text header (EBCDIC when
    * the JVM has IBM037, ASCII otherwise), 400-byte binary header, then all
    * trace records in global order.
    *
    * The distributed part: each partition of the (range-sorted) record table
    * writes one numbered part file in parallel; the driver then concatenates
    * parts in partition order — exactly the reference's hierarchical merge
    * collapsed to its final sequential `concat_files` step
    * (`segy/blocked_io.py:214-303`, `segy/creation.py:236-263`).
    *
    * Every record is one standard rev-1 trace: [[standardRecordBytes]] of
    * the samples per trace (binary-header bytes 21-22) and the format code
    * (25-26), so an unsupported format code fails here, before any job.
    * `fixedRecordBytes`, when given, must equal that width.
    *
    * Where the per-partition row counts (the byte offsets on local files)
    * come from:
    *  - `knownCounts`, when the caller already has them ([[storeOrdered]]'s
    *    key job): no counts job runs. There must be one count per
    *    partition of `records`.
    *  - otherwise the records' last shuffle, when the lineage has one:
    *    nothing between that shuffle and `records` may add or drop rows
    *    (no explode, no filter after the sort). [[maskedOrder]], the DSv2
    *    sink and the queries' exports all end in a sort followed by
    *    projections only.
    *  - otherwise a row-count pass over the records themselves.
    * A count that does not match the rows a partition writes fails the
    * write with "wrote X, counted Y", in both arms.
    */
  def writeSegy(records: DataFrame, outFile: String,
                textHeader: Seq[String], binaryHeader: Array[Byte],
                fixedRecordBytes: Option[Long] = None,
                knownCounts: Option[Seq[Long]] = None): Unit = {
    require(binaryHeader.length == 400, "binary header must be 400 bytes")
    val header = java.nio.ByteBuffer.wrap(binaryHeader)
    val nSamples = header.getShort(20) & 0xffff
    val recordBytes = standardRecordBytes(nSamples, header.getShort(24) & 0xffff)
    require(nSamples > 0, "the binary header declares 0 samples per trace")
    require(fixedRecordBytes.forall(_ == recordBytes),
      s"fixedRecordBytes ${fixedRecordBytes.get} differs from the " +
        s"$recordBytes-byte record the binary header declares")
    SegyHeaders.validateTextHeader(textHeader)
    val known = knownCounts.map(_.toArray)
    val sess = records.sparkSession
    val conf = new org.apache.hadoop.conf.Configuration(
      sess.sparkContext.hadoopConfiguration)
    val outPath = new org.apache.hadoop.fs.Path(outFile)
    val confSer = new org.apache.spark.util.SerializableConfiguration(conf)
    val charset =
      try java.nio.charset.Charset.forName("IBM037")     // EBCDIC, like the reference
      catch { case _: Exception => java.nio.charset.StandardCharsets.US_ASCII }
    val head = textHeader.mkString.getBytes(charset) ++ binaryHeader
    val rdd = records.select("trace_record").rdd
    known.foreach(c => require(c.length == rdd.getNumPartitions,
      s"knownCounts holds ${c.length} partition counts, the records have " +
        s"${rdd.getNumPartitions} partitions"))

    val isPosix = outPath.getFileSystem(conf)
      .isInstanceOf[org.apache.hadoop.fs.LocalFileSystem]
    if (isPosix) {
      // POSIX path (local FS; also the shape for Lustre/NFS on a cluster):
      // every partition pwrite()s its slice of the FINAL file concurrently
      // at a precomputed byte offset — the file's bytes are written exactly
      // once, in parallel, with no parts dir and no driver-serial concat.
      // The sf1 scaling study measured the old write-parts-then-copy shape
      // spending 3× the file size in serial driver I/O (~12 s of a 16 s
      // export at 1.5 GB); this shape is bounded by device bandwidth alone.
      //
      // Offsets are row counts × the record width. Without known counts
      // they come off the last shuffle when the lineage has one (no sort,
      // no encode): the sort and encode then run exactly once, in the
      // write job, with nothing cached, at any size. Without a shuffle, a
      // row-count pass over the records themselves supplies them.
      val counts = known.getOrElse(sess.sparkContext.runJob(
        lastShuffleReader(rdd).getOrElse(rdd).asInstanceOf[org.apache.spark.rdd.RDD[Any]],
        (it: Iterator[Any]) => {
          var n = 0L
          while (it.hasNext) { it.next(); n += 1 }
          n
        }))
      val offsets = counts.scanLeft(head.length.toLong)(_ + _ * recordBytes)
      val localFile = java.nio.file.Paths.get(outPath.toUri.getPath)
      Option(localFile.getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      val init = java.nio.channels.FileChannel.open(localFile,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try init.write(java.nio.ByteBuffer.wrap(head)) finally init.close()
      val localPathStr = localFile.toString
      val offsetsB = sess.sparkContext.broadcast(offsets)
      // every record is checked against the declared width, as in the
      // object-store arm, and each partition's byte total against its
      // count (wrote == counted): a record of any other width, or a count
      // that no longer matches the rows, fails loudly instead of
      // corrupting the file
      rdd.mapPartitionsWithIndex { case (idx, it) =>
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(localPathStr),
          java.nio.file.StandardOpenOption.WRITE)
        try {
          ch.position(offsetsB.value(idx))
          val os = new java.io.BufferedOutputStream(
            java.nio.channels.Channels.newOutputStream(ch), 1 << 20)
          it.foreach { r =>
            val rec = r.getAs[Array[Byte]]("trace_record")
            require(rec.length == recordBytes, s"partition $idx wrote a " +
              s"${rec.length}B record, the binary header declares ${recordBytes}B")
            os.write(rec)
          }
          os.flush()
          require(ch.position() == offsetsB.value(idx + 1),
            s"partition $idx wrote ${ch.position() - offsetsB.value(idx)}B, " +
              s"counted ${offsetsB.value(idx + 1) - offsetsB.value(idx)}B")
        } finally ch.close()
        Iterator.single(1)
      }.count()
      offsetsB.destroy()
    } else {
      // object stores / HDFS: no positioned writes — parallel part files,
      // then a streamed driver concat in partition order, exactly the
      // reference's hierarchical merge collapsed to its final sequential
      // `concat_files` step (`segy/blocked_io.py:214-303`,
      // `segy/creation.py:236-263`). (A real S3 deployment would swap the
      // concat for a multipart-upload compose of the same parts.) One pass
      // over the records — no offsets, so no counts job; each record is
      // checked against the declared width instead, and each partition's
      // rows against `knownCounts` when given.
      val partsDir = outFile + ".parts"
      val fs = outPath.getFileSystem(conf)
      val parts = new org.apache.hadoop.fs.Path(partsDir)
      // every partition writes its part, empty or not: a missing one is
      // lost traces, never a part to skip. A failed part job or concat
      // leaves neither parts nor truncated output behind.
      try {
        val nParts = rdd.mapPartitionsWithIndex { case (idx, it) =>
          val fs = new org.apache.hadoop.fs.Path(partsDir)
            .getFileSystem(confSer.value)
          val part = new org.apache.hadoop.fs.Path(f"$partsDir/part-$idx%05d")
          val os = fs.create(part, true)
          var n = 0L
          try it.foreach { r =>
            val rec = r.getAs[Array[Byte]]("trace_record")
            require(rec.length == recordBytes, s"partition $idx wrote a " +
              s"${rec.length}B record, the binary header declares ${recordBytes}B")
            os.write(rec)
            n += 1
          } finally os.close()
          known.foreach(c => require(n == c(idx), s"partition $idx wrote " +
            s"${n * recordBytes}B, counted ${c(idx) * recordBytes}B"))
          Iterator.single(1)
        }.count().toInt
        try {
          val os = fs.create(outPath, true)
          try {
            os.write(head)
            (0 until nParts).foreach { i =>
              val part = new org.apache.hadoop.fs.Path(parts, f"part-$i%05d")
              if (!fs.exists(part)) throw new MissingPartFileError(
                s"SEG-Y export of $outFile: part file $part is missing " +
                  s"($nParts partitions wrote parts)")
              val in = fs.open(part)
              try {
                val buf = new Array[Byte](1 << 20)
                var n = in.read(buf)
                while (n > 0) { os.write(buf, 0, n); n = in.read(buf) }
              } finally in.close()
            }
          } finally os.close()
        } catch {
          case scala.util.control.NonFatal(e) => fs.delete(outPath, false); throw e
        }
      } finally fs.delete(parts, true)
    }
  }

  /** The export's columns: the order keys, then the other header fields. */
  private def exportColumns(headerFields: Seq[String], orderKeys: Seq[String]) =
    (orderKeys ++ headerFields.filterNot(orderKeys.contains)).distinct

  /** E5, sort arm: the masked-export pipeline — mask, header projection,
    * then a range-partitioned global sort on `orderKeys`. The sort's
    * partitions ARE the global order, which is all [[writeSegy]] needs: it
    * takes its write order and byte offsets from them, so no sequence
    * column is paid for.
    */
  def maskedOrder(df: DataFrame, mask: Column, dims: Seq[String],
                  headerFields: Seq[String], orderKeys: Seq[String]): DataFrame = {
    val selected = Masking.maskedSelect(df, mask, dims,
      (headerFields ++ orderKeys).distinct)
    Projection.projectToSpec(selected, exportColumns(headerFields, orderKeys))
      .orderBy(orderKeys.map(col): _*)
  }

  /** `df` with `columns` added in order, as chained `withColumn`s. */
  def stage(df: DataFrame, columns: Seq[(String, Column)]): DataFrame =
    columns.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }

  /** What the key job learns of one partition: its row count, its first
    * and last order key, whether its keys ascend, and each dim's min and
    * max (Catalyst internal values; null when the partition is empty). */
  private final case class PartKeys(rows: Long, first: InternalRow,
                                    last: InternalRow, sorted: Boolean,
                                    lo: Array[Any], hi: Array[Any])

  /** E4/E5, store-order arm: the frame [[maskedOrder]] would sort, and its
    * per-partition row counts, when the store's part files already hold it
    * in `orderKeys` order. Left(the reason to sort) otherwise.
    *
    * `handle.df` must be the plain Parquet scan [[graft.Mdio.openMdio]]
    * returns, of a store without directory partitions. The frame is then
    * one [[org.apache.spark.sql.graft.FileOrderedScan]] over the handle's
    * own file index: one partition per part file in path order (a file
    * above `spark.sql.files.maxPartitionBytes` in contiguous slices), so
    * its partition order follows file order, and the key plan and the
    * write plan each plan one scan. `columns` are staged on it (row-local
    * expressions only, as `withColumn`), then `mask` applies. Rows with a
    * null dim are dropped, as the sort arm's bounding-box trim drops them.
    *
    * One key-only job, labelled `export: store order: keys`, reads the
    * order keys and dims of that column-pruned plan. The order holds when
    * every partition's keys ascend and each partition's last key is ≤ the
    * next non-empty partition's first key, under `orderBy`'s contract:
    * Catalyst's ascending, nulls-first ordering of the key types. The order
    * is proved from the data at every export, so appended or hand-written
    * stores stay correct. The same job's per-dim min/max become the P6
    * bounding-box trims, pushed into the payload scan.
    */
  def storeOrdered(handle: MdioDatasetHandle, columns: Seq[(String, Column)],
                   mask: Column, dims: Seq[String], headerFields: Seq[String],
                   orderKeys: Seq[String]): Either[String, (DataFrame, Seq[Long])] = {
    val spark = handle.df.sparkSession
    val scan: Either[String, DataFrame] = handle.df.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fs.location.isInstanceOf[PartitioningAwareFileIndex] =>
        if (fs.partitionSchema.nonEmpty) Left("partitioned store")
        else if (fs.location.inputFiles.isEmpty) Left("no part files")
        else Right(FileOrderedScan.read(fs))
      case _ => Left("not a store scan")
    }
    scan.flatMap { files =>
      val frame = stage(files, columns)
        .where(dims.map(col(_).isNotNull).foldLeft(mask)(_ && _))
      val keyCols = (orderKeys ++ dims.filterNot(orderKeys.contains)).distinct
      val keys = frame.select(keyCols.map(col): _*)
      val types = keys.schema.fields.map(_.dataType)
      val order = orderKeys.indices.map(i =>
        SortOrder(BoundReference(i, types(i), nullable = true), Ascending))
      val dimAt = dims.map(keyCols.indexOf).toArray
      val parts = graft.core.JobDesc.withDesc(spark, "export: store order: keys") {
        spark.sparkContext.runJob(keys.queryExecution.toRdd, (it: Iterator[InternalRow]) => {
          val ord = new LazilyGeneratedOrdering(order)
          val dimOrd = dimAt.map(j => PhysicalDataType.ordering(types(j)))
          // two projections take turns, so the previous row stays valid
          // without a copy per row
          val proj = Array.fill(2)(UnsafeProjection.create(types))
          val (lo, hi) = (new Array[Any](dimAt.length), new Array[Any](dimAt.length))
          var (rows, sorted) = (0L, true)
          var (first, prev) = (null: InternalRow, null: InternalRow)
          while (it.hasNext) {
            val row = proj((rows & 1).toInt)(it.next())
            if (prev == null) first = row.copy()
            else if (sorted && ord.compare(prev, row) > 0) sorted = false
            var k = 0
            while (k < dimAt.length) {
              val v = row.get(dimAt(k), types(dimAt(k)))
              if (lo(k) == null || dimOrd(k).lt(v, lo(k))) lo(k) = InternalRow.copyValue(v)
              if (hi(k) == null || dimOrd(k).gt(v, hi(k))) hi(k) = InternalRow.copyValue(v)
              k += 1
            }
            prev = row
            rows += 1
          }
          PartKeys(rows, first, if (prev == null) null else prev.copy(), sorted, lo, hi)
        })
      }
      val ord = new LazilyGeneratedOrdering(order)
      val live = parts.toSeq.filter(_.rows > 0)
      val inOrder = parts.forall(_.sorted) && live.sliding(2).forall {
        case Seq(a, b) => ord.compare(a.last, b.first) <= 0
        case _ => true
      }
      if (!inOrder) Left("part files out of key order")
      else {
        val trims = if (live.isEmpty) Nil else dims.indices.map { k =>
          val dt = types(dimAt(k))
          val dimOrd = PhysicalDataType.ordering(dt)
          def bound(v: Any) = ColumnBridge.column(Literal(v, dt))
          col(dims(k)).between(
            bound(live.map(_.lo(k)).reduce((a, b) => dimOrd.min(a, b))),
            bound(live.map(_.hi(k)).reduce((a, b) => dimOrd.max(a, b))))
        }
        Right((Projection.projectToSpec(trims.foldLeft(frame)((d, t) => d.where(t)),
          exportColumns(headerFields, orderKeys)), parts.map(_.rows).toSeq))
      }
    }
  }

  /** [[maskedOrder]] plus a contiguous 0-based `seq` column
    * ([[GlobalOrder.withGlobalSeq]]): each trace's position in the export,
    * for callers that need it as data.
    */
  def maskedExport(df: DataFrame, mask: Column, dims: Seq[String],
                   headerFields: Seq[String], orderKeys: Seq[String]): DataFrame =
    GlobalOrder.withGlobalSeq(
      maskedOrder(df, mask, dims, headerFields, orderKeys), orderKeys)
}
