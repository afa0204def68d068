package graft.export

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{GlobalOrder, Masking, Projection}

/** The export driver (E1/E3/E5) — the Spark shape of
  * `converters/mdio.py:32-158`:
  * open → rechunk (E1) → header-project (P2) → mask (P4/P5) → bbox (P6) →
  * serialize (E3) → ordered commit (E4).
  *
  * E4's hierarchical part-file tree merge collapses into a range-partitioned
  * global sort + task-ordered committer: Spark's committer renames part
  * files in task order, so a sorted write IS the ordered concat.
  */
object SegyExport {

  /** The object-store concat found a partition's part file missing. */
  final class MissingPartFileError(msg: String) extends RuntimeException(msg)

  /** E1: export rechunk — repartition into ~`targetMb` range partitions on
    * the export order keys (`segy/utilities.py:146-198` targets ~300 MB,
    * fastest-varying axis first).
    */
  def rechunkForExport(df: DataFrame, orderKeys: Seq[String],
                       totalBytes: Long, targetMb: Int = 300): DataFrame = {
    val parts = math.max(1, (totalBytes / (targetMb * 1024L * 1024L)).toInt)
    df.repartitionByRange(parts, orderKeys.map(col): _*)
      .sortWithinPartitions(orderKeys.map(col): _*)
  }

  /** E3: per-trace binary record — headers packed big-endian (4-byte ints in
    * spec order) followed by the serialized sample payload. Pure column
    * expressions over binary concat; a real SEG-Y writer swaps the payload
    * encoding, the plumbing is identical.
    */
  def serializeTraces(df: DataFrame, headerFields: Seq[String],
                      samplesCol: String): DataFrame = {
    // fixed 4-byte big-endian two's complement: the native pack writes the
    // low 32 bits directly (the documented mask semantics of this raw
    // layout), no hex-string round trip
    val headerBytes: Seq[Column] = headerFields.map(f =>
      graft.functions.BeBytesPack(col(f).cast("bigint"), 4, f,
        checked = false))
    val payload = col(samplesCol).cast("binary")
    df.withColumn("trace_record", concat((headerBytes :+ payload): _*))
      .withColumn("record_len", octet_length(col("trace_record")).cast("long"))
  }

  /** E2/E3 for REAL interop: serialize traces with STANDARD 240-byte
    * trace headers — each (field, column) pair packs a 2-/4-byte
    * big-endian signed int at its public rev-1 spec offset, every other
    * byte zero — followed by the sample payload (already encoded; see
    * [[ibmPayload]] for format 1). The inverse of
    * [[graft.sources.SegyRead.readStandardTraces]], pure column
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
    * inverse of [[graft.sources.SegyRead.intSamples]].
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
    * [[ibmPayload]]. Encode inverse of
    * [[graft.sources.SegyRead.ieeeSamples]].
    */
  def ieee32Payload(samples: Column, nSamples: Int): Column =
    graft.functions.SampleCodec.encodeFloatsColumn(samples, ibm = false,
      nSamples, "ieee32 sample")

  /** Format-6 sample payload (SEG-Y rev-2 IEEE float64): each double's RAW
    * bits ([[graft.functions.DoubleBits]] — NaN payloads survive) packed as
    * an 8-byte big-endian word ([[graft.functions.BeBytesPack]]). Encode
    * inverse of [[graft.sources.SegyRead.ieee64Samples]].
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

  /** Per-trace record width when it is FIXED by construction — the standard
    * rev-1 layout: 240 header bytes + nSamples fixed-width samples. Pass to
    * [[writeSegy]] so the positioned write can derive partition offsets
    * from row COUNTS instead of re-executing (or caching) the encode.
    */
  def standardRecordBytes(nSamples: Int, formatCode: Int): Long =
    240L + nSamples.toLong * graft.sources.SegyRead.bytesPerSample(formatCode)

  /** Find the RDD that READS the plan's last shuffle (the nearest shuffle
    * below `rdd`), reachable through one-to-one narrow dependencies only —
    * its partitions align 1:1 with `rdd`'s, so per-partition row counts
    * taken there equal the final stage's counts WITHOUT executing the
    * final stage (sort + encode). None when the lineage has no such
    * shuffle (callers fall back to the two-pass/cache shape).
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
    * `fixedRecordBytes`: when the caller KNOWS every record is the same
    * width (true of every standard-layout export — 240-byte header +
    * nSamples fixed-width samples, [[standardRecordBytes]]), the offsets
    * pass needs only per-partition ROW COUNTS, which are read straight off
    * the sort's shuffle (below the sort+encode stage) — the expensive
    * encode kernels and the sort itself run exactly ONCE, in the write
    * job, with nothing cached, at any size. The write job's
    * positioned-write invariant (`wrote == counted` per partition) still
    * verifies the declared width against reality, so a wrong width fails
    * loudly rather than corrupting the file.
    */
  def writeSegy(records: DataFrame, outFile: String,
                textHeader: Seq[String], binaryHeader: Array[Byte],
                fixedRecordBytes: Option[Long] = None): Unit = {
    require(binaryHeader.length == 400, "binary header must be 400 bytes")
    require(fixedRecordBytes.forall(_ > 0), "fixedRecordBytes must be positive")
    SegyHeaders.validateTextHeader(textHeader)
    val sess = records.sparkSession
    val conf = new org.apache.hadoop.conf.Configuration(
      sess.sparkContext.hadoopConfiguration)
    val outPath = new org.apache.hadoop.fs.Path(outFile)
    val confSer = new org.apache.spark.util.SerializableConfiguration(conf)
    val charset =
      try java.nio.charset.Charset.forName("IBM037")     // EBCDIC, like the reference
      catch { case _: Exception => java.nio.charset.StandardCharsets.US_ASCII }
    val head = textHeader.mkString.getBytes(charset) ++ binaryHeader
    val recordsOnly = records.select("trace_record")

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
      // Offsets: three strategies.
      //  1. Fixed record width + a findable last shuffle: per-partition row
      //     counts read off the shuffle itself (no sort, no encode, no
      //     cache) — sort+encode run exactly once, in the write job, with
      //     nothing pushed through storage. Used at ANY size: the exact
      //     output bytes are rows x width, so no optimizer estimate is
      //     consulted. (An earlier revision gated this arm on the
      //     optimizer's sizeInBytes estimate of the record table; that
      //     estimate UNDERESTIMATES encoded records ~15x — 1.007 GB
      //     estimated vs 14.9 GB actual at sf10, tools/ProbeWalk — so the
      //     "cache below 2 GiB" arm silently swallowed multi-GB exports
      //     and pushed the full payload through the block manager, the §8
      //     anti-pattern. At fixture scale the two shapes measured as a
      //     wash — bench/ab_segy_fixed_r20.json mins within ±10% — so
      //     nothing is lost below the old gate either.)
      //  2. Variable width below `graft.segy.cacheRecordsMaxBytes` (2 GiB
      //     default, optimizer-estimated): persist the serialized records
      //     so the encode runs once across the sizes + write jobs.
      //  3. Variable width above the gate: recompute — the sort shuffle is
      //     reused, the reduce side re-executes (caching a 100 TB export
      //     would push the whole payload through storage).
      var cached: Option[DataFrame] = None
      try {
      val cacheMax = BigInt(sess.conf.get("graft.segy.cacheRecordsMaxBytes",
        (2L << 30).toString).toLong)
      // graft.segy.fixedWidthOffsets=false forces the legacy cache/recompute
      // shape — the same-session A/B switch (tools/AbSegyFixed)
      val fixedEnabled = sess.conf.get(
        "graft.segy.fixedWidthOffsets", "true").toBoolean
      val fixedSized: Option[(org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
                              Array[Long])] =
        fixedRecordBytes.filter(_ => fixedEnabled).flatMap { w =>
          val r = recordsOnly.rdd
          lastShuffleReader(r).map { sr =>
            val counts = sess.sparkContext.runJob(
              sr.asInstanceOf[org.apache.spark.rdd.RDD[Any]],
              (it: Iterator[Any]) => {
                var n = 0L
                while (it.hasNext) { it.next(); n += 1 }
                n
              })
            (r, counts.map(_ * w))
          }
        }
      val (rdd, sizes) = fixedSized.getOrElse {
        val underGate =
          recordsOnly.queryExecution.optimizedPlan.stats.sizeInBytes <= cacheMax
        if (underGate)
          cached = Some(recordsOnly.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val r = cached.getOrElse(recordsOnly).rdd
        val sz = r.mapPartitionsWithIndex { case (idx, it) =>
          var n = 0L
          it.foreach(row => n += row.getAs[Array[Byte]]("trace_record").length)
          Iterator.single((idx, n))
        }.collect().sortBy(_._1).map(_._2)
        (r, sz)
      }
      val offsets = sizes.scanLeft(head.length.toLong)(_ + _)
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
      rdd.mapPartitionsWithIndex { case (idx, it) =>
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(localPathStr),
          java.nio.file.StandardOpenOption.WRITE)
        try {
          ch.position(offsetsB.value(idx))
          val os = new java.io.BufferedOutputStream(
            java.nio.channels.Channels.newOutputStream(ch), 1 << 20)
          it.foreach(r => os.write(r.getAs[Array[Byte]]("trace_record")))
          os.flush()
          require(ch.position() == offsetsB.value(idx + 1),
            s"partition $idx wrote ${ch.position() - offsetsB.value(idx)}B, " +
              s"counted ${offsetsB.value(idx + 1) - offsetsB.value(idx)}B")
        } finally ch.close()
        Iterator.single(1)
      }.count()
      offsetsB.destroy()
      } finally { cached.foreach(_.unpersist()): Unit }
    } else {
      // object stores / HDFS: no positioned writes — parallel part files,
      // then a streamed driver concat in partition order, exactly the
      // reference's hierarchical merge collapsed to its final sequential
      // `concat_files` step (`segy/blocked_io.py:214-303`,
      // `segy/creation.py:236-263`). (A real S3 deployment would swap the
      // concat for a multipart-upload compose of the same parts.) One pass
      // over the records — no sizes job, so no cache and no fixed-width
      // shortcut apply here.
      val partsDir = outFile + ".parts"
      val nParts = recordsOnly.rdd.mapPartitionsWithIndex { case (idx, it) =>
        val fs = new org.apache.hadoop.fs.Path(partsDir)
          .getFileSystem(confSer.value)
        val part = new org.apache.hadoop.fs.Path(f"$partsDir/part-$idx%05d")
        val os = fs.create(part, true)
        try it.foreach(r => os.write(r.getAs[Array[Byte]]("trace_record")))
        finally os.close()
        Iterator.single(1)
      }.count().toInt
      // every partition writes its part, empty or not: a missing one is
      // lost traces, never a part to skip. A failed concat leaves no
      // truncated output behind.
      val fs = outPath.getFileSystem(conf)
      val parts = new org.apache.hadoop.fs.Path(partsDir)
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
      } finally fs.delete(parts, true)
    }
  }

  /** E5: the masked-export pipeline — mask, header projection, then a
    * range-partitioned global sort on `orderKeys`. The sort's partitions
    * ARE the global order, which is all [[writeSegy]] needs: it takes its
    * write order and byte offsets from them, so no sequence column is paid
    * for.
    */
  def maskedOrder(df: DataFrame, mask: Column, dims: Seq[String],
                  headerFields: Seq[String], orderKeys: Seq[String]): DataFrame = {
    val selected = Masking.maskedSelect(df, mask, dims,
      (headerFields ++ orderKeys).distinct)
    Projection.projectToSpec(selected,
      (orderKeys ++ headerFields.filterNot(orderKeys.contains)).distinct)
      .orderBy(orderKeys.map(col): _*)
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
