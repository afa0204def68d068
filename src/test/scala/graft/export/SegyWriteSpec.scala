package graft.`export`

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.JobRecorder
import graft.sources.SegyRead.StandardFields.{Crossline, Inline}

class SegyWriteSpec extends SparkSpec {
  import spark.implicits._

  // one int16 sample per trace: 240 header bytes + 2 payload bytes
  private val binaryHeader = SegyExport.standardBinaryHeader(nSamples = 1,
    sampleInterval = 2000, formatCode = 3)
  private val record = 242

  private def serialize(df: DataFrame): DataFrame =
    SegyExport.serializeStandardTraces(df,
      Seq(Inline -> "il", Crossline -> "xl"), "samples")

  /** 5000 (il, xl, 2-byte payload) rows: enough for a real
    * multi-partition range sort under the shuffle. */
  private val rows = (1 to 5000).map(i => (i % 97, i, Array[Byte](
    (i & 0xff).toByte, ((i >> 8) & 0xff).toByte)))

  private def bytesOf(f: String): Seq[Byte] = Files.readAllBytes(Paths.get(f)).toSeq

  test("writeSegy emits header + ordered trace records") {
    val df = Seq(
      (2, 20, Array[Byte](9, 9)),
      (1, 10, Array[Byte](1, 2)),
      (3, 30, Array[Byte](7, 7))).toDF("il", "xl", "samples")
      .orderBy("il")
    val out = Files.createTempDirectory("segy").toString + "/out.sgy"
    val text = SegyHeaders.sanitizeTextHeader(Seq("C 1 TEST"))
    SegyExport.writeSegy(serialize(df), out, text, binaryHeader)

    val bytes = Files.readAllBytes(Paths.get(out))
    // 3200 text + 400 binary + 3 × (240 + 2) records
    assert(bytes.length == 3200 + 400 + 3 * record)
    // first record is il=1 (global order): inline at header bytes 189-192
    assert(bytes.slice(3600 + 188, 3600 + 192).toSeq == Seq[Byte](0, 0, 0, 1))
    assert(bytes.slice(3600 + 240, 3600 + 242).toSeq == Seq[Byte](1, 2))
    val last = 3600 + 2 * record
    assert(bytes.slice(last + 188, last + 192).toSeq == Seq[Byte](0, 0, 0, 3))
  }

  test("fixedRecordBytes offsets path writes a byte-identical file") {
    val records = serialize(rows.toDF("il", "xl", "samples").orderBy("il", "xl"))
    val text = SegyHeaders.sanitizeTextHeader(Seq("C 1 FIXED"))
    val dir = Files.createTempDirectory("segyfix").toString
    SegyExport.writeSegy(records, s"$dir/derived.sgy", text, binaryHeader)
    // a declared width equal to the binary header's changes nothing
    SegyExport.writeSegy(records, s"$dir/declared.sgy", text, binaryHeader,
      fixedRecordBytes = Some(SegyExport.standardRecordBytes(1, 3)))
    assert(bytesOf(s"$dir/declared.sgy") == bytesOf(s"$dir/derived.sgy"))
    assert(bytesOf(s"$dir/derived.sgy").length == 3600 + rows.size * record)
  }

  test("a records frame with no shuffle in its lineage writes the same " +
    "bytes as the rows written after a range sort") {
    val sorted = rows.sortBy(r => (r._1, r._2))
    // already in order across 3 partitions, with no exchange below it
    val unshuffled = spark.sparkContext.parallelize(sorted, 3)
      .toDF("il", "xl", "samples")
    val text = SegyHeaders.sanitizeTextHeader(Seq("C 1 NO SHUFFLE"))
    val dir = Files.createTempDirectory("segynoshuffle").toString
    SegyExport.writeSegy(serialize(unshuffled), s"$dir/plain.sgy", text,
      binaryHeader)
    SegyExport.writeSegy(
      serialize(rows.toDF("il", "xl", "samples").orderBy("il", "xl")),
      s"$dir/sorted.sgy", text, binaryHeader)
    assert(bytesOf(s"$dir/plain.sgy") == bytesOf(s"$dir/sorted.sgy"))
  }

  test("a fixed-width export persists nothing, with or without a shuffle") {
    val text = SegyHeaders.sanitizeTextHeader(Seq("C 1 NO CACHE"))
    val dir = Files.createTempDirectory("segynocache").toString
    val record = JobRecorder.record(spark) {
      SegyExport.writeSegy(
        serialize(rows.toDF("il", "xl", "samples").orderBy("il", "xl")),
        s"$dir/sorted.sgy", text, binaryHeader)
      SegyExport.writeSegy(
        serialize(spark.sparkContext.parallelize(rows, 3).toDF("il", "xl", "samples")),
        s"$dir/plain.sgy", text, binaryHeader)
    }._2
    assert(record.jobs > 0)
    assert(record.cached.isEmpty, s"export jobs held persisted RDDs: ${record.cached}")
    assertNoLingeringCache()
  }

  test("a 400-byte all-zero binary header is rejected before any job runs") {
    val out = Files.createTempDirectory("segyzero").toString + "/zero.sgy"
    val jobs = JobRecorder.record(spark) {
      val e = intercept[IllegalArgumentException] {
        SegyExport.writeSegy(serialize(rows.toDF("il", "xl", "samples")), out,
          SegyHeaders.sanitizeTextHeader(Seq("C 1 ZERO")), new Array[Byte](400))
      }
      assert(e.getMessage.contains("unsupported SEG-Y sample format code 0"),
        e.getMessage)
    }._2.jobs
    assert(jobs == 0)
    assert(!Files.exists(Paths.get(out)))
  }

  test("a wrong fixedRecordBytes fails loudly instead of corrupting") {
    val records = serialize((1 to 1000).map(i => (i, i, Array[Byte](1, 2)))
      .toDF("il", "xl", "samples").orderBy("il", "xl"))
    val text = SegyHeaders.sanitizeTextHeader(Seq("C 1 BAD"))
    val dir = Files.createTempDirectory("segybad").toString
    // a declared width the binary header contradicts: refused on the driver
    val declared = intercept[IllegalArgumentException] {
      SegyExport.writeSegy(records, s"$dir/declared.sgy", text, binaryHeader,
        fixedRecordBytes = Some(243L)) // truth: 242
    }
    assert(declared.getMessage.contains("fixedRecordBytes 243"), declared.getMessage)
    assert(!Files.exists(Paths.get(s"$dir/declared.sgy")))
    // records of another width than the header declares (4-byte payloads
    // under a 2-byte format): the positioned-write invariant
    // (wrote == counted) is the guard
    val wide = serialize((1 to 1000).map(i => (i, i, Array[Byte](1, 2, 3, 4)))
      .toDF("il", "xl", "samples").orderBy("il", "xl"))
    val e = intercept[org.apache.spark.SparkException] {
      SegyExport.writeSegy(wide, s"$dir/wide.sgy", text, binaryHeader)
    }
    assert(e.getMessage.contains("wrote") || Option(e.getCause).exists(
      _.getMessage.contains("wrote")), e.getMessage)
    // mixed widths whose total matches the count (241 + 243 = 2 x 242) in
    // one partition: the per-record check refuses them
    val mixed = serialize(Seq((1, 1, Array[Byte](1)), (2, 2, Array[Byte](1, 2, 3)))
      .toDF("il", "xl", "samples").coalesce(1))
    val m = intercept[org.apache.spark.SparkException] {
      SegyExport.writeSegy(mixed, s"$dir/mixed.sgy", text, binaryHeader)
    }
    assert(m.getMessage.contains("wrote a 241B record"), m.getMessage)
    // the object-store arm (part files + concat) checks each record
    spark.sparkContext.hadoopConfiguration
      .set("fs.lossy.impl", classOf[LossyPartsFs].getName)
    val parts = intercept[org.apache.spark.SparkException] {
      SegyExport.writeSegy(wide, s"lossy://$dir/keep/wide.sgy", text, binaryHeader)
    }
    assert(parts.getMessage.contains("wrote a 244B record"), parts.getMessage)
    assert(!Files.exists(Paths.get(s"$dir/keep/wide.sgy")))
    assert(!Files.exists(Paths.get(s"$dir/keep/wide.sgy.parts")))
  }

  test("with knownCounts no counts job runs, and every writer check still fires") {
    val text = SegyHeaders.sanitizeTextHeader(Seq("C 1 KNOWN COUNTS"))
    val dir = Files.createTempDirectory("segyknown").toString
    // already in order across 3 partitions, with no exchange below it
    val plain = serialize(spark.sparkContext
      .parallelize(rows.sortBy(r => (r._1, r._2)), 3).toDF("il", "xl", "samples"))
    val counts = plain.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
    SegyExport.writeSegy(plain, s"$dir/counted.sgy", text, binaryHeader)
    val jobs = JobRecorder.record(spark) {
      SegyExport.writeSegy(plain, s"$dir/known.sgy", text, binaryHeader,
        knownCounts = Some(counts))
    }._2.jobs
    assert(jobs == 1, s"a write with known counts ran $jobs jobs")
    assert(bytesOf(s"$dir/known.sgy") == bytesOf(s"$dir/counted.sgy"))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    def fails(out: String, records: DataFrame, known: Seq[Long]): String =
      messages(intercept[Exception](SegyExport.writeSegy(records, out, text,
        binaryHeader, knownCounts = Some(known))))
    // a count for each partition, or none at all
    assert(fails(s"$dir/short.sgy", plain, counts.tail)
      .contains("knownCounts holds 2 partition counts, the records have 3"))
    // a count that is not the partition's rows: "wrote X, counted Y", on
    // local files and on the object-store arm
    val off = counts.updated(1, counts(1) + 1)
    assert(fails(s"$dir/off.sgy", plain, off).contains(
      s"partition 1 wrote ${counts(1) * record}B, counted ${off(1) * record}B"))
    spark.sparkContext.hadoopConfiguration
      .set("fs.lossy.impl", classOf[LossyPartsFs].getName)
    assert(fails(s"lossy://$dir/keep/off.sgy", plain, off).contains(
      s"partition 1 wrote ${counts(1) * record}B, counted ${off(1) * record}B"))
    assert(!Files.exists(Paths.get(s"$dir/keep/off.sgy")))
    // a record of another width than the binary header declares
    val mixed = serialize(Seq((1, 1, Array[Byte](1)), (2, 2, Array[Byte](1, 2, 3)))
      .toDF("il", "xl", "samples").coalesce(1))
    assert(fails(s"$dir/mixed.sgy", mixed, Seq(2L)).contains("wrote a 241B record"))
    assert(fails(s"lossy://$dir/keep/mixed.sgy", mixed, Seq(2L))
      .contains("wrote a 241B record"))
    // a lost part file
    val lost = intercept[SegyExport.MissingPartFileError] {
      SegyExport.writeSegy(plain, s"lossy://$dir/drop/known.sgy", text, binaryHeader,
        knownCounts = Some(counts))
    }
    assert(lost.getMessage.contains("part-00001"))
    assert(!Files.exists(Paths.get(s"$dir/drop/known.sgy")))
  }
}
