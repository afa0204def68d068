package graft.`export`

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
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

  /** Run `f` under its own job group; return the number of jobs it ran and
    * the names of the persisted RDDs any stage of those jobs held. */
  private def jobsAndCaches(f: => Unit): (Int, Seq[String]) = {
    val group = s"segywrite-${System.nanoTime()}"
    val (started, ended) = (new AtomicInteger, new AtomicInteger)
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val cached = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          ours.add(js.jobId)
          started.incrementAndGet()
          js.stageInfos.flatMap(_.rddInfos)
            .filter(_.storageLevel != StorageLevel.NONE)
            .foreach(r => cached.add(r.name))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (ours.contains(je.jobId)) ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "segy write spec")
      try f finally spark.sparkContext.clearJobGroup()
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (ended.get() < started.get() && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(300)
      (started.get(), cached.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

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
    val (jobs, cached) = jobsAndCaches {
      SegyExport.writeSegy(
        serialize(rows.toDF("il", "xl", "samples").orderBy("il", "xl")),
        s"$dir/sorted.sgy", text, binaryHeader)
      SegyExport.writeSegy(
        serialize(spark.sparkContext.parallelize(rows, 3).toDF("il", "xl", "samples")),
        s"$dir/plain.sgy", text, binaryHeader)
    }
    assert(jobs > 0)
    assert(cached.isEmpty, s"export jobs held persisted RDDs: $cached")
    assertNoLingeringCache()
  }

  test("a 400-byte all-zero binary header is rejected before any job runs") {
    val out = Files.createTempDirectory("segyzero").toString + "/zero.sgy"
    val (jobs, _) = jobsAndCaches {
      val e = intercept[IllegalArgumentException] {
        SegyExport.writeSegy(serialize(rows.toDF("il", "xl", "samples")), out,
          SegyHeaders.sanitizeTextHeader(Seq("C 1 ZERO")), new Array[Byte](400))
      }
      assert(e.getMessage.contains("unsupported SEG-Y sample format code 0"),
        e.getMessage)
    }
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
}
