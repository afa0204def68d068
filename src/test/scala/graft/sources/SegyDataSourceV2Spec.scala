package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.`export`.{SegyExport, SegyHeaders}

/** `spark.read.format("segy")`: the DSv2 face of the standard-layout
  * reader — schema inference from the binary header, column pruning to the
  * byte layer, trace_index split pruning, limit, raw/fields options.
  */
class SegyDataSourceV2Spec extends SparkSpec {
  import spark.implicits._
  import SegyRead.StandardFields._

  private val textLines = SegyHeaders.sanitizeTextHeader(Seq("C 1 DSV2 SPEC"))

  /** 10-trace format-1 file: inline 200+i, crossline 300+i, 4 IBM32
    * samples [i, -i, 100+i, 0].
    */
  private lazy val fmt1File: String = {
    val df = (0 until 10).map { i =>
      (200 + i, 300 + i, Seq(i.toFloat, -i.toFloat, 100.0f + i, 0.0f))
    }.toDF("inline", "crossline", "v")
    val records = SegyExport.serializeStandardTraces(
      df.orderBy("inline")
        .withColumn("samples", SegyExport.ibmPayload(col("v"), 4)),
      Seq(Inline -> "inline", Crossline -> "crossline"), "samples")
    val out = Files.createTempDirectory("segydsv2").toString + "/f1.sgy"
    SegyExport.writeSegy(records, out, textLines,
      SegyExport.standardBinaryHeader(nSamples = 4, sampleInterval = 2000,
        formatCode = 1))
    out
  }

  test("schema infers from the binary header: full catalog + typed samples") {
    val df = spark.read.format("segy").load(fmt1File)
    assert(df.schema.fieldNames.head == "trace_index")
    assert(df.schema.fieldNames.contains("inline"))
    assert(df.schema.fieldNames.last == "samples")
    assert(df.schema("samples").dataType.simpleString == "array<float>")
    assert(df.count() == 10)
  }

  test("values match the function-API reader bit-exactly") {
    val dsv2 = spark.read.format("segy")
      .option("fields", "inline,crossline").load(fmt1File)
      .select("trace_index", "inline", "crossline", "samples")
      .orderBy("trace_index").collect()
    val fn = SegyRead.readStandardTraces(spark, fmt1File, Seq(Inline, Crossline))
      .withColumn("samples", SegyRead.decodeSamples(col("samples"), 4, 1))
      .select("trace_index", "inline", "crossline", "samples")
      .orderBy("trace_index").collect()
    assert(dsv2.toSeq == fn.toSeq)
  }

  test("headers-only projection never materializes the payload") {
    val got = spark.read.format("segy").option("fields", "inline")
      .load(fmt1File)
      .select("inline")
      .as[Long].collect().sorted
    assert(got.toSeq == (200L until 210L))
  }

  test("trace_index range filter prunes splits and still answers exactly") {
    val df = spark.read.format("segy").option("fields", "inline")
      .option("tracesPerSplit", "2").load(fmt1File)
      .where(col("trace_index") >= 3 && col("trace_index") < 7)
    assert(df.select("trace_index").as[Long].collect().sorted.toSeq ==
      (3L until 7L))
    // the scan description proves the planned range was clipped
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("traces [3,7)"), s"plan:\n$desc")
  }

  test("pushed limit caps the planned range") {
    val df = spark.read.format("segy").option("fields", "inline")
      .load(fmt1File).limit(3)
    assert(df.count() == 3)
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("traces [0,3)"), s"plan:\n$desc")
  }

  test("raw option keeps samples as the undecoded binary payload") {
    val r = spark.read.format("segy").option("raw", "true")
      .option("fields", "inline").load(fmt1File)
      .where(col("trace_index") === 0)
      .select("samples").collect()(0).getAs[Array[Byte]](0)
    assert(r.length == 16) // 4 IBM32 words
  }

  test("count(*) over an empty projection still counts traces") {
    assert(spark.read.format("segy").load(fmt1File)
      .groupBy().count().as[Long].head() == 10L)
  }

  test("ungrouped count(*) is answered from file metadata, not a trace scan") {
    val df = spark.read.format("segy").load(fmt1File).groupBy().count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("metadata count(*)"), s"no pushed count in:\n$plan")
    assert(df.as[Long].head() == 10L)
    // a filtered count keeps the real scan (filters stay residual here)
    val filtered = spark.read.format("segy").load(fmt1File)
      .where(col("trace_index") >= 5).groupBy().count()
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("metadata count(*)"))
    assert(filtered.as[Long].head() == 5L)
  }

  test("format 3 (int16) types samples as array<int> and decodes signed") {
    val df = (0 until 4).map { i =>
      (i, i, Seq(-1000 + i, 1000 - i, i))
    }.toDF("inline", "crossline", "v")
    val records = SegyExport.serializeStandardTraces(
      df.orderBy("inline")
        .withColumn("samples", SegyExport.intPayload(col("v"), 3, 3)),
      Seq(Inline -> "inline", Crossline -> "crossline"), "samples")
    val out = Files.createTempDirectory("segydsv2i").toString + "/f3.sgy"
    SegyExport.writeSegy(records, out, textLines,
      SegyExport.standardBinaryHeader(nSamples = 3, sampleInterval = 2000,
        formatCode = 3))
    val got = spark.read.format("segy").option("fields", "inline").load(out)
    assert(got.schema("samples").dataType.simpleString == "array<int>")
    val r0 = got.where(col("trace_index") === 0)
      .select("samples").collect()(0).getSeq[Int](0)
    assert(r0 == Seq(-1000, 1000, 0))
  }

  test("DSv2 WRITE -> DSv2 READ round-trips bit-exactly (format 5 IEEE32)") {
    val out = Files.createTempDirectory("segydsv2w").toString + "/w5.sgy"
    val df = (0 until 6).map { i =>
      (200 + i, 300 + i, Seq(1.5f + i, -2.25f * i, Float.MinPositiveValue))
    }.toDF("inline", "crossline", "samples")
    df.write.format("segy")
      .option("fields", "inline,crossline").option("formatCode", "5")
      .mode("overwrite").save(out)
    val info = SegyRead.standardInfo(spark, out)
    assert(info.formatCode == 5 && info.nSamples == 3 && info.base.nTraces == 6)
    val back = spark.read.format("segy").option("fields", "inline,crossline")
      .load(out)
      .select("inline", "crossline", "samples")
      .orderBy("inline")
      .as[(Long, Long, Seq[Float])].collect()
    back.zipWithIndex.foreach { case ((il, xl, v), i) =>
      assert(il == 200L + i && xl == 300L + i)
      assert(v == Seq(1.5f + i, -2.25f * i, Float.MinPositiveValue))
    }
  }

  test("DSv2 write refuses to clobber without overwrite; append mode fails loudly") {
    val out = Files.createTempDirectory("segydsv2c").toString + "/c.sgy"
    val df = Seq((1, 1, Seq(1.0f))).toDF("inline", "crossline", "samples")
    def write(mode: String) = df.write.format("segy")
      .option("fields", "inline,crossline").mode(mode).save(out)
    write("overwrite")
    val e = intercept[Exception](write("append"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("immutable")))
    write("overwrite") // rewrite allowed
    assert(spark.read.format("segy").load(out).count() == 1)
  }

  test("DSv2 write orders rows globally by the field list") {
    val out = Files.createTempDirectory("segydsv2o").toString + "/o.sgy"
    Seq((5, 1, Seq(5.0f)), (2, 1, Seq(2.0f)), (9, 1, Seq(9.0f)))
      .toDF("inline", "crossline", "samples")
      .write.format("segy").option("fields", "inline,crossline")
      .mode("overwrite").save(out)
    val got = spark.read.format("segy").option("fields", "inline").load(out)
      .orderBy("trace_index")
      .select("inline").as[Long].collect().toSeq
    assert(got == Seq(2L, 5L, 9L)) // file order IS field order
  }

  test("a DIRECTORY load unions its member files with a source_file column") {
    val dir = Files.createTempDirectory("segydsv2dir").toString
    Seq((100, 1, Seq(1.0f)), (101, 1, Seq(2.0f)))
      .toDF("inline", "crossline", "samples")
      .write.format("segy").option("fields", "inline,crossline")
      .mode("overwrite").save(s"$dir/shot_a.sgy")
    Seq((200, 1, Seq(3.0f)), (201, 1, Seq(4.0f)), (202, 1, Seq(5.0f)))
      .toDF("inline", "crossline", "samples")
      .write.format("segy").option("fields", "inline,crossline")
      .mode("overwrite").save(s"$dir/shot_b.sgy")
    val df = spark.read.format("segy").option("fields", "inline").load(dir)
    assert(df.schema.fieldNames.contains("source_file"))
    assert(df.count() == 5)
    val bySrc = df.groupBy(regexp_extract(col("source_file"),
        "([^/]+)\\.sgy$", 1).as("f"))
      .count().as[(String, Long)].collect().toMap
    assert(bySrc == Map("shot_a" -> 2L, "shot_b" -> 3L))
    // trace_index is per-file: a range filter clips EVERY member
    val clipped = spark.read.format("segy").option("fields", "inline")
      .load(dir).where(col("trace_index") === 0)
      .select("inline").as[Long].collect().sorted
    assert(clipped.toSeq == Seq(100L, 200L))
    // single-file loads keep the original schema (no source_file)
    assert(!spark.read.format("segy").load(s"$dir/shot_a.sgy")
      .schema.fieldNames.contains("source_file"))
  }

  test("a directory with mixed geometry fails with both files named") {
    val dir = Files.createTempDirectory("segydsv2mix").toString
    Seq((1, 1, Seq(1.0f)))
      .toDF("inline", "crossline", "samples")
      .write.format("segy").option("fields", "inline,crossline")
      .mode("overwrite").save(s"$dir/one.sgy")
    Seq((1, 1, Seq(1.0f, 2.0f)))
      .toDF("inline", "crossline", "samples")
      .write.format("segy").option("fields", "inline,crossline")
      .mode("overwrite").save(s"$dir/two.sgy")
    val e = intercept[Exception] {
      spark.read.format("segy").load(dir).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("uniform geometry")))
  }

  /** 4-trace format-1 file with custom header words: int16 at byte 1,
    * uint16 at 3, int32 at 5, uint32 at 9 — negative values and values
    * past the signed range of their width. */
  private lazy val customFile: String = {
    val df = (0 until 4).map { i =>
      (-30000 + i, 40000 + i, -70000L - i, 3000000000L + i, 200 + i, Seq(i.toFloat))
    }.toDF("s16", "u16", "s32", "u32", "inline", "v")
    val records = SegyExport.serializeStandardTraces(
      df.orderBy("inline").withColumn("samples", SegyExport.ibmPayload(col("v"), 1)),
      Seq(SegyRead.HeaderField("s16", 1, 2) -> "s16",
        SegyRead.HeaderField("u16", 3, 2, unsigned = true) -> "u16",
        SegyRead.HeaderField("s32", 5, 4) -> "s32",
        SegyRead.HeaderField("u32", 9, 4, unsigned = true) -> "u32",
        Inline -> "inline"), "samples")
    val out = Files.createTempDirectory("segydsv2custom").toString + "/c.sgy"
    SegyExport.writeSegy(records, out, textLines,
      SegyExport.standardBinaryHeader(nSamples = 1, sampleInterval = 2000,
        formatCode = 1))
    out
  }

  test("name@byte:type fields equal the function-API reader's values, " +
    "signed and unsigned, 2 and 4 bytes") {
    // every word read as written and with the other signedness
    val custom = Seq(("s16", 1, "int16"), ("s16_as_u", 1, "uint16"),
      ("u16", 3, "uint16"), ("u16_as_s", 3, "int16"),
      ("s32", 5, "int32"), ("s32_as_u", 5, "uint32"),
      ("u32", 9, "uint32"), ("u32_as_s", 9, "int32"))
      .map { case (n, b, t) => SegyRead.HeaderField.typed(n, b, t) }
    val cols = ("trace_index" +: custom.map(_.name)).map(col)
    val dsv2 = spark.read.format("segy")
      .option("fields", custom.map(_.spec).mkString(",")).load(customFile)
      .select(cols: _*).orderBy("trace_index").collect().toSeq
    val fn = SegyRead.readStandardTraces(spark, customFile, custom)
      .select(cols: _*).orderBy("trace_index").collect().toSeq
    assert(dsv2 == fn)
    assert(dsv2.head.toSeq == Seq(0L, -30000L, 35536L, 40000L, -25536L,
      -70000L, 4294897296L, 3000000000L, -1294967296L))
    assert(dsv2.last.toSeq == Seq(3L, -29997L, 35539L, 40003L, -25533L,
      -70003L, 4294897293L, 3000000003L, -1294967293L))
  }

  test("bad custom fields fail at plan time with the field named") {
    def rejected(fields: String, named: String*): Unit = {
      val e = intercept[IllegalArgumentException] {
        spark.read.format("segy").option("fields", fields).load(customFile)
      }
      named.foreach(n => assert(e.getMessage.contains(n),
        s"'$n' not in: ${e.getMessage}"))
    }
    rejected("amp@1:float32", "amp", "float32")
    rejected("late@239:int32", "late", "240-byte header")
    rejected("early@0:int16", "early", "240-byte header")
    rejected("s16@1:int16,s16@3:uint16", "s16", "more than once")
    rejected("inline,inline", "inline", "more than once")
    Seq("trace_index", "samples", "source_file").foreach(n =>
      rejected(s"$n@1:int32", n, "reserved"))
  }

  test("unknown field name fails with the catalog in the message") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("segy").option("fields", "bogus").load(fmt1File)
        .collect()
    }
    assert(e.getMessage.contains("bogus") && e.getMessage.contains("inline"))
  }
}
