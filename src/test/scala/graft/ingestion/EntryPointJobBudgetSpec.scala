package graft.ingestion

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.{JobRecord, JobRecorder}
import graft.`export`.SegyExport
import graft.operators.Selection
import graft.storage.MdioDataset
import graft.tools.Cli

/** Job budgets for the three entry points: `segy import` (the
  * [[IngestPipeline]]), then selection and export on the store it wrote.
  * Job counts do not depend on data size, so a count that grows is a
  * structural regression (a distributed pass per dim, a sequence job the
  * writer never reads, a post-write store scan) that wall-clock noise
  * cannot hide.
  */
class EntryPointJobBudgetSpec extends SparkSpec {

  // ≈4 MB of incompressible samples: the export's sort keeps several
  // partitions after adaptive coalescing, so a sequence pass over them
  // costs a job
  private val (nIl, nXl, nSamples) = (32, 32, 1000)

  private def tmp(): String = Files.createTempDirectory("jobbudget").toString

  /** `segy import` of a standard nIl × nXl IBM32 file, and what it ran. */
  private lazy val (store: String, postStackImport: JobRecord) = {
    val dir = tmp()
    ImportFixtures.writePostStack(spark, s"$dir/in.sgy", nIl, nXl, nSamples)
    val fp = JobRecorder.record(spark) {
      assert(Cli.run(Seq("segy", "import", s"$dir/in.sgy", s"$dir/in.mdio") ++
        ImportFixtures.PostStackArgs, spark) == 0)
    }._2
    (s"$dir/in.mdio", fp)
  }

  /** An import's structure: every job labelled by the pipeline, no plan
    * scanning the store's data (the store does not exist before the write,
    * so such a scan can only come after it), and exactly one shuffle as
    * large as the payload — the store-layout exchange — carrying under
    * 1.5× the decoded payload bytes (the payload crosses it once, not as
    * raw bytes beside the decoded samples). */
  private def assertOneWrite(fp: JobRecord, store: String, payloadBytes: Long): Unit = {
    val unlabelled = fp.descriptions.filterNot(_.startsWith("ingest:"))
    assert(unlabelled.isEmpty, s"${unlabelled.size} of ${fp.jobs} import jobs " +
      s"carry no ingest label: ${fp.descriptions.mkString(" | ")}")
    val storeScans = fp.plans.filter(p => p.contains("Scan parquet") &&
      p.contains(s"$store/data"))
    assert(storeScans.isEmpty, s"${storeScans.size} plans scan $store/data " +
      s"after the write:\n${storeScans.headOption.getOrElse("").take(600)}")
    val payloadShuffles = fp.shuffleWrites.filter(_ > payloadBytes / 2)
    assert(payloadShuffles.size == 1, s"shuffles carrying the payload " +
      s"(bytes > ${payloadBytes / 2}): $payloadShuffles of ${fp.shuffleWrites}")
    assert(payloadShuffles.head < payloadBytes * 3 / 2, s"the payload shuffle " +
      s"wrote ${payloadShuffles.head} bytes for $payloadBytes decoded payload bytes")
  }

  /** The column list of every segy scan in `plan` (its `cols [...]`
    * description). */
  private def segyScanCols(plan: String): Seq[Seq[String]] =
    """segy \S+ traces \[\d+,\d+\) cols \[([^\]]*)\]""".r
      .findAllMatchIn(plan).map(_.group(1).split(",").toSeq.filter(_.nonEmpty)).toSeq

  test("a post-stack segy import runs at most 8 jobs and writes its payload once") {
    val fp = postStackImport
    // the QC and dim tables as extra passes took 12
    assert(fp.jobs <= 8, s"post-stack import submitted ${fp.jobs} jobs (budget 8): " +
      fp.descriptions.mkString(" | "))
    assertOneWrite(fp, store, nIl * nXl * nSamples * 4L)
  }

  test("a Type-B gathers segy import with channel wrap and duplicates runs " +
    "at most 12 jobs and writes its payload once") {
    val dir = tmp()
    val gNSamples = 500
    val n = ImportFixtures.writeGathers(spark, s"$dir/in.sgy", nSamples = gNSamples)
    val path = s"$dir/in.mdio"
    val fp = JobRecorder.record(spark) {
      assert(Cli.run(Seq("segy", "import", s"$dir/in.sgy", path) ++
        ImportFixtures.GathersArgs, spark) == 0)
    }._2
    // detection, QC and dim tables as extra passes took 27
    assert(fp.jobs <= 12, s"gathers import submitted ${fp.jobs} jobs (budget 12): " +
      fp.descriptions.mkString(" | "))
    assertOneWrite(fp, path, n * gNSamples * 4L)
    // the header-only passes (channel-wrap detection, the QC per-cell
    // aggregate) are pruned down to the reader: only the store write's
    // scan reads the samples
    val (writes, others) = fp.plans.partition(_.contains(s"$path/data"))
    assert(writes.nonEmpty, "no plan writes the store")
    val headerScans = others.flatMap(segyScanCols)
    assert(headerScans.size >= 2, s"expected the detection and QC scans of the " +
      s"SEG-Y file, got ${headerScans.size} in ${others.size} other plans")
    headerScans.foreach(cols =>
      assert(!cols.contains("samples"), s"a header-only pass scans samples: $cols"))
  }

  test("a 2-D isel box plus its collect runs one job per dim and one for " +
    "the result, with no shuffle") {
    val handle = graft.Mdio.openMdio(spark, store)
    val (rows, fp) = JobRecorder.record(spark) {
      handle.isel("inline" -> Selection.ISlice(1, 11),
          "crossline" -> Selection.ISlice(2, 12))
        .select("inline", "crossline", "amplitude").collect().length
    }
    assert(rows == 100)
    // the parent's distributed resolution submitted 11 jobs here
    assert(fp.jobs <= 3, s"isel box submitted ${fp.jobs} jobs (budget 3)")
    assert(fp.shuffles == 0, s"isel box ran ${fp.shuffles} shuffle-map stages")
  }

  /** `segy export` of `mdio` to a fresh file: the file, what the export
    * submitted, and its summary line. */
  private def cliExport(mdio: String): (String, JobRecord, String) = {
    val out = Files.createTempDirectory("jobbudget").toString + "/out.sgy"
    val stdout = new java.io.ByteArrayOutputStream()
    val record = JobRecorder.record(spark) {
      Console.withOut(stdout) {
        assert(Cli.run(Seq("segy", "export", mdio, out), spark) == 0)
      }
    }._2
    (out, record, stdout.toString)
  }

  private def bytesOf(f: String): Seq[Byte] = Files.readAllBytes(Paths.get(f)).toSeq

  test("a Cli segy export runs 2 jobs in store order") {
    val (out, record, summary) = cliExport(store)
    assert(Files.size(Paths.get(out)) ==
      3600L + nIl * nXl * SegyExport.standardRecordBytes(nSamples, 1))
    // the sort arm ran 6: a bounding box (2), range sampling, the payload
    // shuffle, a counts job over it and the write
    assert(record.jobs <= 2, s"segy export submitted ${record.jobs} jobs (budget 2): " +
      record.descriptions.mkString(" | "))
    assert(record.shuffles == 0, s"segy export ran ${record.shuffles} shuffle-map stages")
    assert(record.descriptions == Seq("export: store order: keys",
      "export: store order: write"), record.descriptions.mkString(" | "))
    assert(summary.contains("store order"), summary)
  }

  test("store-order export: one scan, one task per part file") {
    val files = new java.io.File(s"$store/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 4, s"the store holds $files part files")
    val (_, record, _) = cliExport(store)
    // a union of per-file scans planned one scan per file, and the test
    // session's 128 KB open cost split each file into mostly empty tasks
    assert(record.scans == Seq(1, 1), s"scan nodes per job: ${record.scans} " +
      s"(${record.descriptions.mkString(" | ")})")
    assert(record.tasks == Seq(files, files), s"tasks per job: ${record.tasks} " +
      s"for $files part files")
  }

  test("a store whose part files interleave keys exports through the sort arm") {
    // the imported rows again, as two appends of interleaved inlines
    val handle = graft.Mdio.openMdio(spark, store)
    val appended = Files.createTempDirectory("jobbudget").toString + "/appended.mdio"
    MdioDataset.write(handle.df.where(col("inline") % 2 === 0), appended,
      handle.schema, sortDims = Seq("inline", "crossline"))
    MdioDataset.write(handle.df.where(col("inline") % 2 =!= 0), appended,
      handle.schema, MdioDataset.WriteMode.A)
    val (out, record, summary) = cliExport(appended)
    val unlabelled = record.descriptions.filterNot(_.startsWith("export: "))
    assert(unlabelled.isEmpty, record.descriptions.mkString(" | "))
    assert(record.descriptions.contains("export: sort: part files out of key order"),
      record.descriptions.mkString(" | "))
    assert(summary.contains("sort: part files out of key order"), summary)
    assert(bytesOf(out) == bytesOf(cliExport(store)._1))
  }
}
