package graft.ingestion

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.`export`.{SegyExport, SegyHeaders}
import graft.operators.Selection
import graft.sources.SegyRead
import graft.tools.Cli

/** Job budgets for the selection and export entry points on a store
  * written by `segy import` (the [[IngestPipeline]]). Job counts do not
  * depend on data size, so a count that grows is a structural regression
  * (a distributed pass per dim, a sequence job the writer never reads)
  * that wall-clock noise cannot hide.
  */
class EntryPointJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  // ≈4 MB of incompressible samples: the export's sort keeps several
  // partitions after adaptive coalescing, so a sequence pass over them
  // costs a job
  private val (nIl, nXl, nSamples) = (32, 32, 1000)

  /** `segy import` of a standard nIl × nXl IBM32 file. */
  private lazy val store: String = {
    val rows = for (il <- 1 to nIl; xl <- 1 to nXl)
      yield {
        val rnd = new scala.util.Random(il * 1000L + xl)
        (il, 100 + xl, Array.fill(nSamples)(rnd.nextFloat()))
      }
    val records = SegyExport.serializeStandardTraces(
      rows.toDF("il", "xl", "v").orderBy("il", "xl")
        .withColumn("samples", SegyExport.ibmPayload(col("v"), nSamples)),
      Seq(SegyRead.StandardFields.Inline -> "il",
        SegyRead.StandardFields.Crossline -> "xl"), "samples")
    val dir = Files.createTempDirectory("jobbudget").toString
    SegyExport.writeSegy(records, s"$dir/in.sgy",
      SegyHeaders.sanitizeTextHeader(Seq("C 1 JOB BUDGET")),
      SegyExport.standardBinaryHeader(nSamples, 2000, formatCode = 1))
    val path = s"$dir/in.mdio"
    assert(Cli.run(Seq("segy", "import", s"$dir/in.sgy", path,
      "--header-locations", "189,193",
      "--header-names", "inline,crossline"), spark) == 0)
    path
  }

  /** (jobs, shuffle-map stages) that `f` submits. */
  private def budget(f: => Unit): (Int, Int) = {
    val (started, ended) = (new AtomicInteger, new AtomicInteger)
    val shuffleStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        started.incrementAndGet()
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        ended.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskType == "ShuffleMapTask") shuffleStages.add(te.stageId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      // listener events are delivered asynchronously: wait until every
      // started job's end has arrived, then a short drain for stragglers
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (ended.get() < started.get() && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(300)
      (started.get(), shuffleStages.size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a 2-D isel box plus its collect runs one job per dim and one for " +
    "the result, with no shuffle") {
    val handle = graft.Mdio.openMdio(spark, store)
    var rows = 0
    val (jobs, shuffles) = budget {
      rows = handle.isel("inline" -> Selection.ISlice(1, 11),
          "crossline" -> Selection.ISlice(2, 12))
        .select("inline", "crossline", "amplitude").collect().length
    }
    assert(rows == 100)
    // the parent's distributed resolution submitted 11 jobs here
    assert(jobs <= 3, s"isel box submitted $jobs jobs (budget 3)")
    assert(shuffles == 0, s"isel box ran $shuffles shuffle-map stages")
  }

  test("a Cli segy export runs at most 6 jobs") {
    val (in, out) =
      (store, Files.createTempDirectory("jobbudget").toString + "/out.sgy")
    val (jobs, _) = budget {
      assert(Cli.run(Seq("segy", "export", in, out), spark) == 0)
    }
    assert(Files.size(java.nio.file.Paths.get(out)) ==
      3600L + nIl * nXl * SegyExport.standardRecordBytes(nSamples, 1))
    // the parent's export paid a sequence pass it never read: 7 jobs
    assert(jobs <= 6, s"segy export submitted $jobs jobs (budget 6)")
  }
}
