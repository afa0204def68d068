package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans recorded around calls into the engine, plus a listener that sums
  * Spark task metrics per span.
  *
  * A job belongs to the span whose time window holds its submission time.
  * Job groups and descriptions cannot be used: the ingest pipeline
  * overwrites descriptions, and its tail writes submit jobs from
  * `ExecutionContext.global` threads that inherit no local properties.
  * Spans therefore never overlap; every engine call the benchmark makes
  * while tracing runs inside one, and a job outside all of them is
  * reported as unattributed.
  */
final class Spans extends SparkListener {

  final case class Span(name: String, startMs: Long, endMs: Long)

  /** Task-metric sums of one span name. */
  final class Totals {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var inputBytes = 0L; var recordsRead = 0L; var outputBytes = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  // listener-bus thread writes these; readers synchronise on `this`
  private val jobTime = mutable.LinkedHashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, Totals]
  private var jobsEnded = 0

  /** Run `f` inside a span named `name`. */
  def span[T](name: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally {
      val s = Span(name, t0, System.currentTimeMillis())
      synchronized { spans += s }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTime(e.jobId) = e.time
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = stageTasks.getOrElseUpdate(e.stageId, new Totals)
    t.tasks += 1
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.recordsRead += m.inputMetrics.recordsRead
      t.outputBytes += m.outputMetrics.bytesWritten
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
    }
  }

  /** Wait until every started job has reported its end (the listener bus
    * is asynchronous), at most `timeoutMs`. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobsEnded < jobTime.size) && System.currentTimeMillis() < until)
      Thread.sleep(20)
    Thread.sleep(100) // task ends posted after the last job end
  }

  private def spanOf(timeMs: Long): Option[String] =
    spans.find(s => timeMs >= s.startMs && timeMs <= s.endMs).map(_.name)

  /** Per span name: job count and task-metric sums. */
  def totals(): Map[String, Totals] = synchronized {
    val out = mutable.HashMap.empty[String, Totals]
    val jobSpan = jobTime.map { case (j, t) => j -> spanOf(t) }
    jobSpan.values.flatten.foreach(n => out.getOrElseUpdate(n, new Totals).jobs += 1)
    stageTasks.foreach { case (stage, st) =>
      stageJob.get(stage).flatMap(jobSpan.get).flatten.foreach { n =>
        val t = out.getOrElseUpdate(n, new Totals)
        t.tasks += st.tasks; t.cpuNs += st.cpuNs; t.gcMs += st.gcMs
        t.inputBytes += st.inputBytes; t.recordsRead += st.recordsRead
        t.outputBytes += st.outputBytes
        t.shuffleWriteBytes += st.shuffleWriteBytes; t.spillBytes += st.spillBytes
      }
    }
    out.toMap
  }

  def unattributedJobs(): Int = synchronized(jobTime.values.count(t => spanOf(t).isEmpty))

  /** All spans with their jobs, one JSON object per line. */
  def dump(path: String): Unit = {
    val lines = synchronized {
      val jobsBySpan = jobTime.toSeq.groupBy { case (_, t) =>
        spans.indexWhere(s => t >= s.startMs && t <= s.endMs) }
      spans.zipWithIndex.map { case (s, i) =>
        val jobs = jobsBySpan.getOrElse(i, Nil).map(_._1).sorted.mkString(",")
        s"""{"span":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},"jobs":[$jobs]}"""
      } ++ jobsBySpan.getOrElse(-1, Nil).map { case (j, t) =>
        s"""{"span":null,"job":$j,"submitted_ms":$t}""" }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
