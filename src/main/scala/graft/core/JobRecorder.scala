package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.StorageLevel

/** What a block of code submitted to the session, per job in start order:
  * its description (the [[JobDesc]] label, or the call site of its final
  * stage when it has none), its task count (summed over the job's
  * stages), its number of file-scan RDDs (one per scan node of the plans
  * it runs) and its wall seconds from start to end event. Beside those:
  * the shuffle-write bytes of every shuffle-map stage that ran tasks, the
  * physical plan of every SQL execution, the names of the persisted RDDs
  * its jobs' stages held, and the memory and disk bytes its tasks
  * spilled. */
final case class JobRecord(descriptions: Seq[String], tasks: Seq[Int], scans: Seq[Int],
                           seconds: Seq[Double], shuffleWrites: Seq[Long],
                           plans: Seq[String], cached: Seq[String],
                           memorySpillBytes: Long, diskSpillBytes: Long) {
  def jobs: Int = descriptions.size
  def shuffles: Int = shuffleWrites.size
}

/** The engine's one job accounting: the specs' job budgets and the scale
  * sweep read the same [[JobRecord]]. */
object JobRecorder {

  /** `f`'s result and the [[JobRecord]] of what it submitted. Listener
    * events arrive asynchronously; the record is read after the listener
    * bus has delivered every event posted before `f` returned. A job
    * still running then counts its seconds up to that instant. */
  def record[T](spark: SparkSession)(f: => T): (T, JobRecord) = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[(Int, String, Int, Int, Long)]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val shuffleStages = ConcurrentHashMap.newKeySet[Int]()
    val stageWrites = new ConcurrentHashMap[Int, Long]()
    val plans = new ConcurrentLinkedQueue[String]()
    val cached = new ConcurrentLinkedQueue[String]()
    val spillMem = new AtomicLong
    val spillDisk = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val rdds = js.stageInfos.flatMap(_.rddInfos).distinctBy(_.id)
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("")
        starts.add((js.jobId, desc, js.stageInfos.map(_.numTasks).sum,
          rdds.count(r => r.name == "FileScanRDD" || r.name == "DataSourceRDD"), js.time))
        rdds.filter(_.storageLevel != StorageLevel.NONE).foreach(r => cached.add(r.name))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ends.put(je.jobId, je.time): Unit
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        if (te.taskType == "ShuffleMapTask") shuffleStages.add(te.stageId)
        Option(te.taskMetrics).foreach { m =>
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageWrites.put(sc.stageInfo.stageId,
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.graft.ListenerBusBridge.drain(sc)
      val now = System.currentTimeMillis()
      val js = starts.asScala.toSeq
      (r, JobRecord(js.map(_._2), js.map(_._3), js.map(_._4),
        js.map(j => (ends.getOrDefault(j._1, now) - j._5) / 1e3),
        shuffleStages.asScala.toSeq.sorted.map(id => stageWrites.getOrDefault(id, 0L)),
        plans.asScala.toSeq, cached.asScala.toSeq, spillMem.get, spillDisk.get))
    } finally sc.removeSparkListener(listener)
  }
}
