package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt): the
  * engine's own [[graft.core.GraftSession]] confs under a small-partition
  * overlay. The overlay pins a 4-core local master and 4 shuffle
  * partitions whatever the host, so plan, job and partition assertions do
  * not depend on the machine, and keeps the suite's warehouse and Derby
  * metastore under /tmp. [[graft.core.GraftSessionSpec]] asserts that no
  * other key differs from the engine's set.
  */
object TestSpark {
  val Overlay: Seq[(String, String)] = Seq(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse")

  lazy val spark: SparkSession = {
    // Derby reads its home from a JVM property, not a Spark conf
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    graft.core.GraftSession.build("graft-test", Overlay)
  }
}

/** What a block of code submitted to the session: every job's
  * description, task count (summed over the job's stages) and number of
  * file-scan RDDs (one per scan node of the plans it runs), the
  * shuffle-write bytes of every shuffle-map stage that ran tasks, the
  * physical plan of every SQL execution, and the names of the persisted
  * RDDs its jobs' stages held. */
final case class JobRecord(descriptions: Seq[String], tasks: Seq[Int], scans: Seq[Int],
                           shuffleWrites: Seq[Long], plans: Seq[String],
                           cached: Seq[String]) {
  def jobs: Int = descriptions.size
  def shuffles: Int = shuffleWrites.size
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** `f`'s result and the [[JobRecord]] of what it submitted. Listener
    * events arrive asynchronously; the record is read after the listener
    * bus has delivered every event posted before `f` returned. */
  def recordJobs[T](f: => T): (T, JobRecord) = {
    val jobs = new ConcurrentLinkedQueue[(String, Int, Int)]()
    val shuffleStages = ConcurrentHashMap.newKeySet[Int]()
    val stageWrites = new ConcurrentHashMap[Int, Long]()
    val plans = new ConcurrentLinkedQueue[String]()
    val cached = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val rdds = js.stageInfos.flatMap(_.rddInfos).distinctBy(_.id)
        jobs.add((Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
          js.stageInfos.map(_.numTasks).sum,
          rdds.count(r => r.name == "FileScanRDD" || r.name == "DataSourceRDD")))
        rdds.filter(_.storageLevel != StorageLevel.NONE).foreach(r => cached.add(r.name))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskType == "ShuffleMapTask") shuffleStages.add(te.stageId)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageWrites.put(sc.stageInfo.stageId,
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
      val js = jobs.asScala.toSeq
      (r, JobRecord(js.map(_._1), js.map(_._2), js.map(_._3),
        shuffleStages.asScala.toSeq.sorted.map(id => stageWrites.getOrDefault(id, 0L)),
        plans.asScala.toSeq, cached.asScala.toSeq))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Assert the code under test left no cached blocks behind. The session
    * is shared across concurrently-running suites, and some operators hold
    * a TRANSIENT persist for the duration of one call (index-build
    * barriers) — a point-in-time
    * `getPersistentRDDs.isEmpty` can observe a neighbor suite mid-call.
    * Retrying briefly pins the assertion to LINGERING caches (a real leak
    * never clears, so the timeout still fails it).
    */
  def assertNoLingeringCache(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var left = spark.sparkContext.getPersistentRDDs
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(200)
      left = spark.sparkContext.getPersistentRDDs
    }
    assert(left.isEmpty, s"cached blocks remain after 30 s: ${left.keys}")
  }
}
