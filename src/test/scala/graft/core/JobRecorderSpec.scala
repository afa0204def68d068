package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one job recorder: each job's label (or call site) and wall
  * seconds, the bytes its tasks spilled, and no other listener in the
  * sources. */
class JobRecorderSpec extends SparkSpec {

  test("each job carries its label, or else its call site, and its wall seconds") {
    val (n, record) = JobRecorder.record(spark) {
      JobDesc.withDesc(spark, "spec: labelled")(spark.range(10).count())
      spark.range(5).collect().length
    }
    assert(n == 5)
    val (labelled, sites) = record.descriptions.partition(_ == "spec: labelled")
    assert(labelled.nonEmpty && sites.nonEmpty, record.descriptions)
    assert(sites.forall(_.contains("JobRecorderSpec.scala")), sites)
    assert(record.seconds.size == record.jobs && record.seconds.forall(_ >= 0),
      record.seconds)
  }

  test("the record sums the memory and disk bytes its tasks spilled") {
    // a window buffer that spills every 250 rows: 4 spill files per group
    val confs = Seq("spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
      "spark.sql.windowExec.buffer.spill.threshold" -> "250")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val record =
      try JobRecorder.record(spark) {
        spark.range(0, 2000, 1, 2)
          .select(sum("id").over(Window.partitionBy(col("id") % 2)).as("s"))
          .agg(max("s")).collect()
      }._2
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    assert(record.memorySpillBytes > 0 && record.diskSpillBytes > 0,
      s"spilled ${record.memorySpillBytes} B memory, ${record.diskSpillBytes} B disk")
    val (_, quiet) = JobRecorder.record(spark)(spark.range(10).count())
    assert(quiet.memorySpillBytes == 0 && quiet.diskSpillBytes == 0)
  }

  test("JobRecorder.scala is the only source that creates a SparkListener") {
    val creates =
      "(new|extends)\\s+(org\\.apache\\.spark\\.scheduler\\.)?(SparkListener|SparkFirehoseListener)\\b".r
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val found = roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => creates.findFirstIn(Files.readString(p)).nonEmpty)
        .map(_.getFileName.toString).toList
      finally walk.close()
    }
    assert(found == List("JobRecorder.scala"), found)
  }
}
