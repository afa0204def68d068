package graft

import org.apache.spark.sql.SparkSession
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

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

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
