package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
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
