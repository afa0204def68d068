package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, TestSpark}

/** One engine configuration: the test session runs GraftSession's confs
  * (apart from TestSpark's documented overlay), the conf overlay refuses
  * malformed entries by name, and no main source builds a session of its
  * own.
  */
class GraftSessionSpec extends SparkSpec {

  test("the test session runs GraftSession's engine confs apart from the " +
       "documented small-partition overlay") {
    val overlay = (TestSpark.Overlay ++ GraftSession.envOverlay).toMap
    val engine = GraftSession.engineConfs(GraftSession.cores)
    // every engine key is set; only the overlay's keys may differ from it
    engine.foreach { case (k, v) =>
      assert(spark.conf.get(k) == overlay.getOrElse(k, v), k)
    }
    // Spark qualifies the warehouse path with its scheme
    overlay.foreach { case (k, v) =>
      assert(spark.conf.get(k).stripPrefix("file:") == v, k) }
    assert(spark.sparkContext.master == overlay("spark.master"))
    // the overlay is the small-partition one, plus the warehouse path
    assert(TestSpark.Overlay.map(_._1).toSet == Set("spark.master",
      "spark.sql.shuffle.partitions", "spark.sql.warehouse.dir"))
  }

  test("SPARK_GRAFT_CONF parsing keeps well-formed entries in order and " +
       "refuses a malformed one by name") {
    assert(GraftSession.parseOverlay("") == Nil)
    assert(GraftSession.parseOverlay(
      " spark.sql.join.preferSortMergeJoin=true , ,graft.rebalance.minRows=0,k=a=b") ==
      Seq("spark.sql.join.preferSortMergeJoin" -> "true",
        "graft.rebalance.minRows" -> "0", "k" -> "a=b"))
    val noEquals = intercept[GraftSession.MalformedConfError](
      GraftSession.parseOverlay("spark.sql.shuffle.partitions=8,graft.bogus"))
    assert(noEquals.getMessage.contains("'graft.bogus'"), noEquals.getMessage)
    intercept[GraftSession.MalformedConfError](GraftSession.parseOverlay("=1"))
  }

  test("GraftSession.scala is the only main source that builds a session") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map((p: Path) => p.getFileName.toString).toList
      finally walk.close()
    assert(builders == List("GraftSession.scala"), builders)
  }
}
