package graft.tools

/** Plan printer: `runMain graft.tools.Explain [query ...]` prints each
  * registered query's formatted physical plan (default: all of them) on
  * SPARK_GRAFT_SF_DIR (default sf0.01). The session is
  * [[graft.core.GraftSession]]'s, so the plans are the ones the bench
  * times; `SPARK_GRAFT_CONF` overlays a variant — e.g.
  * `spark.sql.join.preferSortMergeJoin=true` captures the BEFORE plan of
  * an A/B'd session conf.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val specs =
      if (args.nonEmpty) args.toSeq.map(graft.SparkEntry.spec)
      else graft.SparkEntry.all.sortBy(_.name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.build("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    specs.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      try q.run(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
