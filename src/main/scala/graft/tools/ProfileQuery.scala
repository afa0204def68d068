package graft.tools

/** Job-level profiler for any registered query: runs it cold + warm with a
  * listener printing per-job wall times — the tool behind the "where do the
  * seconds go" analysis when tuning multi-job operators (ingest tail, CC
  * rounds, index builds).
  *
  * `runMain graft.tools.ProfileQuery [queryName ...]` (default q_ingest_e2e);
  * SPARK_GRAFT_SF_DIR picks the scale factor. The session is
  * [[graft.core.GraftSession]]'s, so profiles explain bench numbers;
  * `SPARK_GRAFT_CONF` overlays a variant for an in-order A/B of a conf.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val specs = (if (args.isEmpty) Seq("q_ingest_e2e") else args.toSeq)
      .map(graft.SparkEntry.spec)
    val spark = graft.core.GraftSession.build("graft-profile")
    import org.apache.spark.scheduler._
    val jobTimes = scala.collection.mutable.ArrayBuffer[(Int, Long, String)]()
    val starts = scala.collection.mutable.Map[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(si =>
            s"${si.name} (${js.stageInfos.size} stages)"))
          .getOrElse("?")
        starts(js.jobId) = (System.nanoTime(), site)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.get(je.jobId).foreach { case (t0, site) =>
          jobTimes += ((je.jobId, System.nanoTime() - t0, site)) }
    })
    // warm the footer/file caches
    spark.read.parquet(s"$sfDir/lineitem.parquet").foreach(_ => ())
    specs.foreach { q =>
      val name = q.name
      def run(tag: String): Unit = {
        val t0 = System.nanoTime()
        jobTimes.clear()
        // time the SAME action Bench times: the query's own optimized plan
        // to InternalRows — .count() here let Catalyst prune subtrees and
        // measured a different query (see Bench.fullCount scaladoc)
        graft.Bench.fullCount(q.run(spark, sfDir))
        println(f"[$name/$tag] total ${(System.nanoTime() - t0) / 1e9}%.2f s, ${jobTimes.size} jobs")
        jobTimes.foreach { case (id, ns, site) =>
          println(f"  job $id%4d ${ns / 1e9}%6.2f s  $site") }
      }
      run("cold"); run("warm")
    }
    spark.stop()
  }
}
