package graft.core

import org.apache.spark.sql.SparkSession

/** Job labels. Every job an entry point submits carries a description
  * naming its stage (`ingest: store write`, `export: store order: keys`),
  * so a listener, a profile or a test attributes each job without reading
  * its plan.
  */
object JobDesc {

  /** Run `f` with `desc` as the description of every job it submits. The
    * description is a thread-local Spark property, so the try/finally
    * restores the caller's label even inside pool threads.
    */
  def withDesc[T](spark: SparkSession, desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }
}
