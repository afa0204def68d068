package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session-extension entry point for the graft SQL functions
  * (`ibm_float32` plus [[SqlFunctions.all]]):
  * `spark.sql.extensions=graft.functions.GraftSparkExtensions`.
  */
final class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSparkExtensions.functions.foreach(ext.injectFunction)
}

object GraftSparkExtensions {
  private def functions: Seq[SqlFunctions.Registration] =
    IbmFloatDecode.functionDescription +: SqlFunctions.all

  /** Install the same functions on an already-created session (extensions
    * can only be declared at session construction). */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      org.apache.spark.sql.graft.FunctionInstaller.register(spark, id, info, builder)
    }
}
