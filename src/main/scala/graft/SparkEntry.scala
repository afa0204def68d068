package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.queries._

/** The query surface (SURVEY.md §7): the flagship `entry`, every registered
  * query as a named plan (`queries`), and the DuckDB-equivalent SQL the
  * correctness gate hash-compares each one against (`oracleSql`).
  *
  * Both maps are views of [[all]]: one [[QuerySpec]] (plan + oracle SQL)
  * per query, kept in one module per family under `graft.queries`. Column
  * names AND types are aligned between both sides (counts → BIGINT, ranks
  * → BIGINT, money sums accumulate in DECIMAL and surface as DOUBLE —
  * exact and order-independent, so parallel Spark and serial DuckDB agree
  * bitwise). The sketch/ANN queries hash with md5-60
  * ([[graft.functions.CrossHash]]), which DuckDB replicates bit-for-bit —
  * their SQL is generated by [[OracleSqlGen]] from the same constants the
  * Spark expressions use.
  */
object SparkEntry {

  /** A name no registered query carries. */
  final class UnknownQueryError(val name: String)
      extends NoSuchElementException(s"unknown query $name")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A representative slice of the engine: mask filter → broadcast-joined
    * enrich → grouped exact-decimal aggregation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val os = Tables.orders(spark, d)
    li.join(os, li("l_orderkey") === os("o_orderkey"))
      .groupBy(col("l_returnflag"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
      )
      .orderBy(col("l_returnflag"), col("o_orderstatus"))
  }

  /** Every registered query, family by family. */
  lazy val all: Seq[QuerySpec] = Seq(
    SeismicCoreQueries.all,
    TraceKernelQueries.all,
    SegyIoQueries.all,
    StoreQueries.all,
    EventJoinQueries.all,
    StreamingQueries.all,
    SketchQueries.all,
    LlmCorpusQueries.all,
    AnnQueries.all,
  ).flatten

  private lazy val byName: Map[String, QuerySpec] = QuerySpec.index(all)

  /** The one name lookup every tool uses; an unknown name fails loudly. */
  def spec(name: String): QuerySpec =
    byName.getOrElse(name, throw new UnknownQueryError(name))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.view.mapValues(_.run).toMap

  def oracleSql: Map[String, String] =
    byName.view.mapValues(_.oracleSql).toMap
}
