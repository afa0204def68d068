package graft.ingestion

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArrayTransform, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.`export`.{SegyExport, SegyHeaders}
import graft.functions.TraceStatsExpr
import graft.sources.SegyRead
import graft.tools.Cli

/** Plan-shape guard for the per-sample work of a single-file `segy import`
  * and of `validate`, beside [[IngestJobBudgetSpec]]: no plan either verb
  * runs may hold an interpreted higher-order lambda (`transform`,
  * `filter`, `aggregate`) — the sample decode (in the segy scan's reader)
  * and the ingest statistics are one compiled pass per trace. A wall-clock number cannot catch a
  * per-sample lambda creeping back in; the plan can.
  */
class SamplePathPlanSpec extends SparkSpec {
  import spark.implicits._

  private def lambdas(p: LogicalPlan): Seq[String] = {
    val found = Seq.newBuilder[String]
    p.foreach(_.expressions.foreach(_.foreach {
      case e @ (_: ArrayTransform | _: ArrayFilter | _: ArrayAggregate) => found += e.sql
      case _ =>
    }))
    found.result()
  }

  private def has(p: LogicalPlan, f: PartialFunction[Expression, Boolean]): Boolean =
    p.exists(_.expressions.exists(_.exists(e => f.applyOrElse(e, (_: Expression) => false))))

  /** Analyzed plans of every query `body` runs. */
  private def plansOf(body: => Unit): Seq[LogicalPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe.analyzed)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe.analyzed)
    }
    spark.listenerManager.register(l)
    try {
      body
      // listener delivery is asynchronous: wait until the set settles
      var last = -1
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (seen.size != last && System.nanoTime() < deadline) {
        last = seen.size
        Thread.sleep(1000)
      }
    } finally spark.listenerManager.unregister(l)
    seen.toArray(Array.empty[LogicalPlan]).toSeq
  }

  private def writeSurvey(): String = {
    val src = (for (il <- 1 to 4; xl <- 1 to 3) yield
      (il, xl, Array.tabulate(8)(s => (il * 100 + xl * 10 + s).toFloat / 7f)))
      .toDF("il", "xl", "v")
    val records = SegyExport.serializeStandardTraces(
      src.orderBy("il", "xl").withColumn("samples", SegyExport.ibmPayload(col("v"), 8)),
      Seq(SegyRead.StandardFields.Inline -> "il",
        SegyRead.StandardFields.Crossline -> "xl"), "samples")
    val f = Files.createTempDirectory("planguard").toString + "/in.sgy"
    SegyExport.writeSegy(records, f, SegyHeaders.sanitizeTextHeader(Seq("C 1 PLAN GUARD")),
      SegyExport.standardBinaryHeader(nSamples = 8, sampleInterval = 4000, formatCode = 1))
    f
  }

  test("segy import and validate run no per-sample higher-order lambda") {
    val segy = writeSurvey()
    val store = Files.createTempDirectory("planguard").toString + "/s.mdio"
    val imported = plansOf {
      assert(Cli.run(Seq("segy", "import", segy, store,
        "--header-locations", "189,193", "--header-names", "inline,crossline",
        "--chunk-size", "2,2,8"), spark) == 0)
    }
    val validated = plansOf(assert(Cli.run(Seq("validate", store), spark) == 0))

    // the listener saw the plans that matter: the store write reads samples
    // the segy scan already decoded with the whole-trace kernel and records
    // stats with the one-pass kernel, and validate recomputes those stats
    // with the same kernel
    def decodingScan(p: LogicalPlan): Boolean = p.exists {
      case r: DataSourceV2Relation => r.table.name.startsWith("segy ") &&
        r.output.exists(a => a.name == "samples" &&
          a.dataType == ArrayType(FloatType, containsNull = false))
      case _ => false
    }
    assert(imported.exists(p => decodingScan(p) &&
      has(p, { case _: TraceStatsExpr => true })),
      "no import plan scans decoded array<float> samples and holds the stats kernel")
    assert(validated.exists(p => has(p, { case _: TraceStatsExpr => true })),
      "no validate plan holds the stats kernel")

    (imported ++ validated).foreach { p =>
      val l = lambdas(p)
      assert(l.isEmpty, s"per-sample lambda in plan: ${l.mkString("; ")}")
    }
  }

  test("the detector sees the per-sample formulas it guards against") {
    val df = Seq(Seq(1.0f, 0.0f)).toDF("x")
      .select(transform(col("x"), e => e * 2).as("x"))
      .select(aggregate(filter(col("x"), e => e =!= 0.0f), lit(0.0), (a, e) => a + e))
    assert(lambdas(df.queryExecution.analyzed).size == 3)
  }
}
