package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.QuerySpec

/** Physical-plan-invariance audit: every registered query, executed twice —
  * once under the runner's default physical config and once under an
  * adversarial one (prime shuffle width, KB-scale file splits) — must
  * produce the SAME multiset of rows, bit-exact.
  *
  * Why this is a 100-TB gate and not a formality: the oracle compare runs
  * at ONE physical config (local[N], shuffle.partitions=N). On a
  * 1000-executor cluster nothing about the partitioning matches that —
  * split counts, shuffle widths, and reduce-side arrival order all change.
  * Any query whose result depends on those (a float sum whose value shifts
  * with aggregation order, a window rank whose ties break by partition
  * layout, a `first()` over an unordered group) is a bug that the fixed
  * config can never expose and the cluster always will. This audit is the
  * cheap local proxy: vary exactly the physical knobs a cluster varies,
  * hold the logical query constant, demand identity.
  *
  * Fingerprint: per-row `xxhash64(to_json(struct(columns sorted by name)))`,
  * combined with an order-independent pair (decimal sum — no long overflow
  * under ANSI — and row count). Row order, file layout, and task order all
  * cancel; any value difference (including a single float ULP) shows.
  *
  * Usage: `runMain graft.tools.DeterminismAudit <sfDir> <outJson> [names…]`
  * Exit 1 on any mismatch. Streaming queries run with fresh scratch
  * checkpoints per invocation, so they participate like batch queries.
  */
object DeterminismAudit {

  /** (decimal-sum of row hashes as string, row count). */
  private def fingerprint(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted.map(col)
    val row = df
      .select(xxhash64(to_json(struct(cols: _*))).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
      .head()
    (if (row.isNullAt(0)) "0" else row.getDecimal(0).toBigInteger.toString,
      row.getLong(1))
  }

  /** The knobs a real cluster varies and local[N] pins. Values are chosen
    * to maximally perturb physical planning over MB-scale fixtures: a
    * prime shuffle width that never equals the core count, and file
    * splits small enough that every fixture table plans many input tasks.
    */
  private val adversarial = Map(
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.files.maxPartitionBytes" -> (1L << 20).toString,
    "spark.sql.files.openCostInBytes" -> "0")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: DeterminismAudit <sfDir> <outJson> [queryName…]")
    val (sfDir, outJson) = (args(0), args(1))
    val specs =
      if (args.length > 2) args.drop(2).toSeq.distinct.map(graft.SparkEntry.spec)
      else graft.SparkEntry.all
    val spark = graft.core.GraftSession.build("graft-determinism")
    val defaults = adversarial.keys.map(k => k -> spark.conf.get(k)).toMap

    def withConf[T](conf: Map[String, String])(body: => T): T = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally defaults.foreach { case (k, v) => spark.conf.set(k, v) }
    }

    val results = specs.sortBy(_.name)
      .map { case QuerySpec(name, fn, _) =>
        val a =
          try Right(fingerprint(fn(spark, sfDir)))
          catch { case e: Throwable => Left(s"default: ${e.getMessage}") }
        val b =
          try Right(withConf(adversarial)(fingerprint(fn(spark, sfDir))))
          catch { case e: Throwable => Left(s"adversarial: ${e.getMessage}") }
        val verdict = (a, b) match {
          case (Right(x), Right(y)) if x == y => "ok"
          case (Right(_), Right(_))           => "MISMATCH"
          case _                              => "ERROR"
        }
        println(s"[determinism] $name $verdict" + ((a, b) match {
          case (Right((sa, na)), Right((sb, nb))) if verdict != "ok" =>
            s" a=($sa,$na) b=($sb,$nb)"
          case (Left(e), _) => s" $e"
          case (_, Left(e)) => s" $e"
          case _            => ""
        }))
        (name, a, b, verdict)
      }

    def jq(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def side(r: Either[String, (String, Long)]) = r match {
      case Right((s, n)) => s"""{"sum": $s, "rows": $n}"""
      case Left(e)       => s"""{"error": ${jq(e.take(300))}}"""
    }
    val bad = results.count(_._4 != "ok")
    val json = results.map { case (name, a, b, verdict) =>
      s"${jq(name)}: {\"verdict\": ${jq(verdict)}, \"default\": ${side(a)}, \"adversarial\": ${side(b)}}"
    }.mkString(
      s"""{"n": ${results.size}, "n_bad": $bad, "adversarial_conf": {""" +
        adversarial.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString(", ") +
        "}, \"queries\": {", ", ", "}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(s"[determinism] ${results.size} queries, $bad not ok -> $outJson")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
