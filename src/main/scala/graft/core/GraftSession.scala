package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one session configuration. Bench, Verify, the CLI, the
  * measurement tools and the test base all build their session here, so
  * the oracle gate, the bench, the tests and the shipped CLI run the same
  * engine confs.
  *
  * Two kinds of setting meet here:
  *  - **Engine confs** ([[engineConfs]]): measured once, fixed here, each
  *    with its rationale below.
  *  - **Deployment settings**: the master (`SPARK_GRAFT_MASTER`, default
  *    `local[$cores]`) and the core count (`SPARK_GRAFT_CPUS`, default the
  *    JVM's available processors). They vary by machine, not by query.
  *
  * On top of both, `SPARK_GRAFT_CONF="k1=v1,k2=v2"` overlays any conf
  * (Spark or `graft.*`) for one run — the way an A/B over configuration
  * variants is taken without a second tuning site. A malformed entry fails
  * with [[MalformedConfError]] instead of being dropped.
  */
object GraftSession {

  /** A `SPARK_GRAFT_CONF` entry that is not `key=value`. */
  final class MalformedConfError(msg: String) extends IllegalArgumentException(msg)

  /** Cores the session schedules on: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `SPARK_GRAFT_MASTER`, else `local[cores]`. */
  private def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")

  /** The measured engine confs for a session on `cores` cores. */
  def engineConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    // split small files down to ~128 KB so narrow compute-heavy chains
    // parallelize even over MB-scale fixtures: the default 4 MB open-cost
    // makes an 11 MB table ~3 splits, serializing per-row kernels on 2% of
    // the machine (at real scale the files split naturally; this knob only
    // matters for small inputs)
    "spark.sql.files.openCostInBytes" -> "131072",
    // ObjectHashAggregate falls back to SORT-based aggregation after 128
    // distinct keys per task — for the trace aggregates that means sorting
    // the 8 KB sample rows themselves (q_trace_stack_long: 1000 cells,
    // ~5 GB sorted+spilled per pass; measured 4–57 s run swings from this
    // alone). The buffers are ~8–24 KB per group, so 4096 in-flight groups
    // is ≤ ~100 MB per task — raise the threshold so the hash path holds
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096",
    // The query sweep compiles thousands of DISTINCT whole-stage codegen
    // units; the default 100-entry generated-class cache thrashes, so
    // late-sweep queries re-Janino-compile every stage on every run —
    // focused repeats=3 A/B: q_bin_header 4.1→2.5 s, q_store_compact
    // 3.4→2.9 s, q_segy_fmt28_roundtrip 4.7→4.3 s (OPTIMIZATION_r19.md,
    // Finding 1). 10k entries holds the whole suite (generated classes
    // are KB-scale; a long-lived production driver serving many query
    // shapes wants the same).
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // allow shuffled-hash join where the per-partition build side fits
    // instead of always sort-merging — A/B over the join-heavy queries
    // (repeats=5, same box, same session): q_llm_prep_e2e 5.79→3.84,
    // q_dedup_components_best 2.37→1.93, q_jaccard_blocked 2.11→1.87, none
    // slower. Results are plan-invariant (DeterminismAudit pins that), so
    // the oracle compare is unaffected. The skipped sort is pure win while
    // a partition's build side fits in task memory; partitions are
    // AQE-sized, and the salted/capped operators bound the hot keys.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet carries TIMESTAMP(NANOS); Tables.events converts the
    // raw epoch-nanos with integer division
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Parse a `SPARK_GRAFT_CONF` value: comma-separated `key=value`
    * entries; blank entries are skipped, anything else without `=` or
    * with an empty key is refused by name. */
  def parseOverlay(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new MalformedConfError(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }

  /** The run's `SPARK_GRAFT_CONF` overlay (empty when unset). */
  def envOverlay: Seq[(String, String)] =
    parseOverlay(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))

  /** Build (or get) the session: engine confs, then the deployment master,
    * then the caller's `overlay`, then `SPARK_GRAFT_CONF` — later entries
    * win. */
  def build(appName: String, overlay: Seq[(String, String)] = Nil): SparkSession = {
    val confs = engineConfs(cores) ++ Seq("spark.master" -> master) ++
      overlay ++ envOverlay
    val b = SparkSession.builder().appName(appName)
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
