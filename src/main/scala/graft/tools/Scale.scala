package graft.tools

import java.lang.management.ManagementFactory

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.{JobRecord, JobRecorder}

/** Scaling-measurement main behind SCALING.md: times registered queries
  * cold + warm on SPARK_GRAFT_SF_DIR and records the driver-JVM heap the
  * query leaves retained (used heap after a post-query `System.gc()`). Two
  * runs of this — one per fixture scale — give per-query scaling
  * exponents; a retained driver heap that grows with data size flags a
  * hidden collect.
  *
  * `runMain graft.tools.Scale [query ...]` (default: the SCALING.md set).
  * The session is [[graft.core.GraftSession]]'s (the benchmarked engine);
  * experiment confs ride in through `SPARK_GRAFT_CONF="k1=v1,k2=v2"`.
  * Output: one JSON line per query on stdout, and the full array at
  * SPARK_GRAFT_SCALE_OUT (default scale_out.json). Each line holds the
  * cold and warm seconds, the rows, the retained driver heap, the state
  * peaks, the memory and disk spill of all the query's runs, and
  * `jobs_cold` / `jobs_warm`: every job of the cold run and of the median
  * warm run, in start order, as `{"desc": label or call site, "s": wall
  * seconds}` ([[graft.core.JobRecord]]) — where a query's seconds go.
  * A query that fails reads -1 with empty job lists.
  */
object Scale {
  /** The measured set: the most expensive query per family, biased toward
    * anything whose cost could plausibly hide a super-linear term (pair
    * generation, joins under skew, global sorts, index builds, multi-job
    * ingest chains).
    */
  val DefaultSet: Seq[String] = Seq(
    "q_segy_std_roundtrip", // SEG-Y export+ingest round trip (file I/O)
    "q_segy_file_ingest",   // end-to-end segy_to_mdio composition
    "q_ingest_e2e",         // blocked ingest + stats
    "q_access_fast",        // optimize_access_patterns materialization
    "q_store_compact",      // MDIO store write + compaction
    "q_grid_map",           // dim-join C-order ordinal
    "q_dims_distributed",   // distributed dim numbering
    "q_export_order",       // global multi-key ordered output
    "q_dedup_exact",        // hash dedup
    "q_neardup_lsh",        // MinHash+LSH banded pairs
    "q_jaccard_blocked",    // inverted-index Jaccard pairs
    "q_winnow_pairs",       // winnowing partial overlap
    "q_bm25",               // BM25 scoring (corpus scan + postings)
    "q_gram_lm",            // n-gram LM aggregate
    "q_bpe_train1",         // BPE pair-count round
    "q_vocab",              // vocabulary aggregate
    "q_hll_grouped",        // per-group HLL registers (groups x registers)
    "q_range_join",         // interval join (band predicate)
    "q_salted_join_skew",   // salted join under a 30% hot key
    "q_sessionize",         // per-user session windows
    "q_events_hourly",      // windowed event aggregate
    "q_quantize",           // quantized fast-copy materialization
    // round-12 headliners (measured individually in SCALING.md; kept in
    // the default set so future sweeps track them automatically)
    "q_segy_dir_ingest",    // multi-file survey -> one store
    "q_llm_prep_e2e",       // chained corpus-prep pipeline
    "q_dup_ngram_spans",    // positional gram explode + islands
    "q_stream_neardup",     // LSH bucket state across micro-batches
    "q_moveout_scan",       // candidate explode + stack + argmax
    // round-13: the conditioning kernels at REAL trace length
    "q_trace_agc_long",     // native AGC, 1000 samples x 121 window
    "q_trace_stack_long",   // one StackAgg buffer vs 1000 agg columns
    // round-14: the fused moveout aggregate at full shape (16 candidates
    // x 1000 samples, exact semblance folds)
    "q_moveout_semblance_long",
    // round-15: the bounded-state session replay (state peak must stay at
    // |slice| + |horizon|), the forced-refine exact-quantiles shape, and
    // the velocity-spectrum panel (heaviest per-cell aggregation state)
    "q_stream_sessions_bounded",
    "q_exact_quantiles_refine",
    "q_moveout_panel_long",
  )

  /** Driver heap still in use after a full collection: what the query
    * left reachable (collected results, broadcasts, caches), not the
    * garbage it churned through on the way. */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** One run's jobs as a JSON list; `[]` when the run did not happen. */
  private def jobsList(run: Option[(Double, Long, JobRecord)]): String =
    JsonMethods.compact(JsonMethods.render(JArray(run.toList.flatMap { case (_, _, r) =>
      r.descriptions.zip(r.seconds).map { case (d, sec) =>
        JObject("desc" -> JString(d), "s" -> JDouble(math.round(sec * 1e3) / 1e3))
      }
    })))

  def main(args: Array[String]): Unit = {
    val specs = (if (args.nonEmpty) args.toSeq else DefaultSet).map(graft.SparkEntry.spec)
    val repeats = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPEATS", "1").toInt
    require(repeats >= 1, s"SPARK_GRAFT_SCALE_REPEATS must be >= 1, got $repeats")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.GraftSession.cores
    val spark = graft.core.GraftSession.build("graft-scale")

    graft.core.Tables.warm(spark, sfDir)

    // state-store observability: the limiting metric for stream-forever
    // queries is STATE size, not wall time — capture each run's
    // stateOperators peaks (rows held, memory) alongside the timings
    val stateListener = graft.streaming.StateMetrics.attach(spark)
    val lines = specs.map { q =>
      val name = q.name
      def once(): (Double, Long, JobRecord) = {
        val t0 = System.nanoTime()
        val (n, record) = JobRecorder.record(spark)(graft.Bench.fullCount(q.run(spark, sfDir)))
        ((System.nanoTime() - t0) / 1e9, n, record)
      }
      stateListener.drain()
      // SPARK_GRAFT_SCALE_REPEATS > 1 → warm_s is the MEDIAN of N warm
      // runs and warm_spread_s their min–max width: the ±20% same-day
      // variance shifts one-decade exponents by ±0.2, so decision-grade
      // exponent sweeps need the repeat protocol (cold stays single-run
      // by nature — there is only one first execution)
      val (cold, warms, mb) =
        graft.core.TempDirs.releasingScratch(spark, s"[scale] $name") {
          val cold =
            try Some(once()) catch { case e: Throwable =>
              System.err.println(s"[scale] $name FAILED: ${e.getMessage}")
              None
            }
          val warms = if (cold.nonEmpty) (1 to repeats).map(_ => once()).sortBy(_._1) else Nil
          (cold, warms, retainedHeapMb())
        }
      // the recorder drained the listener bus, streams queue included, so
      // the final state progress has landed
      val (stRows, stMem) = stateListener.drain()
      val warm = if (warms.isEmpty) None else Some(warms(warms.size / 2))
      val spreadJson = if (repeats > 1) {
        val warmSpread = if (warms.size > 1) warms.last._1 - warms.head._1 else 0.0
        f""","warm_spread_s":$warmSpread%.3f,"warm_runs":$repeats"""
      } else ""
      // spill (guide §5): a change that trades shuffle for per-task memory
      // (SHJ preference, one-pass aggregates) must prove it does not start
      // spilling at scale. It covers EVERY run of this query (cold +
      // warms); state and spill fields are written even when zero
      val records = (cold ++ warms).map(_._3)
      val stateJson =
        f""","state_rows_total":$stRows,"state_mem_mb":${stMem / 1e6}%.1f"""
      val spillJson = f""","spill_mem_mb":${records.map(_.memorySpillBytes).sum / 1e6}%.1f""" +
        f""","spill_disk_mb":${records.map(_.diskSpillBytes).sum / 1e6}%.1f"""
      val jobsJson = s""","jobs_cold":${jobsList(cold)},"jobs_warm":${jobsList(warm)}"""
      val line = f"""{"q":"$name","cold_s":${cold.fold(-1.0)(_._1)}%.3f,""" +
        f""""warm_s":${warm.fold(-1.0)(_._1)}%.3f,"rows":${cold.fold(-1L)(_._2)},""" +
        f""""driver_retained_mb":$mb%.0f$spreadJson$stateJson$spillJson$jobsJson}"""
      println(line)
      line
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scale_out.json")
    val json = s"""{"sf":"$sfDir","cpus":$cpus,"queries":[${lines.mkString(",")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
