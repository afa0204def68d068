package graft.tools

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Scaling-measurement main behind SCALING.md: times registered queries
  * cold + warm on SPARK_GRAFT_SF_DIR and records the driver-JVM heap
  * high-water per query (peak-usage across heap pools, reset before each
  * run). Two runs of this — one per fixture scale — give per-query scaling
  * exponents; a driver heap that grows with data size flags a hidden
  * collect.
  *
  * `runMain graft.tools.Scale [query ...]` (default: the SCALING.md set).
  * The session is [[graft.core.GraftSession]]'s (the benchmarked engine);
  * experiment confs ride in through `SPARK_GRAFT_CONF="k1=v1,k2=v2"`.
  * Output: one JSON line per query on stdout, and the full array at
  * SPARK_GRAFT_SCALE_OUT (default scale_out.json).
  */
object Scale {
  /** The measured set: the most expensive query per family, biased toward
    * anything whose cost could plausibly hide a super-linear term (pair
    * generation, global sorts, index builds, multi-job ingest chains).
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
    "q_semantic_dedup",     // IVF-cell blocked SemDeDup
    "q_bm25",               // BM25 scoring (corpus scan + postings)
    "q_gram_lm",            // n-gram LM aggregate
    "q_bpe_train1",         // BPE pair-count round
    "q_vocab",              // vocabulary aggregate
    "q_ann_ivf",            // IVF ANN (build + probe)
    "q_ann_recall",         // five-arm recall QC
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

  private def peakHeapMb(): Double = {
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
  }
  private def resetPeaks(): Unit = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  def main(args: Array[String]): Unit = {
    val specs = (if (args.nonEmpty) args.toSeq else DefaultSet).map(graft.SparkEntry.spec)
    val repeats = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPEATS", "1").toInt
    require(repeats >= 1, s"SPARK_GRAFT_SCALE_REPEATS must be >= 1, got $repeats")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.GraftSession.cores
    val spark = graft.core.GraftSession.build("graft-scale")

    graft.core.Tables.all.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").foreach(_ => ())
      catch { case _: Throwable => () }
    }

    // state-store observability: the limiting metric for stream-forever
    // queries is STATE size, not wall time — capture each run's
    // stateOperators peaks (rows held, memory) alongside the timings
    val stateListener = graft.streaming.StateMetrics.attach(spark)
    // spill observability (guide §5): a change that trades shuffle for
    // per-task memory (SHJ preference, one-pass aggregates) must prove it
    // does not start spilling at scale — accumulate task-level
    // memory/disk spill bytes, drained per query
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled): Unit
          spillDisk.addAndGet(m.diskBytesSpilled): Unit
        }
      }
    })
    val lines = specs.map { q =>
      val name = q.name
      val (spillMem0, spillDisk0) = (spillMem.get(), spillDisk.get())
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = graft.Bench.fullCount(q.run(spark, sfDir))
        ((System.nanoTime() - t0) / 1e9, n)
      }
      resetPeaks()
      stateListener.drain()
      // SPARK_GRAFT_SCALE_REPEATS > 1 → warm_s is the MEDIAN of N warm
      // runs and warm_spread_s their min–max width: the ±20% same-day
      // variance shifts one-decade exponents by ±0.2, so decision-grade
      // exponent sweeps need the repeat protocol (cold stays single-run
      // by nature — there is only one first execution)
      val (cold, rows, warm, warmSpread, mb) =
        graft.core.TempDirs.releasingScratch(spark, s"[scale] $name") {
          val (cold, rows) =
            try once() catch { case e: Throwable =>
              System.err.println(s"[scale] $name FAILED: ${e.getMessage}")
              (-1.0, -1L)
            }
          val warms = if (cold >= 0) (1 to repeats).map(_ => once()._1) else Seq(-1.0)
          val warm = warms.sorted.apply(warms.size / 2)
          val warmSpread = if (warms.size > 1) warms.max - warms.min else 0.0
          (cold, rows, warm, warmSpread, peakHeapMb())
        }
      // listener events are async; let the final progress land before
      // draining
      Thread.sleep(200)
      val (stRows, stMem) = stateListener.drain()
      val spreadJson =
        if (repeats > 1) f""","warm_spread_s":$warmSpread%.3f,"warm_runs":$repeats""" else ""
      // spill deltas cover EVERY run of this query (cold + warms); state
      // and spill fields are written even when zero
      val (spMem, spDisk) =
        (spillMem.get() - spillMem0, spillDisk.get() - spillDisk0)
      val stateJson =
        f""","state_rows_total":$stRows,"state_mem_mb":${stMem / 1e6}%.1f"""
      val spillJson =
        f""","spill_mem_mb":${spMem / 1e6}%.1f,"spill_disk_mb":${spDisk / 1e6}%.1f"""
      val line = f"""{"q":"$name","cold_s":$cold%.3f,"warm_s":$warm%.3f,"rows":$rows,"driver_peak_mb":$mb%.0f$spreadJson$stateJson$spillJson}"""
      println(line)
      line
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scale_out.json")
    val json = s"""{"sf":"$sfDir","cpus":$cpus,"queries":[${lines.mkString(",")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
