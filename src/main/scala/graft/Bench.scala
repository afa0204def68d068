package graft

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A failed query reports ok=false and counts its
  * elapsed time — failures can NOT masquerade as fast successes (each query
  * value is an object {"sec":…,"ok":…,"rows":…}; "value" totals only the OK
  * queries' seconds).
  *
  * The same JSON line is also written to SPARK_GRAFT_BENCH_OUT (default
  * `bench_out.json` in the working directory) so the record never depends
  * on log-tail capture. Optional args = query names to run (a focused
  * re-bench); the recorded file is only written for full runs.
  */
object Bench {

  /** Untimed warm-up queries run before the sweep (see `main`). */
  val WarmupQueries: Seq[String] =
    Seq("q_stats", "q_simhash", "q_store_roundtrip", "q_keywords")

  /** The default box-health controls timed before and after a full sweep. */
  val DefaultControls: Seq[String] =
    Seq("q_dedup_components_best", "q_stats", "q_bm25")

  /** Execute a query's FULL result and return its row count.
    *
    * `df.count()` — the action rounds 1–12 timed — lets Catalyst prune
    * every column the count doesn't need, so a pure-projection query
    * (q_proj, the trace-conditioning family, decode paths) timed as a
    * near-no-op: q_trace_agc_long "ran" in 0.12 s while its real work is
    * ~10¹¹ multiply-adds. Running the query's own optimized plan to
    * InternalRows (`queryExecution.toRdd`) keeps the projection as the
    * plan root — nothing above it to prune through — and adds no
    * shuffle, sink or row conversion, so aggregate/join queries time the
    * same as before and projection queries finally time their work.
    */
  def fullCount(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Run each warm-up query once, untimed. A failing one fails the run
    * with its name, as [[graft.core.Tables.warm]] does for a fixture
    * table: skipped, it would leave the sweep's first queries cold with
    * nothing in the record to say so. */
  def warmUp(spark: org.apache.spark.sql.SparkSession, sfDir: String,
             queries: Seq[graft.queries.QuerySpec]): Unit =
    queries.foreach { q =>
      try { q.run(spark, sfDir).count(); () }
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(
          s"warm-up query ${q.name} failed: ${e.getMessage}", e)
      }
    }

  def main(args: Array[String]): Unit = {
    // every query name resolves before the session starts: an unknown one
    // fails here by name instead of silently dropping out of the record
    val selected =
      if (args.isEmpty) SparkEntry.all else args.toSeq.distinct.map(SparkEntry.spec)
    val warmups = WarmupQueries.map(SparkEntry.spec)
    val controlSet = sys.env.get("SPARK_GRAFT_BENCH_CONTROLS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(if (args.isEmpty) DefaultControls else Nil)
      .map(SparkEntry.spec)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.GraftSession.cores
    val spark = graft.core.GraftSession.build("graft-bench")

    // The long trace fixtures (q_moveout_*_long) key their by-cell
    // repartition on `l_suppkey % 512` — one state buffer per cell,
    // co-partitioned with the aggregate, so boxes up to 512 cores stay
    // fully busy. Past that the fixtures silently cap busy tasks and the
    // bench under-reports per-core throughput — refuse loudly (the same
    // guard that existed at the old 64-cell modulus): raise the modulus
    // (mirrored in the oracle SQL) rather than the partition count.
    require(spark.sparkContext.defaultParallelism <= 512,
      s"moveout-long fixtures key on l_suppkey % 512 but this box " +
        s"schedules ${spark.sparkContext.defaultParallelism} tasks — " +
        "raise the fixture modulus (and its oracle SQL mirror) before " +
        "benching on this machine")

    // Warm the file-system/footer caches once so per-query times measure the
    // query, not first-touch metadata I/O.
    graft.core.Tables.warm(spark, sfDir)
    // ... and JIT/codegen: the alphabetically-first timed queries would
    // otherwise absorb the whole JVM warmup (~2s measured — it made the
    // first query look 2× its steady-state cost). Four untimed
    // representatives warm the aggregate, kernel-expression,
    // parquet-write and generate+window+fold paths.
    warmUp(spark, sfDir, warmups)

    // Box-health controls: a bench total is only comparable across rounds
    // if the box was equally healthy both days — two consecutive closing
    // records (r14's outlier, r15's 222.9 s) needed prose to explain a
    // degraded-I/O day. Formalized here: a fixed set of RARELY-TOUCHED
    // queries runs median-of-3 BEFORE and AFTER the timed sweep and both
    // medians land in the record itself, so any future reader can
    // normalize a total against the controls' drift from their historical
    // ~1.5 s / ~0.4 s / ~2.3 s instead of trusting the round's prose.
    // Empty SPARK_GRAFT_BENCH_CONTROLS disables (focused re-benches);
    // `controlSet` is resolved at the top of main.
    def controlPass(): Seq[(String, Double)] = controlSet.map { q =>
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try { fullCount(q.run(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          // a broken control reads -1, never kills the record
          System.err.println(s"[bench] control ${q.name} FAILED: ${e.getMessage}")
          -1.0
        }
      }.sorted
      q.name -> secs(1)
    }
    val controlsPre = controlPass()

    // SPARK_GRAFT_BENCH_REPEATS > 1 → each query runs N times BACK TO
    // BACK and reports the per-query MEDIAN plus the min–max spread:
    // same-day full-suite totals vary ±20% run-to-run on this box, so
    // single-run per-query comparisons across code changes sit inside
    // noise — the clean committed record uses median-of-3. Consecutive
    // (not whole-suite-interleaved) repeats keep a query's warm state
    // (JIT, file/footer caches) comparable across its repetitions; each
    // repetition rebuilds its own scratch indexes (paths are UUID-fresh),
    // so per-query scratch release below never invalidates a repeat.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "1").toInt
    require(repeats >= 1, s"SPARK_GRAFT_BENCH_REPEATS must be >= 1, got $repeats")
    // Per-query box snapshot, taken immediately before the first timed
    // repeat: the r18 driver record carried a 127 s outlier (my clean
    // repro: 2.3 s) that cost a judge-session to attribute to concurrent
    // load — a timestamp + loadavg + MemAvailable in the record itself
    // rules that in or out from the file.
    def loadAvg1m(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def memAvailMb(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/meminfo")
        try src.getLines().find(_.startsWith("MemAvailable:"))
          .map(_.trim.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
        finally src.close()
      } catch { case _: Throwable => -1L }
    case class R(sec: Double, ok: Boolean, rows: Long, spread: Double,
                 tStartMs: Long, load: Double, memMb: Long)
    val results: Seq[(String, R)] = selected.sortBy(_.name).map { q =>
      val name = q.name
      val (tStartMs, load, memMb) =
        (System.currentTimeMillis(), loadAvg1m(), memAvailMb())
      // the release brackets a query's repeats, never splits them
      val runs = graft.core.TempDirs.releasingScratch(spark, s"[bench] $name") {
        (1 to repeats).map { _ =>
          val t0 = System.nanoTime()
          try { val n = fullCount(q.run(spark, sfDir)); ((System.nanoTime() - t0) / 1e9, true, n) }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            ((System.nanoTime() - t0) / 1e9, false, -1L)
          }
        }
      }
      val secs = runs.map(_._1).sorted
      val median = secs(secs.size / 2)
      name -> R(median, runs.forall(_._2),
        runs.find(_._2).map(_._3).getOrElse(-1L),
        secs.last - secs.head, tStartMs, load, memMb)
    }
    val qs = results.map { case (k, r) =>
      val spreadJson = if (repeats > 1) s""","spread":${r.spread}""" else ""
      s""""$k":{"sec":${r.sec},"ok":${r.ok},"rows":${r.rows}$spreadJson""" +
        s""","t_start_ms":${r.tStartMs},"loadavg":${r.load}""" +
        s""","mem_avail_mb":${r.memMb}}"""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, r) if r.ok => r.sec }.sum
    val nFail = results.count(!_._2.ok)
    val controlsPost = controlPass()
    val controlsJson =
      if (controlSet.isEmpty) ""
      else {
        def block(xs: Seq[(String, Double)]) =
          xs.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
        s""","controls":{"pre":${block(controlsPre)},"post":${block(controlsPost)}}"""
      }
    // post-sweep scratch footprint: with per-query release this is bounded
    // by the LAST query's residue (0 in practice), not the whole sweep's.
    // null = at least one registered path was unmeasurable (remote scheme
    // without credentials, walk error) — unknown, not zero.
    val scratchBytes =
      graft.core.TempDirs.liveBytes().map(_.toString).getOrElse("null")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_failed":$nFail,"repeats":$repeats$controlsJson,"scratch_live_bytes":$scratchBytes,"sf":"$sfDir"}"""
    println(line)
    // The full line above (~40 KB of per-query telemetry) has exceeded the
    // driver's log-tail window in every round to date (BENCH_r01–r19 all
    // carry parsed:null) — so a compact, sub-KB totals line goes out LAST,
    // guaranteeing the tail always contains one parseable record. Per-query
    // numbers stay in the full line and in SPARK_GRAFT_BENCH_OUT.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"n_failed":$nFail,"repeats":$repeats,"cpus":$cpus,"sf":"$sfDir"}"""
    println(compact)
    if (args.isEmpty) {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    }
    spark.stop()
  }
}
