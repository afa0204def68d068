package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.operators._
import graft.llm._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the LLM-pipeline
  * extensions) is registered here as a named query; `oracleSql` carries the
  * DuckDB-equivalent SQL for the driver's hash compare. Column names AND
  * types are aligned between both sides (counts → BIGINT, ranks → BIGINT,
  * money sums accumulate in DECIMAL and surface as DOUBLE — exact and
  * order-independent, so parallel Spark and serial DuckDB agree bitwise).
  */
object SparkEntry {

  private def lineitem(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def orders(s: SparkSession, d: String) = Tables.orders(s, d)
  private def customer(s: SparkSession, d: String) = Tables.customer(s, d)
  private def events(s: SparkSession, d: String) = Tables.events(s, d)
  private def documents(s: SparkSession, d: String) = Tables.documents(s, d)
  private def embeddings(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** The boilerplate flood for the adversarial-skew near-dup fixture
    * (q_neardup_lsh_skew): a long fixed preamble prepended to 30% of docs.
    * 42 words ≈ 40 shingles — enough to dominate most docs' minhash
    * components, so the flooded docs' bands collide into a handful of
    * quadratic-blowup buckets and the hot-bucket cap ENGAGES (the clean
    * fixtures never fire the default cap). No quotes — the string is
    * interpolated into the DuckDB oracle SQL verbatim.
    */
  private val SkewBoilerplate: String =
    "subscribe to our newsletter for the latest updates and exclusive " +
    "offers terms of service apply all rights reserved unauthorized " +
    "reproduction is prohibited contact support for assistance follow us " +
    "on social media share this article with your friends read the full " +
    "story after the break advertisement continue reading below"

  /** Stage a single-file fixture table into a scratch DIRECTORY (the
    * file-stream source requires one; a real deployment streams a landing
    * dir to begin with) and return it. One copy per streaming query run.
    */
  private def stageTableDir(s: SparkSession, d: String, table: String,
                            tag: String): String = {
    val srcDir = graft.core.TempDirs.scratch(s"${tag}_src")
    val hconf = s.sparkContext.hadoopConfiguration
    val from = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
    val to = new org.apache.hadoop.fs.Path(s"$srcDir/${table}_0.parquet")
    org.apache.hadoop.fs.FileUtil.copy(from.getFileSystem(hconf), from,
      to.getFileSystem(hconf), to, false, hconf)
    srcDir
  }

  private def stageEventsDir(s: SparkSession, d: String, tag: String): String =
    stageTableDir(s, d, "events", tag)

  /** File stream over a staged fixture dir (schema read from the files). */
  private def tableStream(s: SparkSession, srcDir: String): DataFrame =
    s.readStream.schema(s.read.parquet(srcDir).schema).parquet(srcDir)

  /** File stream over a staged events dir, with the same nanos→micros ts
    * fix the batch `Tables.events` applies. `opts` reach the file source
    * (e.g. `maxFilesPerTrigger` for the time-sliced replays).
    */
  private def eventsStream(s: SparkSession, srcDir: String,
                           opts: Map[String, String] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val rawSchema = s.read.parquet(srcDir).schema
    val raw = s.readStream.schema(rawSchema).options(opts).parquet(srcDir)
    rawSchema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // watermarks reject TIMESTAMP_NTZ; session tz is UTC, matching DuckDB
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned — streaming
    * state-store instance count is set by this at FIRST run against a
    * checkpoint, and the registered gates always start fresh checkpoints;
    * 8 state partitions beat 32 at fixture scale (less per-batch state
    * store open/commit overhead) and a production job sizes this
    * deliberately anyway. Restored in finally so the surrounding
    * sequential Verify/Bench session is untouched.
    */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Overlap independent EAGER side-effect steps (index builds, fixture
    * writes to disjoint scratch paths) from futures — guide §2.6: actions
    * are only sequential because driver code calls them sequentially, so
    * submitting independent build jobs concurrently lets one job's
    * straggler tail backfill with the next job's tasks instead of paying
    * serial job barriers. Await rethrows, so failures stay loud; every
    * step writes to its own path, so results are order-independent.
    */
  private def inParallel(steps: (() => Unit)*): Unit =
    graft.core.Par.run(steps: _*)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A representative slice of the engine: mask filter → broadcast-joined
    * enrich → grouped exact-decimal aggregation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = lineitem(spark, d)
    val os = orders(spark, d)
    li.join(os, li("l_orderkey") === os("o_orderkey"))
      .groupBy(col("l_returnflag"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
      )
      .orderBy(col("l_returnflag"), col("o_orderstatus"))
  }

  private val maskR = col("l_returnflag") === "R" && col("l_quantity") > 25

  /** BM25 demo queries — one literal list feeding BOTH the Spark plan and
    * the oracle generator, so the query-term tables agree by construction.
    */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "fast table scan",
    1L -> "spark window query",
    2L -> "customer data stream")

  /** One entry per implemented operator from SURVEY.md §2 (+ LLM pipeline). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- G1/A5: dimension inference -------------------------------------
    "q_dims" -> ((s, d) =>
      Dimensions.computeDimension(lineitem(s, d), "l_shipdate")),
    "q_dim_summary" -> ((s, d) =>
      Dimensions.dimSummary(lineitem(s, d), Seq("l_shipdate", "l_suppkey", "l_partkey"))),
    // --- J1/J2/J3: grid map + invariants --------------------------------
    "q_grid_map" -> ((s, d) =>
      GridIndex.withCellOrdinal(lineitem(s, d), Seq("l_suppkey", "l_linenumber"))
        .select("l_orderkey", "l_suppkey", "l_linenumber",
                "l_suppkey_idx", "l_linenumber_idx", "cell")),
    "q_grid_unique" -> ((s, d) =>
      GridIndex.liveTraceCheck(lineitem(s, d), Seq("l_orderkey", "l_linenumber"))),
    "q_sparsity" -> ((s, d) =>
      GridIndex.sparsityQC(lineitem(s, d), Seq("l_suppkey", "l_partkey"))),
    // --- G3/G4/G7: counters + synthesis ---------------------------------
    "q_dup" -> ((s, d) =>
      Counters.duplicateCounter(lineitem(s, d),
          dims = Seq("l_suppkey", "l_partkey"),
          ordinal = Seq("l_orderkey", "l_linenumber"))
        .select("l_suppkey", "l_partkey", "l_orderkey", "l_linenumber", "trace")),
    "q_nonbin" -> ((s, d) =>
      Counters.nonBinnedCounter(lineitem(s, d),
          keptDims = Seq("l_orderkey"), ordinal = Seq("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "trace")),
    "q_synth" -> ((s, d) =>
      Counters.synthesizeComponent(lineitem(s, d), "component")
        .select("l_orderkey", "l_linenumber", "component")),
    // --- G5/G6: geometry detection + wrapping ---------------------------
    "q_chanwrap_detect" -> ((s, d) =>
      Wrapping.detectChannelGeometry(lineitem(s, d), "l_suppkey", "l_linenumber")),
    "q_chanwrap" -> ((s, d) =>
      Wrapping.rebaseChannels(lineitem(s, d), "l_suppkey", "l_orderkey")
        .select("l_suppkey", "l_orderkey", "channel_wrapped")),
    "q_shotidx" -> ((s, d) =>
      Wrapping.shotIndexDenseRank(orders(s, d), "o_custkey", "o_orderdate")
        .select("o_custkey", "o_orderdate", "shot_index")),
    "q_shotidx_floor" -> ((s, d) =>
      Wrapping.shotIndexFloorDiv(orders(s, d), "o_custkey", "o_orderkey", numGuns = 4)
        .select("o_custkey", "o_orderkey", "shot_index")),
    // --- A1-A3 / A4: statistics -----------------------------------------
    "q_stats" -> ((s, d) => Stats.summaryStats(lineitem(s, d), "l_extendedprice")),
    "q_histogram" -> ((s, d) =>
      Stats.histogram(lineitem(s, d), "l_quantity", nBins = 10, lo = 0.0, hi = 50.0)),
    // stats + histogram in ONE buffer (the §2.10 TypedImperativeAggregate):
    // one scan, one small merged state — vs the two-query composition above
    "q_stats_hist" -> ((s, d) => {
      import graft.functions.StatsHistAgg
      lineitem(s, d)
        .agg(StatsHistAgg.statsHist(col("l_quantity"), nBins = 10,
          lo = 0.0, hi = 50.0).as("s"))
        .select((Seq(col("s.n").as("n"), col("s.min_val").as("min_val"),
          col("s.max_val").as("max_val"), col("s.sum_val").as("sum_val"),
          col("s.sumsq_val").as("sumsq_val")) ++
          (0 until 10).map(i => col("s.hist")(i).as(s"hist_$i"))): _*)
    }),
    "q_salted_agg" -> ((s, d) =>
      Salting.saltedAgg(lineitem(s, d), "l_returnflag",
        sum(col("l_quantity").cast(DecimalType(18, 2))),
        "sum_qty", saltBuckets = 16,
        saltSource = Seq("l_orderkey", "l_linenumber"))
        .withColumn("sum_qty", col("sum_qty").cast("double"))),
    "q_geom" -> ((s, d) =>
      Geometry.groupRanges(lineitem(s, d), "l_suppkey", "l_linenumber", "l_orderkey")),
    "q_geom_guns" -> ((s, d) =>
      Geometry.gunShotCounts(orders(s, d), "o_orderpriority", "o_orderstatus", "o_custkey")),
    // --- C1/P8: coordinate population -----------------------------------
    "q_coord" -> ((s, d) =>
      Coordinates.populateCoordinate(customer(s, d), Seq("c_nationkey"),
        "c_acctbal", "c_custkey", scalar = -100)),
    // --- P4-P6: masking + bbox ------------------------------------------
    "q_mask_bbox" -> ((s, d) =>
      Masking.boundingBox(lineitem(s, d), maskR, Seq("l_shipdate", "l_orderkey"))),
    "q_mask_rows" -> ((s, d) =>
      Masking.maskedSelect(lineitem(s, d), maskR, Seq("l_shipdate", "l_orderkey"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"))),
    // --- P3: labeled selection ------------------------------------------
    "q_select" -> ((s, d) =>
      Selection.sel(lineitem(s, d), Map(
        "l_shipdate" -> Selection.Range(
          java.time.Instant.parse("1995-03-01T00:00:00Z"),
          java.time.Instant.parse("1995-06-30T00:00:00Z")),
        "l_returnflag" -> Selection.Point("A"),
        "l_linenumber" -> Selection.Values(Seq(1, 2, 3)),
      ))),
    // POSITIONAL selection (xarray isel): a store written WITHOUT the
    // ingest pipeline (so the dim coordinate order derives from a distinct
    // scan), then integer positions — a clamping slice, a position list,
    // and a negative point — resolve to label predicates through the
    // sorted coordinate tables; green only if position->label arithmetic
    // matches DuckDB's row_number over the same distinct sets
    "q_isel" -> ((s, d) => {
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("isel_store")
      val li = lineitem(s, d).select("l_orderkey", "l_linenumber",
        "l_suppkey", "l_returnflag", "l_quantity")
      val schema = MdioSchema(
        variables = Seq(Variable("l_quantity",
          Seq("l_orderkey", "l_linenumber"), Left(ScalarType.Float64),
          compressor = Some(Blosc()))),
        metadata = DatasetMetadata("isel-slice", "1.0.0", "2026-01-01T00:00:00Z"))
      MdioDataset.write(li, path, schema, sortDims = Seq("l_suppkey"))
      MdioDataset.open(s, path)
        .isel("l_suppkey" -> Selection.ISlice(3, 8),
          "l_linenumber" -> Selection.IValues(Seq(0, 1, 2)),
          "l_returnflag" -> Selection.IPoint(-1))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
    }),
    // --- P1/P2: projection ----------------------------------------------
    "q_proj" -> ((s, d) =>
      Projection.projectToSpec(lineitem(s, d),
        Seq("l_linenumber", "l_suppkey", "l_orderkey", "l_extendedprice"))),
    // --- E4: export order -----------------------------------------------
    "q_export_order" -> ((s, d) =>
      GlobalOrder.withGlobalSeq(
        lineitem(s, d).select("l_suppkey", "l_orderkey", "l_linenumber"),
        Seq("l_suppkey", "l_orderkey", "l_linenumber"))),
    // --- events: windowed aggregation + sessionization ------------------
    "q_events_hourly" -> ((s, d) => Events.hourlyAgg(events(s, d))),
    // semi-structured tier: JSON property extraction + typed aggregates
    "q_props_stats" -> ((s, d) => Events.propsStats(events(s, d))),
    // EXACT global quantiles WITHOUT a global sort: histogram-locate +
    // bucket-pruned top-r (two bounded passes; the 100-TB path for the one
    // aggregate where exact usually means sort-everything)
    "q_exact_quantiles" -> ((s, d) =>
      graft.operators.Stats.exactQuantiles(lineitem(s, d), "l_quantity")),
    // the FORCED-REFINE shape (round-14 ask: the registered l_quantity row
    // rides 50 distinct values where the locate pass short-circuits):
    // price² is high-cardinality and ~110x density-skewed toward the low
    // buckets (uniform x → density(x²) ∝ 1/√), and the deliberately tight
    // (nBuckets=16, refineLimit=4096) forces multi-level histogram
    // refinement plus the final top-r pass at EVERY fixture scale — exact
    // double arithmetic both sides, so the oracle hash-matches
    "q_exact_quantiles_refine" -> ((s, d) =>
      graft.operators.Stats.exactQuantiles(
        lineitem(s, d).withColumn("sq_price",
          col("l_extendedprice") * col("l_extendedprice")),
        "sq_price", Seq(0.25, 0.5, 0.75, 0.99),
        nBuckets = 16, refineLimit = 4096L)),
    // Structured Streaming under the ORACLE: the events table replayed as a
    // file stream through the watermarked 1-hour window agg (append mode,
    // AvailableNow), sink read back as the result. Append emission is
    // deterministic: the final no-data microbatch flushes every window
    // whose end <= max(ts) − watermark, which the oracle mirrors in SQL —
    // so the streaming path (state store, watermark arithmetic, flush)
    // hash-matches the batch world
    "q_stream_hourly" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val out = graft.core.TempDirs.scratch("stream_hourly_out")
      val ckpt = graft.core.TempDirs.scratch("stream_hourly_ckpt")
      val fixed = eventsStream(s, stageEventsDir(s, d, "stream_hourly"))
      withStatePartitions(s, 8) {
        val q = graft.streaming.StreamingEvents.hourlyAggStream(fixed)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out)
    }),
    // session windows under the same streaming-vs-oracle contract: the
    // state store merges per-user sessions (gap 30 min), append emission
    // flushes sessions whose END (last event + gap) the final watermark
    // passed — the oracle rebuilds the same sessions with the batch
    // lag/gap construction and applies the same flush predicate
    "q_stream_sessions" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val out = graft.core.TempDirs.scratch("stream_sess_out")
      val ckpt = graft.core.TempDirs.scratch("stream_sess_ckpt")
      val fixed = eventsStream(s, stageEventsDir(s, d, "stream_sess"))
      withStatePartitions(s, 8) {
        val q = graft.streaming.StreamingEvents.sessionWindowStream(fixed)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out)
    }),
    // the BOUNDED-STATE sessionization variant: the SAME session_window
    // aggregation and flush predicate as q_stream_sessions, replayed the
    // deployment way — time-ordered slice files, one per trigger
    // (StreamReplay) — so the watermark ADVANCES between micro-batches and
    // closed sessions leave the state store as they flush. State peaks at
    // |one slice| + |2.5h horizon| instead of every session in history
    // (the round-14 sweep measured the one-batch replay at 9.5 M state
    // rows / 3.3 GB at sf10); the output rows are IDENTICAL — no event is
    // ever late under time-ordered slices, so the final watermark and
    // flush rule emit the same session set, which the shared oracle pins
    "q_stream_sessions_bounded" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val out = graft.core.TempDirs.scratch("stream_sessb_out")
      val ckpt = graft.core.TempDirs.scratch("stream_sessb_ckpt")
      val src = graft.core.TempDirs.scratch("stream_sessb_src")
      // slice size trades state peak against checkpoint I/O: state holds
      // |in-flight slice| + |watermark horizon|, while each micro-batch
      // pays a fixed state-store open/commit round — the sf10 sweep
      // measured 100 slices costing 2.5× the one-batch wall
      // (bench/sessions_knobs_sf10_r16.json). The output is
      // slice-count-INDEPENDENT (time-ordered slices never produce a late
      // event), so the oracle pins it at the fixed 100,000 rows per slice.
      graft.streaming.StreamReplay.stageTimeSliced(
        s.read.parquet(s"$d/events.parquet"), src,
        rowsPerSlice = 100000L): Unit
      val fixed = eventsStream(s, src, Map("maxFilesPerTrigger" -> "1"))
      // state-partition count is a per-batch constant cost on the
      // many-micro-batch replay: every batch commits EVERY state store
      // instance, so 100 batches × 8 stores = 800 commit rounds at ~100 k
      // rows/batch of actual work — a deployment sizes this to its batch
      // volume, not to a one-batch replay's
      withStatePartitions(s, 8) {
        val q = graft.streaming.StreamingEvents.sessionWindowStream(fixed)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out)
    }),
    "q_sessionize" -> ((s, d) => Events.sessionize(events(s, d))),
    // ordered product funnel signup → click → purchase: per user the
    // greedy-earliest strict-time chain (fold over the sorted event list,
    // no joins); per-step user counts like every funnel dashboard
    "q_funnel" -> ((s, d) =>
      Events.funnel(events(s, d), Seq("signup", "click", "purchase"))),
    // time-to-convert for the funnel's completers: exact integer-micros
    // durations, one final mean division
    "q_funnel_latency" -> ((s, d) =>
      Events.funnelLatency(events(s, d), Seq("signup", "click", "purchase"))),
    // cohort retention matrix: users keyed by first-seen day, counted on
    // each later active day (offset 0..7)
    "q_retention" -> ((s, d) =>
      Events.cohortRetention(events(s, d))
        // comparator-safe: DATE cells type-compare differently across the
        // two readers; the ISO string is unambiguous
        .withColumn("cohort_day",
          date_format(col("cohort_day"), "yyyy-MM-dd"))),
    // sliding (hopping) windows: 1-hour span every 15 minutes — each event
    // lands in 4 windows; the oracle replays the window math by explode
    "q_events_sliding" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n_events"), col("sum_value"))),
    // OLAP rollup: (status, linenumber) -> (status) -> () subtotal levels;
    // grouping ids disambiguate NULL-as-subtotal from NULL data
    "q_rollup" -> ((s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linenumber"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
          coalesce(col("l_linenumber").cast("string"), lit("<all>"))
            .as("line"),
          col("n"), col("sum_qty"))),
    // pivot with a FIXED value list (deterministic schema): event counts
    // per user-bucket, one column per event type
    "q_pivot" -> ((s, d) =>
      events(s, d)
        .withColumn("bucket", (col("user_id") % 10).cast("long"))
        .groupBy(col("bucket"))
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)).cast("long"))
        .na.fill(0L)),
    // arbitrary-state streaming under the oracle: the
    // flatMapGroupsWithState sessionizer emits a session when a successor
    // event closes it OR the event-time watermark passes its timeout
    // (lastTs + gap) — both re-derivable in SQL, and per-session double
    // sums fold in (ts, arrival) order which is deterministic because the
    // fixture has no duplicate (user, ts) pairs
    "q_stream_state_sessions" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val out = graft.core.TempDirs.scratch("stream_fmgs_out")
      val ckpt = graft.core.TempDirs.scratch("stream_fmgs_ckpt")
      val typed = eventsStream(s, stageEventsDir(s, d, "stream_fmgs"))
        .select(col("user_id"), col("ts"), col("value"))
        .as[graft.streaming.StatefulSessions.Event]
      withStatePartitions(s, 8) {
        val q = graft.streaming.StatefulSessions.sessionizeStream(typed)
          .toDF()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out)
    }),
    // the streaming MDIO sink under the oracle: events stream through
    // dropDuplicates state and the foreachBatch mdio append (schema
    // validation + sidecar per batch), then the RE-OPENED store aggregates
    // — gating the whole stream→store→open path against the batch world
    "q_stream_store" -> ((s, d) => {
      val store = graft.core.TempDirs.scratch("stream_store")
      val ckpt = graft.core.TempDirs.scratch("stream_store_ckpt")
      val fixed = eventsStream(s, stageEventsDir(s, d, "stream_store"))
        .select("event_id", "user_id", "event_type", "value")
      withStatePartitions(s, 8) {
        val q = graft.streaming.StreamingMdio.appendToStore(fixed, store,
          checkpoint = Some(ckpt), dedupKey = Some("event_id"))
        q.awaitTermination()
      }
      graft.storage.MdioDataset.open(s, store).df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_value"))
    }),
    // in-stream EXACT dedup under the oracle: documents replayed as a file
    // stream through dropDuplicates-on-fingerprint — the state store drops
    // every re-arrival of a seen md5 ACROSS micro-batches. Which arrival
    // survives is arrival-order (racey across 32 threads), but duplicates
    // share their text byte-for-byte, so projecting only text-derived
    // columns makes the survivor set deterministic == batch DISTINCT-by-hash
    "q_stream_dedup" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val out = graft.core.TempDirs.scratch("stream_dedup_out")
      val ckpt = graft.core.TempDirs.scratch("stream_dedup_ckpt")
      val raw = tableStream(s, stageTableDir(s, d, "documents", "stream_dedup"))
      withStatePartitions(s, 8) {
        val q = graft.streaming.StreamingCorpus.dedupedStream(raw)
          .select(md5(col("text")).as("h"),
            length(col("text")).cast("long").as("n_chars_c"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out)
    }),
    // the quality gate as a CONTINUOUS stage: gopherRules is a pure narrow
    // projection, so the same expressions run unchanged inside the
    // streaming plan — arriving documents land already quality-scored
    "q_stream_quality" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val out = graft.core.TempDirs.scratch("stream_quality_out")
      val ckpt = graft.core.TempDirs.scratch("stream_quality_ckpt")
      val raw = tableStream(s, stageTableDir(s, d, "documents", "stream_quality"))
      withStatePartitions(s, 8) {
        val q = TextAnalysis.gopherRules(raw)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out)
    }),
    // the BOUNDED-state exact dedup tier: dropDuplicatesWithinWatermark
    // evicts fingerprints older than the event-time watermark — mandatory
    // stream-forever (unbounded seen-state cannot scale); with a
    // deterministic synthetic event time and a delay covering the fixture
    // span, nothing evicts and the survivor set equals the batch world,
    // gating the bounded plumbing (watermark wiring, state TTL) exactly
    "q_stream_dedup_wm" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val out = graft.core.TempDirs.scratch("stream_dedupwm_out")
      val ckpt = graft.core.TempDirs.scratch("stream_dedupwm_ckpt")
      // synthetic deterministic event time, offset WELL past epoch zero:
      // the state store's timestamp arithmetic treats values at/below the
      // initial watermark (0) as droppable-late — a real stream never
      // carries 1970 event times, the fixture must not either
      val raw = tableStream(s, stageTableDir(s, d, "documents", "stream_dedupwm"))
        .withColumn("ts",
          timestamp_micros((col("doc_id") + 86400000L) * 1000000L))
      withStatePartitions(s, 8) {
        val q = graft.streaming.StreamingCorpus
          .dedupedStream(raw, watermark = Some(("ts", "365 days")))
          .select(md5(col("text")).as("h"),
            length(col("text")).cast("long").as("n_chars_c"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out)
    }),
    // in-stream NEAR-dup flagging under the oracle: each arriving document
    // explodes to its LSH band buckets; flatMapGroupsWithState keyed by
    // (band, band_hash) compares it against ONLY its bucket's stored
    // signatures (state rides the checkpoint — a paraphrase arriving days
    // later still flags). A pair sharing several bands emits once per
    // shared bucket; est_jaccard is computed from the full signatures, so
    // the distinct-at-rest pair set equals the batch banded q_neardup_lsh
    // plan — the bucket-state cap is pinned to the batch bucket cap so
    // neither side trips it at fixture scale
    "q_stream_neardup" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val out = graft.core.TempDirs.scratch("stream_neardup_out")
      val ckpt = graft.core.TempDirs.scratch("stream_neardup_ckpt")
      val raw = tableStream(s, stageTableDir(s, d, "documents", "stream_neardup"))
      withStatePartitions(s, 8) {
        val q = graft.streaming.StreamingCorpus
          .nearDupFlaggedStream(raw, maxBucketState = 10000)
          .toDF()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out).distinct()
    }),
    // streaming BM25 index maintenance under the oracle: the index is BUILT
    // on the even-id half of the corpus, the odd-id half arrives as a
    // stream whose postings append between triggers — and because dfs and
    // avgdl derive at query time from the accumulated sums, the ranking
    // over the final index is EXACT: top-k equals the batch full-corpus
    // q_bm25 oracle, proving appends lose nothing
    "q_stream_bm25" -> ((s, d) => {
      val idx = graft.core.TempDirs.scratch("stream_bm25_idx")
      val ckpt = graft.core.TempDirs.scratch("stream_bm25_ckpt")
      val srcDir = graft.core.TempDirs.scratch("stream_bm25_src")
      val docs = documents(s, d)
      // index build and stream-source staging are independent — overlap
      inParallel(
        () => Retrieval.buildIndex(docs.where(col("doc_id") % 2 === 0), idx),
        () => docs.where(col("doc_id") % 2 === 1).write.parquet(srcDir))
      withStatePartitions(s, 8) {
        val q = graft.streaming.StreamingRetrieval.appendPostings(
          tableStream(s, srcDir), idx, checkpoint = Some(ckpt))
        q.awaitTermination()
      }
      Retrieval.bm25TopKFromIndex(s, idx, bm25Queries, k = 10)
    }),
    // stream-stream interval join under the oracle: clicks and purchases
    // as two watermarked streams, inner-joined on user within the 2-hour
    // window — state eviction rides the watermarks, but an INNER interval
    // join emits exactly the batch pair set, so the sink equals the
    // q_range_join-style SQL
    "q_stream_join" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val out = graft.core.TempDirs.scratch("stream_join_out")
      val ckpt = graft.core.TempDirs.scratch("stream_join_ckpt")
      val srcDir = stageEventsDir(s, d, "stream_join")
      val clicks = eventsStream(s, srcDir)
        .where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 hours")
      val purchases = eventsStream(s, srcDir)
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("p_ts", "2 hours")
      withStatePartitions(s, 8) {
        val q = clicks.join(purchases,
            col("user_id") === col("p_user_id") &&
              col("click_ts") >= col("p_ts") &&
              col("click_ts") <= col("p_ts") + expr("INTERVAL 2 HOURS"))
          .select(col("event_id"), col("user_id"), col("click_ts"),
            col("p_ts"), col("purchase_id"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(out)
    }),
    // forward as-of: each click's NEXT purchase at or after it — the
    // mirrored carry (first over the following frame)
    "q_asof_fwd" -> ((s, d) => {
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.asofJoin(clicks, purchases,
        on = Seq("user_id"), valueCols = Seq("value"), forward = true)
        .withColumn("asof_ts",
          coalesce(col("asof_ts"), lit("1970-01-01 00:00:00").cast("timestamp")))
    }),
    // exact fixed-width histogram — explicit bucket arithmetic (identical
    // expression both engines; underflow→0, overflow→21)
    "q_price_histogram" -> ((s, d) =>
      lineitem(s, d)
        .withColumn("bucket",
          when(col("l_extendedprice") < 0.0, 0L)
            .when(col("l_extendedprice") >= 100000.0, 21L)
            .otherwise(floor(col("l_extendedprice") / 5000.0) + 1)
            .cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double")
            .as("sum_price"))),
    // as-of with staleness tolerance: a purchase older than 1 hour doesn't
    // qualify — matches null out, exactly like pandas merge_asof tolerance
    "q_asof_tol" -> ((s, d) => {
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.asofJoin(clicks, purchases,
        on = Seq("user_id"), valueCols = Seq("value"),
        toleranceSeconds = Some(3600L))
        .withColumn("asof_ts",
          coalesce(col("asof_ts"), lit("1970-01-01 00:00:00").cast("timestamp")))
    }),
    // bucketized point-in-interval range join: every click inside a 2-hour
    // post-purchase window, per user — equi-join on (user, time bucket)
    // instead of Spark's nested-loop BETWEEN plan
    "q_range_join" -> ((s, d) => {
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val wins = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("win_end"),
          col("event_id").as("purchase_id"))
      graft.operators.RangeJoin.pointInInterval(clicks, wins,
        on = Seq("user_id"), tsCol = "ts", startCol = "win_start",
        endCol = "win_end", bucketSeconds = 7200,
        rightCols = Seq("purchase_id"))
    }),
    // backward as-of join (pandas merge_asof / DuckDB ASOF JOIN): each
    // click enriched with the user's most recent purchase at or before
    // it — the union+keyed-window composition, one shuffle, no range join
    "q_asof_join" -> ((s, d) => {
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.asofJoin(clicks, purchases,
        on = Seq("user_id"), valueCols = Seq("value"))
        // comparator-safe no-match marker: null TIMESTAMP cells don't
        // value-compare (NaT != NaT); the double stays null (NaN-safe)
        .withColumn("asof_ts",
          coalesce(col("asof_ts"), lit("1970-01-01 00:00:00").cast("timestamp")))
    }),
    "q_session_stats" -> ((s, d) =>
      Events.sessionize(events(s, d))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .withColumn("duration_s",
          (col("session_end").cast("long") - col("session_start").cast("long")))),
    "q_coord_checked" -> ((s, d) =>
      Coordinates.populateCoordinateChecked(customer(s, d), Seq("c_nationkey"),
        "c_acctbal", "c_custkey", scalar = -100)),
    // --- LLM pipeline: dedup --------------------------------------------
    "q_dedup_exact" -> ((s, d) => Dedup.exactDupGroups(documents(s, d))),
    "q_dedup_survivors" -> ((s, d) => Dedup.dedupExact(documents(s, d))),
    // quality-ranked survivor selection (keep the best-scored duplicate)
    "q_dedup_best" -> ((s, d) =>
      Dedup.dedupExactBest(
        TextAnalysis.qualityScore(documents(s, d)), "quality")),
    "q_neardup_lsh" -> ((s, d) => Dedup.nearDupPairs(documents(s, d))),
    // ADVERSARIAL-SKEW variant (r17 verdict ask #6): a Zipf-shaped
    // boilerplate flood — 30% of docs share the long fixed preamble, so
    // their minhash bands collide into a handful of quadratic-blowup
    // buckets. maxBucketSize=64 makes the hot-bucket cap ENGAGE at
    // sf0.01+ (the 10000 default never fires on the clean fixtures):
    // flooded buckets are dropped, members still pair through their
    // diverse bands, and the oracle replicates the documented cap
    // semantics (QUALIFY count(*) OVER bucket <= cap) bit-for-bit.
    "q_neardup_lsh_skew" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 10 < 3,
          concat(lit(SkewBoilerplate), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.nearDupPairs(docs, maxBucketSize = 64)
    }),
    // dedup-index lifecycle (the near-dup mirror of q_bm25_compact): build
    // from a split, append the rest, compact, query — must reproduce the
    // from-scratch batch LSH pairs bit-for-bit against the same oracle
    "q_neardup_index" -> ((s, d) => {
      val idx = graft.core.TempDirs.scratch("neardup_index")
      val docs = documents(s, d)
      DedupIndex.buildIndex(docs.where(col("doc_id") % 3 === 0), idx)
      DedupIndex.appendToIndex(docs.where(col("doc_id") % 3 === 1), idx)
      DedupIndex.appendToIndex(docs.where(col("doc_id") % 3 === 2), idx)
      DedupIndex.compactIndex(s, idx): Unit
      DedupIndex.pairsFromIndex(s, idx)
    }),
    // ExactSubstr-style span dedup: maximal cross-doc duplicated 8-gram
    // runs, reported as per-doc token spans (the removal policy composes
    // downstream)
    "q_dup_ngram_spans" -> ((s, d) =>
      Dedup.duplicateNgramSpans(documents(s, d))),
    // the headline span-dedup metric: duplicated-token fraction per
    // source (what fraction of each slice's tokens sit inside a
    // cross-doc duplicated run) — the number a corpus report leads with
    "q_dup_token_frac" -> ((s, d) => {
      val docs = documents(s, d)
      val spans = Dedup.duplicateNgramSpans(docs)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_tokens")).as("_dup"))
      docs
        .withColumn("_n", size(TextAnalysis.tokens(lower(col("text"))))
          .cast("long"))
        .join(spans, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("_n")).cast("long").as("n_tokens"),
          coalesce(sum(col("_dup")), lit(0L)).cast("long").as("n_dup_tokens"))
        .withColumn("dup_frac",
          col("n_dup_tokens").cast("double") / col("n_tokens"))
    }),
    // paragraph-granular exact dedup (boilerplate removal). The fixture has
    // no newlines, so the query first re-paragraphs each doc into 3-token
    // groups (deterministic narrow map, mirrored in the oracle) — at that
    // width the corpus has ~1.7k genuine repeats for the operator to drop
    "q_para_dedup" -> ((s, d) => {
      val docsT = documents(s, d)
        .withColumn("_toks", TextAnalysis.tokens(col("text")))
      val n = size(col("_toks"))
      val last = greatest(floor((n - 1).cast("double") / 3.0).cast("int"), lit(0))
      val paras = transform(sequence(lit(0), last),
        i => array_join(slice(col("_toks"), i * lit(3) + 1, lit(3)), " "))
      Dedup.dedupParagraphs(
        docsT.withColumn("text", array_join(paras, "\n")).drop("_toks"))
    }),
    // line-frequency filter (C4 rule): a line in >= 3 distinct docs is
    // boilerplate and every occurrence drops; same token-triple line prep
    "q_line_filter" -> ((s, d) => {
      val docsT = documents(s, d)
        .withColumn("_toks", TextAnalysis.tokens(col("text")))
      val n = size(col("_toks"))
      val last = greatest(floor((n - 1).cast("double") / 3.0).cast("int"), lit(0))
      val paras = transform(sequence(lit(0), last),
        i => array_join(slice(col("_toks"), i * lit(3) + 1, lit(3)), " "))
      Dedup.filterRepeatedLines(
        docsT.withColumn("text", array_join(paras, "\n")).drop("_toks"),
        maxDocs = 3, minChars = 5)
    }),
    // doc-frequency cap ON (maxDocFrac=0.5 default) — the scale-safe variant
    "q_jaccard_blocked" -> ((s, d) =>
      Dedup.blockedJaccard(documents(s, d), "source", minJaccard = 0.05)),
    "q_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDups(embeddings(s, d), minCosine = 0.4)
        .orderBy(col("id_a"), col("id_b"))),
    "q_simhash" -> ((s, d) =>
      Dedup.withSimhash(documents(s, d)).select("doc_id", "simhash")),
    // simhash tier: bit-band blocked pairs, hamming-verified — the cheap
    // near-IDENTICAL text pass below MinHash LSH
    "q_neardup_simhash" -> ((s, d) =>
      Dedup.simhashNearDupPairs(documents(s, d))),
    // --- LLM pipeline: text analysis ------------------------------------
    "q_text_stats" -> ((s, d) =>
      TextAnalysis.textStats(documents(s, d))
        .select("doc_id", "n_chars_c", "n_tokens", "n_stopwords", "n_punct",
                "sum_token_len", "mean_token_len", "stopword_ratio")),
    "q_lang_id" -> ((s, d) =>
      TextAnalysis.languageId(documents(s, d))
        .select("doc_id", "score_en", "score_de", "score_es", "score_fr",
                "n_cjk", "pred_lang")),
    // the Gopher / MassiveText rule set — five famous keep/drop heuristics
    // as one integer-exact projection
    "q_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(documents(s, d))),
    // the LLM-side end-to-end composition (the q_segy_file_ingest analog):
    // quality gate (Gopher rules, fixture-relaxed token floor) → exact
    // dedup survivors (min id per content hash) → near-dup LSH greedy drop
    // (higher id of every pair) → per-source corpus stats. Every stage is
    // the registered operator, chained the way a production prep job
    // chains them; one oracle hash pins the whole pipeline
    "q_llm_prep_e2e" -> ((s, d) => {
      val docs = documents(s, d)
      // fixture-relaxed thresholds (token floor 10, one required stopword
      // — the synthetic corpus is short and stopword-sparse); thresholds
      // are explicit on BOTH engines, the pipeline shape is the point.
      // One pass decides gopher-keep AND the exact-dedup winner: the
      // per-md5(text)-group min doc_id rides a min(struct(doc_id,
      // n_tokens)) aggregate (doc_id is unique, so struct order = doc_id
      // order — value-identical to the old groupBy-min + re-join), and
      // the tiny (doc_id, n_tokens) winner table is staged to scratch so
      // the giant tokenize expression exists in exactly ONE plan. The
      // old shape re-joined gopherRules onto docs and re-joined the
      // md5-group back onto that, embedding the tokenize tree in every
      // consumer arm — AQE re-optimizes the logical plan per stage
      // (~25 stages here), and walking those trees measured as
      // multi-second driver planning stalls (thread dumps: main in
      // SimplifyBinaryComparison while all executors idle).
      val winners = graft.core.Scratch.stage(
        TextAnalysis.gopherRules(docs, minTokens = 10, minReqStopwords = 1,
            keepText = true)
          .where(col("keep"))
          .groupBy(md5(col("text")).as("_h"))
          .agg(min(struct(col("doc_id"), col("n_tokens"))).as("w"))
          .select(col("w.doc_id").as("doc_id"),
            col("w.n_tokens").as("n_tokens")),
        "llm_prep_kept")
      val exactKept = docs.join(winners, "doc_id")
      val dropped = Dedup.nearDupPairs(exactKept)
        .select(col("id_b").cast("long").as("doc_id")).distinct()
      exactKept.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
    }),
    "q_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(documents(s, d)).select("doc_id", "quality", "keep")),
    "q_fingerprint" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),
    "q_token_count" -> ((s, d) =>
      TextAnalysis.tokenCounts(documents(s, d))
        .select("doc_id", "n_ws_tokens", "n_bpeish")),
    // corpus token-frequency table (tokenizer-training prep): top 50 by
    // collection frequency; (cf DESC, token) totally orders rows
    "q_vocab" -> ((s, d) =>
      TextAnalysis.vocabulary(documents(s, d))
        .orderBy(col("cf").desc, col("token")).limit(50)),
    // per-doc distinctive keywords by the tf/df rational score
    "q_keywords" -> ((s, d) => TextAnalysis.keywords(documents(s, d))),
    // exact per-source token-length quantiles: the data-driven cut points
    // for length filters (one source-keyed window, engine-exact)
    "q_length_quantiles" -> ((s, d) =>
      TextAnalysis.lengthQuantiles(documents(s, d))),
    // BM25 lexical retrieval (rational idf): query-term explode prunes the
    // corpus scan; dfs, query terms and corpus stats all ride broadcasts
    "q_bm25" -> ((s, d) =>
      Retrieval.bm25TopK(documents(s, d), bm25Queries, k = 10)),
    // incremental index lifecycle under the oracle: build on a third of
    // the corpus, append the other two thirds (each append commits its
    // postings + one stats marker atomically), COMPACT (term-redistribute,
    // markers fold to one), then query — the ranking must equal the batch
    // full-corpus oracle, proving append+compact lose nothing
    "q_bm25_compact" -> ((s, d) => {
      val idx = graft.core.TempDirs.scratch("bm25_compact_idx")
      val docs = documents(s, d)
      Retrieval.buildIndex(docs.where(col("doc_id") % 3 === 0), idx)
      Retrieval.appendToIndex(docs.where(col("doc_id") % 3 === 1), idx)
      Retrieval.appendToIndex(docs.where(col("doc_id") % 3 === 2), idx)
      Retrieval.compactIndex(s, idx): Unit
      Retrieval.bm25TopKFromIndex(s, idx, bm25Queries, k = 10)
    }),
    // hybrid retrieval: RRF-fuse the lexical arm with the dense exact arm
    // (rank-space merge — no cross-arm score normalization needed)
    "q_hybrid_rrf" -> ((s, d) => {
      val lex = Retrieval.bm25TopK(documents(s, d), bm25Queries, k = 10)
      val dense = Similarity.bruteForceTopK(embeddings(s, d),
          bm25Queries.map(_._1), k = 10)
        .withColumnRenamed("neighbor_id", "doc_id")
      Retrieval.rrfFuse(Seq("dense" -> dense, "lex" -> lex), k = 10)
    }),
    // BPE trainer counting step: occurrence-weighted adjacent-char pairs
    // over the vocabulary; top 50 — (pair_count, lhs, rhs) totally orders
    "q_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairCounts(documents(s, d))
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs")).limit(50)),
    // BPE trainer round 1 end to end: top pair selected and MERGED into
    // every vocabulary token — the rewrite step the iterated trainer loops,
    // oracle-gated in its one SQL-expressible round
    "q_bpe_train1" -> ((s, d) =>
      TextAnalysis.bpeTrainOneRound(documents(s, d))),
    // ... and the FULL iterated loop for 3 rounds: the oracle chains
    // delimiter-string replaces (symbol boundaries pinned by chr(1)), so
    // the data-dependent merge table itself is hash-checked — driver loop,
    // recounts, tie-breaks and all
    "q_bpe_train_loop" -> ((s, d) =>
      TextAnalysis.trainBpeMerges(documents(s, d), nMerges = 3)),
    // the ENCODE half: the trained 3-merge table applied to the whole
    // vocabulary through the delimiter-replace chain (train -> encode,
    // end to end under one oracle)
    "q_bpe_encode" -> ((s, d) => {
      val docs = documents(s, d)
      val merges = TextAnalysis.trainBpeMerges(docs, nMerges = 3)
        .orderBy("merge_rank").collect()
        .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
      // the PRODUCTION encoder (one kernel node carrying the table) under
      // the chained-replace oracle: green only if the kernel's fold equals
      // the SQL replay symbol-for-symbol
      TextAnalysis.bpeEncode(
          TextAnalysis.vocabulary(docs).select("token", "cf"), merges)
        .select(col("token"), col("cf"),
          posexplode(col("pieces")).as(Seq("pos", "piece")))
        .select(col("token"), col("cf"), col("pos").cast("long").as("pos"),
          col("piece"))
    }),
    // PII scrub: the fixture is PII-free, so the query plants one email,
    // one IP and one digit run per doc (deterministic from doc_id, mirrored
    // in the oracle) and redacts them back out
    "q_pii_redact" -> ((s, d) =>
      Pii.redactPii(documents(s, d).withColumn("text",
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com from 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".7 ref 99887766"))))
        .select("doc_id", "redacted", "n_emails", "n_ips", "n_nums")),
    // Gopher-style repetition quality signals (templated-text detector)
    "q_repetition" -> ((s, d) =>
      TextAnalysis.repetitionSignals(documents(s, d))),
    // blocklist term gate: whole-token occurrence counts vs a literal list
    "q_blocklist" -> ((s, d) =>
      TextAnalysis.blocklistFilter(documents(s, d),
          Seq("slow", "stale", "legacy"), maxHits = 2)
        .select("doc_id", "n_blocked", "blocked")),
    // LSH-tier recall QC: banded candidates vs exact Jaccard truth at the
    // same threshold; the quadratic exact arm runs on a deterministic
    // md5-bucket half-sample so the registered plan is bounded at scale,
    // while the LSH arm stays the full-corpus production candidate join
    "q_neardup_recall" -> ((s, d) =>
      Dedup.nearDupRecall(documents(s, d), sampleFraction = 0.5)),
    // winnowing (MOSS) partial-overlap pairs: window-min char-gram
    // fingerprints, df-capped inverted self-join; minShared = 32 is the
    // real-overlap band on this fixture (word-salad text shares many
    // incidental 8-grams — 2-31 shared fps is background noise)
    "q_winnow_pairs" -> ((s, d) =>
      Dedup.winnowOverlapPairs(documents(s, d), minShared = 32)),
    // character-level near-dup tier: EXACT edit-distance similarity join —
    // PassJoin segment blocking (complete by pigeonhole, hashes-only
    // candidate shuffle) + banded-DP levenshtein verify on candidates only
    "q_editdist_pairs" -> ((s, d) =>
      EditDistance.similarityJoin(documents(s, d), k = 4)),
    // greedy min-id survivors over the edit-distance pair graph
    "q_editdist_dedup" -> ((s, d) =>
      EditDistance.dedupByEditDistance(documents(s, d), k = 4)),
    // fuzzy record linkage: cross-table edit-distance join (even-id docs
    // linked to odd-id docs; both PassJoin probe directions)
    "q_editdist_link" -> ((s, d) => {
      val docs = documents(s, d)
      EditDistance.similarityJoinBetween(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), k = 4)
    }),
    // char-trigram LM familiarity: rationally-exact perplexity surrogate
    // (mean corpus gram frequency + OOV rate) — the CCNet-style LM quality
    // gate with log-probs replaced by integer-exact ratios
    "q_gram_lm" -> ((s, d) =>
      TextAnalysis.gramFamiliarity(documents(s, d))),
    // domain-level filtering: per-source quality keep-rate + blocklist flag
    "q_source_prior" -> ((s, d) =>
      TextAnalysis.sourcePriors(documents(s, d))),
    // concat-and-chunk sequence packing: each doc's context-window span in
    // the deterministic training stream (two-pass global prefix sum)
    "q_pack_sequences" -> ((s, d) =>
      Packing.packSequences(documents(s, d), ctxTokens = 512)),
    // deterministic training-stream shuffle: keyed-hash permutation, global
    // sequence, round-robin shard deal — retry-safe, engine-reproducible
    "q_shuffle_shards" -> ((s, d) =>
      Packing.shuffleShards(documents(s, d), nShards = 8)),
    // inference-side bucketed batching: similar-length docs batch together
    // so per-batch padding (pad_to = batch max) stays tight
    "q_length_batches" -> ((s, d) =>
      Packing.lengthBucketBatches(documents(s, d), bucketTokens = 32,
        batchSize = 16)),
    // long-doc → overlapping training samples (the dual of packing): 64-token
    // windows every 48 tokens; a pure narrow map + explode, zero shuffle
    "q_chunk_docs" -> ((s, d) =>
      Chunking.chunkDocs(documents(s, d), chunkTokens = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx").cast("long"),
          col("chunk_start").cast("long"),
          col("n_chunk_tokens").cast("long"), col("chunk_text"))),
    // --- LLM pipeline: similarity search --------------------------------
    "q_ann_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(embeddings(s, d), (0L until 10L), k = 10)),
    // bits/tables tuned for recall on ~500-5k corpora: coarser buckets
    // (2^4 = 16 cells) × 8 tables ≈ 40% of the corpus as candidates. On
    // isotropic random embeddings (this fixture — the ANN worst case) that
    // yields ~0.5 recall; real clustered embeddings bucket far better.
    "q_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(embeddings(s, d), (0L until 10L), k = 10,
        bits = 4, tables = 8)),
    // the 100-TB signature layout: vector-FREE (tbl, bucket, id) rows —
    // the fat table stores the corpus's dominant column `tables`× — with
    // candidate vectors joined back once at rerank; same hyperplanes,
    // same buckets, so the fat-path oracle applies verbatim
    "q_ann_lsh_lean" -> ((s, d) => {
      val e = embeddings(s, d)
      val sigDir = graft.core.TempDirs.scratch("lsh_lean_sig")
      Similarity.lshSignaturesLean(e, bits = 4, tables = 8, dim = 64)
        .write.parquet(sigDir)
      Similarity.lshTopKFromLeanSignatures(s.read.parquet(sigDir), e,
        (0L until 10L), k = 10)
    }),
    // streaming ANN maintenance under the oracle: plane-LSH hyperplanes
    // are a pure function of (table, bits, dim), so signatures built on
    // the even-id half + stream-appended odd half are IDENTICAL to a
    // batch build over the union — the search equals the q_ann_lsh oracle
    // with zero recall decay (contrast: fixed-quantizer IVF appends)
    // streaming dedup-index maintenance under the oracle: half the corpus
    // builds the index, the other half streams in (per-batch atomic
    // appends + in-stream compaction), and the final pair query must land
    // exactly on the batch q_neardup_lsh answer
    "q_stream_neardup_index" -> ((s, d) => {
      val idx = graft.core.TempDirs.scratch("stream_ndidx")
      val ckpt = graft.core.TempDirs.scratch("stream_ndidx_ckpt")
      val srcDir = graft.core.TempDirs.scratch("stream_ndidx_src")
      val docs = documents(s, d)
      // index build and stream-source staging are independent — overlap
      inParallel(
        () => DedupIndex.buildIndex(docs.where(col("doc_id") % 2 === 0), idx),
        () => docs.where(col("doc_id") % 2 === 1).write.parquet(srcDir))
      withStatePartitions(s, 8) {
        val q = graft.streaming.StreamingCorpus.appendDedupIndex(
          tableStream(s, srcDir), idx, checkpoint = Some(ckpt),
          compactEveryBatches = Some(2))
        q.awaitTermination()
      }
      DedupIndex.pairsFromIndex(s, idx)
    }),
    "q_stream_ann_lsh" -> ((s, d) => {
      val sigDir = graft.core.TempDirs.scratch("stream_lsh_sig")
      val ckpt = graft.core.TempDirs.scratch("stream_lsh_ckpt")
      val srcDir = graft.core.TempDirs.scratch("stream_lsh_src")
      val e = embeddings(s, d)
      // signature build and stream-source staging are independent — overlap
      inParallel(
        () => Similarity.lshSignatures(e.where(col("vec_id") % 2 === 0),
          bits = 4, tables = 8, dim = 64).write.parquet(sigDir),
        () => e.where(col("vec_id") % 2 === 1).write.parquet(srcDir))
      withStatePartitions(s, 8) {
        val q = graft.streaming.StreamingAnn.appendSignatures(
          tableStream(s, srcDir), sigDir, bits = 4, tables = 8, dim = 64,
          checkpoint = Some(ckpt))
        q.awaitTermination()
      }
      Similarity.lshTopKFromSignatures(s.read.parquet(sigDir),
        (0L until 10L), k = 10)
    }),
    "q_ann_ivf" -> ((s, d) =>
      Ivf.ivfTopK(embeddings(s, d), (0L until 10L), k = 10)),
    // FILTERED vector search (the vector-DB staple): metadata predicate on
    // the corpus arm only — exact top-k over the filtered corpus, and the
    // IVF-index variant ranks the probed cells' filter survivors with the
    // predicate pushed into the embeddings scan
    "q_ann_topk_filtered" -> ((s, d) =>
      Similarity.bruteForceTopK(embeddings(s, d), (0L until 10L), k = 10,
        corpusFilter = Some(col("label") % 2 === 0))),
    "q_ann_ivf_filtered" -> ((s, d) => {
      val e = embeddings(s, d)
      val idx = graft.core.TempDirs.scratch("ivf_filtered_idx")
      Ivf.buildIndexSeeded(e, idx)
      Ivf.ivfTopKFromIndex(e, idx, (0L until 10L), k = 10,
        corpusFilter = Some(col("label") % 2 === 0))
    }),
    // the SCALE path of the same search, oracle-gated: the kernel gate drops
    // below nCells so index build runs the join-based two-level assignment
    // and the search runs the two-level probe; coarseProbes = coarseK (16 at
    // nCells=64 — exhaustive) makes both levels exact, so the flat-argmin
    // oracle applies bit-for-bit
    "q_ann_ivf_2l" -> ((s, d) => {
      val prevGate = s.conf.getOption("graft.ivf.kernelMaxCells")
      val prevProbes = s.conf.getOption("graft.ivf.coarseProbes")
      s.conf.set("graft.ivf.kernelMaxCells", "16")
      s.conf.set("graft.ivf.coarseProbes", "16")
      // conf is read only while the plan is CONSTRUCTED (the build is eager),
      // so restoring in finally never races the later execution
      try Ivf.ivfTopK(embeddings(s, d), (0L until 10L), k = 10, nCells = 64)
      finally {
        prevGate.fold(s.conf.unset("graft.ivf.kernelMaxCells"))(v =>
          s.conf.set("graft.ivf.kernelMaxCells", v))
        prevProbes.fold(s.conf.unset("graft.ivf.coarseProbes"))(v =>
          s.conf.set("graft.ivf.coarseProbes", v))
      }
    }),
    // product quantization, the vector-COMPRESSION scale path: the code
    // table (deterministic seeded codebooks, narrow codegen'd encode) ...
    "q_pq_codes" -> ((s, d) => {
      val emb = embeddings(s, d)
      // exploded to scalar (vec_id, j, code) rows: the packed array<long>
      // stays the INDEX layout, but the registered query emits a
      // comparator-sortable shape (array cells can't be canonical-sorted)
      Pq.encode(emb, Pq.codebooks(emb, m = 8, ksub = 16))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("code"))
    }),
    // ... and the full ADC ranking over it (m LUT lookups per corpus row,
    // broadcast query LUTs, no float vector touched) — both oracle-exact
    "q_pq_adc" -> ((s, d) =>
      Pq.adcTopK(embeddings(s, d), (0L until 10L), k = 10)),
    // IVF+PQ composed (IVFADC): probes prune the code table, ADC ranks only
    // the probed cells' candidates — the billion-scale two-tier layout
    "q_ann_ivfpq" -> ((s, d) =>
      Pq.ivfPqTopK(embeddings(s, d), (0L until 10L), k = 10)),
    // two-stage production ANN: the compressed (ADC) scan surfaces
    // max(k, nRerank) candidates per query, an exact cosine pass over just
    // those candidates fixes the quantization error in the final order
    "q_ann_ivfpq_rerank" -> ((s, d) =>
      Pq.ivfPqTopK(embeddings(s, d), (0L until 10L), k = 10, nRerank = 30)),
    // FAISS-style residual IVFADC: PQ trained on x − centroid(cell(x)),
    // one LUT per (query, probed cell) — tighter codes at the same bit
    // budget; the full train→encode→probe→ADC chain replays in SQL
    "q_ann_ivfpq_res" -> ((s, d) =>
      Pq.ivfPqResidualTopK(embeddings(s, d), (0L until 10L), k = 10)),
    // scalar quantization (SQ8), the per-dim compression path: the code
    // table over exact corpus bounds (narrow codegen'd encode) ...
    "q_sq_codes" -> ((s, d) => {
      val emb = embeddings(s, d)
      val (lo, hi) = Sq.bounds(emb)
      // scalar (vec_id, j, code) rows, same comparator-shape rule as
      // q_pq_codes; the persisted index keeps the packed array
      Sq.encode(emb, lo, hi)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("code"))
    }),
    // ... and the full ADC ranking over it (one fused dim-loop per corpus
    // row against the broadcast query vector) — both oracle-exact
    "q_sq_adc" -> ((s, d) =>
      Sq.adcTopK(embeddings(s, d), (0L until 10L), k = 10)),
    // recall of EVERY approximate tier vs exact top-k (quality report):
    // lsh, ivf, and the compression tiers pq/sq/ivfpq. Signatures and the
    // three persisted indexes are built ONCE; the ivfpq arm reuses the ivf
    // and pq indexes rather than rebuilding its own
    "q_ann_recall" -> ((s, d) => {
      import graft.core.Scratch
      val qids = (0L until 10L)
      val emb = embeddings(s, d)
      // all five arms join this identical subtree; Spark's exchange reuse
      // computes it once (staging it measured SLOWER — the extra write/read
      // round-trip costs more than the reuse saves)
      val exact = Similarity.bruteForceTopK(emb, qids, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      def recallOf(approx: DataFrame, name: String): DataFrame =
        approx.select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"))
          .agg((count(lit(1)) / (qids.size * 10.0)).as("recall"))
          .withColumn("method", lit(name))
      // the four index builds are independent eager jobs over the same
      // corpus writing to disjoint paths — overlap them (guide §2.6)
      // instead of paying four serial job barriers
      val sigDir = graft.core.TempDirs.scratch("recall_sig")
      val ivfPath = graft.core.TempDirs.scratch("recall_ivf")
      val pqPath = graft.core.TempDirs.scratch("recall_pq")
      val sqPath = graft.core.TempDirs.scratch("recall_sq")
      inParallel(
        () => { Scratch.stage(Similarity.lshSignatures(
          emb, bits = 4, tables = 8, dim = 64), "recall_sig",
          Some(sigDir)): Unit },
        () => Ivf.buildIndexSeeded(emb, ivfPath),
        () => Pq.buildIndex(emb, pqPath, m = 8, ksub = 16),
        () => Sq.buildIndex(emb, sqPath))
      val sigs = s.read.parquet(sigDir)
      recallOf(Similarity.lshTopKFromSignatures(sigs, qids, k = 10), "lsh")
        .unionAll(recallOf(
          Ivf.ivfTopKFromIndex(emb, ivfPath, qids, k = 10), "ivf"))
        .unionAll(recallOf(
          Pq.adcTopKFromIndex(emb, pqPath, qids, k = 10), "pq"))
        .unionAll(recallOf(
          Sq.adcTopKFromIndex(emb, sqPath, qids, k = 10), "sq"))
        .unionAll(recallOf(
          Pq.ivfPqTopKFromIndexes(emb, ivfPath, pqPath, qids, k = 10), "ivfpq"))
    }),
    // --- S1/S2/P7: source scans -----------------------------------------
    "q_file_info" -> ((s, d) => graft.sources.Sources.fileInfo(s, d, "lineitem")),
    // the NAMED binary-header surface (the reference's binary_header
    // dict, teapot-golden-pinned in BinaryHeaderSpec): export writes the
    // standard header, the reader decodes every catalog field from the
    // bytes — n_traces ties the row to the data, the named fields to the
    // writer's declared geometry
    "q_bin_header" -> ((s, d) => {
      import graft.sources.SegyRead
      val f = graft.core.TempDirs.scratch("bin_header") + "/h.sgy"
      lineitem(s, d).select(
          col("l_orderkey").cast("int").as("inline"),
          col("l_linenumber").cast("int").as("crossline"),
          array(col("l_partkey").cast("float"),
            col("l_suppkey").cast("float")).as("samples"))
        .write.format("segy").option("fields", "inline,crossline")
        .option("formatCode", "5").option("sampleInterval", "3000")
        // declare the trace length the projection fixes anyway: the sink
        // otherwise runs take(1) jobs (driver barriers) to measure it
        .option("nSamples", "2")
        .mode("overwrite").save(f)
      val info = SegyRead.standardInfo(s, f)
      val m = SegyRead.decodeBinaryHeader(info.base.binaryHeader).toMap
      import s.implicits._
      Seq((info.base.nTraces, m("sample_interval"), m("samples_per_trace"),
        m("data_sample_format"), m("segy_revision_major"),
        m("segy_revision_minor"), m("fixed_length_trace_flag"),
        m("num_extended_text_headers")))
        .toDF("n_traces", "sample_interval", "samples_per_trace",
          "data_sample_format", "rev_major", "rev_minor", "fixed_flag", "n_ext")
    }),
    // REAL SEG-Y bytes end to end through CUSTOM header fields: a
    // deterministic lineitem projection is exported as a standard rev-1
    // file with il/xl at non-catalog byte locations and pk as a format-2
    // (int32) sample, then read back by the segy scan's `name@byte:type`
    // fields; the oracle recomputes the projection straight from parquet,
    // so the row only hash-matches if writer→reader is an exact identity
    // on every header field and payload word
    "q_segy_roundtrip" -> ((s, d) => {
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.sources.SegyRead.HeaderField
      val fields = Seq(HeaderField("il", 9, 4), HeaderField("xl", 13, 4))
      val src = lineitem(s, d).select(
        col("l_orderkey").cast("int").as("il"),
        col("l_linenumber").cast("int").as("xl"),
        array(col("l_partkey").cast("int")).as("pk"))
      val records = SegyExport.serializeStandardTraces(
        src.orderBy("il", "xl")
          .withColumn("samples", SegyExport.intPayload(col("pk"), 1, formatCode = 2)),
        fields.map(f => f -> f.name), "samples")
      val f = graft.core.TempDirs.scratch("segy_rt") + "/rt.sgy"
      SegyExport.writeSegy(records, f,
        SegyHeaders.sanitizeTextHeader(Seq("C 1 GRAFT ROUNDTRIP")),
        SegyExport.standardBinaryHeader(nSamples = 1, sampleInterval = 2000,
          formatCode = 2))
      s.read.format("segy").option("fields", fields.map(_.spec).mkString(","))
        .load(f)
        .select(col("il"), col("xl"),
          element_at(col("samples"), 1).cast("long").as("pk"))
    }),
    // the STANDARD rev-1 stack under the same identity: 240-byte headers
    // at spec offsets, self-describing binary-header geometry, and the
    // IBM32 encode->decode kernel pair all sit on the byte path, so the
    // hash only matches if every layer is exact (partkey <= 2^21 is
    // IBM32-exact by construction)
    "q_segy_std_roundtrip" -> ((s, d) => {
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.sources.SegyRead
      import SegyRead.StandardFields.{Crossline, Inline}
      val src = lineitem(s, d).select(
        col("l_orderkey").cast("int").as("il"),
        col("l_linenumber").cast("int").as("xl"),
        array(col("l_partkey").cast("float")).as("v"))
      val records = SegyExport.serializeStandardTraces(
        src.orderBy("il", "xl")
          .withColumn("samples", SegyExport.ibmPayload(col("v"), 1)),
        Seq(Inline -> "il", Crossline -> "xl"), "samples")
      val f = graft.core.TempDirs.scratch("segy_std_rt") + "/rt.sgy"
      SegyExport.writeSegy(records, f,
        SegyHeaders.sanitizeTextHeader(Seq("C 1 GRAFT STANDARD ROUNDTRIP")),
        SegyExport.standardBinaryHeader(nSamples = 1, sampleInterval = 2000,
          formatCode = 1))
      s.read.format("segy").option("fields", "inline,crossline").load(f)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).cast("long").as("pk"))
    }),
    // the DIRECTORY ingest composition: parity-split shot files (int32
    // samples — exact cents) written through the DSv2 sink, ingested as
    // ONE store via segyDirToMdio (uniform-geometry union, per-file
    // ordinal, duplicate-cell counters), re-opened and aggregated — the
    // multi-file sibling of q_segy_file_ingest
    "q_segy_dir_ingest" -> ((s, d) => {
      import graft.ingestion.GridOverrides
      import graft.schema.DatasetTemplate
      import graft.storage.MdioDataset
      val dir = graft.core.TempDirs.scratch("segy_dir_ingest")
      val cents = (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")
      val src = lineitem(s, d).select(
        col("l_suppkey").cast("int").as("inline"),
        col("l_partkey").cast("int").as("crossline"),
        col("l_orderkey").as("ok"),
        array(cents.cast("int")).as("samples"))
      // the two member-file exports are independent writes to disjoint
      // files — overlap them (guide §2.6)
      inParallel(Seq(0, 1).map(par => () => {
        src.where(col("ok") % 2 === par).drop("ok")
          .write.format("segy").option("fields", "inline,crossline")
          .option("formatCode", "2")
          .option("nSamples", "1") // fixed by the projection; skips take(1)
          .mode("overwrite").save(s"$dir/shot_$par.sgy")
      }): _*)
      val tmpl = DatasetTemplate("SegyDirGrid", "time",
        Seq("inline", "crossline", "time"), Seq(8, 8, 512))
      val store = graft.core.TempDirs.scratch("segy_dir_ingest_store")
      val r = Mdio.segyDirToMdio(s, dir, Seq("inline", "crossline"),
        tmpl, GridOverrides(hasDuplicates = true), store,
        valueCol = "amplitude", sparsityError = 1e9)
      MdioDataset.open(s, store).df.agg(
        lit(r.nTraces).as("n_traces"),
        count(lit(1)).cast("long").as("n_rows"),
        sum(element_at(col("amplitude"), 1).cast("long")).cast("long")
          .as("sum_cents"))
    }),
    // a DIRECTORY of shot files as ONE table — the 100-TB reality (a
    // survey is thousands of files under a prefix): two DSv2-written
    // member files, unioned by the directory load with per-file split
    // planning; the union projection equals the single-file oracle
    "q_segy_dir_roundtrip" -> ((s, d) => {
      val dir = graft.core.TempDirs.scratch("segy_dir_rt")
      val src = lineitem(s, d).select(
        col("l_orderkey").cast("int").as("inline"),
        col("l_linenumber").cast("int").as("crossline"),
        array(col("l_partkey").cast("float")).as("samples"))
      // independent member-file exports — overlap them (guide §2.6)
      inParallel(
        () => src.where(col("inline") % 2 === 0)
          .write.format("segy").option("fields", "inline,crossline")
          .option("nSamples", "1") // fixed by the projection; skips take(1)
          .mode("overwrite").save(s"$dir/shot_even.sgy"),
        () => src.where(col("inline") % 2 === 1)
          .write.format("segy").option("fields", "inline,crossline")
          .option("nSamples", "1")
          .mode("overwrite").save(s"$dir/shot_odd.sgy"))
      s.read.format("segy").option("fields", "inline,crossline").load(dir)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).cast("long").as("pk"))
    }),
    // per-trace seismic conditioning: AGC (sliding-window RMS gain) and
    // top mute over 4-sample traces — IEEE-deterministic folds + sqrt, so
    // the oracle replays every sample bit-for-bit
    "q_trace_agc" -> ((s, d) => {
      val df = lineitem(s, d).select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        array(col("l_partkey").cast("double"),
          (col("l_linenumber") * 1000).cast("double"),
          (col("l_orderkey") % 5000).cast("double"),
          lit(250.0)).as("v"))
      val g = TraceOps.agc(col("v"), nSamples = 4, window = 3)
      val m = TraceOps.muteTop(col("v"), nSamples = 4, firstLive = 3)
      df.select(col("ok"), col("ln"),
        element_at(g, 1).as("g1"), element_at(g, 2).as("g2"),
        element_at(g, 3).as("g3"), element_at(g, 4).as("g4"),
        element_at(m, 1).as("m1"), element_at(m, 2).as("m2"),
        element_at(m, 3).as("m3"), element_at(m, 4).as("m4"))
    }),
    // fractional static shift (the statics/NMO primitive): per-trace
    // half-sample shift via linear interpolation, zero beyond the trace
    "q_trace_shift" -> ((s, d) => {
      val df = lineitem(s, d).select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        array(col("l_partkey").cast("double"),
          (col("l_orderkey") % 997).cast("double"),
          (col("l_linenumber") * 11).cast("double")).as("v"),
        // deterministic per-trace shift in [0, 1): k/8 quarters-of-a-sample
        ((col("l_orderkey") % 8).cast("double") / 8.0).as("sh"))
      val r = TraceOps.shiftResample(col("v"), nSamples = 3, col("sh"))
      df.select(col("ok"), col("ln"), col("sh"),
        element_at(r, 1).as("r1"), element_at(r, 2).as("r2"),
        element_at(r, 3).as("r3"))
    }),
    // linear moveout scan (velocity analysis miniature): candidate shifts
    // × per-trace offset → stack → max coherent energy per cell; dyadic
    // quarter-sample candidates keep every lerp exact
    "q_moveout_scan" -> ((s, d) => {
      val df = lineitem(s, d).select(
        col("l_suppkey").as("cell"),
        (col("l_linenumber") - 1).cast("double").as("off"),
        array(col("l_partkey").cast("double"),
          (col("l_orderkey") % 997).cast("double"),
          (col("l_partkey") % 733).cast("double")).as("v"))
      TraceOps.moveoutScan(df, Seq("cell"), "v", nSamples = 3,
        offsetCol = "off", candidates = Seq(0.0, 0.25, 0.5, 0.75))
    }),
    // the CDP STACK: traces sharing a cell average element-wise —
    // DECIMAL-exact partial sums make the parallel stack bit-equal to the
    // serial oracle
    "q_trace_stack" -> ((s, d) => {
      val df = lineitem(s, d).select(
        col("l_suppkey").as("cell"),
        // integer-valued doubles: the double→DECIMAL re-cast inside the
        // exact aggregation is lossless in BOTH engines only for values
        // with short decimal expansions
        array(col("l_partkey").cast("double"),
          (col("l_linenumber") * 7).cast("double"),
          (col("l_orderkey") % 1000).cast("double")).as("v"))
      TraceOps.stack(df, Seq("cell"), "v", nSamples = 3)
        .select(col("cell"), col("n_traces"),
          element_at(col("stack"), 1).as("s1"),
          element_at(col("stack"), 2).as("s2"),
          element_at(col("stack"), 3).as("s3"))
    }),
    // AGC at a REAL trace length (1000 samples, 121 window — the PostStack
    // regime the round-12 verdict flagged): the native kernel's O(1)-size
    // plan under oracle; integer-valued samples keep every window
    // sum-of-squares exact in BOTH engines regardless of fold order, so
    // the probed gains replay bit-for-bit
    "q_trace_agc_long" -> ((s, d) => {
      // samples v[i] = ((ok+1)*i + ln) % 1000 for i=1..1000, built
      // NATIVELY: arithmetic sequence (codegen) + one elementwise-mod
      // kernel node — the transform() HOF this replaces was interpreted
      // per element and cost ~150 s at sf0.1, drowning the operator under
      // test; ok+1 keeps the sequence step positive (orderkey 0 exists)
      // ~240k flops + 8 KB of output per 16-BYTE input row: repartition
      // the pruned two-column projection so the kernels use the whole
      // cluster. The exchange moves ~0.01% of the volume the compute
      // emits, at any scale — and a single-row-group fixture parquet
      // otherwise plans every row into ONE task (split configs cannot
      // divide a row group)
      val df = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("ok"), col("ln"),
        graft.functions.TraceExprs.longModToDouble(
          sequence(col("ok") + 1L + col("ln"),
            (col("ok") + 1L) * 1000L + col("ln"),
            col("ok") + 1L), 1000L).as("v"))
      val g = TraceOps.agc(col("v"), nSamples = 1000, window = 121)
      df.select(col("ok"), col("ln"),
        element_at(g, 1).as("g1"), element_at(g, 2).as("g2"),
        element_at(g, 61).as("g61"), element_at(g, 500).as("g500"),
        element_at(g, 940).as("g940"), element_at(g, 1000).as("g1000"))
    }),
    // 5-tap binomial FIR smoother at the 1000-sample trace length:
    // integer taps x integer samples keep every tap-sum exact, probes at
    // the edges (zero-padded reads) and interior replay bit-for-bit
    "q_trace_fir_long" -> ((s, d) => {
      val df = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("ok"), col("ln"),
          graft.functions.TraceExprs.longModToDouble(
            sequence(col("ok") + 1L + col("ln"),
              (col("ok") + 1L) * 1000L + col("ln"),
              col("ok") + 1L), 1000L).as("v"))
      val f = TraceOps.firFilter(col("v"), nSamples = 1000,
        coeffs = Seq(1.0, 4.0, 6.0, 4.0, 1.0), center = 2)
      df.select(col("ok"), col("ln"),
        element_at(f, 1).as("f1"), element_at(f, 2).as("f2"),
        element_at(f, 500).as("f500"), element_at(f, 999).as("f999"),
        element_at(f, 1000).as("f1000"))
    }),
    // the CDP stack at 1000 samples: ONE StackAgg buffer per cell instead
    // of 1000 decimal agg columns — probed positions replay exactly
    "q_trace_stack_long" -> ((s, d) => {
      val df = lineitem(s, d)
        .select(col("l_suppkey").as("cell"), col("l_orderkey").as("ok"),
          col("l_linenumber").as("ln"))
        // partition BY CELL (not round-robin): each cell's Θ(nSamples)
        // aggregation state then lives in exactly one task instead of one
        // copy per map partition — with cells ≥ cores this keeps full
        // kernel parallelism and cuts partial-buffer serialization and
        // GC-survivor churn by the partition count
        .repartition(s.sparkContext.defaultParallelism, col("cell"))
        .select(col("cell"),
          graft.functions.TraceExprs.longModToDouble(
            sequence(col("ok") + 1L + col("ln"),
              (col("ok") + 1L) * 1000L + col("ln"),
              col("ok") + 1L), 1000L).as("v"))
      TraceOps.stack(df, Seq("cell"), "v", nSamples = 1000)
        .select(col("cell"), col("n_traces"),
          element_at(col("stack"), 1).as("s1"),
          element_at(col("stack"), 500).as("s500"),
          element_at(col("stack"), 1000).as("s1000"))
    }),
    // fractional static shift at the REAL trace length (1000 samples) —
    // the last-but-one §2.6 member to get a realistic-shape oracle row:
    // per-trace dyadic shifts up to 7.875 SAMPLES (integer + fractional
    // part, unlike the 3-sample row's sub-sample shifts), probed at both
    // edges, the interior, and the zero-fill tail the big shifts expose
    "q_trace_shift_long" -> ((s, d) => {
      val df = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("ok"), col("ln"),
          graft.functions.TraceExprs.longModToDouble(
            sequence(col("ok") + 1L + col("ln"),
              (col("ok") + 1L) * 1000L + col("ln"),
              col("ok") + 1L), 1000L).as("v"),
          // k/8 (k = 0..63): dyadic, so floor/frac/lerp replay exactly
          ((col("ok") % 64).cast("double") / 8.0).as("sh"))
      val r = TraceOps.shiftResample(col("v"), nSamples = 1000, col("sh"))
      df.select(col("ok"), col("ln"), col("sh"),
        element_at(r, 1).as("r1"), element_at(r, 2).as("r2"),
        element_at(r, 500).as("r500"), element_at(r, 993).as("r993"),
        element_at(r, 1000).as("r1000"))
    }),
    // the moveout scan at the REAL shape: 1000-sample traces, 16 dyadic
    // candidates, ~60-trace gathers — the deepest kernel COMPOSITION
    // (ShiftResampleExpr × offset → StackAgg → windowed argmax) finally
    // hash-checked at the length its users run it. Samples are multiples
    // of 8 so every eighth-sample lerp lands on an INTEGER — StackAgg
    // stays in its exact long mode (600 M decimal adds at sf0.1
    // otherwise) and the probed stack means replay bit-for-bit. The raw
    // `energy` double (a 1000-term float fold, order-sensitive across
    // engines) is intentionally NOT in the output — the 3-sample row
    // q_moveout_scan hash-checks it exactly; here the argmax it drives
    // (best_shift) plus the winning stacked trace are the checked facts
    "q_moveout_scan_long" -> ((s, d) => {
      val cands = (0 until 16).map(_ / 8.0) // 0, 0.125, …, 1.875 samples
      val df = lineitem(s, d)
        .where(col("l_orderkey") % 16 === 0)
        .select((col("l_suppkey") % 512).as("cell"),
          (col("l_linenumber") - 1).cast("double").as("off"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        // by-cell partitioning: one state buffer per cell total (see
        // q_trace_stack_long's note). cell has 512 distinct values at
        // sf0.1+ (l_suppkey % 512, ~73-trace gathers), so hash-
        // partitioning keeps every box up to 512 cores busy — the r17
        // 64-cell modulus silently capped busy tasks on wider boxes and
        // forced a Bench refusal; raising the modulus (mirrored in the
        // oracle SQL) removed both
        .repartition(s.sparkContext.defaultParallelism, col("cell"))
        .select(col("cell"), col("off"),
          graft.functions.TraceExprs.longModToDouble(
            sequence((col("ok") + 1L + col("ln")) * 8L,
              ((col("ok") + 1L) * 1000L + col("ln")) * 8L,
              (col("ok") + 1L) * 8L), 8000L).as("v"))
      TraceOps.moveoutScan(df, Seq("cell"), "v", nSamples = 1000,
        offsetCol = "off", candidates = cands, emitStack = true)
        .select(col("cell"), col("best_shift"), col("n_traces"),
          element_at(col("stack"), 1).as("s1"),
          element_at(col("stack"), 500).as("s500"),
          element_at(col("stack"), 1000).as("s1000"))
    }),
    // SEMBLANCE — the velocity-analysis standard coherence, Σ_t(Σ_i a)² /
    // (N·Σ_t Σ_i a²): unlike energy it is trace-count normalized and, in
    // the fused aggregate, BOTH folds are exact rationals (numerator
    // squares the stack's exact per-position sums, denominator is the
    // 128-bit/decimal Σx² accumulator) — so the semblance double itself
    // is hash-checked, at the short shape here and at the FULL 1000-
    // sample shape below (where energy's float fold could not be)
    "q_moveout_semblance" -> ((s, d) => {
      val df = lineitem(s, d).select(
        col("l_suppkey").as("cell"),
        (col("l_linenumber") - 1).cast("double").as("off"),
        array(col("l_partkey").cast("double"),
          (col("l_orderkey") % 997).cast("double"),
          (col("l_partkey") % 733).cast("double")).as("v"))
      TraceOps.moveoutScan(df, Seq("cell"), "v", nSamples = 3,
        offsetCol = "off", candidates = Seq(0.0, 0.25, 0.5, 0.75),
        coherence = "semblance")
    }),
    // the full-shape semblance scan: 1000-sample long-mode gathers, 16
    // candidates — the exact-fold property is what makes the semblance
    // DOUBLE hash-checkable here; the winning stack's probes ride along
    "q_moveout_semblance_long" -> ((s, d) => {
      val cands = (0 until 16).map(_ / 8.0)
      val df = lineitem(s, d)
        .where(col("l_orderkey") % 16 === 0)
        .select((col("l_suppkey") % 512).as("cell"),
          (col("l_linenumber") - 1).cast("double").as("off"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        // by-cell partitioning: one state buffer per cell total (see
        // q_trace_stack_long's note). cell has 512 distinct values at
        // sf0.1+ (l_suppkey % 512, ~73-trace gathers), so hash-
        // partitioning keeps every box up to 512 cores busy — the r17
        // 64-cell modulus silently capped busy tasks on wider boxes and
        // forced a Bench refusal; raising the modulus (mirrored in the
        // oracle SQL) removed both
        .repartition(s.sparkContext.defaultParallelism, col("cell"))
        .select(col("cell"), col("off"),
          graft.functions.TraceExprs.longModToDouble(
            sequence((col("ok") + 1L + col("ln")) * 8L,
              ((col("ok") + 1L) * 1000L + col("ln")) * 8L,
              (col("ok") + 1L) * 8L), 8000L).as("v"))
      TraceOps.moveoutScan(df, Seq("cell"), "v", nSamples = 1000,
        offsetCol = "off", candidates = cands, emitStack = true,
        coherence = "semblance")
        .select(col("cell"), col("best_shift"), col("n_traces"),
          col("semblance"),
          element_at(col("stack"), 1).as("s1"),
          element_at(col("stack"), 500).as("s500"),
          element_at(col("stack"), 1000).as("s1000"))
    }),
    // the VELOCITY-SPECTRUM PANEL, short shape: windowed semblance per
    // candidate per position (window 3, clipped edges) — every value an
    // exact decimal ratio, all candidates emitted (no argmax)
    "q_moveout_panel" -> ((s, d) => {
      val df = lineitem(s, d).select(
        col("l_suppkey").as("cell"),
        (col("l_linenumber") - 1).cast("double").as("off"),
        array(col("l_partkey").cast("double"),
          (col("l_orderkey") % 997).cast("double"),
          (col("l_partkey") % 733).cast("double")).as("v"))
      TraceOps.semblancePanel(df, Seq("cell"), "v", nSamples = 3,
        offsetCol = "off", candidates = Seq(0.0, 0.25, 0.5, 0.75),
        window = 3)
        .select(col("cell"), col("shift"), col("n_traces"),
          element_at(col("panel"), 1).as("v1"),
          element_at(col("panel"), 2).as("v2"),
          element_at(col("panel"), 3).as("v3"))
    }),
    // the panel at FULL shape: 1000 samples × 16 candidates × window 121
    // — the windowed prefix-sum eval stays exact at this length, so the
    // probed panel values hash-match; 512 cells × 16 candidates = 8192
    // rows of (cell, shift, probes)
    "q_moveout_panel_long" -> ((s, d) => {
      val cands = (0 until 16).map(_ / 8.0)
      val df = lineitem(s, d)
        .where(col("l_orderkey") % 16 === 0)
        .select((col("l_suppkey") % 512).as("cell"),
          (col("l_linenumber") - 1).cast("double").as("off"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        // by-cell partitioning: one state buffer per cell total (see
        // q_trace_stack_long's note). cell has 512 distinct values at
        // sf0.1+ (l_suppkey % 512, ~73-trace gathers), so hash-
        // partitioning keeps every box up to 512 cores busy — the r17
        // 64-cell modulus silently capped busy tasks on wider boxes and
        // forced a Bench refusal; raising the modulus (mirrored in the
        // oracle SQL) removed both
        .repartition(s.sparkContext.defaultParallelism, col("cell"))
        .select(col("cell"), col("off"),
          graft.functions.TraceExprs.longModToDouble(
            sequence((col("ok") + 1L + col("ln")) * 8L,
              ((col("ok") + 1L) * 1000L + col("ln")) * 8L,
              (col("ok") + 1L) * 8L), 8000L).as("v"))
      TraceOps.semblancePanel(df, Seq("cell"), "v", nSamples = 1000,
        offsetCol = "off", candidates = cands, window = 121)
        .select(col("cell"), col("shift"), col("n_traces"),
          element_at(col("panel"), 1).as("v1"),
          element_at(col("panel"), 500).as("v500"),
          element_at(col("panel"), 1000).as("v1000"))
    }),
    // format 5 (IEEE float32) end to end through the symmetric DSv2
    // surface — completes the oracle-gated sample-format matrix
    // (1 std/ibm, 2/8 fmt28, 3 fmt3, 6 fmt6, 5 here)
    "q_segy_fmt5_roundtrip" -> ((s, d) => {
      val f = graft.core.TempDirs.scratch("segy_fmt5_rt") + "/rt.sgy"
      lineitem(s, d).select(
          col("l_orderkey").cast("int").as("inline"),
          col("l_linenumber").cast("int").as("crossline"),
          array(col("l_partkey").cast("float"),
            (-col("l_partkey")).cast("float")).as("samples"))
        .write.format("segy").option("fields", "inline,crossline")
        .option("formatCode", "5")
        .option("nSamples", "2") // fixed by the projection; skips take(1)
        .mode("overwrite").save(f)
      s.read.format("segy").option("fields", "inline,crossline").load(f)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).cast("long").as("s1"),
          element_at(col("samples"), 2).cast("long").as("s2"))
    }),
    // E5 masked export under the oracle: mask → bbox trim → projection →
    // global ordered seq, the composition a masked SEG-Y export drives
    "q_masked_export" -> ((s, d) =>
      graft.`export`.SegyExport.maskedExport(
        lineitem(s, d),
        mask = col("l_quantity") > 25,
        dims = Seq("l_suppkey", "l_partkey"),
        headerFields = Seq("l_suppkey", "l_orderkey", "l_linenumber"),
        orderKeys = Seq("l_suppkey", "l_orderkey", "l_linenumber"))),
    // the fully SYMMETRIC DSv2 table surface: df.write.format("segy")
    // (V1-fallback into the one serialization + ordered parallel
    // positioned-write path) then spark.read.format("segy") (schema from
    // the binary header, samples decoded in the reader, byte-layer
    // pruning) — both directions of the idiomatic-Spark face under one
    // oracle hash
    "q_segy_dsv2_roundtrip" -> ((s, d) => {
      val f = graft.core.TempDirs.scratch("segy_dsv2_rt") + "/rt.sgy"
      lineitem(s, d).select(
          col("l_orderkey").cast("int").as("inline"),
          col("l_linenumber").cast("int").as("crossline"),
          array(col("l_partkey").cast("float")).as("samples"))
        .write.format("segy").option("fields", "inline,crossline")
        .option("nSamples", "1") // fixed by the projection; skips take(1)
        .mode("overwrite").save(f)
      s.read.format("segy").option("fields", "inline,crossline").load(f)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).cast("long").as("pk"))
    }),
    // format-3 (int16) standard roundtrip — what real field data ships:
    // three signed int16 samples per trace packed/decoded by the native
    // BeIntAt kernel family, negatives included, overflow-checked on write
    "q_segy_fmt3_roundtrip" -> ((s, d) => {
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.sources.SegyRead
      import SegyRead.StandardFields.{Crossline, Inline}
      val src = lineitem(s, d).select(
        col("l_orderkey").cast("int").as("il"),
        col("l_linenumber").cast("int").as("xl"),
        array((col("l_partkey") % 20000 - 10000).cast("int"),
          (-(col("l_partkey") % 20000) + 10000).cast("int"),
          (col("l_orderkey") % 100).cast("int")).as("v"))
      val records = SegyExport.serializeStandardTraces(
        src.orderBy("il", "xl")
          .withColumn("samples", SegyExport.intPayload(col("v"), 3, formatCode = 3)),
        Seq(Inline -> "il", Crossline -> "xl"), "samples")
      val f = graft.core.TempDirs.scratch("segy_fmt3_rt") + "/rt.sgy"
      SegyExport.writeSegy(records, f,
        SegyHeaders.sanitizeTextHeader(Seq("C 1 GRAFT FORMAT-3 ROUNDTRIP")),
        SegyExport.standardBinaryHeader(nSamples = 3, sampleInterval = 2000,
          formatCode = 3))
      s.read.format("segy").option("fields", "inline,crossline").load(f)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).cast("long").as("s1"),
          element_at(col("samples"), 2).cast("long").as("s2"),
          element_at(col("samples"), 3).cast("long").as("s3"))
    }),
    // format-6 (rev-2 IEEE float64) standard roundtrip: three doubles per
    // trace through the raw-bits encode (DoubleBits) and the native
    // BeDoubleAt decode — bit-exact by construction, so the oracle just
    // recomputes the sample formulas from lineitem (negatives and an exact
    // /64 division exercise sign and mantissa bytes)
    "q_segy_fmt6_roundtrip" -> ((s, d) => {
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.sources.SegyRead
      import SegyRead.StandardFields.{Crossline, Inline}
      val src = lineitem(s, d).select(
        col("l_orderkey").cast("int").as("il"),
        col("l_linenumber").cast("int").as("xl"),
        array(col("l_extendedprice"),
          -col("l_extendedprice"),
          col("l_partkey").cast("double") / 64.0).as("v"))
      val records = SegyExport.serializeStandardTraces(
        src.orderBy("il", "xl")
          .withColumn("samples", SegyExport.ieee64Payload(col("v"), 3)),
        Seq(Inline -> "il", Crossline -> "xl"), "samples")
      val f = graft.core.TempDirs.scratch("segy_fmt6_rt") + "/rt.sgy"
      SegyExport.writeSegy(records, f,
        SegyHeaders.sanitizeTextHeader(Seq("C 1 GRAFT FORMAT-6 ROUNDTRIP")),
        SegyExport.standardBinaryHeader(nSamples = 3, sampleInterval = 2000,
          formatCode = 6))
      s.read.format("segy").option("fields", "inline,crossline").load(f)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).as("s1"),
          element_at(col("samples"), 2).as("s2"),
          element_at(col("samples"), 3).as("s3"))
    }),
    // the other two integer sample formats through the same write→read
    // identity: format 2 (int32, ±1e9 values exercise all four bytes) and
    // format 8 (signed int8), one file each, joined on the grid key
    "q_segy_fmt28_roundtrip" -> ((s, d) => {
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.sources.SegyRead
      import SegyRead.StandardFields.{Crossline, Inline}
      def file(fmt: Int, mk: org.apache.spark.sql.Column): String = {
        val src = lineitem(s, d).select(
          col("l_orderkey").cast("int").as("il"),
          col("l_linenumber").cast("int").as("xl"), mk.as("v"))
        val records = SegyExport.serializeStandardTraces(
          src.orderBy("il", "xl")
            .withColumn("samples",
              SegyExport.intPayload(col("v"), 2, formatCode = fmt)),
          Seq(Inline -> "il", Crossline -> "xl"), "samples")
        val f = graft.core.TempDirs.scratch(s"segy_fmt${fmt}_rt") + "/rt.sgy"
        SegyExport.writeSegy(records, f,
          SegyHeaders.sanitizeTextHeader(Seq(s"C 1 GRAFT FORMAT-$fmt RT")),
          SegyExport.standardBinaryHeader(nSamples = 2, sampleInterval = 2000,
            formatCode = fmt))
        f
      }
      // the two format exports are independent (disjoint scratch files) —
      // overlap them (guide §2.6): each is a sort+serialize+write chain
      // whose straggler tail the other's tasks backfill
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val f2F = Future(file(2, array(
        (col("l_partkey") % 20000 * 100000 - 1000000000).cast("int"),
        (-(col("l_partkey") % 20000) * 100000 + 1000000000).cast("int"))))
      val f8F = Future(file(8, array(
        (col("l_partkey") % 255 - 127).cast("int"),
        (col("l_orderkey") % 200 - 100).cast("int"))))
      val f2 = Await.result(f2F, Duration.Inf)
      val f8 = Await.result(f8F, Duration.Inf)
      def decoded(f: String, fmt: Int) =
        s.read.format("segy").option("fields", "inline,crossline").load(f)
          .select(col("inline").as("il"), col("crossline").as("xl"),
            lit(fmt.toLong).as("fmt"),
            element_at(col("samples"), 1).cast("long").as("s1"),
            element_at(col("samples"), 2).cast("long").as("s2"))
      decoded(f2, 2).unionByName(decoded(f8, 8))
    }),
    // native codegen'd IBM hex-float decode over synthesized bit patterns
    "q_ibm_decode" -> ((s, d) => {
      import graft.functions.IbmFloatDecode
      val pos = (col("l_orderkey") % 1000000L + 1090000000L).cast("int")
      val neg = (-(col("l_orderkey") % 1000000L) - 1090000000L).cast("int")
      lineitem(s, d).select(col("l_orderkey"),
        IbmFloatDecode(pos).as("v_pos"), IbmFloatDecode(neg).as("v_neg"))
    }),
    // --- §3.1 end-to-end ingest: strategies → invariants → stats → store --
    "q_ingest_e2e" -> ((s, d) => {
      import s.implicits._
      import graft.ingestion._
      import graft.schema.DatasetTemplate
      import graft.storage.MdioDataset
      val tmpl = DatasetTemplate("LineitemGrid", "time",
        Seq("l_suppkey", "l_partkey", "time"), Seq(8, 8, 512))
      val path = graft.core.TempDirs.scratch("ingest")
      val traces = lineitem(s, d).select("l_suppkey", "l_partkey",
        "l_orderkey", "l_linenumber", "l_extendedprice")
      val r = IngestPipeline.ingest(s, traces, tmpl,
        GridOverrides(hasDuplicates = true), path,
        ordinal = Seq("l_orderkey", "l_linenumber"),
        valueCol = "l_extendedprice", sparsityError = 1e9)
      val ds = MdioDataset.open(s, path)
      // one pruned scan answers both post-ingest checks
      val chk = ds.df.agg(count(lit(1)).as("n"), max(col("trace")).as("m")).first()
      val storeRows = chk.getLong(0)
      val traceMax = chk.getLong(1)
      Seq((r.nTraces, r.nCells, traceMax, storeRows, r.stats.sum))
        .toDF("n_rows", "n_cells", "trace_max", "store_rows", "sum_val")
    }),
    // the reference's ACTUAL segy_to_mdio entry point, oracle-gated end to
    // end (converters/segy.py:44-80 -> ingestion/segy/pipeline.py:117-195):
    // lineitem is serialized as a standard rev-1 SEG-Y file (il/xl as
    // custom header fields + one format-2 int32 cents sample, written in
    // (il, xl, ok, ln) order so trace_index numbers duplicates the way that
    // order does), then Mdio.segyStandardToMdio runs file bytes
    // -> split-fanned header scan -> sample decode -> index strategies ->
    // grid QC -> write-pass stats -> dim tables -> store; the row checks
    // the pipeline result, the REOPENED store, and the dim tables against
    // DuckDB over the same projection — every seam on one green row
    "q_segy_file_ingest" -> ((s, d) => {
      import s.implicits._
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.ingestion._
      import graft.schema.DatasetTemplate
      import graft.storage.MdioDataset
      val cents = (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")
      val fields = Seq(graft.sources.SegyRead.HeaderField("il", 9, 4),
        graft.sources.SegyRead.HeaderField("xl", 13, 4))
      val src = lineitem(s, d).select(
        col("l_suppkey").cast("int").as("il"),
        col("l_partkey").cast("int").as("xl"),
        col("l_orderkey").cast("int").as("ok"),
        col("l_linenumber").cast("int").as("ln"),
        array(cents.cast("int")).as("cents"))
      val records = SegyExport.serializeStandardTraces(
        src.orderBy("il", "xl", "ok", "ln")
          .withColumn("samples", SegyExport.intPayload(col("cents"), 1, formatCode = 2)),
        fields.map(f => f -> f.name), "samples")
      val f = graft.core.TempDirs.scratch("segy_file_ingest") + "/in.sgy"
      SegyExport.writeSegy(records, f,
        SegyHeaders.sanitizeTextHeader(Seq("C 1 GRAFT FILE INGEST")),
        SegyExport.standardBinaryHeader(nSamples = 1, sampleInterval = 2000,
          formatCode = 2))
      val tmpl = DatasetTemplate("SegyFileGrid", "time",
        Seq("il", "xl", "time"), Seq(8, 8, 512))
      val path = graft.core.TempDirs.scratch("segy_file_ingest_store")
      val r = Mdio.segyStandardToMdio(s, f, fields.map(_.spec), tmpl,
        GridOverrides(hasDuplicates = true), path, valueCol = "cents",
        sparsityError = 1e9)
      val ds = MdioDataset.open(s, path)
      // all post-ingest checks in ONE action: store agg × two dim-table
      // aggs as 1-row cross joins (broadcast — each side is a single row),
      // dim reads with the known explicit schema so no inference jobs run;
      // this folded 8 driver-sequential jobs into one
      val chkDf = ds.df.agg(
        lit(r.nTraces).as("n_rows"), lit(r.nCells).as("n_cells"),
        max(col("trace")).cast("long").as("trace_max"),
        count(lit(1)).as("store_rows"),
        lit(r.stats.sum).as("sum_val"),
        sum(element_at(col("cents"), 1)).cast("long").as("store_sum"))
      // both dim tables in ONE scan (sibling dirs, same schema), tagged by
      // file path, grouped per dim, then pivoted into the single stats row;
      // the explicit schema (the store's own dim type) skips the
      // footer-inference job a bare read would run
      val dimDt = ds.df.schema("il").dataType.sql
      val byDim = s.read.schema(s"dim_value $dimDt")
        .parquet(s"$path/dims/il", s"$path/dims/xl")
        .select(when(input_file_name().contains("/dims/il/"), lit("il"))
          .otherwise(lit("xl")).as("dim"), col("dim_value"))
        .groupBy("dim")
        .agg(count(lit(1)).as("card"),
          min(col("dim_value").cast("long")).as("mn"),
          max(col("dim_value").cast("long")).as("mx"))
      val dimRow = byDim.agg(
        max(when(col("dim") === "il", col("card"))).as("il_card"),
        max(when(col("dim") === "il", col("mn"))).as("il_min"),
        max(when(col("dim") === "il", col("mx"))).as("il_max"),
        max(when(col("dim") === "xl", col("card"))).as("xl_card"),
        max(when(col("dim") === "xl", col("mn"))).as("xl_min"),
        max(when(col("dim") === "xl", col("mx"))).as("xl_max"))
      chkDf.crossJoin(broadcast(dimRow))
    }),
    // the ingest-tail dim tables through the OVER-THE-GATE branch: the
    // cardinality gate drops to 1 so every dim skips the driver collect_set
    // and writes via the distributed distinct (writeDimDistributed) or the
    // distributed counter range — the scale path gets its own oracle row
    "q_dims_distributed" -> ((s, d) => {
      import graft.ingestion._
      import graft.schema.DatasetTemplate
      val tmpl = DatasetTemplate("LineitemGrid", "time",
        Seq("l_suppkey", "l_partkey", "time"), Seq(8, 8, 512))
      val path = graft.core.TempDirs.scratch("ingest_dims")
      val traces = lineitem(s, d).select("l_suppkey", "l_partkey",
        "l_orderkey", "l_linenumber", "l_extendedprice")
      val prev = s.conf.getOption("graft.dims.driverMaxValues")
      s.conf.set("graft.dims.driverMaxValues", "1")
      try IngestPipeline.ingest(s, traces, tmpl,
        GridOverrides(hasDuplicates = true), path,
        ordinal = Seq("l_orderkey", "l_linenumber"),
        valueCol = "l_extendedprice", sparsityError = 1e9)
      finally prev.fold(s.conf.unset("graft.dims.driverMaxValues"))(v =>
        s.conf.set("graft.dims.driverMaxValues", v))
      Seq("l_suppkey", "l_partkey", "trace").map(dim =>
          s.read.parquet(s"$path/dims/$dim")
            .select(lit(dim).as("dim_name"),
              col("dim_value").cast("long").as("dim_value")))
        .reduce(_ unionAll _)
    }),
    // --- S4/S5: MDIO store write→open→sel round-trip --------------------
    // S7 under the oracle: write store -> MDIO->MDIO copy (sidecar,
    // layout and data travel; excludeColumns drops a variable like the
    // reference's copy --exclude) -> select + aggregate over the COPY
    "q_store_copy" -> ((s, d) => {
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("store_copy_src")
      val dst = graft.core.TempDirs.scratch("store_copy_dst")
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity",
          "l_extendedprice")
      val schema = MdioSchema(
        variables = Seq(Variable("l_quantity", Seq("l_orderkey", "l_linenumber"),
          Left(ScalarType.Float64), compressor = Some(Blosc()))),
        metadata = DatasetMetadata("lineitem-slice", "1.0.0", "2026-01-01T00:00:00Z"))
      MdioDataset.write(li, path, schema, sortDims = Seq("l_suppkey"))
      Mdio.copyMdio(s, path, dst, excludeColumns = Seq("l_extendedprice"))
      val copied = MdioDataset.open(s, dst)
      require(!copied.df.columns.contains("l_extendedprice"),
        "copy must drop excluded columns")
      copied
        .sel("l_suppkey" -> Selection.Point(7L))
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),
    "q_store_roundtrip" -> ((s, d) => {
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("store")
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val schema = MdioSchema(
        variables = Seq(Variable("l_quantity", Seq("l_orderkey", "l_linenumber"),
          Left(ScalarType.Float64), compressor = Some(Blosc()))),
        metadata = DatasetMetadata("lineitem-slice", "1.0.0", "2026-01-01T00:00:00Z"))
      MdioDataset.write(li, path, schema, sortDims = Seq("l_suppkey"))
      MdioDataset.open(s, path)
        .sel("l_suppkey" -> Selection.Point(7L))
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),
    // --- S4/S5 via DataSourceV2: format("mdio") read AND write under the
    // oracle gate: half the rows land through the Scala API, the other half
    // through df.write.format("mdio").mode("append") — the aggregate only
    // matches DuckDB's full-lineitem answer if the DSv2 append really lands
    "q_store_v2" -> ((s, d) => {
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("storev2")
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val schema = MdioSchema(
        variables = Seq(Variable("l_quantity", Seq("l_orderkey", "l_linenumber"),
          Left(ScalarType.Float64), compressor = Some(Blosc()))),
        metadata = DatasetMetadata("lineitem-v2", "1.0.0", "2026-01-01T00:00:00Z"))
      MdioDataset.write(li.where(col("l_orderkey") % 2 === 0), path, schema,
        sortDims = Seq("l_suppkey"))
      li.where(col("l_orderkey") % 2 =!= 0)
        .write.format("mdio").mode("append").save(path)
      s.read.format("mdio").load(path)        // the DSv2 surface
        .where(col("l_suppkey") === 7L)
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),
    // compaction correctness: three append-accumulated file sets fold back
    // into the recorded layout; the oracle checks the compacted store is
    // row-identical to the source table
    "q_store_compact" -> ((s, d) => {
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("store_compact")
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val schema = MdioSchema(
        variables = Seq(Variable("l_quantity", Seq("l_orderkey", "l_linenumber"),
          Left(ScalarType.Float64), compressor = Some(Blosc()))),
        metadata = DatasetMetadata("lineitem-compact", "1.0.0",
          "2026-01-01T00:00:00Z"))
      MdioDataset.write(li.where(col("l_suppkey") % 3 === 0), path, schema,
        sortDims = Seq("l_suppkey"))
      (1 to 2).foreach(m =>
        li.where(col("l_suppkey") % 3 === m)
          .write.format("mdio").mode("append").save(path))
      val (nb, na) = MdioDataset.compact(s, path)
      require(na < nb, s"compact must shrink the file count: $nb -> $na")
      s.read.format("mdio").load(path)
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),
    // --- O1: access-pattern materialization + catalog resolve ------------
    "q_access_fast" -> ((s, d) => {
      import graft.operators.AccessPatterns
      val base = graft.core.TempDirs.scratch("ap")
      val li = lineitem(s, d).select("l_partkey", "l_orderkey", "l_extendedprice")
      li.write.parquet(s"$base/base")
      AccessPatterns.optimize(li, base, Seq("l_partkey"))
      AccessPatterns.resolve(s, base, "base", "l_partkey")
        .where(col("l_partkey") < 100)
        .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
    }),
    // HLL cardinality: 64 deterministic registers over the orderkey
    // stream, raw estimate (no ln corrections — transcendental-free),
    // emitted beside the exact distinct for the error story. One pass:
    // the exact count rides the register aggregate (each key owns one
    // register, so per-register distincts sum to the global distinct)
    // instead of a second full scan — value-identical, oracle-pinned.
    "q_hll_distinct" -> ((s, d) =>
      Hll.estimateWithExact(
        lineitem(s, d).select(col("l_orderkey").as("k")), "k")),
    // grouped HLL: distinct users per event type, one 64-register sketch
    // per group beside the exact distinct
    "q_hll_grouped" -> ((s, d) => {
      val keys = events(s, d).select(col("event_type"), col("user_id").as("k"))
      Hll.estimateByGroup(
          Hll.registersByGroup(keys, "k", "event_type"), "event_type")
        .join(keys.groupBy(col("event_type"))
          .agg(countDistinct(col("k")).cast("long").as("true_n")),
          "event_type")
    }),
    // deterministic per-source cap (anti-dominance gate): at most 10 docs
    // per source, kept set stable across reruns/engines (md5-ranked)
    "q_cap_group" -> ((s, d) =>
      Sampling.capPerGroup(
        documents(s, d).select("doc_id", "source"), "source", cap = 10)),
    // count-min sketch: 4×64 deterministic md5-60 counters over the token
    // stream; the exact top-10 terms' estimates ride the broadcast counter
    // table — over-count-only error, bit-replayable in SQL
    "q_cms_terms" -> ((s, d) => {
      val toks = graft.core.Scratch.rebalance(documents(s, d), heavy = true)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      val cnts = Cms.counters(toks, "term", d = 4, w = 64)
      val top = toks.groupBy(col("term"))
        .agg(count(lit(1)).cast("long").as("true_n"))
        .orderBy(col("true_n").desc, col("term")).limit(10)
      Cms.estimate(cnts, top, "term", d = 4, w = 64)
        .join(top, "term")
        .select(col("term"), col("true_n"), col("est_n"))
    }),
    // per-group top-k WITHOUT the window sort: a k-bounded
    // TypedImperativeAggregate combines map-side, so tasks ship top-k
    // candidates per group instead of every row — rank ties total-ordered
    // by (value DESC, id), oracled against the window formulation
    "q_topk_group" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.TopKAgg.topK(col("l_extendedprice"),
          col("l_orderkey") * 10 + col("l_linenumber"), 3).as("top"))
        .select(col("l_returnflag"), posexplode(col("top")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rank"),
          col("col.v").as("price"), col("col.id").as("id"))),
    // skew-proof salted join: the fact side scatters per-row to one of 8
    // salt buckets, the dim side replicates to all 8 — row-identical to
    // the plain join (oracle is exactly that), hot keys spread 8-wide
    "q_salted_join" -> ((s, d) =>
      graft.operators.SaltedJoin.join(
          lineitem(s, d).select("l_orderkey", "l_quantity"),
          orders(s, d).select(col("o_orderkey").as("l_orderkey"),
            col("o_orderstatus")),
          on = Seq("l_orderkey"), salts = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))),
    // ADVERSARIAL-SKEW variant (the salted-join half of the r17 #6 ask,
    // beside q_neardup_lsh_skew's cap half): 30% of fact rows collapse
    // onto ONE hot key — a catastrophic Zipf head a plain hash join would
    // put on a single task — and the salted path must stay row-identical
    // to the plain-join oracle. The task-level spread itself is pinned in
    // SaltedJoinSpec ("the hot key spreads across salt buckets"); this
    // row pins the RESULT under the skew the spread exists for.
    "q_salted_join_skew" -> ((s, d) => {
      val hot = (c: org.apache.spark.sql.Column) =>
        when(c % 10 < 3, lit(0L)).otherwise(c)
      val fact = lineitem(s, d).select(hot(col("l_orderkey")).as("k"),
        col("l_quantity"))
      val dim = orders(s, d).select(hot(col("o_orderkey")).as("k"),
          col("o_orderstatus"))
        .groupBy(col("k")).agg(min(col("o_orderstatus")).as("status"))
      graft.operators.SaltedJoin.join(fact, dim, on = Seq("k"), salts = 8)
        .groupBy(col("status"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
    }),
    // co-located join: both sides written bucketed on the join key, then
    // sort-merge-joined with broadcast disabled — correctness gated here,
    // the NO-exchange plan shape pinned in BucketingSpec (at 100 TB this
    // deletes the dominant shuffle from every repeated fact join)
    "q_bucketed_join" -> ((s, d) => {
      import graft.storage.Bucketing
      val li = lineitem(s, d).select("l_orderkey", "l_quantity",
        "l_extendedprice")
      val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
      Bucketing.writeBucketed(li, "q_bkt_lineitem", Seq("l_orderkey"), 8)
      Bucketing.writeBucketed(ord.withColumnRenamed("o_orderkey", "l_orderkey"),
        "q_bkt_orders", Seq("l_orderkey"), 8)
      s.table("q_bkt_lineitem").join(s.table("q_bkt_orders"), "l_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
    }),
    // multi-dim clustering: write the Z-order (Morton) layout over two
    // grid dims, re-read it, and run the two-dim bounding box — count,
    // decimal-exact sum, and the min/max stored _zkey gate both the
    // interleave arithmetic and layout invariance (same rows back)
    "q_zorder" -> ((s, d) => {
      import graft.operators.AccessPatterns
      val base = graft.core.TempDirs.scratch("zorder")
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val zp = AccessPatterns.optimizeZorder(li, base,
        Seq("l_suppkey", "l_linenumber"), bits = 16)
      s.read.parquet(zp)
        .where(col("l_suppkey").between(10, 50) &&
          col("l_linenumber").between(2, 5))
        // the layout is schema-identical (sort key dropped at write); the
        // key recomputed at read still gates the interleave arithmetic
        .withColumn("_zkey", AccessPatterns.zorderKey(
          Seq(col("l_suppkey"), col("l_linenumber")), 16))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"),
          min(col("_zkey")).as("zmin"), max(col("_zkey")).as("zmax"))
    }),
    "q_boilerplate" -> ((s, d) =>
      Dedup.boilerplateShingles(documents(s, d))),
    // decontamination: test split (src1) vs the rest of the corpus
    "q_contamination" -> ((s, d) => {
      val docs = documents(s, d)
      Dedup.contamination(docs.where(col("source") =!= "src1"),
        docs.where(col("source") === "src1"))
    }),
    // bloom-prefiltered decontamination: identical answer (the exact join
    // removes bloom false positives), shuffle carries only might-match grams
    "q_contamination_bloom" -> ((s, d) => {
      val docs = documents(s, d)
      Dedup.contaminationBloom(docs.where(col("source") =!= "src1"),
        docs.where(col("source") === "src1"))
    }),
    // near-dup clusters: LSH pairs → connected components → survivors
    "q_dedup_components" -> ((s, d) =>
      Dedup.dupComponents(Dedup.nearDupPairs(documents(s, d)))
        .select(col("id").as("doc_id"), col("component"), col("is_survivor"))),
    // quality-ranked cluster survivors: keep each near-dup component's
    // best-quality member (ties → lowest id), not the min id
    "q_dedup_components_best" -> ((s, d) => {
      val docs = documents(s, d)
      Dedup.componentSurvivorsBest(
        Dedup.dupComponents(Dedup.nearDupPairs(docs)),
        TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality")))
    }),
    // --- SemDeDup + deterministic sampling -------------------------------
    "q_semantic_dedup" -> ((s, d) =>
      Dedup.semanticDedup(embeddings(s, d), minCosine = 0.4)),
    "q_sample_stratified" -> ((s, d) =>
      Sampling.stratifiedSample(documents(s, d), "source",
        rates = Map("src1" -> 0.8, "src2" -> 0.5, "src3" -> 0.05),
        defaultRate = 0.25)
        .select("doc_id", "source")),
    // mixture sampling to a token budget: per-source keep rates derived
    // from target shares vs actual source token mass (src1 oversubscribes
    // and clamps to keep-all; absent sources drop entirely)
    "q_mixture_sample" -> ((s, d) =>
      Sampling.mixtureSample(documents(s, d),
        shares = Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.125),
        tokenBudget = 4000L)),
    // corpus snapshot diff: the incremental-processing primitive — v2 is a
    // deterministic mutation of v1 (drops %7, rewrites %5, adds %11 under
    // shifted ids); downstream stages consume added ∪ changed, never 100 TB
    "q_corpus_diff" -> ((s, d) => {
      val docs = documents(s, d).select("doc_id", "text")
      val v2 = docs.where(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L))
      CorpusPrep.corpusDiff(docs, v2)
    }),
    // --- corpus prep: every sketch column in one pass, materialized ------
    "q_corpus_prep" -> ((s, d) => {
      val path = graft.core.TempDirs.scratch("corpus")
      CorpusPrep.prepare(documents(s, d), path)
        .select("doc_id", "fp", "simhash", "sig_h", "quality", "keep",
                "n_ws_tokens", "n_bpeish")
    }),
    // --- V240 raw headers: pack → hex (round-trip store/parse in specs) --
    "q_raw_headers" -> ((s, d) => {
      import graft.sources.Sources
      val fields = Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey")
      Sources.withRawHeaders(lineitem(s, d).select(fields.map(col): _*), fields)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
                col("l_partkey"), hex(col("raw_headers")).as("header_hex"))
    }),
    // --- O1 lossy path: sidecar stats → ZFP-style tolerance → bound ------
    "q_quantize" -> ((s, d) => {
      import graft.operators.{AccessPatterns, Stats}
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("quant")
      val li = lineitem(s, d).select("l_orderkey", "l_linenumber", "l_extendedprice")
      // decimal-exact summary stats (the q_stats formulas), stored in the
      // sidecar like ingest does — the metadata-sized driver value
      val st = Stats.summaryStats(li, "l_extendedprice").first()
      val stats = SummaryStatistics(st.getAs[Long]("n"), st.getAs[Double]("sum_val"),
        st.getAs[Double]("sumsq_val"), st.getAs[Double]("min_val"),
        st.getAs[Double]("max_val"))
      val schema = MdioSchema(
        variables = Seq(Variable("l_extendedprice", Seq("l_orderkey", "l_linenumber"),
          Left(ScalarType.Float64),
          metadata = Some(VariableMetadata(statsV1 = Some(stats))))),
        metadata = DatasetMetadata("quantize-demo", "1.0.0", "2026-01-01T00:00:00Z"))
      MdioDataset.write(li, path, schema)
      val h = MdioDataset.open(s, path)
      // tolerance = quality × sidecar-std; fast copy is written quantized
      val tol = AccessPatterns.optimizeStore(h, Seq("l_orderkey"),
        "l_extendedprice", quality = 0.5)
      val fast = s.read.parquet(AccessPatterns.fastTablePath(path, "l_orderkey"))
      val qx = AccessPatterns.quantize(col("l_extendedprice"), tol)
      val baseAgg = h.df.agg(
        count(lit(1)).as("n_rows"),
        max(abs(col("l_extendedprice") - qx)).as("_max_err"))
      val fastAgg = fast.agg(
        min(col("l_extendedprice")).as("min_q"),
        max(col("l_extendedprice")).as("max_q"),
        count(lit(1)).as("n_fast"))
      baseAgg.crossJoin(fastAgg)            // 1×1 scalar combine
        .select(col("n_rows"), lit(tol).as("tolerance"),
          (col("_max_err") <= tol).as("within_tol"),
          col("min_q"), col("max_q"), col("n_fast"))
    }),
    // the transform-coded lossy storage path end to end UNDER ORACLE:
    // pack (index+delta+zigzag+byte-plane) → parquet binary → read →
    // unpack. Samples are half-integers, exactly ON the tol=0.25 grid, so
    // the decode must reproduce the INPUTS bit-for-bit and the oracle is
    // the identity — any rounding, delta or plane bug breaks the hash
    "q_quantize_packed" -> ((s, d) => {
      import graft.operators.AccessPatterns
      val tol = 0.25
      val path = graft.core.TempDirs.scratch("qpack")
      lineitem(s, d).select(
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          array(col("l_partkey").cast("float"),
            ((col("l_orderkey") % 997).cast("double") / 2.0).cast("float"),
            (-col("l_linenumber") * 7).cast("float")).as("v"))
        .select(col("ok"), col("ln"),
          AccessPatterns.packQuantized(col("v"), tol).as("enc"))
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .select(col("ok"), col("ln"),
          AccessPatterns.unpackQuantized(col("enc"), tol).as("r"))
        .select(col("ok"), col("ln"),
          element_at(col("r"), 1).cast("double").as("r1"),
          element_at(col("r"), 2).cast("double").as("r2"),
          element_at(col("r"), 3).cast("double").as("r3"))
    }),
    // --- LLM pipeline: multimodal plumbing ------------------------------
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.attachPayload(documents(s, d))
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
                col("meta.digest").as("digest"))),
    // exploded to (doc_id, idx, value) rows — array columns crash the
    // driver's pandas hash compare, and exploded doubles are oracle-checkable
    "q_multimodal_features" -> ((s, d) =>
      Multimodal.withFeatures(Multimodal.attachPayload(documents(s, d)))
        .select(col("doc_id"), posexplode(col("features")))
        .select(col("doc_id"), col("pos").cast("long").as("idx"),
                col("col").as("value"))),
    // the REAL decode path under oracle: synthesize an actual binary PPM
    // per doc IN-PLAN (header + 4x2 RGB pixels from a closed-form formula
    // of doc_id), run the true byte parser through the batched decode
    // stage, and the oracle recomputes the channel means from the same
    // formula — the row only matches if the parser reads the bytes right
    // REAL audio decode: a PCM16 WAV file per doc synthesized in-plan
    // (header + LIST metadata chunk built driver-side as constant bytes;
    // sample words packed little-endian in SQL), parsed back by the RIFF
    // chunk walk — amplitude stats are integer-exact so the oracle
    // recomputes them from the sample FORMULA, proving the byte path
    "q_multimodal_wav" -> ((s, d) => {
      val n = 8
      // sample i of doc: v = ((doc_id*7 + i*13) % 65536) - 32768, an int16;
      // its unsigned LE word is v & 0xFFFF = (u + 32768) % 65536 (the
      // sign-bit flip of u = (doc_id*7 + i*13) % 65536)
      val sampleHex = concat((0 until n).flatMap { i =>
        val w = ((col("doc_id") * 7 + lit(13 * i)) % 65536 + 32768) % 65536
        Seq(lpad(hex(w % 256), 2, "0"), lpad(hex(floor(w / 256)), 2, "0"))
      }: _*)
      // header with CORRECT sizes for n samples: synthesize a zero-filled
      // file of the right length and keep everything before the samples
      val header = Multimodal.wavFileJvm(Array.fill[Short](n)(0), 8000, 1,
        listPayload = "INFOgenerated-fixture ".getBytes("US-ASCII"))
        .dropRight(2 * n)
      val payload = concat(lit(header),
        call_function("to_binary", sampleHex, lit("hex")))
      Multimodal.decodeWavBatched(
        documents(s, d).select(col("doc_id"), payload.as("payload")))
    }),
    "q_multimodal_ppm" -> ((s, d) => {
      val w = 4; val h = 2
      // pixel (x, y) channels: r = (doc_id + 10x) % 256, g = (doc_id +
      // 100y) % 256, b = doc_id % 256 — every byte a deterministic int
      val pixelHex = concat(
        (for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) yield {
          val v = c match {
            case 0 => (col("doc_id") + lit(10 * x)) % 256
            case 1 => (col("doc_id") + lit(100 * y)) % 256
            case 2 => col("doc_id") % 256
          }
          lpad(hex(v), 2, "0")
        }): _*)
      val payload = concat(
        lit(s"P6\n$w $h\n255\n".getBytes("US-ASCII")),
        call_function("to_binary", pixelHex, lit("hex")))
      Multimodal.decodePpmBatched(
          documents(s, d).select(col("doc_id"), payload.as("payload")))
        .select(col("doc_id"), col("ok"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    }),
    // the same real-decode gate through a BMP container: uncompressed
    // device-independent bitmap, ImageIO-written and read back through the
    // identical container-agnostic decode stage as PNG
    "q_multimodal_bmp" -> ((s, d) => {
      import s.implicits._
      val w = 4; val h = 2
      val payloads = documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.imageFileJvm(w, h, "bmp", (x, y) => (
            ((id + 10 * x) % 256).toInt,
            ((id + 100 * y) % 256).toInt,
            (id % 256).toInt)))
        }).toDF("doc_id", "payload")
      Multimodal.decodeImageBatched(payloads)
        .select(col("doc_id"), col("ok"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    }),
    "q_multimodal_png" -> ((s, d) => {
      // REAL PNG end to end: synthesize a 5x3 PNG per doc JVM-side
      // (ImageIO encode; pixels r = (doc_id + 10x) % 256, g = (doc_id +
      // 100y) % 256, b = doc_id % 256), decode through the ImageIO batched
      // stage, and emit exact channel means — PNG is lossless, so the
      // oracle recomputes the means straight from the pixel formula
      import s.implicits._
      val w = 5; val h = 3
      val payloads = documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.pngFileJvm(w, h, (x, y) => (
            ((id + 10 * x) % 256).toInt,
            ((id + 100 * y) % 256).toInt,
            (id % 256).toInt)))
        }).toDF("doc_id", "payload")
      Multimodal.decodeImageBatched(payloads)
        .select(col("doc_id"), col("ok"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    }),
  )

  // SQL shared between standalone entries and the q_corpus_prep combine
  private val qualitySqlStr =
    """WITH t AS (SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
      |  FROM documents),
      |m AS (SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars_c,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_filter(toks, x -> lower(x) IN
      |      ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS n_stop,
      |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)
      |      AS n_punct,
      |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_tok
      |  FROM t)
      |SELECT doc_id,
      |  (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
      |  + (CASE WHEN CAST(sum_tok AS DOUBLE) / n_tokens BETWEEN 2.0 AND 12.0
      |      THEN 1.0 ELSE 0.0 END) * 0.2
      |  + (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.01 THEN 1.0 ELSE 0.0 END) * 0.2
      |  + (CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_c < 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
      |    AS quality,
      |  (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
      |  + (CASE WHEN CAST(sum_tok AS DOUBLE) / n_tokens BETWEEN 2.0 AND 12.0
      |      THEN 1.0 ELSE 0.0 END) * 0.2
      |  + (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.01 THEN 1.0 ELSE 0.0 END) * 0.2
      |  + (CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_c < 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
      |    >= 0.6 AS keep
      |FROM m""".stripMargin

  private val fingerprintSqlStr =
    """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      |FROM documents""".stripMargin

  private val tokenCountSqlStr =
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT)
      |    AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text,
      |    '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+', 0))
      |    AS BIGINT) AS n_bpeish
      |FROM documents""".stripMargin

  /** DuckDB-equivalent SQL per query (same column names; see scaladoc above).
    * The sketch/ANN queries hash with md5-60 ([[graft.functions.CrossHash]]),
    * which DuckDB replicates bit-for-bit — their SQL is generated by
    * [[OracleSqlGen]] from the same constants the Spark expressions use.
    */
  def oracleSql: Map[String, String] = Map(
    "q_dims" ->
      """SELECT DISTINCT l_shipdate AS dim_value FROM lineitem
        |WHERE l_shipdate IS NOT NULL ORDER BY dim_value""".stripMargin,
    "q_dim_summary" ->
      """SELECT min(l_shipdate) AS l_shipdate_min, max(l_shipdate) AS l_shipdate_max,
        |  count(DISTINCT l_shipdate) AS l_shipdate_n,
        |  min(l_suppkey) AS l_suppkey_min, max(l_suppkey) AS l_suppkey_max,
        |  count(DISTINCT l_suppkey) AS l_suppkey_n,
        |  min(l_partkey) AS l_partkey_min, max(l_partkey) AS l_partkey_max,
        |  count(DISTINCT l_partkey) AS l_partkey_n
        |FROM lineitem""".stripMargin,
    "q_grid_map" ->
      """WITH idx AS (
        |  SELECT l_orderkey, l_suppkey, l_linenumber,
        |    CAST(dense_rank() OVER (ORDER BY l_suppkey) - 1 AS BIGINT) AS l_suppkey_idx,
        |    CAST(dense_rank() OVER (ORDER BY l_linenumber) - 1 AS BIGINT) AS l_linenumber_idx
        |  FROM lineitem)
        |SELECT l_orderkey, l_suppkey, l_linenumber, l_suppkey_idx, l_linenumber_idx,
        |  l_suppkey_idx * (SELECT count(DISTINCT l_linenumber) FROM lineitem)
        |    + l_linenumber_idx AS cell
        |FROM idx""".stripMargin,
    "q_grid_unique" ->
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT (l_orderkey, l_linenumber)) AS n_cells,
        |  count(*) = count(DISTINCT (l_orderkey, l_linenumber)) AS all_unique
        |FROM lineitem""".stripMargin,
    "q_sparsity" ->
      """WITH s AS (SELECT count(*) AS n_rows,
        |    count(DISTINCT l_suppkey) AS l_suppkey_n,
        |    count(DISTINCT l_partkey) AS l_partkey_n
        |  FROM lineitem)
        |SELECT n_rows, l_suppkey_n, l_partkey_n,
        |  CAST(l_suppkey_n * l_partkey_n AS BIGINT) AS grid_size,
        |  CAST(l_suppkey_n * l_partkey_n AS DOUBLE) / n_rows AS sparsity,
        |  CAST(l_suppkey_n * l_partkey_n AS DOUBLE) / n_rows > 2.0 AS warn,
        |  CAST(l_suppkey_n * l_partkey_n AS DOUBLE) / n_rows > 10.0 AS error
        |FROM s""".stripMargin,
    "q_dup" ->
      """SELECT l_suppkey, l_partkey, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER (PARTITION BY l_suppkey, l_partkey
        |    ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS trace
        |FROM lineitem""".stripMargin,
    "q_nonbin" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber) AS BIGINT) AS trace
        |FROM lineitem""".stripMargin,
    "q_synth" ->
      "SELECT l_orderkey, l_linenumber, 1 AS component FROM lineitem",
    "q_chanwrap_detect" ->
      """WITH r AS (SELECT l_suppkey AS cable, min(l_linenumber) AS mn,
        |    max(l_linenumber) AS mx FROM lineitem GROUP BY 1),
        |o AS (SELECT count(*) AS n_overlap FROM r a JOIN r b
        |  ON a.cable < b.cable AND a.mn <= b.mx AND b.mn <= a.mx)
        |SELECT (SELECT count(*) FROM r) AS n_cables,
        |  (SELECT n_overlap FROM o) > 0 AS has_overlap,
        |  CASE WHEN (SELECT n_overlap FROM o) > 0 THEN 'A' ELSE 'B' END AS geometry_type""".stripMargin,
    "q_chanwrap" ->
      """SELECT l_suppkey, l_orderkey,
        |  CAST(l_orderkey - min(l_orderkey) OVER (PARTITION BY l_suppkey) + 1 AS BIGINT)
        |    AS channel_wrapped
        |FROM lineitem""".stripMargin,
    "q_shotidx" ->
      """SELECT o_custkey, o_orderdate,
        |  CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) - 1 AS BIGINT)
        |    AS shot_index
        |FROM orders""".stripMargin,
    "q_shotidx_floor" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(floor(o_orderkey / 4) - min(floor(o_orderkey / 4))
        |    OVER (PARTITION BY o_custkey) AS BIGINT) AS shot_index
        |FROM orders""".stripMargin,
    "q_stats" ->
      """WITH m AS (SELECT l_extendedprice AS x FROM lineitem
        |    WHERE l_extendedprice IS NOT NULL AND l_extendedprice != 0),
        |s AS (SELECT count(x) AS n, min(x) AS min_val, max(x) AS max_val,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_val,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |      AS sumsq_val
        |  FROM m)
        |SELECT n, min_val, max_val, sum_val, sumsq_val,
        |  sum_val / n AS mean_val,
        |  sumsq_val / n - (sum_val / n) * (sum_val / n) AS var_val,
        |  sqrt(sumsq_val / n - (sum_val / n) * (sum_val / n)) AS std_val
        |FROM s""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(least(greatest(floor((l_quantity - 0.0) / 50.0 * 10), 0), 9) AS BIGINT)
        |    AS bucket,
        |  count(*) AS n,
        |  0.0 + CAST(least(greatest(floor((l_quantity - 0.0) / 50.0 * 10), 0), 9) AS BIGINT)
        |    * 5.0 AS bin_lo
        |FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1""".stripMargin,
    "q_stats_hist" -> {
      val bins = (0 until 10).map(i =>
        s"  count(*) FILTER (WHERE bin = $i) AS hist_$i").mkString(",\n")
      s"""WITH b AS (SELECT l_quantity AS x,
         |    CAST(least(greatest(floor((l_quantity - 0.0) / (50.0 - 0.0) * 10), 0), 9) AS BIGINT) AS bin
         |  FROM lineitem WHERE l_quantity IS NOT NULL)
         |SELECT count(*) AS n, min(x) AS min_val, max(x) AS max_val,
         |  CAST(CAST(sum(CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_val,
         |  CAST(CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
         |    AS sumsq_val,
         |$bins
         |FROM b""".stripMargin
    },
    "q_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_geom" ->
      """SELECT l_suppkey, min(l_linenumber) AS v_min, max(l_linenumber) AS v_max,
        |  count(DISTINCT l_orderkey) AS n_distinct, count(*) AS n_rows
        |FROM lineitem GROUP BY l_suppkey""".stripMargin,
    "q_geom_guns" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_shots, count(*) AS n_rows
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q_coord" ->
      """SELECT c_nationkey, min_by(c_acctbal, c_custkey) / 100.0 AS c_acctbal
        |FROM customer GROUP BY c_nationkey""".stripMargin,
    "q_mask_bbox" ->
      """SELECT min(l_shipdate) AS l_shipdate_lo, max(l_shipdate) AS l_shipdate_hi,
        |  min(l_orderkey) AS l_orderkey_lo, max(l_orderkey) AS l_orderkey_hi,
        |  count(*) AS n_live
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 25""".stripMargin,
    "q_mask_rows" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 25""".stripMargin,
    "q_select" ->
      """SELECT * FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-03-01 00:00:00'
        |    AND TIMESTAMP '1995-06-30 00:00:00'
        |  AND l_returnflag = 'A' AND l_linenumber IN (1, 2, 3)""".stripMargin,
    // positions resolve through row_number over the same sorted distinct
    // coordinate sets the engine's dim tables hold
    "q_isel" ->
      """WITH sk AS (SELECT l_suppkey,
        |    row_number() OVER (ORDER BY l_suppkey) - 1 AS p
        |  FROM (SELECT DISTINCT l_suppkey FROM lineitem)),
        |ln AS (SELECT l_linenumber,
        |    row_number() OVER (ORDER BY l_linenumber) - 1 AS p
        |  FROM (SELECT DISTINCT l_linenumber FROM lineitem)),
        |rf AS (SELECT l_returnflag,
        |    row_number() OVER (ORDER BY l_returnflag) - 1 AS p,
        |    count(*) OVER () AS n
        |  FROM (SELECT DISTINCT l_returnflag FROM lineitem))
        |SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT l_suppkey FROM sk WHERE p >= 3 AND p < 8)
        |  AND l_linenumber IN (SELECT l_linenumber FROM ln WHERE p IN (0, 1, 2))
        |  AND l_returnflag IN (SELECT l_returnflag FROM rf WHERE p = n - 1)
        |GROUP BY 1""".stripMargin,
    "q_proj" ->
      "SELECT l_linenumber, l_suppkey, l_orderkey, l_extendedprice FROM lineitem",
    "q_export_order" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER (ORDER BY l_suppkey, l_orderkey, l_linenumber) - 1 AS BIGINT)
        |    AS seq
        |FROM lineitem""".stripMargin,
    "q_events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_exact_quantiles" ->
      """WITH c AS (SELECT l_quantity AS x FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM c),
        |m AS (SELECT count(*) AS n FROM c)
        |SELECT CAST(m.n AS BIGINT) AS n,
        |  max(CASE WHEN rn = CAST(ceil(0.25 * m.n) AS BIGINT) THEN x END) AS p25,
        |  max(CASE WHEN rn = CAST(ceil(0.50 * m.n) AS BIGINT) THEN x END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.75 * m.n) AS BIGINT) THEN x END) AS p75,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * m.n) AS BIGINT) THEN x END) AS p99
        |FROM r, m GROUP BY m.n""".stripMargin,
    "q_exact_quantiles_refine" ->
      """WITH c AS (SELECT l_extendedprice * l_extendedprice AS x
        |    FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM c),
        |m AS (SELECT count(*) AS n FROM c)
        |SELECT CAST(m.n AS BIGINT) AS n,
        |  max(CASE WHEN rn = CAST(ceil(0.25 * m.n) AS BIGINT) THEN x END) AS p25,
        |  max(CASE WHEN rn = CAST(ceil(0.50 * m.n) AS BIGINT) THEN x END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.75 * m.n) AS BIGINT) THEN x END) AS p75,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * m.n) AS BIGINT) THEN x END) AS p99
        |FROM r, m GROUP BY m.n""".stripMargin,
    "q_props_stats" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS n_with_key,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_v,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS min_v,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS max_v
        |FROM events GROUP BY 1""".stripMargin,
    // append-mode emission: a window flushes when the final watermark
    // (max event time − 2h delay) passes its end
    "q_stream_hourly" ->
      """WITH mx AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events),
        |agg AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    event_type, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, n_events, sum_value FROM agg, mx
        |WHERE hour + INTERVAL 1 HOUR <= wm""".stripMargin,
    // emitted sessions: closed by a successor (not the user's latest) or
    // timed out (session_end + gap strictly before the final watermark);
    // seedless ordered list_reduce replays the stateful double fold
    "q_stream_state_sessions" ->
      """WITH mx AS (SELECT (epoch_us(max(ts)) // 1000) * 1000
        |    - 3600000000 AS wm_us FROM events),
        |x AS (SELECT user_id, ts, value, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |sess AS (SELECT user_id, ts, value, event_id,
        |    CAST(sum(CASE WHEN prev_ts IS NULL
        |        OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x),
        |agg AS (SELECT user_id, sid, min(ts) AS session_start,
        |    max(ts) AS session_end, CAST(count(*) AS BIGINT) AS n_events,
        |    list_reduce(list(value ORDER BY ts, event_id),
        |      (x, y) -> x + y) AS sum_value
        |  FROM sess GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY session_start DESC) AS rn FROM agg)
        |SELECT user_id, session_start, session_end, n_events, sum_value
        |FROM rk, mx
        |WHERE rn > 1
        |  OR (epoch_us(session_end) // 1000) * 1000 + 1800000000
        |    < wm_us""".stripMargin,
    "q_stream_store" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    // duplicates share text byte-for-byte, so the survivor projection is
    // one row per distinct content hash regardless of which arrival won
    "q_stream_dedup" ->
      """SELECT md5(text) AS h, CAST(length(text) AS BIGINT) AS n_chars_c
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // delay covers the fixture span ⇒ no eviction ⇒ batch-equal survivors
    "q_stream_dedup_wm" ->
      """SELECT md5(text) AS h, CAST(length(text) AS BIGINT) AS n_chars_c
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // the streaming flag set distincts to exactly the batch banded pair set
    "q_stream_neardup" -> OracleSqlGen.nearDupLshSql(),
    // half-built half-streamed index, EXACT ranking == full-corpus BM25
    "q_stream_bm25" -> OracleSqlGen.bm25Sql(bm25Queries, k = 10),
    "q_stream_join" ->
      """WITH c AS (SELECT event_id, user_id, ts AS click_ts FROM events
        |    WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.click_ts, p.p_ts, p.purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c.click_ts BETWEEN p.p_ts
        |    AND p.p_ts + INTERVAL 2 HOUR""".stripMargin,
    "q_asof_fwd" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM events
        |    WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, l.ts,
        |  coalesce(r.ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
        |  r.value AS asof_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,
    "q_price_histogram" ->
      """SELECT CAST(CASE WHEN l_extendedprice < 0.0 THEN 0
        |    WHEN l_extendedprice >= 100000.0 THEN 21
        |    ELSE floor(l_extendedprice / 5000.0) + 1 END AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_asof_tol" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM events
        |    WHERE event_type = 'purchase'),
        |j AS (SELECT l.event_id, l.user_id, l.ts, r.ts AS rts, r.value
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND l.ts >= r.ts),
        |t AS (SELECT event_id, user_id, ts,
        |    CASE WHEN rts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(rts) <= 3600000000
        |      THEN rts END AS m_ts,
        |    CASE WHEN rts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(rts) <= 3600000000
        |      THEN value END AS m_value
        |  FROM j)
        |SELECT event_id, user_id, ts,
        |  coalesce(m_ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
        |  m_value AS asof_value
        |FROM t""".stripMargin,
    "q_range_join" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS win_start,
        |    ts + INTERVAL 2 HOUR AS win_end, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts, p.win_start, p.win_end,
        |  p.purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c.ts BETWEEN p.win_start AND p.win_end""".stripMargin,
    // each event lands in exactly 4 hopping windows: the 15-min-floor and
    // the 3 slides before it (half-open [start, start+1h) like Spark)
    "q_events_sliding" ->
      """WITH ks AS (SELECT unnest(range(0, 4)) AS k),
        |w AS (SELECT event_type, value,
        |    make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000)
        |      AS win_start
        |  FROM events, ks)
        |SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, '<all>') AS flag,
        |  coalesce(CAST(l_linenumber AS VARCHAR), '<all>') AS line,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linenumber)""".stripMargin,
    "q_pivot" ->
      """SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY 1""".stripMargin,
    // greedy-earliest strict chain == min-after-min-after-min (the fold
    // advances on the first qualifying event of each sorted list)
    "q_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t,
        |    CASE event_type WHEN 'signup' THEN 0 WHEN 'click' THEN 1
        |      WHEN 'purchase' THEN 2 ELSE -1 END AS i
        |  FROM events
        |  WHERE event_type IN ('signup', 'click', 'purchase')),
        |u0 AS (SELECT user_id, min(t) AS t1 FROM e WHERE i = 0 GROUP BY 1),
        |u1 AS (SELECT e.user_id, min(e.t) AS t2 FROM e
        |  JOIN u0 ON e.user_id = u0.user_id
        |  WHERE e.i = 1 AND e.t > u0.t1 GROUP BY 1),
        |u2 AS (SELECT e.user_id, min(e.t) AS t3 FROM e
        |  JOIN u1 ON e.user_id = u1.user_id
        |  WHERE e.i = 2 AND e.t > u1.t2 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |  (SELECT CAST(count(*) AS BIGINT) FROM u0) AS n_users
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click',
        |  (SELECT CAST(count(*) AS BIGINT) FROM u1)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase',
        |  (SELECT CAST(count(*) AS BIGINT) FROM u2)""".stripMargin,
    "q_funnel_latency" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t,
        |    CASE event_type WHEN 'signup' THEN 0 WHEN 'click' THEN 1
        |      WHEN 'purchase' THEN 2 ELSE -1 END AS i
        |  FROM events
        |  WHERE event_type IN ('signup', 'click', 'purchase')),
        |u0 AS (SELECT user_id, min(t) AS t1 FROM e WHERE i = 0 GROUP BY 1),
        |u1 AS (SELECT e.user_id, min(e.t) AS t2 FROM e
        |  JOIN u0 ON e.user_id = u0.user_id
        |  WHERE e.i = 1 AND e.t > u0.t1 GROUP BY 1),
        |u2 AS (SELECT e.user_id, min(e.t) AS t3 FROM e
        |  JOIN u1 ON e.user_id = u1.user_id
        |  WHERE e.i = 2 AND e.t > u1.t2 GROUP BY 1),
        |dur AS (SELECT u2.t3 - u0.t1 AS dur_us FROM u2
        |  JOIN u0 ON u2.user_id = u0.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_completers,
        |  CAST(sum(dur_us) AS BIGINT) AS total_us,
        |  CAST(sum(dur_us) AS DOUBLE) / count(*) AS mean_us
        |FROM dur""".stripMargin,
    "q_retention" ->
      """WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT strftime(fs.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', fs.cohort_day, act.day) AS BIGINT)
        |    AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM act JOIN fs ON act.user_id = fs.user_id
        |WHERE date_diff('day', fs.cohort_day, act.day) BETWEEN 0 AND 7
        |GROUP BY 1, 2""".stripMargin,
    "q_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM events
        |    WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, l.ts,
        |  coalesce(r.ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
        |  r.value AS asof_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    // sessions rebuilt batch-side (lag/gap), flushed when the final
    // watermark passes session_end = last event + gap
    "q_stream_sessions" ->
      """WITH mx AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events),
        |x AS (SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
        |    event_id
        |  FROM events),
        |sess AS (SELECT user_id, ts, value,
        |    CAST(sum(CASE WHEN prev_ts IS NULL
        |        OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x)
        |SELECT min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, user_id,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess, mx GROUP BY user_id, sid, wm
        |HAVING max(ts) + INTERVAL 30 MINUTE <= wm""".stripMargin,
    // the bounded-state variant emits the SAME session set (time-ordered
    // slices make no event late; the final watermark and flush rule are
    // unchanged) — the oracle is deliberately identical
    "q_stream_sessions_bounded" ->
      """WITH mx AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events),
        |x AS (SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
        |    event_id
        |  FROM events),
        |sess AS (SELECT user_id, ts, value,
        |    CAST(sum(CASE WHEN prev_ts IS NULL
        |        OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM x)
        |SELECT min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, user_id,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess, mx GROUP BY user_id, sid, wm
        |HAVING max(ts) + INTERVAL 30 MINUTE <= wm""".stripMargin,
    "q_sessionize" ->
      """WITH x AS (SELECT event_id, user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT event_id, user_id, ts,
        |  CAST(sum(CASE WHEN prev_ts IS NULL
        |      OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM x""".stripMargin,
    "q_session_stats" ->
      """WITH x AS (SELECT event_id, user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |sess AS (SELECT event_id, user_id, ts,
        |    CAST(sum(CASE WHEN prev_ts IS NULL
        |        OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM x)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  date_diff('second', min(ts), max(ts)) AS duration_s
        |FROM sess GROUP BY 1, 2""".stripMargin,
    "q_coord_checked" ->
      """SELECT c_nationkey, min_by(c_acctbal, c_custkey) / 100.0 AS c_acctbal,
        |  count(DISTINCT c_acctbal) AS n_values,
        |  count(DISTINCT c_acctbal) = 1 AS consistent
        |FROM customer GROUP BY c_nationkey""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,
    "q_dedup_survivors" ->
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)",
    "q_dedup_best" ->
      """WITH t AS (SELECT doc_id, md5(text) AS h, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, h,
        |    CAST(length(text) AS BIGINT) AS n_chars_c,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> lower(x) IN
        |      ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS n_stop,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)
        |      AS n_punct,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_tok
        |  FROM t),
        |q AS (SELECT doc_id, h,
        |    (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.4
        |    + (CASE WHEN CAST(sum_tok AS DOUBLE) / n_tokens BETWEEN 2.0 AND 12.0
        |        THEN 1.0 ELSE 0.0 END) * 0.2
        |    + (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.01 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + (CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_c < 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        |      AS quality
        |  FROM m)
        |SELECT doc_id FROM (SELECT doc_id,
        |    row_number() OVER (PARTITION BY h ORDER BY quality DESC, doc_id) AS rn
        |  FROM q) WHERE rn = 1""".stripMargin,
    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "q_jaccard_blocked" -> OracleSqlGen.blockedJaccardSql(),
    "q_neardup_lsh" -> OracleSqlGen.nearDupLshSql(),
    "q_neardup_lsh_skew" -> OracleSqlGen.nearDupLshSql(maxBucketSize = 64,
      docsFrom = "(SELECT doc_id, CASE WHEN doc_id % 10 < 3 THEN " +
        s"'$SkewBoilerplate' || ' ' || text ELSE text END AS text " +
        "FROM documents) skew_docs"),
    // the lifecycle must land exactly where the batch plan lands
    "q_neardup_index" -> OracleSqlGen.nearDupLshSql(),
    "q_stream_neardup_index" -> OracleSqlGen.nearDupLshSql(),
    "q_dup_ngram_spans" -> OracleSqlGen.dupNgramSpansSql(),
    "q_dup_token_frac" ->
      s"""WITH sp0 AS (${OracleSqlGen.dupNgramSpansSql()}),
        |sp AS (SELECT doc_id, sum(span_tokens) AS dup FROM sp0 GROUP BY 1),
        |d AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
        |      w -> w != '')) AS BIGINT) AS n
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(sp.dup), 0) AS BIGINT) AS n_dup_tokens,
        |  CAST(coalesce(sum(sp.dup), 0) AS DOUBLE) / sum(n) AS dup_frac
        |FROM d LEFT JOIN sp USING (doc_id)
        |GROUP BY 1""".stripMargin,
    "q_para_dedup" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents),
        |prep AS (SELECT doc_id, list_transform(
        |    range(0, greatest((len(toks) - 1) // 3, 0) + 1),
        |    i -> array_to_string(list_slice(toks, i * 3 + 1, i * 3 + 3), ' '))
        |    AS paras
        |  FROM tok),
        |p0 AS (SELECT doc_id, unnest(paras) AS para,
        |    unnest(range(0, len(paras))) AS ord
        |  FROM prep),
        |p AS (SELECT doc_id, ord, para,
        |    ('0x' || substr(md5(para), 1, 15))::BIGINT AS phash
        |  FROM p0 WHERE trim(para) != ''),
        |w1 AS (SELECT phash, min(doc_id) AS wdoc FROM p GROUP BY 1),
        |w2 AS (SELECT p.phash, w1.wdoc, min(p.ord) AS word
        |  FROM p JOIN w1 ON p.phash = w1.phash AND p.doc_id = w1.wdoc
        |  GROUP BY 1, 2),
        |kept AS (SELECT p.doc_id, p.ord, p.para
        |  FROM p JOIN w2 ON p.phash = w2.phash AND p.doc_id = w2.wdoc
        |    AND p.ord = w2.word),
        |agg AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY ord)
        |    AS clean_text, count(*) AS n_kept
        |  FROM kept GROUP BY 1),
        |np AS (SELECT doc_id,
        |    CAST(len(list_filter(paras, x -> trim(x) != '')) AS BIGINT)
        |      AS n_paras
        |  FROM prep)
        |SELECT np.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
        |  np.n_paras, CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
        |  np.n_paras - CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM np LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_line_filter" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents),
        |prep AS (SELECT doc_id, list_transform(
        |    range(0, greatest((len(toks) - 1) // 3, 0) + 1),
        |    i -> array_to_string(list_slice(toks, i * 3 + 1, i * 3 + 3), ' '))
        |    AS parts
        |  FROM tok),
        |p AS (SELECT doc_id, unnest(parts) AS line,
        |    unnest(range(0, len(parts))) AS ord
        |  FROM prep),
        |h AS (SELECT doc_id, ord,
        |    ('0x' || substr(md5(line), 1, 15))::BIGINT AS lh
        |  FROM p WHERE length(line) >= 5),
        |banned AS (SELECT lh FROM h GROUP BY 1
        |  HAVING count(DISTINCT doc_id) >= 3),
        |bad AS (SELECT doc_id, ord FROM h JOIN banned USING (lh)),
        |kept AS (SELECT p.doc_id, p.ord, p.line FROM p
        |  LEFT JOIN bad ON p.doc_id = bad.doc_id AND p.ord = bad.ord
        |  WHERE bad.ord IS NULL),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ord)
        |    AS clean_text, count(*) AS n_kept
        |  FROM kept GROUP BY 1),
        |nl AS (SELECT doc_id, CAST(len(parts) AS BIGINT) AS n_lines
        |  FROM prep)
        |SELECT nl.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
        |  nl.n_lines, CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept
        |FROM nl LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q_dedup_components" -> OracleSqlGen.dedupComponentsSql(),
    "q_dedup_components_best" ->
      s"""WITH c AS (${OracleSqlGen.dedupComponentsSql()}),
         |q AS ($qualitySqlStr),
         |j AS (SELECT c.component, c.doc_id, q.quality
         |  FROM c JOIN q USING (doc_id))
         |SELECT component, doc_id AS best_id FROM (
         |  SELECT component, doc_id,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY quality DESC, doc_id) AS rn
         |  FROM j) WHERE rn = 1""".stripMargin,
    "q_boilerplate" -> OracleSqlGen.boilerplateSql(),
    "q_contamination" -> OracleSqlGen.contaminationSql(),
    // bloom prefilter is answer-invariant → same oracle as q_contamination
    "q_contamination_bloom" -> OracleSqlGen.contaminationSql(),
    "q_simhash" -> OracleSqlGen.simhashSql(),
    "q_neardup_simhash" -> OracleSqlGen.simhashNearDupSql(),
    "q_ann_lsh" -> OracleSqlGen.annLshSql(bits = 4, tables = 8, dim = 64,
      nQueries = 10, k = 10),
    // lean layout selects identical candidates ⇒ identical oracle
    "q_ann_lsh_lean" -> OracleSqlGen.annLshSql(bits = 4, tables = 8, dim = 64,
      nQueries = 10, k = 10),
    // identical table after appends ⇒ identical search ⇒ same oracle
    "q_stream_ann_lsh" -> OracleSqlGen.annLshSql(bits = 4, tables = 8,
      dim = 64, nQueries = 10, k = 10),
    "q_ann_topk_filtered" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
        |    FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec
        |    FROM embeddings WHERE label % 2 = 0),
        |s AS (SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qvec, cvec) AS sim
        |  FROM q, c WHERE neighbor_id != query_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s
        |QUALIFY rank <= 10""".stripMargin,
    "q_ann_ivf_filtered" -> OracleSqlGen.annIvfFilteredSql(nProbe = 4,
      dim = 64, nQueries = 10, k = 10, neFilter = "nm.label % 2 = 0"),
    "q_ann_ivf" -> OracleSqlGen.annIvfSql(nProbe = 4, dim = 64,
      nQueries = 10, k = 10),
    "q_ann_ivf_2l" -> OracleSqlGen.annIvfSql(nProbe = 4, dim = 64,
      nQueries = 10, k = 10, fixedNCells = Some(64)),
    "q_ann_recall" -> OracleSqlGen.annRecallSql(bits = 4, tables = 8,
      nProbe = 4, dim = 64, nQueries = 10, k = 10, m = 8, ksub = 16),
    "q_pq_codes" -> OracleSqlGen.pqCodesSql(m = 8, ksub = 16, dim = 64),
    "q_pq_adc" -> OracleSqlGen.pqAdcSql(m = 8, ksub = 16, dim = 64,
      nQueries = 10, k = 10),
    "q_ann_ivfpq" -> OracleSqlGen.ivfPqAdcSql(nProbe = 4, m = 8, ksub = 16,
      dim = 64, nQueries = 10, k = 10),
    "q_ann_ivfpq_rerank" -> OracleSqlGen.ivfPqRerankSql(nProbe = 4, m = 8,
      ksub = 16, dim = 64, nQueries = 10, k = 10, nRerank = 30),
    "q_ann_ivfpq_res" -> OracleSqlGen.ivfPqResidualSql(nProbe = 4, m = 8,
      ksub = 16, dim = 64, nQueries = 10, k = 10),
    "q_sq_codes" -> OracleSqlGen.sqCodesSql(dim = 64),
    "q_sq_adc" -> OracleSqlGen.sqAdcSql(dim = 64, nQueries = 10, k = 10),
    "q_multimodal_features" -> OracleSqlGen.multimodalFeaturesSql(),
    "q_raw_headers" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey,
        |  lpad(to_hex(l_orderkey & 4294967295), 8, '0')
        |  || lpad(to_hex(l_linenumber & 4294967295), 8, '0')
        |  || lpad(to_hex(l_suppkey & 4294967295), 8, '0')
        |  || lpad(to_hex(l_partkey & 4294967295), 8, '0')
        |  || repeat('00', 224) AS header_hex
        |FROM lineitem""".stripMargin,
    "q_quantize" ->
      """WITH m AS (SELECT l_extendedprice AS x FROM lineitem
        |    WHERE l_extendedprice IS NOT NULL AND l_extendedprice != 0),
        |s AS (SELECT count(x) AS n,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_val,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |      AS sumsq_val
        |  FROM m),
        |t AS (SELECT 0.5 * sqrt(sumsq_val / n - (sum_val / n) * (sum_val / n)) AS tol FROM s),
        |q AS (SELECT l_extendedprice AS x,
        |    round(l_extendedprice / (2 * tol)) * (2 * tol) AS xq, tol
        |  FROM lineitem, t)
        |SELECT count(*) AS n_rows, any_value(tol) AS tolerance,
        |  max(abs(x - xq)) <= any_value(tol) AS within_tol,
        |  min(xq) AS min_q, max(xq) AS max_q, count(*) AS n_fast
        |FROM q""".stripMargin,
    // grid-exact inputs → the packed codec must return them untouched;
    // the oracle is therefore the inputs themselves
    "q_quantize_packed" ->
      """SELECT l_orderkey AS ok, l_linenumber AS ln,
        |  CAST(l_partkey AS DOUBLE) AS r1,
        |  CAST(l_orderkey % 997 AS DOUBLE) / 2.0 AS r2,
        |  CAST(-(l_linenumber * 7) AS DOUBLE) AS r3
        |FROM lineitem""".stripMargin,
    "q_text_stats" ->
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents)
        |SELECT doc_id, length(text) AS n_chars_c, len(toks) AS n_tokens,
        |  len(list_filter(toks, x -> lower(x) IN
        |    ('the','a','an','and','or','of','to','in','is','it'))) AS n_stopwords,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_token_len,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
        |    AS mean_token_len,
        |  CAST(len(list_filter(toks, x -> lower(x) IN
        |    ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE) / len(toks)
        |    AS stopword_ratio
        |FROM t""".stripMargin,
    "q_gopher_rules" -> OracleSqlGen.gopherRulesSql(),
    // the same projection in-stream is the same table
    "q_stream_quality" -> OracleSqlGen.gopherRulesSql(),
    "q_llm_prep_e2e" -> {
      val lsh = OracleSqlGen.nearDupLshSql(docsFrom = "ke")
      s"""WITH t0 AS (SELECT doc_id, text, source,
        |    list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
        |      AS BIGINT) AS sum_tok_len,
        |    CAST(length(text) - length(replace(text, '#', ''))
        |      + (length(text) - length(replace(text, '...', ''))) // 3
        |      AS BIGINT) AS n_symbol,
        |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(
        |      ['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(list_transform(toks, w -> lower(w)), s)))
        |      AS BIGINT) AS n_req_stop
        |  FROM t0),
        |keepg AS (SELECT doc_id, n_tokens FROM g
        |  WHERE n_tokens BETWEEN 10 AND 100000
        |    AND CAST(sum_tok_len AS DOUBLE) / n_tokens BETWEEN 3.0 AND 10.0
        |    AND CAST(n_symbol AS DOUBLE) / n_tokens <= 0.1
        |    AND CAST(n_alpha AS DOUBLE) / n_tokens >= 0.8
        |    AND n_req_stop >= 1),
        |kq AS (SELECT t0.doc_id, t0.text, t0.source, keepg.n_tokens
        |  FROM t0 JOIN keepg USING (doc_id)),
        |ex AS (SELECT min(doc_id) AS doc_id FROM kq GROUP BY md5(text)),
        |ke AS (SELECT kq.* FROM kq JOIN ex USING (doc_id)),
        |pairs AS ($lsh),
        |dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM ke
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |GROUP BY 1""".stripMargin
    },
    "q_lang_id" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS toks,
        |    CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT)
        |      AS n_cjk
        |  FROM documents),
        |s AS (SELECT doc_id, n_cjk,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','a'))) AS score_en,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ist','ein'))) AS score_de,
        |    len(list_filter(toks, x -> x IN ('el','la','los','las','es','y'))) AS score_es,
        |    len(list_filter(toks, x -> x IN ('le','les','des','est','et','du'))) AS score_fr
        |  FROM t)
        |SELECT doc_id, score_en, score_de, score_es, score_fr, n_cjk,
        |  CASE WHEN n_cjk > 0 THEN 'zh'
        |    WHEN score_en = greatest(score_en, score_de, score_es, score_fr)
        |      AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'en'
        |    WHEN score_de = greatest(score_en, score_de, score_es, score_fr)
        |      AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'de'
        |    WHEN score_es = greatest(score_en, score_de, score_es, score_fr)
        |      AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'es'
        |    WHEN score_fr = greatest(score_en, score_de, score_es, score_fr)
        |      AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'fr'
        |    ELSE 'unknown' END AS pred_lang
        |FROM s""".stripMargin,
    "q_quality" -> qualitySqlStr,
    "q_blocklist" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x != '')
        |      AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, t -> t IN ('slow', 'stale', 'legacy')))
        |    AS BIGINT) AS n_blocked,
        |  len(list_filter(toks, t -> t IN ('slow', 'stale', 'legacy'))) > 2
        |    AS blocked
        |FROM t""".stripMargin,
    "q_neardup_recall" -> OracleSqlGen.nearDupRecallSql(sampleFraction = 0.5),
    "q_winnow_pairs" -> OracleSqlGen.winnowPairsSql(minShared = 32),
    "q_editdist_pairs" -> OracleSqlGen.editDistPairsSql(k = 4),
    "q_editdist_dedup" -> OracleSqlGen.editDistDedupSql(k = 4),
    "q_editdist_link" -> OracleSqlGen.editDistLinkSql(k = 4),
    "q_gram_lm" ->
      """WITH nm AS (SELECT doc_id,
        |    regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(length(t) - 2, 0) + 1),
        |    i -> substr(t, i, 3))) AS gram FROM nm),
        |tf AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf
        |  FROM g GROUP BY 1, 2),
        |mdl AS (SELECT gram, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
        |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_grams,
        |    CAST(sum(tf * cf) AS BIGINT) AS sum_cf,
        |    CAST(sum(CASE WHEN cf < 5 THEN tf ELSE 0 END) AS BIGINT) AS n_rare
        |  FROM tf JOIN mdl USING (gram) GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.n_grams, 0) AS n_grams,
        |  CASE WHEN a.n_grams > 0
        |    THEN CAST(a.sum_cf AS DOUBLE) / a.n_grams END AS mean_gram_cf,
        |  CASE WHEN a.n_grams > 0
        |    THEN CAST(a.n_rare AS DOUBLE) / a.n_grams END AS rare_frac
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin,
    "q_source_prior" ->
      s"""WITH q AS ($qualitySqlStr),
         |s AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |  FROM documents d JOIN q USING (doc_id) GROUP BY 1)
         |SELECT source, n_docs, n_keep,
         |  CAST(n_keep AS DOUBLE) / n_docs AS keep_frac,
         |  CAST(n_keep AS DOUBLE) / n_docs < 0.5 AS blocked
         |FROM s""".stripMargin,
    "q_fingerprint" -> fingerprintSqlStr,
    "q_token_count" -> tokenCountSqlStr,
    "q_vocab" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
        |      AS token
        |  FROM documents),
        |g AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf,
        |    CAST(count(*) AS BIGINT) AS df
        |  FROM g GROUP BY 1)
        |SELECT token, cf, df FROM v ORDER BY cf DESC, token LIMIT 50""".stripMargin,
    "q_keywords" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
        |      AS token
        |  FROM documents),
        |g AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1),
        |k AS (SELECT g.doc_id, g.token, g.tf, v.df,
        |    CAST(g.tf AS DOUBLE) / v.df AS score
        |  FROM g JOIN v USING (token)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token) AS BIGINT) AS rk FROM k)
        |SELECT doc_id, token, tf, df, score, rk FROM r WHERE rk <= 3""".stripMargin,
    "q_bm25" -> OracleSqlGen.bm25Sql(bm25Queries, k = 10),
    // append+compact must be ranking-invariant: same oracle as q_bm25
    "q_bm25_compact" -> OracleSqlGen.bm25Sql(bm25Queries, k = 10),
    "q_length_quantiles" ->
      """WITH c AS (SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT source, n_tokens,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_tokens, doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_docs
        |  FROM c)
        |SELECT source, max(n_docs) AS n_docs,
        |  max(CASE WHEN rn = CAST(ceil(0.1 * n_docs) AS BIGINT)
        |    THEN n_tokens END) AS p10,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n_docs) AS BIGINT)
        |    THEN n_tokens END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * n_docs) AS BIGINT)
        |    THEN n_tokens END) AS p90
        |FROM r GROUP BY 1""".stripMargin,
    "q_hybrid_rrf" ->
      s"""WITH lex AS (${OracleSqlGen.bm25Sql(bm25Queries, k = 10)}),
         |dense AS (
         |  WITH q AS (SELECT vec_id AS query_id,
         |      CAST(embedding AS DOUBLE[]) AS qvec
         |    FROM embeddings WHERE vec_id < ${bm25Queries.size}),
         |  c AS (SELECT vec_id AS neighbor_id,
         |      CAST(embedding AS DOUBLE[]) AS cvec
         |    FROM embeddings),
         |  s AS (SELECT query_id, neighbor_id,
         |      list_cosine_similarity(qvec, cvec) AS sim
         |    FROM q, c WHERE neighbor_id != query_id)
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM s QUALIFY rank <= 10),
         |u AS (SELECT query_id, doc_id, rank, 'lex' AS src FROM lex
         |  UNION ALL
         |  SELECT query_id, neighbor_id AS doc_id, rank, 'dense' AS src
         |  FROM dense),
         |g AS (SELECT query_id, doc_id,
         |    list_reduce(list(CAST(1.0 AS DOUBLE) / CAST(60 + rank AS DOUBLE)
         |      ORDER BY src, rank), (x, y) -> x + y) AS score
         |  FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id, score, rank FROM (
         |  SELECT query_id, doc_id, score,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |  FROM g)
         |WHERE rank <= 10""".stripMargin,
    "q_bpe_pairs" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
        |      AS token
        |  FROM documents),
        |g AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM g GROUP BY 1),
        |p AS (SELECT substr(token, CAST(i AS INT), 1) AS lhs,
        |    substr(token, CAST(i AS INT) + 1, 1) AS rhs, cf
        |  FROM (SELECT token, cf, unnest(range(1, length(token))) AS i FROM v)),
        |a AS (SELECT lhs, rhs, CAST(sum(cf) AS BIGINT) AS pair_count
        |  FROM p GROUP BY 1, 2)
        |SELECT lhs, rhs, pair_count FROM a
        |ORDER BY pair_count DESC, lhs, rhs LIMIT 50""".stripMargin,
    // round-1 merge: symbols are single chars, so the left-to-right
    // non-overlapping merge IS a string replace; chr(1) marks merge sites
    // so the exploded symbol list re-expands them to the merged pair
    "q_bpe_train1" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
        |      AS token
        |  FROM documents),
        |g AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf FROM g GROUP BY 1),
        |p AS (SELECT substr(token, CAST(i AS INT), 1) AS lhs,
        |    substr(token, CAST(i AS INT) + 1, 1) AS rhs, cf
        |  FROM (SELECT token, cf, unnest(range(1, length(token))) AS i FROM v)),
        |a AS (SELECT lhs, rhs, CAST(sum(cf) AS BIGINT) AS pair_count
        |  FROM p GROUP BY 1, 2),
        |top AS (SELECT lhs, rhs FROM a
        |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
        |m AS (SELECT v.token, v.cf, top.lhs, top.rhs,
        |    replace(v.token, top.lhs || top.rhs, chr(1)) AS r
        |  FROM v, top)
        |SELECT token, cf, CAST(i - 1 AS BIGINT) AS pos,
        |  CASE WHEN substr(r, CAST(i AS INT), 1) = chr(1) THEN lhs || rhs
        |    ELSE substr(r, CAST(i AS INT), 1) END AS symbol
        |FROM (SELECT token, cf, r, lhs, rhs,
        |    unnest(range(1, length(r) + 1)) AS i
        |  FROM m)""".stripMargin,
    "q_bpe_train_loop" -> OracleSqlGen.bpeTrainLoopSql(nMerges = 3),
    "q_bpe_encode" -> OracleSqlGen.bpeEncodeSql(nMerges = 3),
    "q_pii_redact" ->
      """WITH s AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com from 10.0.'
        |      || (doc_id % 256) || '.7 ref 99887766' AS t0
        |  FROM documents),
        |e AS (SELECT doc_id, t0,
        |    CAST(len(regexp_extract_all(t0,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |      AS n_emails,
        |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t1
        |  FROM s),
        |i AS (SELECT doc_id, n_emails,
        |    CAST(len(regexp_extract_all(t1,
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |    regexp_replace(t1, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')
        |      AS t2
        |  FROM e),
        |n AS (SELECT doc_id, n_emails, n_ips,
        |    CAST(len(regexp_extract_all(t2, '\b[0-9]{7,15}\b')) AS BIGINT)
        |      AS n_nums,
        |    regexp_replace(t2, '\b[0-9]{7,15}\b', '<NUM>', 'g') AS t3
        |  FROM i)
        |SELECT doc_id, t3 AS redacted, n_emails, n_ips, n_nums FROM n""".stripMargin,
    "q_repetition" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(toks) > 0
        |      THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |      ELSE 0.0 END AS dup_word_frac,
        |    toks FROM tok),
        |grams AS (
        |  SELECT doc_id, 2 AS n, unnest(CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)),
        |        i -> array_to_string(list_slice(toks, i, i + 1), ' '))
        |      ELSE [] END) AS g
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 3 AS n, unnest(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(list_slice(toks, i, i + 2), ' '))
        |      ELSE [] END) AS g
        |  FROM base),
        |cnt AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
        |agg AS (SELECT doc_id,
        |    CAST(max(CASE WHEN n = 2 THEN c END) AS DOUBLE)
        |      / sum(CASE WHEN n = 2 THEN c ELSE 0 END) AS top_2gram_frac,
        |    CAST(max(CASE WHEN n = 3 THEN c END) AS DOUBLE)
        |      / sum(CASE WHEN n = 3 THEN c ELSE 0 END) AS top_3gram_frac
        |  FROM cnt GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens, b.dup_word_frac, a.top_2gram_frac, a.top_3gram_frac
        |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q_semantic_dedup" -> OracleSqlGen.semanticDedupSql(dim = 64,
      minCosine = 0.4),
    "q_sample_stratified" ->
      """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(md5('sample:' || doc_id), 1, 15))::BIGINT % 10000
        |  < CASE source WHEN 'src1' THEN 8000 WHEN 'src2' THEN 5000
        |    WHEN 'src3' THEN 500 ELSE 2500 END""".stripMargin,
    "q_mixture_sample" ->
      """WITH c AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM c GROUP BY 1),
        |r AS (SELECT source, least(CAST(1.0 AS DOUBLE),
        |    CAST(CASE source WHEN 'src1' THEN 2000.0 WHEN 'src2' THEN 1000.0
        |      WHEN 'src3' THEN 500.0 ELSE 0.0 END AS DOUBLE)
        |    / CAST(src_tokens AS DOUBLE)) AS rate
        |  FROM t)
        |SELECT c.doc_id, c.source, c.n_tokens FROM c JOIN r USING (source)
        |WHERE ('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT % 10000
        |  < CAST(floor(rate * 10000.0) AS BIGINT)""".stripMargin,
    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 != 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 11 = 0),
        |n AS (SELECT doc_id,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM v2)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.fp IS NULL THEN 'added'
        |    WHEN n.fp IS NULL THEN 'removed'
        |    WHEN o.fp = n.fp THEN 'unchanged'
        |    ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,
    "q_corpus_prep" ->
      s"""SELECT q.doc_id, f.fp, sh.simhash, sg.sig_h, q.quality, q.keep,
         |  tc.n_ws_tokens, tc.n_bpeish
         |FROM ($qualitySqlStr) q
         |JOIN ($fingerprintSqlStr) f USING (doc_id)
         |JOIN (${OracleSqlGen.simhashSql()}) sh USING (doc_id)
         |JOIN (${OracleSqlGen.minhashDigestSql()}) sg USING (doc_id)
         |JOIN ($tokenCountSqlStr) tc USING (doc_id)""".stripMargin,
    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
        |    FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cvec
        |    FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qvec, cvec) AS sim
        |  FROM q, c WHERE neighbor_id != query_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        |FROM s
        |QUALIFY rank <= 10""".stripMargin,
    "q_file_info" ->
      """SELECT count(*) AS n_traces, 11 AS n_fields, 'lineitem' AS table_name
        |FROM lineitem""".stripMargin,
    // writer declares (ns=2, interval=3000, fmt=5, rev 1.0, no extended
    // headers); the reader must recover exactly those from the bytes,
    // and n_traces from the file length
    "q_bin_header" ->
      """SELECT count(*) AS n_traces, 3000 AS sample_interval,
        |  2 AS samples_per_trace, 5 AS data_sample_format,
        |  1 AS rev_major, 0 AS rev_minor, 0 AS fixed_flag, 0 AS n_ext
        |FROM lineitem""".stripMargin,
    // byte-path identity: the reader must hand back exactly the projection
    // the writer serialized
    "q_segy_roundtrip" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey AS BIGINT) AS pk
        |FROM lineitem""".stripMargin,
    // the standard-layout stack must reproduce the same projection
    "q_segy_std_roundtrip" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey AS BIGINT) AS pk
        |FROM lineitem""".stripMargin,
    // ... and so must the DSv2 table surface over the same bytes
    "q_segy_dsv2_roundtrip" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey AS BIGINT) AS pk
        |FROM lineitem""".stripMargin,
    "q_segy_dir_ingest" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_traces,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM lineitem""".stripMargin,
    // eighth-sample shifts are dyadic ⇒ pos − floor(pos) recovers sh
    // EXACTLY, and the lerp spells in the same operation order
    "q_trace_shift" ->
      """WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    CAST(l_partkey AS DOUBLE) AS v1,
        |    CAST(l_orderkey % 997 AS DOUBLE) AS v2,
        |    CAST(l_linenumber * 11 AS DOUBLE) AS v3,
        |    CAST(l_orderkey % 8 AS DOUBLE) / 8.0 AS sh
        |  FROM lineitem)
        |SELECT ok, ln, sh,
        |  v1 + (v2 - v1) * sh AS r1,
        |  v2 + (v3 - v2) * sh AS r2,
        |  v3 + (0.0 - v3) * sh AS r3
        |FROM t""".stripMargin,
    // the scan replayed candidate-by-candidate: dyadic shifts keep the
    // lerp exact, decimal sums make stacks order-free, fixed-order energy
    "q_moveout_scan" -> {
      def rExpr(i: Int): String = {
        val i0 = s"CAST(floor($i + sh) AS BIGINT)"
        s"""(coalesce(l[$i0], 0.0)
           |    + (coalesce(l[$i0 + 1], 0.0) - coalesce(l[$i0], 0.0))
           |      * ($i + sh - floor($i + sh)))""".stripMargin
      }
      def eExpr(i: Int): String =
        s"CAST(sum(CAST(r$i AS DECIMAL(28,10))) AS DOUBLE) / count(*)"
      s"""WITH t AS (SELECT l_suppkey AS cell,
        |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
        |    [CAST(l_partkey AS DOUBLE), CAST(l_orderkey % 997 AS DOUBLE),
        |     CAST(l_partkey % 733 AS DOUBLE)] AS l
        |  FROM lineitem),
        |c AS (SELECT unnest([0.0, 0.25, 0.5, 0.75]) AS s),
        |x AS (SELECT cell, s, l, s * off AS sh FROM t, c),
        |r AS (SELECT cell, s,
        |    ${rExpr(1)} AS r1,
        |    ${rExpr(2)} AS r2,
        |    ${rExpr(3)} AS r3
        |  FROM x),
        |stk AS (SELECT cell, s, CAST(count(*) AS BIGINT) AS n,
        |    ${eExpr(1)} AS e1, ${eExpr(2)} AS e2, ${eExpr(3)} AS e3
        |  FROM r GROUP BY 1, 2),
        |nrg AS (SELECT cell, s, n,
        |    e1 * e1 + e2 * e2 + e3 * e3 AS energy,
        |    row_number() OVER (PARTITION BY cell
        |      ORDER BY e1 * e1 + e2 * e2 + e3 * e3 DESC, s) AS rn
        |  FROM stk)
        |SELECT cell, s AS best_shift, n AS n_traces, energy
        |FROM nrg WHERE rn = 1""".stripMargin
    },
    "q_trace_stack" ->
      """SELECT l_suppkey AS cell, CAST(count(*) AS BIGINT) AS n_traces,
        |  CAST(sum(CAST(CAST(l_partkey AS DOUBLE) AS DECIMAL(28,10)))
        |    AS DOUBLE) / count(*) AS s1,
        |  CAST(sum(CAST(CAST(l_linenumber * 7 AS DOUBLE) AS DECIMAL(28,10)))
        |    AS DOUBLE) / count(*) AS s2,
        |  CAST(sum(CAST(CAST(l_orderkey % 1000 AS DOUBLE) AS DECIMAL(28,10)))
        |    AS DOUBLE) / count(*) AS s3
        |FROM lineitem GROUP BY 1""".stripMargin,
    // window-3 AGC over 4 samples, spelled per position (edge windows
    // clip); left-to-right squares fold == Spark's aggregate fold
    "q_trace_agc" ->
      """WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    CAST(l_partkey AS DOUBLE) AS v1,
        |    CAST(l_linenumber * 1000 AS DOUBLE) AS v2,
        |    CAST(l_orderkey % 5000 AS DOUBLE) AS v3,
        |    CAST(250.0 AS DOUBLE) AS v4
        |  FROM lineitem),
        |r AS (SELECT *,
        |    sqrt((v1*v1 + v2*v2) / 2.0) AS rms1,
        |    sqrt((v1*v1 + v2*v2 + v3*v3) / 3.0) AS rms2,
        |    sqrt((v2*v2 + v3*v3 + v4*v4) / 3.0) AS rms3,
        |    sqrt((v3*v3 + v4*v4) / 2.0) AS rms4
        |  FROM t)
        |SELECT ok, ln,
        |  CASE WHEN rms1 > 0.0 THEN v1 / rms1 ELSE 0.0 END AS g1,
        |  CASE WHEN rms2 > 0.0 THEN v2 / rms2 ELSE 0.0 END AS g2,
        |  CASE WHEN rms3 > 0.0 THEN v3 / rms3 ELSE 0.0 END AS g3,
        |  CASE WHEN rms4 > 0.0 THEN v4 / rms4 ELSE 0.0 END AS g4,
        |  0.0 AS m1, 0.0 AS m2, v3 AS m3, v4 AS m4
        |FROM r""".stripMargin,
    // window-121 AGC at 1000 samples, probed at the edge/boundary/interior
    // positions: the oracle computes ONLY the probed windows via list
    // slices — integer-valued samples make list_sum exact in any order
    "q_trace_agc_long" -> {
      // 1-based probe p with half-window 60 → slice [lo:hi], count hi-lo+1
      def rms(p: Int): String = {
        val lo = math.max(1, p - 60); val hi = math.min(1000, p + 60)
        s"sqrt(list_sum(list_transform(v[$lo:$hi], x -> x*x)) / ${(hi - lo + 1).toDouble})"
      }
      def g(p: Int): String =
        s"CASE WHEN ${rms(p)} > 0.0 THEN v[$p] / ${rms(p)} ELSE 0.0 END AS g$p"
      s"""WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    list_transform(range(1, 1001),
        |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 AS DOUBLE)) AS v
        |  FROM lineitem)
        |SELECT ok, ln,
        |  ${g(1)}, ${g(2)}, ${g(61)}, ${g(500)}, ${g(940)}, ${g(1000)}
        |FROM t""".stripMargin
    },
    // 5-tap binomial FIR at 1000 samples, probed: per-probe spelled
    // tap-sum (out-of-range taps as literal 0.0 products — DuckDB's
    // negative list index reads from the END, so v[p-2] must never be
    // emitted for p <= 2); integer taps x integer samples are exact in
    // any fold order
    "q_trace_fir_long" -> {
      val taps = Seq(1.0 -> -2, 4.0 -> -1, 6.0 -> 0, 4.0 -> 1, 1.0 -> 2)
      def f(p: Int): String =
        taps.map { case (c, o) =>
          val j = p + o
          if (j >= 1 && j <= 1000) s"$c * v[$j]" else s"$c * 0.0"
        }.mkString(" + ") + s" AS f$p"
      s"""WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    list_transform(range(1, 1001),
        |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 AS DOUBLE)) AS v
        |  FROM lineitem)
        |SELECT ok, ln, ${f(1)}, ${f(2)}, ${f(500)}, ${f(999)}, ${f(1000)}
        |FROM t""".stripMargin
    },
    // 1000-sample stack probed at 1/500/1000: per-probe exact decimal sum
    // — the oracle never builds the array at all
    "q_trace_stack_long" -> {
      def s(p: Int): String =
        s"CAST(sum(CAST(CAST(((l_orderkey + 1) * $p + l_linenumber) % 1000 AS DOUBLE) " +
          s"AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS s$p"
      s"""SELECT l_suppkey AS cell, CAST(count(*) AS BIGINT) AS n_traces,
        |  ${s(1)}, ${s(500)}, ${s(1000)}
        |FROM lineitem GROUP BY 1""".stripMargin
    },
    // 1000-sample shift, dyadic eighth-sample shifts up to 7.875: the
    // generic floor/frac lerp (same operation order as the kernel), list
    // reads beyond the trace coalesce to the 0 mute convention
    "q_trace_shift_long" -> {
      def r(p: Int): String = {
        val i0 = s"CAST(floor($p + sh) AS BIGINT)"
        s"""(coalesce(v[$i0], 0.0)
           |    + (coalesce(v[$i0 + 1], 0.0) - coalesce(v[$i0], 0.0))
           |      * ($p + sh - floor($p + sh))) AS r$p""".stripMargin
      }
      s"""WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    list_transform(range(1, 1001),
        |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 AS DOUBLE)) AS v,
        |    CAST(l_orderkey % 64 AS DOUBLE) / 8.0 AS sh
        |  FROM lineitem)
        |SELECT ok, ln, sh,
        |  ${r(1)}, ${r(2)}, ${r(500)}, ${r(993)}, ${r(1000)}
        |FROM t""".stripMargin
    },
    // the full-shape moveout scan replayed: shifted lists unnest with
    // position, per-position DECIMAL-exact stack means, energy only
    // drives the argmax (it is not an output column — a 1000-term double
    // fold is order-sensitive across engines; the 3-sample row
    // q_moveout_scan hash-checks energy itself)
    "q_moveout_scan_long" -> {
      val candList = (0 until 16).map(_ / 8.0).mkString(", ")
      val lerp =
        """coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0)
          |      + (coalesce(v[CAST(floor(p + sh) AS BIGINT) + 1], 0.0)
          |         - coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0))
          |        * (p + sh - floor(p + sh))""".stripMargin
      s"""WITH t AS (SELECT l_suppkey % 512 AS cell,
        |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
        |    list_transform(range(1, 1001),
        |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 * 8 AS DOUBLE)) AS v
        |  FROM lineitem WHERE l_orderkey % 16 = 0),
        |c AS (SELECT CAST(unnest([$candList]) AS DOUBLE) AS s),
        |x AS (SELECT cell, s, v, s * off AS sh FROM t, c),
        |u AS (SELECT cell, s,
        |    unnest(range(1, 1001)) AS p,
        |    unnest(list_transform(range(1, 1001), p ->
        |      $lerp)) AS rv
        |  FROM x),
        |stk AS (SELECT cell, s, p,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(rv AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS e
        |  FROM u GROUP BY 1, 2, 3),
        |nrg AS (SELECT cell, s, max(n) AS n_traces,
        |    sum(e * e) AS energy,
        |    max(CASE WHEN p = 1 THEN e END) AS s1,
        |    max(CASE WHEN p = 500 THEN e END) AS s500,
        |    max(CASE WHEN p = 1000 THEN e END) AS s1000
        |  FROM stk GROUP BY 1, 2),
        |win AS (SELECT *, row_number() OVER (PARTITION BY cell
        |    ORDER BY energy DESC, s) AS rn FROM nrg)
        |SELECT cell, s AS best_shift, n_traces, s1, s500, s1000
        |FROM win WHERE rn = 1""".stripMargin
    },
    // semblance, short shape: num and den are EXACT decimal folds (the
    // quantize-then-square contract of the fused aggregate), the only
    // float steps the two final casts and one divide — so the semblance
    // double hash-matches. The casts go through VARCHAR because DuckDB's
    // direct DECIMAL→DOUBLE double-rounds at scale 20 (hugeint·10²⁰ no
    // longer fits 53 bits), while string→double is correctly rounded =
    // Java's parseDouble, the engine's conversion
    "q_moveout_semblance" -> {
      def rExpr(i: Int): String = {
        val i0 = s"CAST(floor($i + sh) AS BIGINT)"
        s"""(coalesce(l[$i0], 0.0)
           |    + (coalesce(l[$i0 + 1], 0.0) - coalesce(l[$i0], 0.0))
           |      * ($i + sh - floor($i + sh)))""".stripMargin
      }
      // scale 2 (not 10): every interpolated value is an exact QUARTER
      // (candidates are k/4, samples integer-valued), so scale 2 loses
      // nothing — and the freed digits are needed at bench scale, where
      // key-shifted replication grows l_partkey ~linearly with sf
      // (DECIMAL(18,10) overflowed at sf1's ~1.03e8 values; 19,2 holds
      // to sf100+ and keeps s1*s1 within DuckDB's 38-digit product cap)
      def q(c: String): String = s"CAST($c AS DECIMAL(19,2))"
      def sExpr(i: Int): String =
        s"CAST(sum(${q(s"r$i")}) AS DECIMAL(19,2))"
      s"""WITH t AS (SELECT l_suppkey AS cell,
        |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
        |    [CAST(l_partkey AS DOUBLE), CAST(l_orderkey % 997 AS DOUBLE),
        |     CAST(l_partkey % 733 AS DOUBLE)] AS l
        |  FROM lineitem),
        |c AS (SELECT unnest([0.0, 0.25, 0.5, 0.75]) AS s),
        |x AS (SELECT cell, s, l, s * off AS sh FROM t, c),
        |r AS (SELECT cell, s,
        |    ${rExpr(1)} AS r1,
        |    ${rExpr(2)} AS r2,
        |    ${rExpr(3)} AS r3
        |  FROM x),
        |stk AS (SELECT cell, s, CAST(count(*) AS BIGINT) AS n,
        |    ${sExpr(1)} AS s1, ${sExpr(2)} AS s2, ${sExpr(3)} AS s3,
        |    sum(${q("r1")} * ${q("r1")} + ${q("r2")} * ${q("r2")}
        |        + ${q("r3")} * ${q("r3")}) AS den
        |  FROM r GROUP BY 1, 2),
        |sem AS (SELECT cell, s, n,
        |    CAST(CAST(s1 * s1 + s2 * s2 + s3 * s3 AS VARCHAR) AS DOUBLE)
        |      / (n * CAST(CAST(den AS VARCHAR) AS DOUBLE)) AS semblance
        |  FROM stk),
        |win AS (SELECT *, row_number() OVER (PARTITION BY cell
        |    ORDER BY semblance DESC, s) AS rn FROM sem)
        |SELECT cell, s AS best_shift, n AS n_traces, semblance
        |FROM win WHERE rn = 1""".stripMargin
    },
    // semblance, FULL shape: same exactness story at 1000 samples — the
    // per-position sums and the Σx² both stay exact decimals, so the
    // 1000-term folds are order-free and the semblance double itself is
    // in the hash (energy's float fold could only expose its argmax)
    "q_moveout_semblance_long" -> {
      val candList = (0 until 16).map(_ / 8.0).mkString(", ")
      val lerp =
        """coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0)
          |      + (coalesce(v[CAST(floor(p + sh) AS BIGINT) + 1], 0.0)
          |         - coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0))
          |        * (p + sh - floor(p + sh))""".stripMargin
      s"""WITH t AS (SELECT l_suppkey % 512 AS cell,
        |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
        |    list_transform(range(1, 1001),
        |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 * 8 AS DOUBLE)) AS v
        |  FROM lineitem WHERE l_orderkey % 16 = 0),
        |c AS (SELECT CAST(unnest([$candList]) AS DOUBLE) AS s),
        |x AS (SELECT cell, s, v, s * off AS sh FROM t, c),
        |u AS (SELECT cell, s,
        |    unnest(range(1, 1001)) AS p,
        |    unnest(list_transform(range(1, 1001), p ->
        |      $lerp)) AS rv
        |  FROM x),
        |stk AS (SELECT cell, s, p,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(rv AS DECIMAL(18,10))) AS DECIMAL(18,10)) AS ssum
        |  FROM u GROUP BY 1, 2, 3),
        |den AS (SELECT cell, s,
        |    sum(CAST(rv AS DECIMAL(18,10)) * CAST(rv AS DECIMAL(18,10))) AS den
        |  FROM u GROUP BY 1, 2),
        |nrg AS (SELECT cell, s, max(n) AS n_traces,
        |    sum(ssum * ssum) AS num,
        |    CAST(max(CASE WHEN p = 1 THEN ssum END) AS DOUBLE)
        |      / max(n) AS s1,
        |    CAST(max(CASE WHEN p = 500 THEN ssum END) AS DOUBLE)
        |      / max(n) AS s500,
        |    CAST(max(CASE WHEN p = 1000 THEN ssum END) AS DOUBLE)
        |      / max(n) AS s1000
        |  FROM stk GROUP BY 1, 2),
        |sem AS (SELECT nrg.cell, nrg.s, n_traces,
        |    CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |      / (n_traces * CAST(CAST(den.den AS VARCHAR) AS DOUBLE))
        |      AS semblance,
        |    s1, s500, s1000
        |  FROM nrg JOIN den ON nrg.cell = den.cell AND nrg.s = den.s),
        |win AS (SELECT *, row_number() OVER (PARTITION BY cell
        |    ORDER BY semblance DESC, s) AS rn FROM sem)
        |SELECT cell, s AS best_shift, n_traces, semblance, s1, s500, s1000
        |FROM win WHERE rn = 1""".stripMargin
    },
    // the velocity-spectrum panel, short shape: per-position exact sums
    // AND per-position exact Σx², windowed by direct decimal sums (equal
    // to the engine's prefix-sum differences — both exact), finished by
    // the VARCHAR-routed correctly-rounded casts
    "q_moveout_panel" -> {
      def rExpr(i: Int): String = {
        val i0 = s"CAST(floor($i + sh) AS BIGINT)"
        s"""(coalesce(l[$i0], 0.0)
           |    + (coalesce(l[$i0 + 1], 0.0) - coalesce(l[$i0], 0.0))
           |      * ($i + sh - floor($i + sh)))""".stripMargin
      }
      // scale 2 like q_moveout_semblance's r17 fix: every interpolated
      // value is an exact QUARTER, so scale 2 loses nothing, and
      // DECIMAL(18,10) sums overflowed at sf1 (~1.02e8); 19,2 holds to
      // sf100+ and keeps s1*s1 within DuckDB's 38-digit product cap
      def q(c: String): String = s"CAST($c AS DECIMAL(19,2))"
      def sd(c: String): String = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      s"""WITH t AS (SELECT l_suppkey AS cell,
        |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
        |    [CAST(l_partkey AS DOUBLE), CAST(l_orderkey % 997 AS DOUBLE),
        |     CAST(l_partkey % 733 AS DOUBLE)] AS l
        |  FROM lineitem),
        |c AS (SELECT unnest([0.0, 0.25, 0.5, 0.75]) AS s),
        |x AS (SELECT cell, s, l, s * off AS sh FROM t, c),
        |r AS (SELECT cell, s,
        |    ${rExpr(1)} AS r1, ${rExpr(2)} AS r2, ${rExpr(3)} AS r3
        |  FROM x),
        |stk AS (SELECT cell, s, CAST(count(*) AS BIGINT) AS n,
        |    ${"CAST(sum(" + q("r1") + ") AS DECIMAL(19,2))"} AS s1,
        |    ${"CAST(sum(" + q("r2") + ") AS DECIMAL(19,2))"} AS s2,
        |    ${"CAST(sum(" + q("r3") + ") AS DECIMAL(19,2))"} AS s3,
        |    sum(${q("r1")} * ${q("r1")}) AS d1,
        |    sum(${q("r2")} * ${q("r2")}) AS d2,
        |    sum(${q("r3")} * ${q("r3")}) AS d3
        |  FROM r GROUP BY 1, 2)
        |SELECT cell, s AS shift, n AS n_traces,
        |  ${sd("s1 * s1 + s2 * s2")} / (n * ${sd("d1 + d2")}) AS v1,
        |  ${sd("s1 * s1 + s2 * s2 + s3 * s3")}
        |    / (n * ${sd("d1 + d2 + d3")}) AS v2,
        |  ${sd("s2 * s2 + s3 * s3")} / (n * ${sd("d2 + d3")}) AS v3
        |FROM stk""".stripMargin
    },
    // the panel at FULL shape: DuckDB's windowed decimal SUM OVER the
    // position frame replays the engine's exact prefix-sum differences;
    // probes pivot to columns
    "q_moveout_panel_long" -> {
      val candList = (0 until 16).map(_ / 8.0).mkString(", ")
      val lerp =
        """coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0)
          |      + (coalesce(v[CAST(floor(p + sh) AS BIGINT) + 1], 0.0)
          |         - coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0))
          |        * (p + sh - floor(p + sh))""".stripMargin
      s"""WITH t AS (SELECT l_suppkey % 512 AS cell,
        |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
        |    list_transform(range(1, 1001),
        |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 * 8 AS DOUBLE)) AS v
        |  FROM lineitem WHERE l_orderkey % 16 = 0),
        |c AS (SELECT CAST(unnest([$candList]) AS DOUBLE) AS s),
        |x AS (SELECT cell, s, v, s * off AS sh FROM t, c),
        |u AS (SELECT cell, s,
        |    unnest(range(1, 1001)) AS p,
        |    unnest(list_transform(range(1, 1001), p ->
        |      $lerp)) AS rv
        |  FROM x),
        |stk AS (SELECT cell, s, p,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(rv AS DECIMAL(18,10))) AS DECIMAL(18,10)) AS ssum,
        |    sum(CAST(rv AS DECIMAL(18,10)) * CAST(rv AS DECIMAL(18,10))) AS dp
        |  FROM u GROUP BY 1, 2, 3),
        |win AS (SELECT cell, s, p, n,
        |    sum(ssum * ssum) OVER (PARTITION BY cell, s ORDER BY p
        |      ROWS BETWEEN 60 PRECEDING AND 60 FOLLOWING) AS num,
        |    sum(dp) OVER (PARTITION BY cell, s ORDER BY p
        |      ROWS BETWEEN 60 PRECEDING AND 60 FOLLOWING) AS den
        |  FROM stk),
        |sem AS (SELECT cell, s, p, n,
        |    CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |      / (n * CAST(CAST(den AS VARCHAR) AS DOUBLE)) AS sv
        |  FROM win WHERE p IN (1, 500, 1000))
        |SELECT cell, s AS shift, max(n) AS n_traces,
        |  max(CASE WHEN p = 1 THEN sv END) AS v1,
        |  max(CASE WHEN p = 500 THEN sv END) AS v500,
        |  max(CASE WHEN p = 1000 THEN sv END) AS v1000
        |FROM sem GROUP BY 1, 2""".stripMargin
    },
    // the directory union covers exactly the parity-split whole
    "q_segy_dir_roundtrip" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey AS BIGINT) AS pk
        |FROM lineitem""".stripMargin,
    // float32 keeps sub-2^24 ints exact, so the long casts are lossless
    "q_segy_fmt5_roundtrip" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey AS BIGINT) AS s1,
        |  CAST(-l_partkey AS BIGINT) AS s2
        |FROM lineitem""".stripMargin,
    // bbox trims on the mask's own rows are no-ops by construction, so
    // the export set is exactly the masked filter
    "q_masked_export" ->
      """WITH m AS (SELECT l_suppkey, l_orderkey, l_linenumber
        |  FROM lineitem WHERE l_quantity > 25)
        |SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER (ORDER BY l_suppkey, l_orderkey, l_linenumber) - 1
        |    AS BIGINT) AS seq
        |FROM m""".stripMargin,
    // int16 samples survive the pack->file->decode path exactly, sign bit
    // included
    "q_segy_fmt3_roundtrip" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey % 20000 - 10000 AS BIGINT) AS s1,
        |  CAST(-(l_partkey % 20000) + 10000 AS BIGINT) AS s2,
        |  CAST(l_orderkey % 100 AS BIGINT) AS s3
        |FROM lineitem""".stripMargin,
    // float64 roundtrip is raw-bit exact (DoubleBits encode / BeDoubleAt
    // decode), so the oracle recomputes the sample doubles directly; /64 is
    // a power-of-two division — exact in IEEE on both engines
    "q_segy_fmt6_roundtrip" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  l_extendedprice AS s1,
        |  -l_extendedprice AS s2,
        |  CAST(l_partkey AS DOUBLE) / 64 AS s3
        |FROM lineitem""".stripMargin,
    "q_segy_fmt28_roundtrip" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl, CAST(2 AS BIGINT) AS fmt,
        |  CAST(l_partkey % 20000 * 100000 - 1000000000 AS BIGINT) AS s1,
        |  CAST(-(l_partkey % 20000) * 100000 + 1000000000 AS BIGINT) AS s2
        |FROM lineitem
        |UNION ALL
        |SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl, CAST(8 AS BIGINT) AS fmt,
        |  CAST(l_partkey % 255 - 127 AS BIGINT) AS s1,
        |  CAST(l_orderkey % 200 - 100 AS BIGINT) AS s2
        |FROM lineitem""".stripMargin,
    "q_ibm_decode" ->
      """WITH b AS (SELECT l_orderkey,
        |    CAST(l_orderkey % 1000000 + 1090000000 AS INT) AS bp,
        |    CAST(-(l_orderkey % 1000000) - 1090000000 AS INT) AS bn
        |  FROM lineitem)
        |SELECT l_orderkey,
        |  CAST(CASE WHEN (bp & 2147483647) = 0 THEN 0.0
        |    ELSE (CASE WHEN bp < 0 THEN -1.0 ELSE 1.0 END)
        |      * ((bp & 16777215) / 16777216.0)
        |      * power(16.0, ((bp >> 24) & 127) - 64) END AS FLOAT) AS v_pos,
        |  CAST(CASE WHEN (bn & 2147483647) = 0 THEN 0.0
        |    ELSE (CASE WHEN bn < 0 THEN -1.0 ELSE 1.0 END)
        |      * ((bn & 16777215) / 16777216.0)
        |      * power(16.0, ((bn >> 24) & 127) - 64) END AS FLOAT) AS v_neg
        |FROM b""".stripMargin,
    "q_ingest_e2e" ->
      """WITH g AS (SELECT count(*) AS c FROM lineitem GROUP BY l_suppkey, l_partkey)
        |SELECT (SELECT count(*) FROM lineitem) AS n_rows,
        |  (SELECT count(*) FROM lineitem) AS n_cells,
        |  (SELECT max(c) FROM g) AS trace_max,
        |  (SELECT count(*) FROM lineitem) AS store_rows,
        |  CAST(CAST((SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM lineitem
        |    WHERE l_extendedprice IS NOT NULL AND l_extendedprice != 0) AS VARCHAR) AS DOUBLE)
        |    AS sum_val""".stripMargin,
    // the file->pipeline->store composition must agree with DuckDB straight
    // off parquet on every seam: counts, per-cell max, decimal-exact cents
    // sums (pipeline stats AND reopened store), and the dim tables
    "q_segy_file_ingest" ->
      """WITH c AS (SELECT l_suppkey, l_partkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem),
        |g AS (SELECT count(*) AS cnt FROM c GROUP BY l_suppkey, l_partkey)
        |SELECT (SELECT count(*) FROM c) AS n_rows,
        |  (SELECT count(*) FROM c) AS n_cells,
        |  (SELECT max(cnt) FROM g) AS trace_max,
        |  (SELECT count(*) FROM c) AS store_rows,
        |  CAST(CAST((SELECT sum(CAST(cents AS DECIMAL(18,2))) FROM c
        |    WHERE cents IS NOT NULL AND cents != 0) AS VARCHAR) AS DOUBLE)
        |    AS sum_val,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM c) AS store_sum,
        |  (SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) FROM c) AS il_card,
        |  (SELECT CAST(min(l_suppkey) AS BIGINT) FROM c) AS il_min,
        |  (SELECT CAST(max(l_suppkey) AS BIGINT) FROM c) AS il_max,
        |  (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM c) AS xl_card,
        |  (SELECT CAST(min(l_partkey) AS BIGINT) FROM c) AS xl_min,
        |  (SELECT CAST(max(l_partkey) AS BIGINT) FROM c) AS xl_max""".stripMargin,
    "q_dims_distributed" ->
      """SELECT 'l_suppkey' AS dim_name, CAST(l_suppkey AS BIGINT) AS dim_value
        |FROM lineitem GROUP BY 2
        |UNION ALL
        |SELECT 'l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem GROUP BY 2
        |UNION ALL
        |SELECT 'trace', CAST(unnest(generate_series(1,
        |  (SELECT max(n) FROM (SELECT count(*) AS n FROM lineitem
        |     GROUP BY l_suppkey, l_partkey)))) AS BIGINT)""".stripMargin,
    "q_store_roundtrip" ->
      """SELECT l_linenumber, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_suppkey = 7 GROUP BY 1""".stripMargin,
    "q_store_copy" ->
      """SELECT l_linenumber, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_suppkey = 7 GROUP BY 1""".stripMargin,
    "q_store_v2" ->
      """SELECT l_linenumber, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_suppkey = 7 GROUP BY 1""".stripMargin,
    "q_store_compact" ->
      """SELECT l_linenumber, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_pack_sequences" ->
      """WITH tok AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 512 AS window_first,
        |  CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 512
        |    ELSE start_offset // 512 END AS window_last,
        |  CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 512
        |    ELSE start_offset // 512 END - start_offset // 512 + 1 AS n_windows
        |FROM c""".stripMargin,
    "q_shuffle_shards" ->
      s"""SELECT doc_id,
         |  ${OracleSqlGen.h60("'shuf:' || doc_id")} AS shuffle_key,
         |  CAST(row_number() OVER (ORDER BY
         |    ${OracleSqlGen.h60("'shuf:' || doc_id")}, doc_id) - 1 AS BIGINT)
         |    AS seq,
         |  CAST((row_number() OVER (ORDER BY
         |    ${OracleSqlGen.h60("'shuf:' || doc_id")}, doc_id) - 1) % 8 AS BIGINT)
         |    AS shard
         |FROM documents""".stripMargin,
    "q_length_batches" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x != '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (SELECT doc_id, n_tokens, (n_tokens + 31) // 32 AS bucket,
        |    CAST((row_number() OVER (PARTITION BY (n_tokens + 31) // 32
        |      ORDER BY n_tokens, doc_id) - 1) // 16 AS BIGINT) AS batch_idx
        |  FROM c)
        |SELECT doc_id, n_tokens, bucket, batch_idx,
        |  max(n_tokens) OVER (PARTITION BY bucket, batch_idx) AS pad_to
        |FROM b""".stripMargin,
    "q_chunk_docs" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
        |    CASE WHEN len(toks) <= 64 THEN 0
        |      ELSE (len(toks) - 64 + 48 - 1) // 48 END AS last_idx
        |  FROM tok),
        |u AS (SELECT doc_id, toks, n,
        |    unnest(range(0, last_idx + 1)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(chunk_idx * 48 AS BIGINT) AS chunk_start,
        |  CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')
        |    AS chunk_text
        |FROM u""".stripMargin,
    "q_access_fast" ->
      """SELECT count(*) AS n, min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_partkey < 100""".stripMargin,
    "q_hll_grouped" ->
      s"""WITH k AS (SELECT event_type, user_id AS k FROM events),
         |h AS (SELECT event_type, ${OracleSqlGen.h60("'hll:' || k")} AS hv
         |  FROM k),
         |r AS (SELECT event_type, hv % 64 AS j,
         |    CASE WHEN hv // 64 = 0 THEN 55
         |         ELSE 55 - length(bin(hv // 64)) END AS rho
         |  FROM h),
         |occ AS (SELECT event_type, j, CAST(max(rho) AS BIGINT) AS m_j
         |  FROM r GROUP BY 1, 2),
         |g AS (SELECT DISTINCT event_type FROM events),
         |allj AS (SELECT unnest(range(0, 64)) AS j),
         |regs AS (SELECT g.event_type, allj.j, coalesce(occ.m_j, 0) AS m_j
         |  FROM g CROSS JOIN allj
         |  LEFT JOIN occ ON occ.event_type = g.event_type
         |    AND occ.j = allj.j),
         |agg AS (SELECT event_type,
         |    list_reduce(list(pow(2.0, -m_j) ORDER BY j),
         |      (x, y) -> x + y) AS s,
         |    CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_zero_registers
         |  FROM regs GROUP BY 1),
         |tr AS (SELECT event_type, CAST(count(DISTINCT k) AS BIGINT)
         |    AS true_n FROM k GROUP BY 1)
         |SELECT a.event_type,
         |  ${graft.llm.Hll.alpha * graft.llm.Hll.m * graft.llm.Hll.m} / a.s
         |    AS est_n,
         |  a.n_zero_registers, tr.true_n
         |FROM agg a JOIN tr USING (event_type)""".stripMargin,
    "q_cap_group" ->
      s"""SELECT doc_id, source FROM documents
         |QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY ${OracleSqlGen.h60("'cap:' || doc_id")}, doc_id)
         |  <= 10""".stripMargin,
    "q_hll_distinct" ->
      s"""WITH k AS (SELECT l_orderkey AS k FROM lineitem),
         |h AS (SELECT ${OracleSqlGen.h60("'hll:' || k")} AS hv FROM k),
         |r AS (SELECT hv % 64 AS j,
         |    CASE WHEN hv // 64 = 0 THEN 55
         |         ELSE 55 - length(bin(hv // 64)) END AS rho
         |  FROM h),
         |occ AS (SELECT j, CAST(max(rho) AS BIGINT) AS m_j FROM r GROUP BY 1),
         |allj AS (SELECT unnest(range(0, 64)) AS j),
         |regs AS (SELECT allj.j, coalesce(occ.m_j, 0) AS m_j
         |  FROM allj LEFT JOIN occ USING (j)),
         |agg AS (SELECT
         |    list_reduce(list(pow(2.0, -m_j) ORDER BY j),
         |      (x, y) -> x + y) AS s,
         |    CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_zero_registers
         |  FROM regs)
         |SELECT ${graft.llm.Hll.alpha * graft.llm.Hll.m * graft.llm.Hll.m} / s
         |    AS est_n,
         |  n_zero_registers,
         |  (SELECT CAST(count(DISTINCT k) AS BIGINT) FROM k) AS true_n
         |FROM agg""".stripMargin,
    "q_cms_terms" ->
      s"""WITH tok AS (SELECT unnest(${OracleSqlGen.tokensSql("lower(text)")})
         |    AS term FROM documents),
         |is_ AS (SELECT unnest(range(0, 4)) AS i),
         |cnts AS (SELECT i,
         |    ${OracleSqlGen.h60("'cms' || i || ':' || term")} % 64 AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok, is_ GROUP BY 1, 2),
         |top AS (SELECT term, CAST(count(*) AS BIGINT) AS true_n
         |  FROM tok GROUP BY 1 ORDER BY true_n DESC, term LIMIT 10),
         |est AS (SELECT t.term, min(c.cnt) AS est_n
         |  FROM top t, is_
         |  JOIN cnts c ON c.i = is_.i
         |    AND c.bucket =
         |      ${OracleSqlGen.h60("'cms' || is_.i || ':' || t.term")} % 64
         |  GROUP BY 1)
         |SELECT t.term, t.true_n, e.est_n
         |FROM top t JOIN est e USING (term)""".stripMargin,
    "q_topk_group" ->
      """WITH t AS (SELECT l_returnflag, l_extendedprice AS price,
        |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, price, id,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY price DESC, id) AS BIGINT) AS rank
        |  FROM t)
        |SELECT l_returnflag, rank, price, id FROM r WHERE rank <= 3""".stripMargin,
    "q_salted_join" ->
      """SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,
    // the plain (unsalted) join over the SAME hot-key collapse — the
    // salting must be invisible in the result
    "q_salted_join_skew" ->
      """WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 3 THEN 0
        |      ELSE l_orderkey END AS k, l_quantity FROM lineitem),
        |d AS (SELECT k, min(o_orderstatus) AS status FROM (
        |    SELECT CASE WHEN o_orderkey % 10 < 3 THEN 0
        |      ELSE o_orderkey END AS k, o_orderstatus FROM orders)
        |  GROUP BY 1)
        |SELECT d.status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(f.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM f JOIN d ON f.k = d.k
        |GROUP BY 1""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,
    "q_zorder" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  min(${OracleSqlGen.zorderKeySql(
               Seq("l_suppkey", "l_linenumber"), 16)}) AS zmin,
         |  max(${OracleSqlGen.zorderKeySql(
               Seq("l_suppkey", "l_linenumber"), 16)}) AS zmax
         |FROM lineitem
         |WHERE l_suppkey BETWEEN 10 AND 50
         |  AND l_linenumber BETWEEN 2 AND 5""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, sha256(text) AS digest
        |FROM documents""".stripMargin,
    // means recomputed from the pixel FORMULA (no byte parsing oracle-side);
    // integer sums / 8 are exact in IEEE, so the decode must be bit-right
    // amplitude stats recomputed from the sample FORMULA (no byte parsing
    // oracle-side); integer sums / n are exact in IEEE, so the RIFF chunk
    // walk and LE sample decode must be bit-right to match
    "q_multimodal_wav" ->
      """WITH is_ AS (SELECT unnest(range(0, 8)) AS i),
        |sm AS (SELECT d.doc_id, ((d.doc_id * 7 + i * 13) % 65536) - 32768 AS v
        |  FROM documents d, is_)
        |SELECT doc_id, true AS ok, CAST(1 AS BIGINT) AS n_channels,
        |  CAST(8000 AS BIGINT) AS sample_rate, CAST(16 AS BIGINT) AS bits,
        |  CAST(8 AS BIGINT) AS n_frames,
        |  CAST(sum(v) AS DOUBLE) / count(*) AS mean_amp,
        |  CAST(sum(v * v) AS DOUBLE) / count(*) AS ms_amp,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM sm GROUP BY doc_id""".stripMargin,
    "q_multimodal_ppm" ->
      """WITH xs AS (SELECT unnest(range(0, 4)) AS x),
        |ys AS (SELECT unnest(range(0, 2)) AS y),
        |px AS (SELECT d.doc_id, xs.x, ys.y FROM documents d, xs, ys)
        |SELECT doc_id, true AS ok,
        |  CAST(4 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
        |  avg(CAST((doc_id + 10 * x) % 256 AS DOUBLE)) AS mean_r,
        |  avg(CAST((doc_id + 100 * y) % 256 AS DOUBLE)) AS mean_g,
        |  avg(CAST(doc_id % 256 AS DOUBLE)) AS mean_b
        |FROM px GROUP BY doc_id""".stripMargin,
    // PNG is lossless: the ImageIO encode->decode roundtrip must reproduce
    // the pixel formula's bytes exactly, so the oracle never parses PNG —
    // it recomputes the channel means from the same formula (PPM pattern)
    // BMP through the same container-agnostic ImageIO stage (different
    // geometry so a png/bmp mixup cannot silently pass)
    "q_multimodal_bmp" ->
      """WITH xs AS (SELECT unnest(range(0, 4)) AS x),
        |ys AS (SELECT unnest(range(0, 2)) AS y),
        |px AS (SELECT d.doc_id, xs.x, ys.y FROM documents d, xs, ys)
        |SELECT doc_id, true AS ok,
        |  CAST(4 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
        |  avg(CAST((doc_id + 10 * x) % 256 AS DOUBLE)) AS mean_r,
        |  avg(CAST((doc_id + 100 * y) % 256 AS DOUBLE)) AS mean_g,
        |  avg(CAST(doc_id % 256 AS DOUBLE)) AS mean_b
        |FROM px GROUP BY doc_id""".stripMargin,
    "q_multimodal_png" ->
      """WITH xs AS (SELECT unnest(range(0, 5)) AS x),
        |ys AS (SELECT unnest(range(0, 3)) AS y),
        |px AS (SELECT d.doc_id, xs.x, ys.y FROM documents d, xs, ys)
        |SELECT doc_id, true AS ok,
        |  CAST(5 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
        |  avg(CAST((doc_id + 10 * x) % 256 AS DOUBLE)) AS mean_r,
        |  avg(CAST((doc_id + 100 * y) % 256 AS DOUBLE)) AS mean_g,
        |  avg(CAST(doc_id % 256 AS DOUBLE)) AS mean_b
        |FROM px GROUP BY doc_id""".stripMargin,
  )
}
