package graft.core

import org.apache.spark.sql.DataFrame

/** Materialize-once staging for operators whose intermediates feed multiple
  * downstream scans (LSH bucket tables, inverted shingle indexes, normalized
  * vectors).
  *
  * Round 2 used `.persist()` for these and leaked the cached blocks (the
  * operator returns a lazy frame, so there is no safe point to unpersist).
  * Staging to Parquet instead cuts the lineage the same way, costs one
  * columnar write of a *summary-sized* table (signatures/hashes, never the
  * raw text), and leaves `spark.sparkContext.getPersistentRDDs` empty — at
  * 100 TB this is also simply the right design: sketches are computed once
  * per corpus and stored beside it, not recomputed per query (the
  * reference's materialize-once philosophy, `optimize/access_pattern.py`).
  */
object Scratch {

  /** Write `df` to a scratch Parquet path (explicit or a fresh tmp dir) and
    * return the re-opened, lineage-free frame.
    */
  def stage(df: DataFrame, tag: String, path: Option[String] = None): DataFrame = {
    val p = path.getOrElse(TempDirs.scratch(s"scratch_$tag"))
    df.write.mode("overwrite").parquet(p)
    df.sparkSession.read.parquet(p)
  }

  /** [[stage]] whose lifetime is the `body` call: the scratch files are
    * deleted (and deregistered from the exit hook) as soon as `body`
    * returns or throws. [[stage]] can't do this — it returns a lazy frame
    * whose scan outlives the call — but a caller that fully CONSUMES the
    * staged frame inside one scope (e.g. a per-micro-batch index append,
    * [[graft.llm.Retrieval.appendToIndex]]) must use this form: one
    * scratch dir per micro-batch held until JVM exit is unbounded disk
    * growth on a long-running stream.
    */
  def withStage[T](df: DataFrame, tag: String)(body: DataFrame => T): T = {
    val p = TempDirs.scratch(s"scratch_$tag")
    try {
      df.write.mode("overwrite").parquet(p)
      body(df.sparkSession.read.parquet(p))
    } finally TempDirs.release(p)
  }

  /** [[stage]] gated on the SOURCE's optimizer-estimated scan size: below
    * `graft.scratch.stageMinBytes` (default 64 MB) the write round-trip
    * costs more than just recomputing the subtree in each consumer arm, so
    * the frame is returned un-staged. Above it (always true at real scale)
    * the one summary-sized write wins. The estimate comes from the
    * optimized plan's statistics — no job is triggered.
    */
  def stageIfLarge(df: DataFrame, tag: String, source: DataFrame): DataFrame = {
    val minBytes = BigInt(source.sparkSession.conf
      .get("graft.scratch.stageMinBytes", (64L << 20).toString).toLong)
    if (source.queryExecution.optimizedPlan.stats.sizeInBytes >= minBytes)
      stage(df, tag)
    else df
  }

  /** Rebalance a COMPACT scan ahead of a compute-heavy map (tokenize,
    * shingle, explode): a table small enough to plan fewer partitions than
    * the session's parallelism would otherwise run the whole downstream
    * compute on those few tasks (one 600 KB parquet file = ONE task doing
    * every document's explode). At real scale the source plans >= target
    * splits and this is the identity — no shuffle is ever added to a big
    * scan. The round-robin exchange it inserts on small inputs moves only
    * the compact source bytes.
    *
    * Scheduled split count is NOT achievable parallelism for a parquet
    * scan: Spark byte-range-splits parquet regardless of row-group layout,
    * and only the split containing a row group's start reads its rows — a
    * writer that emitted one giant row group per file (pyarrow's default
    * up to 2^20 rows, common for mid-size tables) yields 32 scheduled
    * splits of which 31 are EMPTY, and every downstream kernel runs on
    * one core. Measured at sf10: the BM25 index build's tokenize+aggregate
    * over a one-row-group 57 MB documents table ran 32 tasks at
    * concurrency 1.07 — 183 s where the same plan behind an exchange takes
    * 9 s (bench/bm25_phases_sf10_r16.json, round-16 diagnosis).
    *
    * Achievable parallelism for a narrow plan over a few-file parquet scan
    * is therefore `min(scheduled splits, total row groups)` — and the row
    * -group count is EXACT and cheap: O(files) parquet-footer metadata
    * reads on the driver (cached per path for the JVM's lifetime; part
    * files are never rewritten in place). Round 16 proxied this with a
    * file count + a 2 GiB optimizer-size cap, which had a hole in each
    * direction: a one-row-group file BIGGER than the cap (the same writer
    * pathology, scaled up) kept its collapsed plan, and a few-file table
    * with many row groups per file ate a redundant exchange. The footer
    * count closes both.
    *
    * The footers also give exact row counts, which gate the insurance
    * cost: below the row gate the downstream kernel finishes in
    * milliseconds on one task and the exchange's two extra stages are
    * pure loss (round 16's q_sq_codes 0.22→0.48 s at sf0.1 — a 2,000-row
    * table spread to 32 tasks). The gate is per KERNEL WEIGHT, declared
    * by the caller: `heavy = true` marks tokenize/shingle/char-gram
    * consumers, whose per-row cost is orders above the vector kernels'
    * (a fixed 512 rows: the round-17 A/B measured a 5,000-doc tokenize
    * WANTING the spread the 4096 gate denied it, q_bm25 1.41→2.25 s —
    * bench/ab_rebalance_r17.json and bench/ab_rebalance_heavy_r17.json;
    * the `AbRebalance` tool that took them is deleted), while the default
    * gate (`graft.rebalance.minRows`, 4096) covers encode/signature/cosine
    * kernels where the same A/B showed the spread is pure loss at
    * fixture sizes. A filter between scan and rebalance makes the footer
    * count an overestimate of the frame's rows — erring toward
    * spreading, the cheap direction.
    *
    * The footer path applies only to an EXCHANGE-FREE plan over parquet
    * files: a frame whose compute already sits above a join/aggregate/
    * window/sort is distributed by that shuffle, so its scheduled
    * partition count is authoritative (round-16's guard inserted a
    * redundant exchange there). Non-parquet file scans have no hollow
    * splits (every byte-range split of a text/CSV file bears rows), and
    * in-memory frames have no files — both keep the scheduled-count rule.
    * At real scale inputs arrive as many files with many row groups and
    * every branch is the identity.
    */
  def rebalance(df: DataFrame, heavy: Boolean = false): DataFrame = {
    import scala.util.control.NonFatal
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val scheduled = df.rdd.getNumPartitions
    // inputFiles throws for plans with no file-based leaves (e.g. some
    // streaming micro-batch shapes expose the scan only at execution time)
    val files =
      try df.inputFiles catch { case NonFatal(_) => Array.empty[String] }
    val parquetOnly = files.nonEmpty && files.forall(_.endsWith(".parquet"))
    if (parquetOnly && files.length < target && isExchangeFree(df)) {
      val (midpointsByFile, rows) = footerStats(spark, files)
      val rowGroups = midpointsByFile.valuesIterator.map(_.length).sum
      val minRows =
        if (heavy) DefaultRebalanceMinRowsHeavy
        else spark.conf.get("graft.rebalance.minRows",
          DefaultRebalanceMinRows.toString).toLong
      if (rows < minRows) df
      // Achievable parallelism is the number of scheduled splits that
      // READ at least one row group — parquet assigns a row group to the
      // byte-range split containing its MIDPOINT (parquet-mr's
      // RangeMetadataFilter; the reader Spark builds per split filters
      // the footer by [start, start+length)). min(scheduled, rowGroups)
      // is only an upper bound on that: skewed row-group sizes (many
      // tiny groups whose midpoints land in one split plus one giant
      // group) pass rowGroups >= target while most splits stay empty.
      // The footers carry the offsets, the planned FilePartitions carry
      // the split ranges — comparing them counts data-bearing splits
      // EXACTLY. Fallback to the old bound when the physical scan shape
      // is unrecognizable (no FilePartition leaves — streaming relation,
      // reused exchange), erring un-spread as before.
      else {
        val bearing = dataBearingSplits(df, midpointsByFile)
          .getOrElse(math.min(scheduled, rowGroups))
        if (bearing < target) df.repartition(target) else df
      }
    } else if (scheduled < target) df.repartition(target)
    else df
  }

  /** Count the planned splits that contain at least one row-group
    * midpoint — the splits that will actually produce rows. Walks the
    * frame's RDD lineage to the FileScanRDD (its partitions are the
    * planned `FilePartition`s, each a bin-packed set of
    * (path, start, length) file ranges); `None` when no FilePartition
    * leaf is found within a bounded depth.
    */
  private def dataBearingSplits(
      df: DataFrame,
      midpointsByFile: Map[String, Array[Long]]): Option[Int] = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.datasources.FilePartition
    def filePartitions(rdd: RDD[_], depth: Int): Seq[FilePartition] =
      if (depth > 8) Seq.empty
      else {
        val own = rdd.partitions.collect { case fp: FilePartition => fp }
        if (own.nonEmpty) own.toSeq
        else rdd.dependencies.flatMap(d => filePartitions(d.rdd, depth + 1))
      }
    val parts =
      try filePartitions(df.rdd, 0)
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    if (parts.isEmpty) None
    else Some(parts.count(_.files.exists { pf =>
      val key = pf.toPath.toUri.toString
      midpointsByFile.get(key).exists(_.exists(m =>
        m >= pf.start && m < pf.start + pf.length))
    }))
  }

  /** Row gates below which the spread's exchange costs more than the
    * single-task kernel pass it buys — per kernel weight, A/B'd at sf0.1
    * (bench/ab_rebalance_r17.json). 4096 un-spreads the 2,000-row
    * embeddings table for the vector kernels (q_sq_codes 0.74→0.50 s,
    * q_ann_ivf 1.92→1.61 s vs always-spread); the heavy gate stays low
    * because the tokenize/shingle shape still profits at 5,000 docs
    * (gating it at 8192 cost q_bm25 1.41→2.25 s) and its micro-batch
    * deltas (~2,500 rows) profited in round 16's always-spread behavior.
    */
  private val DefaultRebalanceMinRows = 4096L
  private val DefaultRebalanceMinRowsHeavy = 512L

  /** True when the optimized plan contains no shuffle-inducing operator —
    * i.e. the frame's partitioning is the scan's partitioning and the
    * hollow-split analysis applies.
    *
    * Beyond the relational operators, the match also catches the typed /
    * scripted shapes that demand a ClusteredDistribution without the
    * optimizer rewriting them (MapGroups, CoGroup, FlatMapGroupsWithState,
    * script transforms) — a rebalance over one of those would re-add the
    * r16 redundant-exchange cost. No current call site passes one
    * (rebalance callers are scan→filter→project chains), so this is a
    * guard rail, not a hot path.
    */
  private def isExchangeFree(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    !df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort => true
      case _: RepartitionOperation | _: GlobalLimit => true
      case _: MapGroups | _: CoGroup | _: FlatMapGroupsWithState => true
      case _: ScriptTransformation => true
      case _ => false
    }
  }

  /** (row-group MIDPOINT offsets per file, total rows) across `files`
    * from parquet footers — driver-side metadata reads, cached per path
    * (part files are write-once; an unreadable footer counts
    * conservatively as one giant row group at offset 0, erring toward
    * spreading). Midpoint = startingPos + compressedSize/2, the offset
    * parquet-mr's range filter tests for split membership. Keys are the
    * files' URI forms so they match `PartitionedFile.toPath` in
    * [[dataBearingSplits]]. Access-ordered LRU bounded at 65,536 paths
    * (same pattern as the directory-manifest cache): the previous
    * clear-all at the bound was a periodic cold-start stampede of footer
    * reads on a long-lived service.
    */
  private val footerCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Array[Long], Long)](
      16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Array[Long], Long)]): Boolean =
        size() > 65536
    })

  private def footerStats(spark: org.apache.spark.sql.SparkSession,
                          files: Array[String])
      : (Map[String, Array[Long]], Long) = {
    import scala.util.control.NonFatal
    import scala.jdk.CollectionConverters._
    val hadoopConf = spark.sessionState.newHadoopConf()
    var rows = 0L
    val byFile = files.map { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      val key = path.toUri.toString
      // failures are NOT cached (a footer probed mid-write may become
      // readable); the conservative (one group at 0, MaxValue rows)
      // stand-in is used for this call only and always chooses to spread
      val st = Option(footerCache.get(key)).getOrElse {
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(path, hadoopConf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          val v = try {
            val mids = reader.getRowGroups.asScala.map(b =>
              b.getStartingPos + b.getCompressedSize / 2).toArray
            (mids, reader.getRecordCount)
          } finally reader.close()
          footerCache.put(key, v)
          v
        } catch { case NonFatal(_) => (Array(0L), Long.MaxValue) }
      }
      rows = if (rows == Long.MaxValue || st._2 == Long.MaxValue)
               Long.MaxValue
             else rows + st._2
      key -> st._1
    }.toMap
    (byFile, rows)
  }
}
