package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staging-then-swap rewrite of a live parquet table — the shared shape
  * behind every "fold micro-batch accumulation back into the built
  * layout" maintenance pass ([[graft.llm.Retrieval.compactIndex]],
  * [[graft.llm.DedupIndex.compactIndex]], [[graft.storage.MdioDataset.compact]]):
  * a long-appending stream leaves a few small files per batch, and
  * thousands of tiny files erode scan planning (every file opens) and
  * kill row-group skipping (no key locality across files). The caller's rewrite re-sorts the table so min/max column
  * stats make pushed `key IN (...)` filters skip whole row groups again.
  *
  * NOT concurrent-safe: the staged write fully commits before the
  * delete→rename swap, so a reader mid-swap can see a missing dir —
  * run with writers/readers quiesced (the streaming tiers call this
  * inside their serialized `foreachBatch`, which satisfies the
  * contract for the write side).
  */
object Compaction {

  /** Parquet data-file count under `path` (recursive). */
  def parquetFileCount(spark: SparkSession, path: String): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Shuffle width for a table-volume-sized frame (the BM25 postings, the
    * dedup signatures): targets 64 MB per partition instead of the
    * session's fixed `spark.sql.shuffle.partitions` — a fixed 32-partition
    * shuffle made the sf10 BM25 postings sort spill (SCALING.md round-14);
    * at 100 TB it would be a wall. `sized` must scan real files (a scratch
    * stage or the live table) so the optimizer stats are file sizes, not
    * guesses.
    */
  def sizedWidth(session: SparkSession, sized: DataFrame): Int = {
    val sessionParts = session.conf.get("spark.sql.shuffle.partitions").toInt
    val size = sized.queryExecution.optimizedPlan.stats.sizeInBytes
    // UNKNOWN stats read as Long.MaxValue-scale (Catalyst's
    // defaultSizeInBytes; stats products can exceed it) — e.g. a
    // foreachBatch frame whose plan embeds a stateful streaming operator.
    // The old 2^20 clamp turned that into a million-task shuffle — each
    // task deserializing the whole serialized plan (measured: an 18 MiB
    // task binary × 2^20 tasks, a multi-hour hang on the streaming dedup
    // append). No stats ⇒ no sizing signal ⇒ use the session width.
    if (size >= BigInt(Long.MaxValue) / 16) sessionParts
    else {
      // clamp BEFORE narrowing: a bare .toInt on a BigInt quotient wraps
      // to an arbitrary partition count. 1 << 20 partitions ≈ 64 TB at
      // the 64 MB target — past that, fail the math safe.
      val estParts = (size / BigInt(64L << 20)).min(BigInt(1 << 20)).toInt + 1
      math.max(sessionParts, estParts)
    }
  }

  /** Rewrite the live parquet table at `tablePath` through `rewrite`
    * (recluster, sort, fold marker rows — anything row-preserving the
    * caller wants), staging to a sibling dot-dir and swapping only after
    * the staged write fully commits. A store's layout rides in through
    * `partitionCols` (the staged write's directory partitions) and
    * `schemaDdl` (the read schema, so partition values keep their
    * recorded types instead of inferred ones). Returns (parquet files
    * before, after).
    */
  def rewriteInPlace(spark: SparkSession, tablePath: String,
                     partitionCols: Seq[String] = Nil, schemaDdl: Option[String] = None)
                    (rewrite: DataFrame => DataFrame): (Int, Int) = {
    val live = new Path(tablePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nBefore = parquetFileCount(spark, tablePath)
    val staging = new Path(live.getParent, s".${live.getName}_compacting")
    fs.delete(staging, true): Unit
    val read = schemaDdl.fold(spark.read)(spark.read.schema(_)).parquet(tablePath)
    rewrite(read).write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(staging.toString)
    // carry hidden metadata children across the swap: Spark data readers
    // ignore _/.-prefixed paths, but a streaming checkpoint may live
    // INSIDE the table dir and deleting it would reset the stream's
    // offsets and dedup state.
    // _SUCCESS stays behind — the staged write produced its own.
    fs.listStatus(live)
      .filter { st =>
        val n = st.getPath.getName
        (n.startsWith("_") || n.startsWith(".")) && n != "_SUCCESS"
      }
      .foreach { st =>
        if (!fs.rename(st.getPath, new Path(staging, st.getPath.getName)))
          throw new IllegalStateException(
            s"rewriteInPlace: could not carry ${st.getPath} into $staging")
      }
    fs.delete(live, true): Unit
    if (!fs.rename(staging, live))
      throw new IllegalStateException(
        s"rewriteInPlace: swap $staging -> $live failed")
    (nBefore, parquetFileCount(spark, tablePath))
  }
}
