package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-batch idempotence markers for foreachBatch index appenders — the
  * standard foreachBatch exactly-once pattern: the sink records each
  * applied `batchId` durably next to the data it wrote, and a replayed
  * batch (job died after the parquet append committed but before the
  * checkpoint offset committed → restart re-delivers the same batchId)
  * is SKIPPED instead of re-appended. Without this, a replayed append
  * double-counts documents in every accumulated index
  * ([[StreamingRetrieval]] postings, [[StreamingCorpus]] dedup
  * signatures) — the upstream
  * `dropDuplicates(dedupKey)` state only dedups rows WITHIN the stream,
  * not a whole replayed micro-batch against its earlier self.
  *
  * Markers are empty files
  * `_applied_batches/<streamId>/batch-<zero-padded id>` under the index
  * root, where `streamId` hashes the stream's checkpoint location (see
  * [[streamId]]). The `_` prefix keeps them invisible to every
  * Spark data reader (hidden-path filter), and
  * [[graft.core.Compaction.rewriteInPlace]] carries `_`-prefixed
  * children across its staged swap, so markers survive compaction even
  * when they live inside the rewritten table dir.
  *
  * The residual window is honest and small: the marker commits in its
  * own filesystem call AFTER the append's job commit, so a crash in the
  * few milliseconds between the two still replays once. Closing it
  * completely needs a transactional table format; this narrows the
  * exposure from the whole offset-commit interval (seconds) to one
  * metadata write, and a duplicate surviving it is the pre-existing
  * at-least-once contract, not a new failure mode.
  *
  * Bounded: only the most recent `keepMarkers` markers are retained —
  * a restarted stream replays at most the batches since the last
  * checkpoint commit (in practice one), so pruning older markers cannot
  * un-skip a replayable batch, and a forever-appending stream keeps a
  * constant-size marker dir instead of one file per batch forever.
  */
object BatchMarkers {

  private val keepMarkers = 128

  /** Markers are NAMESPACED by the stream's checkpoint location: batchIds
    * are only unique within one checkpoint lineage, so a bare-batchId
    * marker would wrongly skip the first batches of a NEW stream (fresh
    * checkpoint restarts ids at 0) pointed at an existing index — silent
    * data loss, strictly worse than the duplicates being prevented. Keyed
    * by checkpoint, a fresh checkpoint gets a fresh namespace (its batches
    * apply) while a crash-replay within one checkpoint skips. Deleting a
    * checkpoint and REUSING its exact path keeps the old namespace — the
    * same documented don't-do-that as checkpoint reuse everywhere in
    * Structured Streaming.
    */
  def streamId(checkpoint: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  private def markerDir(indexRoot: String, streamId: String): Path =
    new Path(new Path(indexRoot, "_applied_batches"), streamId)

  /** Run `body` once per (indexRoot, streamId, batchId): returns true and
    * records the marker when `body` ran, false when this batchId was
    * already applied (replay — `body` is skipped). Idempotent maintenance
    * that must run even on a replay (compaction) belongs OUTSIDE `body`.
    */
  def runOnce(spark: SparkSession, indexRoot: String, streamId: String,
              batchId: Long)(body: => Unit): Boolean = {
    val dir = markerDir(indexRoot, streamId)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(dir, f"batch-$batchId%020d")
    if (fs.exists(marker)) false
    else {
      body
      fs.mkdirs(dir): Unit
      fs.create(marker, true).close()
      prune(fs, dir, batchId)
      true
    }
  }

  /** Applied-batch ids currently recorded (ascending) — for specs/fsck. */
  def appliedBatches(spark: SparkSession, indexRoot: String,
                     streamId: String): Seq[Long] = {
    val dir = markerDir(indexRoot, streamId)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch-") => n.stripPrefix("batch-").toLong }
      .sorted
  }

  private def prune(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                    latest: Long): Unit = {
    val floor = latest - keepMarkers
    if (floor > 0) {
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch-") && n.stripPrefix("batch-").toLong < floor)
          fs.delete(st.getPath, false): Unit
      }
    }
  }
}
