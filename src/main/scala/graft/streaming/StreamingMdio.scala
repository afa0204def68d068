package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming MDIO sink: a document/trace stream lands in an MDIO store
  * through the SAME validated write path as every batch write.
  *
  * Each micro-batch runs `format("mdio").mode(append)` — the DSv2 V1Write
  * fallback ([[org.apache.spark.sql.graft.MdioDataSourceV2]]) routes into
  * [[graft.storage.MdioDataset.write]], so per batch:
  *  - the append inherits and validates the store's recorded layout
  *    (clustered writes keep the row-group pruning story);
  *  - schema drift is rejected BEFORE any file lands (a drifting stream
  *    fails the query instead of poisoning the store with mixed-type
  *    parquet);
  *  - the sidecar is maintained, so `open_mdio` readers see every batch as
  *    soon as its commit completes.
  *
  * Exactly-once: the foreachBatch boundary is at-least-once on retry, and
  * an append retry would double rows. Two guards close that gap:
  * [[BatchMarkers]] records applied batchIds next to the store, so a
  * whole replayed micro-batch (crash between append commit and checkpoint
  * offset commit) is skipped rather than re-appended; and `dedupKey`
  * keeps [[StreamingCorpus.dedupedStream]]-style drop-duplicates state on
  * a row key ahead of the sink, absorbing duplicate rows replayed by the
  * source itself. At 100 TB the store is the system of record; the
  * checkpoint (source offsets + dedup state) rides `checkpointLocation`
  * and survives restarts.
  */
object StreamingMdio {

  /** Append a stream into the MDIO store at `path` (created on the first
    * batch if absent — Zarr `a` semantics, like the batch DSv2 append).
    *
    * `compactEveryBatches = Some(n)` runs [[graft.storage.MdioDataset
    * .compact]] after every n-th committed batch, INSIDE the foreachBatch
    * boundary — i.e. between triggers, the one safe window — so a
    * long-running stream never accumulates unbounded micro-batch file sets
    * (the small-files problem). Compaction is row-identical, so a replayed
    * batch after a mid-compact failure behaves exactly like any foreachBatch
    * replay (and `dedupKey` absorbs it).
    */
  def appendToStore(stream: DataFrame, path: String,
                    checkpoint: Option[String] = None,
                    dedupKey: Option[String] = None,
                    trigger: Trigger = Trigger.AvailableNow(),
                    compactEveryBatches: Option[Int] = None): StreamingQuery = {
    compactEveryBatches.foreach(n =>
      require(n > 0, s"compactEveryBatches must be positive, got $n"))
    val deduped = dedupKey.fold(stream)(k => stream.dropDuplicates(k))
    val ckpt = checkpoint.getOrElse(s"$path/_stream_checkpoint")
    deduped.writeStream
      .trigger(trigger)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replayed batchIds skip the append ([[BatchMarkers]]): the
        // dropDuplicates state above only dedups within the stream — on a
        // checkpoint replay the state store itself rewinds, so the state
        // alone cannot recognize a whole re-delivered batch
        BatchMarkers.runOnce(batch.sparkSession, path,
            BatchMarkers.streamId(ckpt), batchId) {
          batch.write.format("mdio").mode(SaveMode.Append).save(path)
        }: Unit
        compactEveryBatches
          .filter(n => (batchId + 1) % n == 0)
          .foreach(_ => graft.storage.MdioDataset.compact(batch.sparkSession, path))
      }
      .start()
  }
}
