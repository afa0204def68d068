package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.Retrieval

/** Streaming BM25 index maintenance: an arriving document stream appends
  * posting rows (plus their atomic stats marker) to the persisted inverted
  * index between triggers
  * ([[Retrieval.appendToIndex]]), so lexical searches see new documents
  * within one trigger interval — and the BM25 ranking stays EXACT after any
  * number of appends (dfs and avgdl derive at query time from the
  * accumulated tables; no out-of-band rebuild is ever needed for
  * correctness).
  *
  * The foreachBatch boundary is at-least-once on retry and a replayed
  * append would double-count a document. Two guards: [[BatchMarkers]]
  * records applied batchIds next to the index, so a whole replayed
  * micro-batch (crash between append commit and checkpoint offset
  * commit) is skipped, not re-appended; and `dedupKey` (default: the id
  * column) keeps drop-duplicates state ahead of the sink — the
  * [[StreamingMdio]] pattern — absorbing source-level duplicate rows.
  * The checkpoint (offsets + dedup state) survives restarts.
  */
object StreamingRetrieval {

  /** Append a document stream's postings to the index at `indexPath`
    * (which must already exist via [[Retrieval.buildIndex]]).
    *
    * `compactEveryBatches = Some(n)` runs [[Retrieval.compactIndex]] after
    * every n-th committed batch, INSIDE the foreachBatch handler — appends
    * and compactions serialize, satisfying compact's writers-quiesced
    * contract, and the file count of a forever-appending stream stays
    * bounded (the [[StreamingMdio]] pattern).
    */
  def appendPostings(stream: DataFrame, indexPath: String,
                     checkpoint: Option[String] = None,
                     dedupKey: Option[String] = Some("doc_id"),
                     textCol: String = "text", idCol: String = "doc_id",
                     trigger: Trigger = Trigger.AvailableNow(),
                     compactEveryBatches: Option[Int] = None): StreamingQuery = {
    compactEveryBatches.foreach(n =>
      require(n > 0, s"compactEveryBatches must be positive, got $n"))
    val deduped = dedupKey.fold(stream)(k => stream.dropDuplicates(k))
    val ckpt = checkpoint.getOrElse(s"$indexPath/_stream_checkpoint")
    deduped.writeStream
      .trigger(trigger)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replayed batchIds (crash between append commit and checkpoint
        // offset commit) are skipped, not re-appended — re-appending
        // double-counts every replayed doc in df/avgdl/tf
        BatchMarkers.runOnce(batch.sparkSession, indexPath,
            BatchMarkers.streamId(ckpt), batchId) {
          Retrieval.appendToIndex(batch, indexPath, textCol, idCol)
        }: Unit
        // compaction is row-identical maintenance: run it on schedule even
        // when the append itself was a skipped replay
        compactEveryBatches
          .filter(n => (batchId + 1) % n == 0)
          .foreach { _ =>
            Retrieval.compactIndex(batch.sparkSession, indexPath): Unit
          }
      }
      .start()
  }
}
