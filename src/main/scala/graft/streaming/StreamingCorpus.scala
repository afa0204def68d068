package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.llm.{CorpusPrep, Dedup}

/** Continuous corpus preparation: the one-pass sketch computation of
  * [[graft.llm.CorpusPrep]] applied to a document STREAM — every sketch
  * column (fingerprint, minhash signature + digest, simhash, quality, token
  * budgets) is a deterministic narrow map, so the same kernels run
  * unchanged inside a Structured Streaming plan; arriving documents land in
  * the prepared corpus already deduplicable/searchable.
  */
object StreamingCorpus {

  /** Sketch columns on a streaming documents frame (same schema as the
    * batch [[CorpusPrep.withSketches]] — asserted in StreamingCorpusSpec).
    */
  def withSketchesStream(stream: DataFrame, textCol: String = "text",
                         n: Int = 3, k: Int = 32): DataFrame =
    CorpusPrep.withSketches(stream, textCol, n, k)

  /** Append the prepared stream to a corpus directory. */
  def appendPrepared(stream: DataFrame, path: String,
                     checkpoint: Option[String] = None): StreamingQuery =
    withSketchesStream(stream).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint.getOrElse(s"$path/_checkpoint"))
      .format("parquet")
      .option("path", path)
      .start()

  /** Incrementally maintain a persisted dedup index
    * ([[graft.llm.DedupIndex]]) from a document stream: each micro-batch
    * shingles ONLY its own docs and appends their banded + signature rows
    * in one atomic write; `compactEveryBatches` folds the accumulated
    * append files back into the bucket-clustered layout inside the
    * serialized foreachBatch (writers quiesced by construction) — the
    * dedup mirror of [[StreamingRetrieval.appendPostings]]. The corpus
    * never re-shingles:
    * a forever-running ingest pays O(batch) per batch, and the index is
    * queryable between batches ([[graft.llm.DedupIndex.pairsFromIndex]] /
    * `queryIndex`).
    */
  def appendDedupIndex(stream: DataFrame, indexPath: String,
                       checkpoint: Option[String] = None,
                       dedupKey: Option[String] = Some("doc_id"),
                       textCol: String = "text", idCol: String = "doc_id",
                       n: Int = 3, k: Int = 32, bands: Int = 8,
                       trigger: Trigger = Trigger.AvailableNow(),
                       compactEveryBatches: Option[Int] = None): StreamingQuery = {
    compactEveryBatches.foreach(c =>
      require(c > 0, s"compactEveryBatches must be positive, got $c"))
    val deduped = dedupKey.fold(stream)(kc => stream.dropDuplicates(kc))
    val ckpt = checkpoint.getOrElse(s"$indexPath/_stream_checkpoint")
    deduped.writeStream
      .trigger(trigger)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replayed batchIds skip the append ([[BatchMarkers]]): a
        // re-appended batch would duplicate signature rows, and duplicated
        // signatures multiply pair rows in every bucket join downstream
        BatchMarkers.runOnce(batch.sparkSession, indexPath,
            BatchMarkers.streamId(ckpt), batchId) {
          graft.llm.DedupIndex.appendToIndex(batch, indexPath,
            textCol, idCol, n, k, bands)
        }: Unit
        compactEveryBatches
          .filter(c => (batchId + 1) % c == 0)
          .foreach { _ =>
            graft.llm.DedupIndex.compactIndex(batch.sparkSession, indexPath): Unit
          }
      }
      .start()
  }

  /** In-stream exact dedup: arriving documents are keyed by content
    * fingerprint (md5 of the text — the same key as the batch
    * [[graft.llm.Dedup.exactDupGroups]]) and only the FIRST arrival of each
    * fingerprint survives. The drop is enforced by the streaming state store
    * ACROSS micro-batches and across restarts (the seen-fingerprint state
    * rides the checkpoint), so a duplicate arriving hours later is still
    * dropped. Survivor semantics are arrival-order (streaming-natural),
    * where the batch dedup keeps min id.
    *
    * With `watermark = Some((tsCol, delay))` the state is BOUNDED:
    * `dropDuplicatesWithinWatermark` evicts fingerprints older than the
    * watermark, trading unbounded memory for "duplicates beyond `delay`
    * survive" — at 100 TB/stream-forever scale that bound is mandatory, and
    * the batch-side exact dedup is the compaction story at rest.
    */
  def dedupedStream(stream: DataFrame, textCol: String = "text",
                    watermark: Option[(String, String)] = None): DataFrame = {
    val withFp = stream.withColumn("_dedup_fp", md5(col(textCol)))
    val deduped = watermark match {
      case Some((tsCol, delay)) =>
        withFp.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark("_dedup_fp")
      case None => withFp.dropDuplicates("_dedup_fp")
    }
    deduped.drop("_dedup_fp")
  }

  /** [[appendPrepared]] composed with [[dedupedStream]]: arriving documents
    * land in the prepared corpus already exact-deduped. */
  def appendPreparedDeduped(stream: DataFrame, path: String,
                            textCol: String = "text",
                            checkpoint: Option[String] = None,
                            watermark: Option[(String, String)] = None): StreamingQuery =
    appendPrepared(dedupedStream(stream, textCol, watermark), path, checkpoint)

  /** One near-dup flag emitted by [[nearDupFlaggedStream]]: `id_a < id_b`,
    * estimated Jaccard = agreeing minhash components / k. */
  final case class NearDupFlag(id_a: Long, id_b: Long, est_jaccard: Double)

  /** Per-bucket LSH state: the (id, signature) sketches seen so far. */
  final case class BucketState(docs: List[(Long, Seq[Long])])

  /** The second streaming dedup tier — NEAR-duplicate flagging within the
    * stream, beyond [[dedupedStream]]'s exact tier.
    *
    * The minhash/band kernels are deterministic narrow maps (already
    * streaming-safe), so candidate blocking is the batch design verbatim:
    * each arriving document explodes to its `bands` LSH buckets, and
    * `flatMapGroupsWithState` keyed by (band, band_hash) holds each
    * bucket's seen signatures. A new arrival is compared against ONLY its
    * bucket's state — the same "no all-pairs" shape as the batch path,
    * now across micro-batches — and emits a [[NearDupFlag]] per stored
    * signature whose estimate clears `minEstJaccard`. State rides the
    * checkpoint, so a paraphrase arriving days later is still flagged.
    *
    * Bounds, the part that matters stream-forever: a bucket's state stops
    * growing at `maxBucketState` signatures (the streaming analog of the
    * batch hot-bucket cap — a boilerplate flood would otherwise accumulate
    * state without limit; overflow arrivals still flag against the stored
    * prefix and still pair through their other bands). A pair sharing
    * several bands emits one flag per shared bucket — dedup at rest, where
    * the batch `nearDupPairsFromSignatures.distinct()` already lives.
    */
  def nearDupFlaggedStream(stream: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id",
                           n: Int = 3, k: Int = 32, bands: Int = 8,
                           minEstJaccard: Double = 0.5,
                           maxBucketState: Int = 1000): Dataset[NearDupFlag] = {
    val sess = stream.sparkSession
    import sess.implicits._
    val sigs = stream.select(col(idCol),
      Dedup.minhashSignature(col(textCol), n, k).as("sig"))
    val buckets = Dedup.lshBucketsFromSignatures(sigs, idCol, k, bands)
      .select(col(idCol).cast("long").as("id"), col("sig"),
        col("band"), col("band_hash"))
      .as[(Long, Seq[Long], Int, Long)]
    buckets
      .groupByKey { case (_, _, band, bandHash) => (band, bandHash) }
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), rows: Iterator[(Long, Seq[Long], Int, Long)],
         state: org.apache.spark.sql.streaming.GroupState[BucketState]) =>
          var docs = state.getOption.map(_.docs).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer[NearDupFlag]()
          rows.foreach { case (id, sig, _, _) =>
            docs.iterator
              .filter(_._1 != id)
              .foreach { case (seenId, seenSig) =>
                var agree = 0
                var i = 0
                while (i < k) {
                  if (sig(i) == seenSig(i)) agree += 1
                  i += 1
                }
                val est = agree.toDouble / k
                if (est >= minEstJaccard)
                  out += NearDupFlag(math.min(id, seenId), math.max(id, seenId), est)
              }
            if (docs.sizeIs < maxBucketState) docs = (id, sig) :: docs
          }
          state.update(BucketState(docs))
          out.iterator
      }
  }
}
