package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.llm._
import QueryFixtures._

/** Registered queries for structured streaming: each query replays a staged
  * fixture as a file stream to completion (Trigger.AvailableNow) and is
  * gated on what it left behind: a parquet sink, an MDIO store or an index.
  */
object StreamingQueries {

  val all: Seq[QuerySpec] = Seq(
    // Structured Streaming under the ORACLE: the events table replayed as a
    // file stream through the watermarked 1-hour window agg (append mode,
    // AvailableNow), sink read back as the result. Append emission is
    // deterministic: the final no-data microbatch flushes every window
    // whose end <= max(ts) − watermark, which the oracle mirrors in SQL —
    // so the streaming path (state store, watermark arithmetic, flush)
    // hash-matches the batch world
    QuerySpec("q_stream_hourly", (s, d) => {
      val fixed = eventsStream(s, stageEventsDir(s, d, "stream_hourly"))
      streamToParquet(s, "stream_hourly") {
        graft.streaming.StreamingEvents.hourlyAggStream(fixed)
      }
    },
      // append-mode emission: a window flushes when the final watermark
      // (max event time − 2h delay) passes its end
      """WITH mx AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events),
        |agg AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    event_type, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, n_events, sum_value FROM agg, mx
        |WHERE hour + INTERVAL 1 HOUR <= wm""".stripMargin),
    // session windows under the same streaming-vs-oracle contract: the
    // state store merges per-user sessions (gap 30 min), append emission
    // flushes sessions whose END (last event + gap) the final watermark
    // passed — the oracle rebuilds the same sessions with the batch
    // lag/gap construction and applies the same flush predicate
    QuerySpec("q_stream_sessions", (s, d) => {
      val fixed = eventsStream(s, stageEventsDir(s, d, "stream_sess"))
      streamToParquet(s, "stream_sess") {
        graft.streaming.StreamingEvents.sessionWindowStream(fixed)
      }
    },
      // sessions rebuilt batch-side (lag/gap), flushed when the final
      // watermark passes session_end = last event + gap
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
        |HAVING max(ts) + INTERVAL 30 MINUTE <= wm""".stripMargin),
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
    QuerySpec("q_stream_sessions_bounded", (s, d) => {
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
      streamToParquet(s, "stream_sessb") {
        graft.streaming.StreamingEvents.sessionWindowStream(fixed)
      }
    },
      // the bounded-state variant emits the SAME session set (time-ordered
      // slices make no event late; the final watermark and flush rule are
      // unchanged) — the oracle is deliberately identical
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
        |HAVING max(ts) + INTERVAL 30 MINUTE <= wm""".stripMargin),
    // arbitrary-state streaming under the oracle: the
    // flatMapGroupsWithState sessionizer emits a session when a successor
    // event closes it OR the event-time watermark passes its timeout
    // (lastTs + gap) — both re-derivable in SQL, and per-session double
    // sums fold in (ts, arrival) order which is deterministic because the
    // fixture has no duplicate (user, ts) pairs
    QuerySpec("q_stream_state_sessions", (s, d) => {
      import s.implicits._
      val typed = eventsStream(s, stageEventsDir(s, d, "stream_fmgs"))
        .select(col("user_id"), col("ts"), col("value"))
        .as[graft.streaming.StatefulSessions.Event]
      streamToParquet(s, "stream_fmgs") {
        graft.streaming.StatefulSessions.sessionizeStream(typed)
          .toDF()
      }
    },
      // emitted sessions: closed by a successor (not the user's latest) or
      // timed out (session_end + gap strictly before the final watermark);
      // seedless ordered list_reduce replays the stateful double fold
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
        |    < wm_us""".stripMargin),
    // the streaming MDIO sink under the oracle: events stream through
    // dropDuplicates state and the foreachBatch mdio append (schema
    // validation + sidecar per batch), then the RE-OPENED store aggregates
    // — gating the whole stream→store→open path against the batch world
    QuerySpec("q_stream_store", (s, d) => {
      val store = graft.core.TempDirs.scratch("stream_store")
      val ckpt = graft.core.TempDirs.scratch("stream_store_ckpt")
      val fixed = eventsStream(s, stageEventsDir(s, d, "stream_store"))
        .select("event_id", "user_id", "event_type", "value")
      runStream(s) {
        graft.streaming.StreamingMdio.appendToStore(fixed, store,
          checkpoint = Some(ckpt), dedupKey = Some("event_id"))
      }
      graft.storage.MdioDataset.open(s, store).df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_value"))
    },
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin),
    // in-stream EXACT dedup under the oracle: documents replayed as a file
    // stream through dropDuplicates-on-fingerprint — the state store drops
    // every re-arrival of a seen md5 ACROSS micro-batches. Which arrival
    // survives is arrival-order (racey across 32 threads), but duplicates
    // share their text byte-for-byte, so projecting only text-derived
    // columns makes the survivor set deterministic == batch DISTINCT-by-hash
    QuerySpec("q_stream_dedup", (s, d) => {
      val raw = tableStream(s, stageTableDir(s, d, "documents", "stream_dedup"))
      streamToParquet(s, "stream_dedup") {
        graft.streaming.StreamingCorpus.dedupedStream(raw)
          .select(md5(col("text")).as("h"),
            length(col("text")).cast("long").as("n_chars_c"))
      }
    },
      // duplicates share text byte-for-byte, so the survivor projection is
      // one row per distinct content hash regardless of which arrival won
      """SELECT md5(text) AS h, CAST(length(text) AS BIGINT) AS n_chars_c
        |FROM documents GROUP BY 1, 2""".stripMargin),
    // the quality gate as a CONTINUOUS stage: gopherRules is a pure narrow
    // projection, so the same expressions run unchanged inside the
    // streaming plan — arriving documents land already quality-scored
    QuerySpec("q_stream_quality", (s, d) => {
      val raw = tableStream(s, stageTableDir(s, d, "documents", "stream_quality"))
      streamToParquet(s, "stream_quality") {
        TextAnalysis.gopherRules(raw)
      }
    },
      // the same projection in-stream is the same table
      OracleSqlGen.gopherRulesSql()),
    // the BOUNDED-state exact dedup tier: dropDuplicatesWithinWatermark
    // evicts fingerprints older than the event-time watermark — mandatory
    // stream-forever (unbounded seen-state cannot scale); with a
    // deterministic synthetic event time and a delay covering the fixture
    // span, nothing evicts and the survivor set equals the batch world,
    // gating the bounded plumbing (watermark wiring, state TTL) exactly
    QuerySpec("q_stream_dedup_wm", (s, d) => {
      // synthetic deterministic event time, offset WELL past epoch zero:
      // the state store's timestamp arithmetic treats values at/below the
      // initial watermark (0) as droppable-late — a real stream never
      // carries 1970 event times, the fixture must not either
      val raw = tableStream(s, stageTableDir(s, d, "documents", "stream_dedupwm"))
        .withColumn("ts",
          timestamp_micros((col("doc_id") + 86400000L) * 1000000L))
      streamToParquet(s, "stream_dedupwm") {
        graft.streaming.StreamingCorpus
          .dedupedStream(raw, watermark = Some(("ts", "365 days")))
          .select(md5(col("text")).as("h"),
            length(col("text")).cast("long").as("n_chars_c"))
      }
    },
      // delay covers the fixture span ⇒ no eviction ⇒ batch-equal survivors
      """SELECT md5(text) AS h, CAST(length(text) AS BIGINT) AS n_chars_c
        |FROM documents GROUP BY 1, 2""".stripMargin),
    // in-stream NEAR-dup flagging under the oracle: each arriving document
    // explodes to its LSH band buckets; flatMapGroupsWithState keyed by
    // (band, band_hash) compares it against ONLY its bucket's stored
    // signatures (state rides the checkpoint — a paraphrase arriving days
    // later still flags). A pair sharing several bands emits once per
    // shared bucket; est_jaccard is computed from the full signatures, so
    // the distinct-at-rest pair set equals the batch banded q_neardup_lsh
    // plan — the bucket-state cap is pinned to the batch bucket cap so
    // neither side trips it at fixture scale
    QuerySpec("q_stream_neardup", (s, d) => {
      val raw = tableStream(s, stageTableDir(s, d, "documents", "stream_neardup"))
      streamToParquet(s, "stream_neardup") {
        graft.streaming.StreamingCorpus
          .nearDupFlaggedStream(raw, maxBucketState = 10000)
          .toDF()
      }.distinct()
    },
      // the streaming flag set distincts to exactly the batch banded pair set
      OracleSqlGen.nearDupLshSql()),
    // streaming BM25 index maintenance under the oracle: the index is BUILT
    // on the even-id half of the corpus, the odd-id half arrives as a
    // stream whose postings append between triggers — and because dfs and
    // avgdl derive at query time from the accumulated sums, the ranking
    // over the final index is EXACT: top-k equals the batch full-corpus
    // q_bm25 oracle, proving appends lose nothing
    QuerySpec("q_stream_bm25", (s, d) => {
      val idx = graft.core.TempDirs.scratch("stream_bm25_idx")
      val ckpt = graft.core.TempDirs.scratch("stream_bm25_ckpt")
      val srcDir = graft.core.TempDirs.scratch("stream_bm25_src")
      val docs = documents(s, d)
      // index build and stream-source staging are independent — overlap
      inParallel(
        () => Retrieval.buildIndex(docs.where(col("doc_id") % 2 === 0), idx),
        () => docs.where(col("doc_id") % 2 === 1).write.parquet(srcDir))
      runStream(s) {
        graft.streaming.StreamingRetrieval.appendPostings(
          tableStream(s, srcDir), idx, checkpoint = Some(ckpt))
      }
      Retrieval.bm25TopKFromIndex(s, idx, bm25Queries, k = 10)
    },
      // half-built half-streamed index, EXACT ranking == full-corpus BM25
      OracleSqlGen.bm25Sql(bm25Queries, k = 10)),
    // stream-stream interval join under the oracle: clicks and purchases
    // as two watermarked streams, inner-joined on user within the 2-hour
    // window — state eviction rides the watermarks, but an INNER interval
    // join emits exactly the batch pair set, so the sink equals the
    // q_range_join-style SQL
    QuerySpec("q_stream_join", (s, d) => {
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
      streamToParquet(s, "stream_join") {
        clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("click_ts") >= col("p_ts") &&
            col("click_ts") <= col("p_ts") + expr("INTERVAL 2 HOURS"))
          .select(col("event_id"), col("user_id"), col("click_ts"),
            col("p_ts"), col("purchase_id"))
      }
    },
      """WITH c AS (SELECT event_id, user_id, ts AS click_ts FROM events
        |    WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.click_ts, p.p_ts, p.purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c.click_ts BETWEEN p.p_ts
        |    AND p.p_ts + INTERVAL 2 HOUR""".stripMargin),
    // streaming dedup-index maintenance under the oracle: half the corpus
    // builds the index, the other half streams in (per-batch atomic
    // appends + in-stream compaction), and the final pair query must land
    // exactly on the batch q_neardup_lsh answer
    QuerySpec("q_stream_neardup_index", (s, d) => {
      val idx = graft.core.TempDirs.scratch("stream_ndidx")
      val ckpt = graft.core.TempDirs.scratch("stream_ndidx_ckpt")
      val srcDir = graft.core.TempDirs.scratch("stream_ndidx_src")
      val docs = documents(s, d)
      // index build and stream-source staging are independent — overlap
      inParallel(
        () => DedupIndex.buildIndex(docs.where(col("doc_id") % 2 === 0), idx),
        () => docs.where(col("doc_id") % 2 === 1).write.parquet(srcDir))
      runStream(s) {
        graft.streaming.StreamingCorpus.appendDedupIndex(
          tableStream(s, srcDir), idx, checkpoint = Some(ckpt),
          compactEveryBatches = Some(2))
      }
      DedupIndex.pairsFromIndex(s, idx)
    },
      OracleSqlGen.nearDupLshSql()),
  )
}
