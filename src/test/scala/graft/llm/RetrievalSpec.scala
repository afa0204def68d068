package graft.llm

import graft.SparkSpec

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark runs fast very fast"),
    (2L, "spark is a query engine"),
    (3L, "the cat sat on the mat"),
    (4L, "fast fast fast fast fast fast fast fast"),
    (5L, "FAST spark"), // case-folds
  ).toDF("doc_id", "text")

  test("index build leaves no scratch files behind (scoped stage)") {
    // writeIndex runs per micro-batch on a stream: an exit-hook-lifetime
    // scratch dir per batch is unbounded disk growth on a long stream
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchDirs() = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_scratch_bm25_widx_")).toSet
    val before = scratchDirs()
    Retrieval.buildIndex(docs, graft.core.TempDirs.scratch("bm25_clean_spec"))
    assert(scratchDirs() == before,
      "the bm25_widx stage must be deleted when writeIndex returns")
  }

  test("docs sharing no query term never surface") {
    val out = Retrieval.bm25TopK(docs, Seq(0L -> "spark fast"), k = 10)
    assert(!out.collect().map(_.getAs[Long]("doc_id")).contains(3L))
  }

  test("a doc matching both terms outranks equal-length single-term docs") {
    val out = Retrieval.bm25TopK(docs, Seq(0L -> "spark engine"), k = 10)
      .orderBy("rank").collect().map(_.getAs[Long]("doc_id"))
    // doc 2 has both terms; docs 1 and 5 have only "spark"
    assert(out.head == 2L)
  }

  test("tf saturates: 8× repetition does not scale the score 8×") {
    val out = Retrieval.bm25TopK(docs, Seq(0L -> "fast"), k = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score"))
      .toMap
    // doc 4 (tf=8, dl=8) vs doc 5 (tf=1, dl=2): more weight, but bounded
    assert(out(4L) > out(5L))
    assert(out(4L) < out(5L) * 8.0)
  }

  test("matching is case-insensitive on both sides") {
    val out = Retrieval.bm25TopK(docs, Seq(0L -> "SPARK"), k = 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out == Set(1L, 2L, 5L))
  }

  test("per-query top-k with dense ranks, ties broken by doc id") {
    val out = Retrieval.bm25TopK(docs,
      Seq(0L -> "spark", 1L -> "fast"), k = 2).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(0L, 1L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.sameElements(Array(1L, 2L)))
    }
  }

  test("only broadcast exchanges: the corpus side never shuffles text") {
    val plan = Retrieval.bm25TopK(docs, Seq(0L -> "spark fast"), k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"stats must ride a broadcast, not a cartesian:\n$plan")
  }

  test("index path equals the demo path and pushes the term filter down") {
    val path = graft.core.TempDirs.scratch("bm25_spec")
    Retrieval.buildIndex(docs, path)
    val queries = Seq(0L -> "spark fast", 1L -> "engine")
    val fromIdx = Retrieval.bm25TopKFromIndex(spark, path, queries, k = 10)
    val direct = Retrieval.bm25TopK(docs, queries, k = 10)
    assert(fromIdx.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
    val scan = fromIdx.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("In(term"),
      s"postings scan must push term IN (...) to parquet:\n$scan")
  }

  test("zero-token docs count in the index stats (null-marker row)") {
    // the empty doc contributes n_docs += 1 / sum_dl += 0 via its
    // term-null marker row; losing it would shift avgdl and every score
    val withEmpty = docs.unionByName(Seq((6L, "")).toDF("doc_id", "text"))
    val queries = Seq(0L -> "spark fast", 1L -> "engine")
    val direct = Retrieval.bm25TopK(withEmpty, queries, k = 10)
      .collect().map(_.toSeq).toSet
    val path = graft.core.TempDirs.scratch("bm25_empty_spec")
    Retrieval.buildIndex(withEmpty, path)
    // the index is ONE table: stats ride as null-term marker rows
    // (id=NULL, dl=Σdl, term=NULL, tf=n_docs) in the same write job as
    // the postings — atomic per append
    assert(!new java.io.File(s"$path/stats").exists(),
      "single-table layout: no separate stats directory")
    val markers = spark.read.parquet(s"$path/postings")
      .where($"term".isNull).collect()
    assert(markers.length == 1, "one marker row per build/append")
    assert(markers.head.getAs[Long]("tf") == 6L,
      "the zero-token doc must count in n_docs (marker tf)")
    assert(markers.head.getAs[Long]("dl") == 26L, // 5+5+6+8+2, empty adds 0
      "marker dl must total the five real docs' token counts")
    assert(Retrieval.bm25TopKFromIndex(spark, path, queries, k = 10)
      .collect().map(_.toSeq).toSet == direct)
  }

  test("appended index ranks EXACTLY like a fresh build over the union") {
    val path = graft.core.TempDirs.scratch("bm25_append_spec")
    Retrieval.buildIndex(docs.where($"doc_id" <= 3), path)
    Retrieval.appendToIndex(docs.where($"doc_id" > 3), path)
    val queries = Seq(0L -> "spark fast", 1L -> "engine")
    val appended = Retrieval.bm25TopKFromIndex(spark, path, queries, k = 10)
    val direct = Retrieval.bm25TopK(docs, queries, k = 10)
    assert(appended.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
    // each append committed exactly one stats marker with its postings
    assert(spark.read.parquet(s"$path/postings")
      .where($"term".isNull).count() == 2L)
  }

  test("compactIndex folds appends back into the built shape — ranking " +
      "identical, one marker, fewer files") {
    val path = graft.core.TempDirs.scratch("bm25_compact_spec")
    Retrieval.buildIndex(docs.where($"doc_id" <= 2), path)
    docs.where($"doc_id" > 2).collect().foreach { r =>
      Retrieval.appendToIndex(
        Seq((r.getLong(0), r.getString(1))).toDF("doc_id", "text"), path)
    }
    val queries = Seq(0L -> "spark fast", 1L -> "engine")
    val before = Retrieval.bm25TopKFromIndex(spark, path, queries, k = 10)
      .collect().map(_.toSeq).toSet
    val (nBefore, nAfter) = Retrieval.compactIndex(spark, path)
    assert(nAfter < nBefore, s"compaction must shrink files ($nBefore -> $nAfter)")
    assert(spark.read.parquet(s"$path/postings")
      .where($"term".isNull).count() == 1L, "markers fold to one row")
    val after = Retrieval.bm25TopKFromIndex(spark, path, queries, k = 10)
    assert(after.collect().map(_.toSeq).toSet == before,
      "compaction must not change the ranking")
    val scan = after.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("In(term"),
      s"compacted scan must still push term IN (...):\n$scan")
  }

  test("streamed appendPostings with compactEveryBatches bounds the file " +
      "count and keeps one marker") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = graft.core.TempDirs.scratch("bm25_stream_compact_spec")
    Retrieval.buildIndex(docs.where($"doc_id" <= 2), path)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingRetrieval.appendPostings(
      input.toDF().toDF("doc_id", "text"), path,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      compactEveryBatches = Some(1))
    try {
      docs.where($"doc_id" > 2).collect().foreach { r =>
        input.addData((r.getLong(0), r.getString(1)))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(spark.read.parquet(s"$path/postings")
      .where($"term".isNull).count() == 1L,
      "per-batch markers must fold away under streaming compaction")
    val streamed = Retrieval.bm25TopKFromIndex(spark, path,
      Seq(0L -> "spark fast", 1L -> "engine"), k = 10)
    val direct = Retrieval.bm25TopK(docs, Seq(0L -> "spark fast", 1L -> "engine"), k = 10)
    assert(streamed.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet,
      "compacted streamed index must rank exactly like the batch build")
  }

  test("streamed postings append once — replays absorbed, ranking exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = graft.core.TempDirs.scratch("bm25_stream_spec")
    Retrieval.buildIndex(docs.where($"doc_id" <= 3), path)

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val late = Seq((4L, "fast fast fast fast fast fast fast fast"),
      (5L, "FAST spark"))
    val q = graft.streaming.StreamingRetrieval.appendPostings(stream, path,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      input.addData(late: _*)
      q.processAllAvailable()
      input.addData(late: _*) // source replay must not double-count
      q.processAllAvailable()
    } finally q.stop()

    val queries = Seq(0L -> "spark fast")
    val streamed = Retrieval.bm25TopKFromIndex(spark, path, queries, k = 10)
    val direct = Retrieval.bm25TopK(docs, queries, k = 10)
    assert(streamed.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
  }

  test("RRF: a doc ranked by both arms beats docs ranked by one") {
    import org.apache.spark.sql.functions.lit
    val a = Seq((0L, 10L, 1L), (0L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 10L, 2L), (0L, 12L, 1L)).toDF("query_id", "doc_id", "rank")
    val fused = Retrieval.rrfFuse(Seq("a" -> a, "b" -> b), k = 10)
      .orderBy("rank").collect()
    assert(fused.head.getAs[Long]("doc_id") == 10L)
    // 1/61 + 1/62 for doc 10; 1/61 for 12; 1/62 for 11
    assert(fused.head.getAs[Double]("score") == 1.0 / 61 + 1.0 / 62)
    assert(fused.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L, 12L, 11L))
  }

  test("append is one pass: two jobs, no scratch stage, no leaked cache") {
    // the append path's materialize-once barrier is an eager persist, not
    // the build path's parquet stage — the stage's write+read round-trip
    // was the avoidable half of the per-append cost in the sf10 streaming
    // sweep (SCALING.md round-14). Pinned three ways: (1) exactly TWO jobs
    // run (one materialization of the tokenize→aggregate — the corpus
    // scans once — and one postings+marker write; AQE off so job
    // accounting is deterministic), (2) no bm25_widx scratch dir appears,
    // (3) the cache is released on return.
    val path = graft.core.TempDirs.scratch("bm25_onepass_spec")
    Retrieval.buildIndex(docs.where($"doc_id" <= 3), path)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchDirs() = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_scratch_bm25_widx_")).toSet
    val before = scratchDirs()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val jobs =
      try graft.core.JobRecorder.record(spark)(
        Retrieval.appendToIndex(docs.where($"doc_id" > 3), path))._2.jobs
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(jobs == 2,
      s"append must be one materialize job + one write job, saw $jobs")
    assert(scratchDirs() == before,
      "the append path must not stage to scratch parquet")
    assertNoLingeringCache() // the append barrier cache must release on return
    val appended = Retrieval.bm25TopKFromIndex(spark, path,
      Seq(0L -> "spark fast", 1L -> "engine"), k = 10)
    val direct = Retrieval.bm25TopK(docs,
      Seq(0L -> "spark fast", 1L -> "engine"), k = 10)
    assert(appended.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet,
      "the persist-barrier append must rank exactly like the staged build")
  }
}
