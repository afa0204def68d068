package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{Tables, TempDirs}

/** Fixture tables and helpers shared by the query families. */
private[queries] object QueryFixtures {

  def lineitem(s: SparkSession, d: String): DataFrame = Tables.lineitem(s, d)
  def orders(s: SparkSession, d: String): DataFrame = Tables.orders(s, d)
  def customer(s: SparkSession, d: String): DataFrame = Tables.customer(s, d)
  def events(s: SparkSession, d: String): DataFrame = Tables.events(s, d)
  def documents(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)
  def embeddings(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)

  /** The boilerplate flood for the adversarial-skew near-dup fixture
    * (q_neardup_lsh_skew): a long fixed preamble prepended to 30% of docs.
    * 42 words ≈ 40 shingles — enough to dominate most docs' minhash
    * components, so the flooded docs' bands collide into a handful of
    * quadratic-blowup buckets and the hot-bucket cap ENGAGES (the clean
    * fixtures never fire the default cap). No quotes — the string is
    * interpolated into the DuckDB oracle SQL verbatim.
    */
  val SkewBoilerplate: String =
    "subscribe to our newsletter for the latest updates and exclusive " +
    "offers terms of service apply all rights reserved unauthorized " +
    "reproduction is prohibited contact support for assistance follow us " +
    "on social media share this article with your friends read the full " +
    "story after the break advertisement continue reading below"

  val maskR = col("l_returnflag") === "R" && col("l_quantity") > 25

  /** BM25 demo queries — one literal list feeding BOTH the Spark plan and
    * the oracle generator, so the query-term tables agree by construction.
    */
  val bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "fast table scan",
    1L -> "spark window query",
    2L -> "customer data stream")

  /** Stage a single-file fixture table into a scratch DIRECTORY (the
    * file-stream source requires one; a real deployment streams a landing
    * dir to begin with) and return it. One copy per streaming query run.
    */
  def stageTableDir(s: SparkSession, d: String, table: String,
                    tag: String): String = {
    val srcDir = TempDirs.scratch(s"${tag}_src")
    val hconf = s.sparkContext.hadoopConfiguration
    val from = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
    val to = new org.apache.hadoop.fs.Path(s"$srcDir/${table}_0.parquet")
    org.apache.hadoop.fs.FileUtil.copy(from.getFileSystem(hconf), from,
      to.getFileSystem(hconf), to, false, hconf)
    srcDir
  }

  def stageEventsDir(s: SparkSession, d: String, tag: String): String =
    stageTableDir(s, d, "events", tag)

  /** File stream over a staged fixture dir (schema read from the files). */
  def tableStream(s: SparkSession, srcDir: String): DataFrame =
    s.readStream.schema(s.read.parquet(srcDir).schema).parquet(srcDir)

  /** File stream over a staged events dir, with the same nanos→micros ts
    * fix the batch `Tables.events` applies. `opts` reach the file source
    * (e.g. `maxFilesPerTrigger` for the time-sliced replays).
    */
  def eventsStream(s: SparkSession, srcDir: String,
                   opts: Map[String, String] = Map.empty): DataFrame = {
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

  /** Start a streaming query and block until it finishes, with
    * `spark.sql.shuffle.partitions` pinned to 8 meanwhile — the state-store
    * instance count is set by this at FIRST run against a checkpoint, and
    * the registered gates always start fresh checkpoints; 8 state
    * partitions beat 32 at fixture scale (less per-batch state store
    * open/commit overhead) and a production job sizes this deliberately
    * anyway. Restored in finally so the surrounding sequential
    * Verify/Bench session is untouched.
    */
  def runStream(s: SparkSession)(start: => StreamingQuery): Unit = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try start.awaitTermination()
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Drain `stream` into a fresh parquet sink (append mode, AvailableNow,
    * under [[runStream]]) and read the sink back as the result. The sink
    * and checkpoint are scratch paths `<tag>_out` and `<tag>_ckpt`.
    */
  def streamToParquet(s: SparkSession, tag: String)(stream: => DataFrame): DataFrame = {
    val out = TempDirs.scratch(s"${tag}_out")
    val ckpt = TempDirs.scratch(s"${tag}_ckpt")
    runStream(s) {
      stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start()
    }
    s.read.parquet(out)
  }

  /** Overlap independent EAGER side-effect steps (index builds, fixture
    * writes to disjoint scratch paths) from futures: actions
    * are only sequential because driver code calls them sequentially, so
    * submitting independent build jobs concurrently lets one job's
    * straggler tail backfill with the next job's tasks instead of paying
    * serial job barriers. Await rethrows, so failures stay loud; every
    * step writes to its own path, so results are order-independent.
    */
  def inParallel(steps: (() => Unit)*): Unit =
    graft.core.Par.run(steps: _*)
}
