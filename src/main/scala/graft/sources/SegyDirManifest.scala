package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Directory-table PLANNING at survey scale: a real shot-file prefix holds
  * thousands of members (the reference fans exactly this per-file header
  * work to a process pool, `segy/parsers.py:58-75`), and a serial driver
  * loop of `open + readFully(3600)` per member is 10–20 MINUTES of planning
  * on an object store before the first task launches — repeated on every
  * re-open. Two fixes compose here:
  *
  *  1. **Fan-out**: member header reads run as a small Spark job (one task
  *     per bounded batch of members) above [[DistributeThreshold]] members,
  *     or on a bounded driver thread pool below it (a job's fixed overhead
  *     beats a handful of 3600-byte reads only past a few dozen files).
  *     Tasks call the pure [[SegyRead.parseStandardInfo]] — no driver
  *     state, no [[SegyRead.standardInfo]] serial path.
  *  2. **Manifest cache**: the gathered `(path, StandardInfo)` list is
  *     cached per directory, keyed by the listing SIGNATURE
  *     (name, size, mtime per member — all from the ONE `listStatus` the
  *     open already does). A re-open of an unchanged directory costs one
  *     listing round-trip and zero member reads; any member change
  *     (added, replaced, grown) misses and rebuilds.
  *
  * Driver memory: a manifest row is ~3.7 KB (decoded text header + raw
  * binary header), so 10k members ≈ 37 MB — O(members), same order as
  * Spark's own `InMemoryFileIndex` for a parquet directory of that size.
  */
object SegyDirManifest {

  /** One member in a directory listing: path + the two mutation-visible
    * stat fields. The full sorted sequence is the cache signature.
    */
  final case class Member(path: String, size: Long, mtime: Long)

  private final case class Entry(signature: Seq[Member],
                                 infos: Seq[(String, SegyRead.StandardInfo)])

  /** Access-ordered LRU keyed by directory, bounded by TOTAL cached member
    * rows (~3.7 KB each) across directories — a service that opens
    * hundreds of surveys no longer accumulates manifests forever. Guarded
    * by its own monitor: planning is a driver-side, low-contention path.
    */
  private val cache =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, /*accessOrder=*/ true)

  // -------- observability (asserted by SegyDirPlanningSpec) --------
  /** Completed gathers (cache misses that rebuilt). */
  val builds = new AtomicLong(0L)
  /** Signature-matched cache hits (re-opens that cost only the listing). */
  val hits = new AtomicLong(0L)
  /** Directories dropped by the LRU bound. */
  val evictions = new AtomicLong(0L)
  /** How the LAST build gathered: "distributed" (Spark job) | "pooled". */
  @volatile var lastBuildMode: String = ""

  /** Total member rows the manifest LRU may retain across directories
    * (`graft.segy.planning.manifestCacheMembers`, default 20k ≈ 74 MB).
    * The most recent directory is always kept, even if it alone exceeds
    * the budget — planning correctness never depends on the cache.
    */
  def cacheMemberBudget(spark: SparkSession): Int =
    spark.conf.getOption("graft.segy.planning.manifestCacheMembers")
      .map(_.toInt).getOrElse(20000)

  /** Member count at and above which the gather runs as a Spark job
    * instead of a driver thread pool. Fixed: the former
    * `graft.segy.planning.distributeThreshold` conf had no setter, and
    * SegyDirPlanningSpec reaches both arms through the member count.
    */
  val DistributeThreshold = 64

  /** Standard infos for a directory's members, name-sorted, from cache
    * when the listing signature is unchanged. `members` must already be
    * name-sorted (the resolver's contract).
    *
    * Staleness caveat: the signature is (name, size, mtime) from the
    * directory listing. A member REWRITTEN IN PLACE to identical size
    * within the filesystem's mtime granularity (coarse-mtime object
    * stores round to seconds) is indistinguishable from unchanged and
    * serves the cached plan — call [[invalidate]] after such a rewrite,
    * exactly as with Spark's own file-index caching.
    */
  def memberInfos(spark: SparkSession, dirPath: String, members: Seq[Member])
      : Seq[(String, SegyRead.StandardInfo)] = {
    require(members.nonEmpty, s"$dirPath resolved to no members")
    val cached = cache.synchronized(cache.get(dirPath))
    if (cached != null && cached.signature == members) {
      hits.incrementAndGet()
      return cached.infos
    }
    val infos =
      if (members.size >= DistributeThreshold) gatherDistributed(spark, members)
      else gatherPooled(spark, members)
    val budget = cacheMemberBudget(spark)
    cache.synchronized {
      cache.put(dirPath, Entry(members, infos))
      // evict LRU directories until within the member budget; the entry
      // just inserted (most recent) always survives
      var total = 0L
      cache.values.forEach(e => total += e.signature.size)
      val it = cache.entrySet().iterator()
      while (total > budget && cache.size() > 1 && it.hasNext) {
        val eldest = it.next()
        if (eldest.getKey != dirPath) {
          total -= eldest.getValue.signature.size
          it.remove()
          evictions.incrementAndGet()
        }
      }
    }
    builds.incrementAndGet()
    infos
  }

  /** Drop a directory's cached manifest (tests; or after an external
    * writer mutates members without changing size/mtime granularity).
    */
  def invalidate(dirPath: String): Unit =
    cache.synchronized(cache.remove(dirPath))

  /** Cached directories right now (tests). */
  def cachedDirs: Seq[String] = cache.synchronized {
    val b = Seq.newBuilder[String]
    cache.keySet().forEach(k => b += k)
    b.result()
  }

  /** Spark-job gather: one task per member batch, each task reads its
    * members' 3600-byte heads and parses them; the driver collects only
    * the parsed infos. At 10k members on 1000 executors this is one
    * short wave instead of a 10-minute serial driver loop.
    */
  private def gatherDistributed(spark: SparkSession, members: Seq[Member])
      : Seq[(String, SegyRead.StandardInfo)] = {
    lastBuildMode = "distributed"
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration))
    // ~32 members per task: enough to amortize task launch, small enough
    // that a 10k-member plan still spreads over hundreds of tasks
    val slices = math.max(1, math.min(members.size / 32 + 1,
      spark.sparkContext.defaultParallelism * 4))
    val gathered = spark.sparkContext
      .parallelize(members.map(m => (m.path, m.size)), slices)
      .map { case (path, size) =>
        path -> SegyRead.parseStandardInfo(path, size,
          SegyRead.readHead(confSer.value, path, size))
      }
      .collect()
    reorder(members, gathered)
  }

  /** Bounded driver pool for small directories, where one job's fixed
    * scheduling cost exceeds the reads themselves. Still concurrent —
    * object-store opens are latency-bound, not bandwidth-bound.
    */
  private def gatherPooled(spark: SparkSession, members: Seq[Member])
      : Seq[(String, SegyRead.StandardInfo)] = {
    lastBuildMode = "pooled"
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    // daemon threads: a failed gather must not pin JVM exit on queued reads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, members.size),
      (r: Runnable) => {
        val t = new Thread(r, "segy-manifest-gather")
        t.setDaemon(true)
        t
      })
    try {
      val futures = members.map { m =>
        pool.submit(new java.util.concurrent.Callable[(String, SegyRead.StandardInfo)] {
          def call(): (String, SegyRead.StandardInfo) =
            m.path -> SegyRead.parseStandardInfo(m.path, m.size,
              SegyRead.readHead(conf, m.path, m.size))
        })
      }
      try futures.map { f =>
        try f.get()
        catch { // surface the real parse/IO failure, not the wrapper
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      } catch { case e: Throwable =>
        // abort the outstanding reads promptly (slow object stores would
        // otherwise drain the whole queue before the failure propagates)
        pool.shutdownNow()
        throw e
      }
    } finally pool.shutdown()
  }

  /** collect() order is partition order (already member order here), but
    * re-assert name-sorted output against the input explicitly — the
    * geometry-agreement error messages index into this sequence.
    */
  private def reorder(members: Seq[Member],
                      gathered: Array[(String, SegyRead.StandardInfo)])
      : Seq[(String, SegyRead.StandardInfo)] = {
    val byPath = gathered.toMap
    members.map(m => m.path -> byPath(m.path))
  }
}
