package graft.core

/** Process-scoped scratch directories, deleted by a JVM shutdown hook so
  * repeated Verify/Bench runs don't accumulate staged sketch/store files.
  *
  * The scratch ROOT resolves from the Spark conf `graft.scratch.dir` when an
  * active session defines it, falling back to `java.io.tmpdir`. On a real
  * multi-node cluster the conf MUST point at a shared filesystem (object
  * store / HDFS) — executors have to read what the driver stages; the
  * tmpdir default is only correct for local mode. Explicit caller-chosen
  * staging paths are never registered for deletion.
  */
object TempDirs {

  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      // one bad path (e.g. a LinkageError resolving a filesystem impl at
      // shutdown, after classloaders start closing) must not abort the
      // hook and leak every path behind it — swallow per-path Throwable
      registered.forEach(p =>
        try deletePath(p) catch { case _: Throwable => () })
    }))

  /** Scratch root: `graft.scratch.dir` (shared path on clusters) or tmpdir. */
  private def root: String =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s =>
        try s.conf.getOption("graft.scratch.dir")
        catch { case _: Exception => None })
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** A fresh scratch path (not yet created), removed at JVM exit. */
  def scratch(tag: String): String = {
    hookInstalled
    val p = s"$root/graft_${tag}_" + java.util.UUID.randomUUID().toString
    registered.add(p)
    p
  }

  /** Eagerly delete a path handed out by [[scratch]] and drop it from the
    * exit-hook registry — for scoped stages whose files are fully consumed
    * before JVM exit ([[Scratch.withStage]]). Safe on never-created paths.
    */
  def release(p: String): Unit = {
    registered.remove(p)
    deletePath(p)
  }

  /** Snapshot of the live scratch registry, for [[releaseSince]]. */
  def snapshot(): java.util.Set[String] = {
    val s = new java.util.HashSet[String]()
    registered.forEach(p => { s.add(p); () })
    s
  }

  /** Release every scratch path registered AFTER `snap` was taken — the
    * long-session lever: scratch is deleted only at JVM exit by default,
    * so a driver that runs many queries in one session (a sweep, a
    * long-lived service) accumulates it unboundedly — the round-17 sf10
    * sweep filled 77 GB of disk from four SEG-Y round-trip runs alone and
    * starved every query after it. ONLY safe when the frames produced
    * since the snapshot are fully consumed (counted/written), because a
    * returned lazy frame still scans its scratch.
    */
  def releaseSince(snap: java.util.Set[String]): Int = {
    var n = 0
    registered.forEach { p =>
      // deletePath handles NonFatal internally (local-delete fallback);
      // a FATAL throwable on one path (LinkageError from a broken fs
      // impl) must not abort the whole sweep mid-release — drop the path
      // from the registry either way and keep sweeping
      if (!snap.contains(p)) {
        try release(p)
        catch { case _: Throwable => registered.remove(p): Unit }
        n += 1
      }
    }
    n
  }

  /** The per-query scratch bracket of a many-query sweep (Bench, Verify,
    * Scale): run `body`, then release every scratch path registered while
    * it ran, so the sweep's disk footprint stays one query's (the
    * round-17 sf10 sweep filled 77 GB from four SEG-Y round trips). Safe
    * only when `body` fully consumes its frames — counts or writes them —
    * and no query reads another query's scratch (paths are UUID-fresh).
    * A stream still running afterwards may hold reads against that
    * scratch: it gets a bounded wait (so a continuous query cannot hang
    * the sweep), then a stop, and if one is STILL active its paths stay
    * until JVM exit. `label` prefixes stderr notes.
    */
  def releasingScratch[T](spark: org.apache.spark.sql.SparkSession,
                          label: String)(body: => T): T = {
    val snap = snapshot()
    try body
    finally {
      spark.streams.active.foreach { q =>
        if (!q.awaitTermination(60000L)) {
          System.err.println(
            s"$label: stream ${q.name} still running after 60 s — stopping it")
          q.stop()
        }
      }
      if (spark.streams.active.nonEmpty)
        System.err.println(s"$label: ${spark.streams.active.length} streams " +
          "still active — skipping scratch release")
      else {
        val n = releaseSince(snap)
        if (n > 0) System.err.println(s"$label: released $n scratch dirs")
      }
    }
  }

  /** Total on-disk bytes across still-registered scratch paths — the
    * footprint a sweep's per-query releases leave behind. Resolves each
    * path's scheme the same way [[deletePath]] does: non-local schemes go
    * through Hadoop's `getContentSummary` (so a shared-filesystem scratch
    * root doesn't silently read 0 while remote scratch remains), local
    * paths use an NIO walk that neither follows directory symlinks nor
    * sizes through file symlinks (a link into the fixture tree would
    * otherwise double-count or loop). `None` = at least one path could
    * not be measured — callers should record "unknown", not 0.
    */
  def liveBytes(): Option[Long] = {
    var total = 0L
    var unknown = false
    registered.forEach { p =>
      pathBytes(p) match {
        case Some(n) => total += n
        case None    => unknown = true
      }
    }
    if (unknown) None else Some(total)
  }

  private def pathBytes(p: String): Option[Long] = {
    import scala.util.control.NonFatal
    val scheme =
      try Option(new java.net.URI(p).getScheme).getOrElse("file")
      catch { case NonFatal(_) => "file" }
    if (scheme == "file") {
      import java.nio.file.{Files, LinkOption, Paths}
      import java.nio.file.attribute.BasicFileAttributes
      val path = Paths.get(p)
      if (!Files.exists(path, LinkOption.NOFOLLOW_LINKS)) Some(0L)
      else
        try {
          val walk = Files.walk(path) // does NOT follow dir symlinks
          try {
            var sum = 0L
            walk.forEach { f =>
              val attrs = Files.readAttributes(
                f, classOf[BasicFileAttributes], LinkOption.NOFOLLOW_LINKS)
              if (attrs.isRegularFile) sum += attrs.size()
            }
            Some(sum)
          } finally walk.close()
        } catch { case NonFatal(_) => None }
    } else
      try {
        val conf = org.apache.spark.sql.SparkSession.getActiveSession
          .flatMap(s => try Some(s.sessionState.newHadoopConf())
                        catch { case NonFatal(_) => None })
          .getOrElse(new org.apache.hadoop.conf.Configuration())
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf)
        if (!fs.exists(hp)) Some(0L)
        else Some(fs.getContentSummary(hp).getLength)
      } catch { case NonFatal(_) => None }
  }

  /** Best-effort recursive delete that understands non-local schemes (the
    * shared-filesystem scratch root case). The Hadoop conf comes from the
    * active session when one exists — a fresh `Configuration()` may lack
    * the session's object-store credentials, and a credential failure
    * falling through to the local-file branch would silently leak remote
    * scratch. */
  private def deletePath(p: String): Unit =
    try {
      val conf = org.apache.spark.sql.SparkSession.getActiveSession
        .flatMap(s => try Some(s.sessionState.newHadoopConf())
                      catch { case scala.util.control.NonFatal(_) => None })
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      fs.delete(hp, true)
      ()
    } catch {
      case scala.util.control.NonFatal(_) =>
        deleteRecursively(new java.io.File(p))
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
