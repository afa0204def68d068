package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to named queries (local iteration only;
    // the driver always calls with exactly two args = full dump)
    val only = args.drop(2).toSet
    val spark = graft.core.GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // per-query scratch release (same bracket as Bench/Scale): the
      // parquet write fully consumes the frame and no query reads another
      // query's scratch (UUID-fresh paths), so a full dump's disk
      // footprint is one query's, not the whole registry's — at sf1+ the
      // SEG-Y round-trip family alone is tens of GB otherwise
      val scratchSnap = graft.core.TempDirs.snapshot()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      if (spark.streams.active.isEmpty)
        graft.core.TempDirs.releaseSince(scratchSnap): Unit
      else
        System.err.println(s"[verify] $name: streams still active — " +
          "skipping scratch release for this query")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
