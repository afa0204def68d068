package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json, for the DuckDB hash compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to named queries (a full dump takes
    // exactly two args)
    val specs =
      if (args.length > 2) args.drop(2).toSeq.map(SparkEntry.spec)
      else SparkEntry.all
    val spark = graft.core.GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    specs.foreach { sp =>
      // the parquet write fully consumes the frame, so a full dump's disk
      // footprint is one query's, not the whole registry's — at sf1+ the
      // SEG-Y round-trip family alone is tens of GB otherwise
      graft.core.TempDirs.releasingScratch(spark, s"[verify] ${sp.name}") {
        try sp.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${sp.name}")
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${sp.name} failed: ${e.getMessage}")
        }
      }
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
    val json = specs.map(sp => s"${q(sp.name)}: ${q(sp.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
