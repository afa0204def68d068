package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared staged-swap rewrite behind the BM25 and dedup index
  * compactors: the rewrite is row-preserving, shrinks file counts, leaves
  * no staging dir, carries hidden metadata dirs across the swap, and a
  * failing rewrite leaves the live table as it was.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toSeq.mkString(",")).toSeq.sorted

  test("rewriteInPlace folds a fragmented table: same rows, no staging") {
    val path = TempDirs.scratch("compaction_spec")
    // 20 one-row appends — the long-running-stream accumulation shape
    (0 until 20).foreach { i =>
      Seq((i.toLong % 4, i.toLong)).toDF("k", "v")
        .write.mode("append").parquet(path)
    }
    val before = rows(path)
    val (nBefore, nAfter) = Compaction.rewriteInPlace(spark, path)(
      _.repartitionByRange(2, col("k")).sortWithinPartitions("k", "v"))
    assert(nBefore == 20 && nAfter == 2, s"files $nBefore -> $nAfter")
    assert(rows(path) == before, "the rewrite is row-preserving")
    val table = new java.io.File(path)
    val staging = new java.io.File(table.getParentFile, s".${table.getName}_compacting")
    assert(!staging.exists, s"staging dir $staging must be swapped away")
  }

  test("rewriteInPlace keeps hidden metadata dirs across a swap") {
    val path = TempDirs.scratch("compaction_spec_hidden")
    (0 until 4).foreach { i =>
      Seq((i.toLong, i.toLong)).toDF("k", "v")
        .write.mode("append").parquet(path)
    }
    val ckpt = new java.io.File(s"$path/_stream_checkpoint/offsets")
    assert(ckpt.mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_stream_checkpoint/offsets/0"), "v1")
    Compaction.rewriteInPlace(spark, path)(_.coalesce(1)): Unit
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$path/_stream_checkpoint/offsets/0")) == "v1",
      "checkpoint contents must survive compaction")
    assert(spark.read.parquet(path).count() == 4L)
  }

  test("a rewrite that fails in its write job leaves the live table intact") {
    val path = TempDirs.scratch("compaction_spec_fail")
    Seq((1L, 2L), (3L, 4L)).toDF("k", "v").write.parquet(path)
    val before = rows(path)
    intercept[Exception] {
      Compaction.rewriteInPlace(spark, path)(
        _.withColumn("ok", assert_true(col("k") < 2L, lit("k too large"))))
    }
    assert(rows(path) == before, "a failed rewrite must leave the live table intact")
  }
}
