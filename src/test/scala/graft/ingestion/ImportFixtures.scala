package graft.ingestion

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.`export`.{SegyExport, SegyHeaders}
import graft.sources.SegyRead

/** Standard SEG-Y files for the `segy import` specs, with seeded random
  * IBM32 samples: incompressible, so the store write keeps several
  * partitions after adaptive coalescing, and a shuffle that carries the
  * payload is orders of magnitude larger than one that carries headers.
  */
object ImportFixtures {

  /** Streamer shot gathers: `nShots` × `nCables` × `nChannels` traces with
    * channels numbered sequentially across cables (geometry Type B), and a
    * second copy of every `dupEvery`-th trace right after it in file order.
    * Returns the trace count.
    */
  def writeGathers(spark: SparkSession, file: String, nShots: Int = 12,
                   nCables: Int = 4, nChannels: Int = 48, nSamples: Int = 500,
                   dupEvery: Int = 97): Long = {
    import spark.implicits._
    val keys = for (s <- 0 until nShots; c <- 0 until nCables; k <- 0 until nChannels)
      yield (1001 + 2 * s, c + 1, c * nChannels + k + 1)
    val rows = keys.zipWithIndex.flatMap { case ((sp, cable, ch), i) =>
      val copies = if (i % dupEvery == dupEvery - 1) 2 else 1
      (0 until copies).map(j => (2 * i + j, sp, cable, ch))
    }.map { case (seq, sp, cable, ch) =>
      val rnd = new scala.util.Random(seq)
      (seq, sp, cable, ch, Array.fill(nSamples)(rnd.nextFloat()))
    }
    write(rows.toDF("seq", "sp", "cable", "ch", "v").orderBy("seq"), file, nSamples,
      Seq(SegyRead.HeaderField("shot_point", 17, 4) -> "sp",
        SegyRead.HeaderField("cable", 137, 2) -> "cable",
        SegyRead.HeaderField("channel", 13, 4) -> "ch"))
    rows.size.toLong
  }

  val GathersArgs: Seq[String] = Seq(
    "--header-locations", "17,137,13",
    "--header-names", "shot_point,cable,channel",
    "--header-types", "int32,int16,int32",
    "--grid-overrides", "AutoChannelWrap=true,HasDuplicates=true")

  /** A post-stack `nIl` × `nXl` grid, inlines from 1 and crosslines from 101. */
  def writePostStack(spark: SparkSession, file: String, nIl: Int = 32,
                     nXl: Int = 32, nSamples: Int = 1000): Long = {
    import spark.implicits._
    val rows = for (il <- 1 to nIl; xl <- 1 to nXl)
      yield {
        val rnd = new scala.util.Random(il * 1000L + xl)
        (il, 100 + xl, Array.fill(nSamples)(rnd.nextFloat()))
      }
    write(rows.toDF("il", "xl", "v").orderBy("il", "xl"), file, nSamples,
      Seq(SegyRead.StandardFields.Inline -> "il",
        SegyRead.StandardFields.Crossline -> "xl"))
    rows.size.toLong
  }

  val PostStackArgs: Seq[String] = Seq(
    "--header-locations", "189,193", "--header-names", "inline,crossline")

  private def write(rows: org.apache.spark.sql.DataFrame, file: String, nSamples: Int,
                    fields: Seq[(SegyRead.HeaderField, String)]): Unit =
    SegyExport.writeSegy(
      SegyExport.serializeStandardTraces(
        rows.withColumn("samples", SegyExport.ibmPayload(col("v"), nSamples)),
        fields, "samples"),
      file, SegyHeaders.sanitizeTextHeader(Seq("C 1 IMPORT FIXTURE")),
      SegyExport.standardBinaryHeader(nSamples, 2000, formatCode = 1))
}
