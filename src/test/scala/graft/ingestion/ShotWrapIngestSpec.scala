package graft.ingestion

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.JobRecorder
import graft.schema.TemplateRegistry
import graft.storage.MdioDataset
import graft.tools.Cli

/** End-to-end ingests through the shot-wrap strategies (G6): a streamer
  * with `AutoShotWrap` (two guns firing interleaved shot points, so the
  * floor-div branch) and an OBN survey with `CalculateShotIndex` (dense
  * rank per shot line, `component` synthesized). The computed `shot_index`
  * is a grid dim the header pre-pass cannot see, so the grid QC, the dim
  * tables and the coordinate tables must all read the transformed rows.
  * Traces carry sample arrays, so the sidecar declares the vertical dim and
  * `validate` checks every recorded fact.
  */
class ShotWrapIngestSpec extends SparkSpec {
  import spark.implicits._

  /** Ingest `traces` into a fresh store. */
  private def ingest(traces: org.apache.spark.sql.DataFrame, template: String,
                     overrides: GridOverrides): (IngestPipeline.IngestResult, String) = {
    val path = Files.createTempDirectory("shotwrap").toString
    (IngestPipeline.ingest(spark, traces, TemplateRegistry.instance.get(template),
      overrides, path, ordinal = Seq("ord"), valueCol = "amplitude"), path)
  }

  private def dimSizes(path: String): Map[String, Long] =
    MdioDataset.open(spark, path).schema.dimensions.map(d => d.name -> d.size).toMap

  private def dimTable(path: String, d: String): Seq[Long] =
    spark.read.parquet(s"$path/dims/$d").select(col("dim_value").cast("long"))
      .as[Long].collect().toSeq

  test("AutoShotWrap streamer: shot_index from the gun-interleaved shot points") {
    // 2 sail lines × 8 shot points (guns 1/2 alternate) × 2 cables × 3 channels
    val rows = for {
      line <- 1 to 2; sp <- 10 to 17; cable <- 1 to 2; ch <- 1 to 3
    } yield (line, sp, 1 + sp % 2, cable, ch,
      line * 100000 + sp * 100 + cable * 10 + ch,
      sp * 10.0, sp * 10.0 + cable * 1000 + ch, Seq(sp.toFloat, ch.toFloat, 0.5f))
    val traces = rows.toDF("sail_line", "shot_point", "gun", "cable", "channel",
      "ord", "source_coord_x", "group_coord_x", "amplitude")
    val (r, path) = ingest(traces, "StreamerFieldRecords3D",
      GridOverrides(autoShotWrap = true))

    assert(r.nTraces == 96 && r.nCells == 96 && r.sparsity == 1.0)
    assert(dimSizes(path) == Map("sail_line" -> 2L, "gun" -> 2L, "shot_index" -> 4L,
      "cable" -> 2L, "channel" -> 3L, "time" -> 3L))
    // floor(sp / 2) rebased per line: 10,11 → 0 … 16,17 → 3
    assert(dimTable(path, "shot_index") == Seq(0L, 1L, 2L, 3L))
    assert(dimTable(path, "gun") == Seq(1L, 2L))
    val sx = spark.read.parquet(s"$path/coords/source_coord_x")
      .select("sail_line", "gun", "shot_index", "cable", "channel", "source_coord_x")
      .as[(Int, Int, Long, Int, Int, Double)].collect().toSet
    assert(sx == (for {
      line <- 1 to 2; sp <- 10 to 17; cable <- 1 to 2; ch <- 1 to 3
    } yield (line, 1 + sp % 2, (sp / 2 - 5).toLong, cable, ch, sp * 10.0)).toSet)
    val gx = spark.read.parquet(s"$path/coords/group_coord_x")
      .select("sail_line", "gun", "shot_index", "cable", "channel", "group_coord_x")
      .as[(Int, Int, Long, Int, Int, Double)].collect().toSet
    assert(gx == (for {
      line <- 1 to 2; sp <- 10 to 17; cable <- 1 to 2; ch <- 1 to 3
    } yield (line, 1 + sp % 2, (sp / 2 - 5).toLong, cable, ch,
      sp * 10.0 + cable * 1000 + ch)).toSet)
    assert(Cli.run(Seq("validate", path), spark) == 0)
  }

  test("CalculateShotIndex OBN: dense shot_index per shot line, component synthesized") {
    // 3 receivers × 2 shot lines × 4 shot points, one gun
    val rows = for {
      recv <- 101 to 103; line <- 1 to 2; k <- 0 to 3
    } yield {
      val sp = line * 20 + 2 * k
      (recv, line, 1, sp, recv * 1000 + line * 100 + k,
        recv * 100.0, sp * 10.0, Seq(recv.toFloat, sp.toFloat))
    }
    val traces = rows.toDF("receiver", "shot_line", "gun", "shot_point", "ord",
      "group_coord_x", "source_coord_x", "amplitude")
    val ((r, path), record) = JobRecorder.record(spark)(
      ingest(traces, "ObnReceiverGathers3D", GridOverrides(calculateShotIndex = true)))
    val jobs = record.descriptions
    // CalculateShotIndex always dense-ranks, so it runs no gun detection:
    // QC 6, store write 4, dim tables 5, coordinate tables 6
    assert(!jobs.contains("ingest: strategy detect"), jobs.mkString("\n"))
    assert(jobs.size <= 21, s"OBN ingest submitted ${jobs.size} jobs (budget 21):\n" +
      jobs.mkString("\n"))

    assert(r.nTraces == 24 && r.nCells == 24 && r.sparsity == 1.0)
    assert(dimSizes(path) == Map("component" -> 1L, "receiver" -> 3L,
      "shot_line" -> 2L, "gun" -> 1L, "shot_index" -> 4L, "time" -> 2L))
    assert(dimTable(path, "shot_index") == Seq(0L, 1L, 2L, 3L))
    assert(dimTable(path, "component") == Seq(1L))
    val sx = spark.read.parquet(s"$path/coords/source_coord_x")
      .select("receiver", "shot_line", "shot_index", "source_coord_x")
      .as[(Int, Int, Long, Double)].collect().toSet
    assert(sx == (for (recv <- 101 to 103; line <- 1 to 2; k <- 0 to 3)
      yield (recv, line, k.toLong, (line * 20 + 2 * k) * 10.0)).toSet)
    val gx = spark.read.parquet(s"$path/coords/group_coord_x")
      .select("receiver", "group_coord_x").as[(Int, Double)].collect()
    assert(gx.length == 24 && gx.forall { case (recv, x) => x == recv * 100.0 })
    assert(Cli.run(Seq("validate", path), spark) == 0)
  }
}
