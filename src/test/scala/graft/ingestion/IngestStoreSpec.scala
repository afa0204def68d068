package graft.ingestion

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.storage.MdioDataset
import graft.tools.Cli

/** What `segy import` leaves on disk for a gathers survey (channel wrap +
  * duplicates) and a post-stack one: the data layout, and a digest of the
  * rows, sidecar and dim tables pinned to the values the previous ingest
  * shape (detection and rebase as windows, QC and dim tables as extra
  * passes) wrote for the same files.
  *
  * The store keeps the decoded `amplitude` only; imports that also kept
  * the raw `samples` bytes wrote the same values in every other column.
  * The row digests are pinned to that earlier store's digest over those
  * retained columns (`trace_index`, the dims, `amplitude`), in store order.
  */
class IngestStoreSpec extends SparkSpec {

  private def imported(write: String => Long, args: Seq[String]): String = {
    val dir = Files.createTempDirectory("ingeststore").toString
    write(s"$dir/in.sgy")
    assert(Cli.run(Seq("segy", "import", s"$dir/in.sgy", s"$dir/in.mdio") ++ args,
      spark) == 0)
    s"$dir/in.mdio"
  }

  private lazy val gathers =
    imported(ImportFixtures.writeGathers(spark, _), ImportFixtures.GathersArgs)
  private lazy val postStack =
    imported(ImportFixtures.writePostStack(spark, _), ImportFixtures.PostStackArgs)

  /** Row count and the sum of each row's xxhash64 over every column, in
    * store column order. The store holds no raw `samples` column. */
  private def rowDigest(store: String): (Long, BigDecimal) = {
    val df = MdioDataset.open(spark, store).df
    assert(!df.columns.contains("samples"), df.columns.mkString(","))
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)"))).head
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Each `dims/<d>` table as (type, values in file order). */
  private def dimTables(store: String, dims: Seq[String]): Map[String, (String, Seq[Any])] =
    dims.map { d =>
      val t = spark.read.parquet(s"$store/dims/$d")
      d -> (t.schema("dim_value").dataType.simpleString,
        t.collect().toSeq.map(_.get(0)))
    }.toMap

  private def sidecar(store: String): (Option[String], Seq[(String, Long)], String) = {
    val s = MdioDataset.readSidecar(spark, store).get
    assert(s.layout.flatMap(_.sparkSchemaDdl).exists(!_.contains("samples")))
    (s.layout.flatMap(_.sparkSchemaDdl), s.dimensions.map(d => d.name -> d.size),
      s.variable("amplitude").flatMap(_.metadata).flatMap(_.statsV1).get.toString)
  }

  test("gathers import: data part files hold disjoint, ordered ranges of " +
    "(shot_point, cable, channel, trace)") {
    val key = Seq("shot_point", "cable", "channel", "trace")
    val parts = new java.io.File(s"$gathers/data").listFiles()
      .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
    assert(parts.length >= 2, s"need several part files to test a layout: ${parts.toSeq}")
    def keys(r: Row): Seq[Long] = key.indices.map(r.getLong)
    val ord = Ordering.Implicits.seqOrdering[Seq, Long]
    val ranges = parts.map { p =>
      val ks = spark.read.parquet(s"$gathers/data/$p").select(key.map(col): _*)
        .collect().toSeq.map(keys)
      assert(ks.nonEmpty, s"$p is empty")
      ks.sliding(2).foreach {
        case Seq(a, b) => assert(ord.lt(a, b), s"$p: $a is not before $b")
        case _ =>
      }
      (p, ks.head, ks.last)
    }
    ranges.sliding(2).foreach {
      case Array((pa, _, lastA), (pb, firstB, _)) =>
        assert(ord.lt(lastA, firstB), s"$pa ends at $lastA, after $pb starts at $firstB")
      case _ =>
    }
  }

  test("gathers import: rows, sidecar and dim tables equal the previous ingest's") {
    assert(rowDigest(gathers) == ((2327L, BigDecimal("190868958020135306829"))))
    val (ddl, dims, stats) = sidecar(gathers)
    assert(ddl.contains("trace_index BIGINT NOT NULL,shot_point BIGINT NOT NULL," +
      "cable BIGINT NOT NULL,amplitude ARRAY<FLOAT> NOT NULL," +
      "channel BIGINT,trace BIGINT NOT NULL"))
    assert(dims == Seq("shot_point" -> 12L, "cable" -> 4L, "channel" -> 48L,
      "trace" -> 2L, "time" -> 500L))
    assert(stats == "SummaryStatistics(1163500,582045.640808,388066.462675," +
      "1.1920928955078125E-6,0.9999980330467224,CenteredBinHistogram(List(),List()))")
    assert(dimTables(gathers, Seq("shot_point", "cable", "channel", "trace")) == Map(
      "shot_point" -> ("bigint", (1001L to 1023L by 2L)),
      "cable" -> ("bigint", (1L to 4L)),
      "channel" -> ("bigint", (1L to 48L)),
      "trace" -> ("bigint", (1L to 2L))))
  }

  test("post-stack import: rows, sidecar and dim tables equal the previous ingest's") {
    assert(rowDigest(postStack) == ((1024L, BigDecimal("160507732015292211428"))))
    val (ddl, dims, stats) = sidecar(postStack)
    assert(ddl.contains("trace_index BIGINT NOT NULL,inline BIGINT NOT NULL," +
      "crossline BIGINT NOT NULL,amplitude ARRAY<FLOAT> NOT NULL"))
    assert(dims == Seq("inline" -> 32L, "crossline" -> 32L, "time" -> 1000L))
    assert(stats == "SummaryStatistics(1024000,512246.417602,341612.296401," +
      "2.384185791015625E-7,0.9999995231628418,CenteredBinHistogram(List(),List()))")
    assert(dimTables(postStack, Seq("inline", "crossline")) == Map(
      "inline" -> ("bigint", (1L to 32L)),
      "crossline" -> ("bigint", (101L to 132L))))
  }

  /** Export `store` through both arms of `Mdio.mdioToStandardSegy`: the
    * store's own scan (store order) and the same scan under a filter (the
    * sort arm). Both files must hold the same bytes. */
  private def assertArmsAgree(store: String, nSamples: Int): Unit = {
    val handle = graft.Mdio.openMdio(spark, store)
    val dims = handle.schema.dimensions.map(_.name).filter(handle.df.columns.contains)
    val fieldCols = dims.zipWithIndex.map { case (d, i) =>
      graft.sources.SegyRead.HeaderField(d, 1 + 4 * i, 4) -> d }
    val dir = Files.createTempDirectory("ingeststore").toString
    def export(h: graft.storage.MdioDatasetHandle, out: String): String =
      graft.Mdio.mdioToStandardSegy(h, out, lit(true), dims, fieldCols,
        orderKeys = dims, samplesCol = "samples", nSamples = nSamples,
        sampleInterval = 1000,
        textHeader = graft.`export`.SegyHeaders.sanitizeTextHeader(Seq("C 1 ARMS")),
        columns = Seq("samples" -> col("amplitude")))
    assert(export(handle, s"$dir/store.sgy") == "store order")
    assert(export(handle.copy(df = handle.df.where(lit(true))), s"$dir/sort.sgy") ==
      "sort: not a store scan")
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/store.sgy")).toSeq
    assert(bytes.length > 3600)
    assert(bytes == Files.readAllBytes(java.nio.file.Paths.get(s"$dir/sort.sgy")).toSeq)
  }

  test("gathers and post-stack stores export the same bytes in store order " +
    "as through the sort") {
    assertArmsAgree(gathers, nSamples = 500)
    assertArmsAgree(postStack, nSamples = 1000)
  }
}
