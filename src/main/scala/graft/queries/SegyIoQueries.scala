package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import QueryFixtures._

/** Registered queries for SEG-Y I/O and ingest: header and binary-header
  * reads, writer→reader round trips per sample format, directory ingest,
  * masked export, and the end-to-end ingest pipelines.
  */
object SegyIoQueries {

  val all: Seq[QuerySpec] = Seq(
    // --- S1/S2/P7: source scans -----------------------------------------
    QuerySpec("q_file_info", (s, d) => graft.sources.Sources.fileInfo(s, d, "lineitem"),
      """SELECT count(*) AS n_traces, 11 AS n_fields, 'lineitem' AS table_name
        |FROM lineitem""".stripMargin),
    // the NAMED binary-header surface (the reference's binary_header
    // dict, teapot-golden-pinned in BinaryHeaderSpec): export writes the
    // standard header, the reader decodes every catalog field from the
    // bytes — n_traces ties the row to the data, the named fields to the
    // writer's declared geometry
    QuerySpec("q_bin_header", (s, d) => {
      import graft.sources.SegyRead
      val f = graft.core.TempDirs.scratch("bin_header") + "/h.sgy"
      lineitem(s, d).select(
          col("l_orderkey").cast("int").as("inline"),
          col("l_linenumber").cast("int").as("crossline"),
          array(col("l_partkey").cast("float"),
            col("l_suppkey").cast("float")).as("samples"))
        .write.format("segy").option("fields", "inline,crossline")
        .option("formatCode", "5").option("sampleInterval", "3000")
        // declare the trace length the projection fixes anyway: the sink
        // otherwise runs take(1) jobs (driver barriers) to measure it
        .option("nSamples", "2")
        .mode("overwrite").save(f)
      val info = SegyRead.standardInfo(s, f)
      val m = SegyRead.decodeBinaryHeader(info.base.binaryHeader).toMap
      import s.implicits._
      Seq((info.base.nTraces, m("sample_interval"), m("samples_per_trace"),
        m("data_sample_format"), m("segy_revision_major"),
        m("segy_revision_minor"), m("fixed_length_trace_flag"),
        m("num_extended_text_headers")))
        .toDF("n_traces", "sample_interval", "samples_per_trace",
          "data_sample_format", "rev_major", "rev_minor", "fixed_flag", "n_ext")
    },
      // writer declares (ns=2, interval=3000, fmt=5, rev 1.0, no extended
      // headers); the reader must recover exactly those from the bytes,
      // and n_traces from the file length
      """SELECT count(*) AS n_traces, 3000 AS sample_interval,
        |  2 AS samples_per_trace, 5 AS data_sample_format,
        |  1 AS rev_major, 0 AS rev_minor, 0 AS fixed_flag, 0 AS n_ext
        |FROM lineitem""".stripMargin),
    // REAL SEG-Y bytes end to end through CUSTOM header fields: a
    // deterministic lineitem projection is exported as a standard rev-1
    // file with il/xl at non-catalog byte locations and pk as a format-2
    // (int32) sample, then read back by the segy scan's `name@byte:type`
    // fields; the oracle recomputes the projection straight from parquet,
    // so the row only hash-matches if writer→reader is an exact identity
    // on every header field and payload word
    QuerySpec("q_segy_roundtrip", (s, d) => {
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.sources.SegyRead.HeaderField
      val fields = Seq(HeaderField("il", 9, 4), HeaderField("xl", 13, 4))
      val src = lineitem(s, d).select(
        col("l_orderkey").cast("int").as("il"),
        col("l_linenumber").cast("int").as("xl"),
        array(col("l_partkey").cast("int")).as("pk"))
      val records = SegyExport.serializeStandardTraces(
        src.orderBy("il", "xl")
          .withColumn("samples", SegyExport.intPayload(col("pk"), 1, formatCode = 2)),
        fields.map(f => f -> f.name), "samples")
      val f = graft.core.TempDirs.scratch("segy_rt") + "/rt.sgy"
      SegyExport.writeSegy(records, f,
        SegyHeaders.sanitizeTextHeader(Seq("C 1 GRAFT ROUNDTRIP")),
        SegyExport.standardBinaryHeader(nSamples = 1, sampleInterval = 2000,
          formatCode = 2))
      s.read.format("segy").option("fields", fields.map(_.spec).mkString(","))
        .load(f)
        .select(col("il"), col("xl"),
          element_at(col("samples"), 1).cast("long").as("pk"))
    },
      // byte-path identity: the reader must hand back exactly the projection
      // the writer serialized
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey AS BIGINT) AS pk
        |FROM lineitem""".stripMargin),
    // the STANDARD rev-1 stack under the same identity: 240-byte headers
    // at spec offsets, self-describing binary-header geometry, and the
    // IBM32 encode->decode kernel pair all sit on the byte path, so the
    // hash only matches if every layer is exact (partkey <= 2^21 is
    // IBM32-exact by construction)
    QuerySpec("q_segy_std_roundtrip", (s, d) => {
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.sources.SegyRead
      import SegyRead.StandardFields.{Crossline, Inline}
      val src = lineitem(s, d).select(
        col("l_orderkey").cast("int").as("il"),
        col("l_linenumber").cast("int").as("xl"),
        array(col("l_partkey").cast("float")).as("v"))
      val records = SegyExport.serializeStandardTraces(
        src.orderBy("il", "xl")
          .withColumn("samples", SegyExport.ibmPayload(col("v"), 1)),
        Seq(Inline -> "il", Crossline -> "xl"), "samples")
      val f = graft.core.TempDirs.scratch("segy_std_rt") + "/rt.sgy"
      SegyExport.writeSegy(records, f,
        SegyHeaders.sanitizeTextHeader(Seq("C 1 GRAFT STANDARD ROUNDTRIP")),
        SegyExport.standardBinaryHeader(nSamples = 1, sampleInterval = 2000,
          formatCode = 1))
      s.read.format("segy").option("fields", "inline,crossline").load(f)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).cast("long").as("pk"))
    },
      // the standard-layout stack must reproduce the same projection
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey AS BIGINT) AS pk
        |FROM lineitem""".stripMargin),
    // the DIRECTORY ingest composition: parity-split shot files (int32
    // samples — exact cents) written through the DSv2 sink, ingested as
    // ONE store via segyDirToMdio (uniform-geometry union, per-file
    // ordinal, duplicate-cell counters), re-opened and aggregated — the
    // multi-file sibling of q_segy_file_ingest
    QuerySpec("q_segy_dir_ingest", (s, d) => {
      import graft.ingestion.GridOverrides
      import graft.schema.DatasetTemplate
      import graft.storage.MdioDataset
      val dir = graft.core.TempDirs.scratch("segy_dir_ingest")
      val cents = (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")
      val src = lineitem(s, d).select(
        col("l_suppkey").cast("int").as("inline"),
        col("l_partkey").cast("int").as("crossline"),
        col("l_orderkey").as("ok"),
        array(cents.cast("int")).as("samples"))
      // the two member-file exports are independent writes to disjoint
      // files — overlap them
      inParallel(Seq(0, 1).map(par => () => {
        src.where(col("ok") % 2 === par).drop("ok")
          .write.format("segy").option("fields", "inline,crossline")
          .option("formatCode", "2")
          .option("nSamples", "1") // fixed by the projection; skips take(1)
          .mode("overwrite").save(s"$dir/shot_$par.sgy")
      }): _*)
      val tmpl = DatasetTemplate("SegyDirGrid", "time",
        Seq("inline", "crossline", "time"), Seq(8, 8, 512))
      val store = graft.core.TempDirs.scratch("segy_dir_ingest_store")
      val r = Mdio.segyDirToMdio(s, dir, Seq("inline", "crossline"),
        tmpl, GridOverrides(hasDuplicates = true), store,
        valueCol = "amplitude", sparsityError = 1e9)
      MdioDataset.open(s, store).df.agg(
        lit(r.nTraces).as("n_traces"),
        count(lit(1)).cast("long").as("n_rows"),
        sum(element_at(col("amplitude"), 1).cast("long")).cast("long")
          .as("sum_cents"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_traces,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM lineitem""".stripMargin),
    // a DIRECTORY of shot files as ONE table — the 100-TB reality (a
    // survey is thousands of files under a prefix): two DSv2-written
    // member files, unioned by the directory load with per-file split
    // planning; the union projection equals the single-file oracle
    QuerySpec("q_segy_dir_roundtrip", (s, d) => {
      val dir = graft.core.TempDirs.scratch("segy_dir_rt")
      val src = lineitem(s, d).select(
        col("l_orderkey").cast("int").as("inline"),
        col("l_linenumber").cast("int").as("crossline"),
        array(col("l_partkey").cast("float")).as("samples"))
      // independent member-file exports — overlap them
      inParallel(
        () => src.where(col("inline") % 2 === 0)
          .write.format("segy").option("fields", "inline,crossline")
          .option("nSamples", "1") // fixed by the projection; skips take(1)
          .mode("overwrite").save(s"$dir/shot_even.sgy"),
        () => src.where(col("inline") % 2 === 1)
          .write.format("segy").option("fields", "inline,crossline")
          .option("nSamples", "1")
          .mode("overwrite").save(s"$dir/shot_odd.sgy"))
      s.read.format("segy").option("fields", "inline,crossline").load(dir)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).cast("long").as("pk"))
    },
      // the directory union covers exactly the parity-split whole
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey AS BIGINT) AS pk
        |FROM lineitem""".stripMargin),
    // format 5 (IEEE float32) end to end through the symmetric DSv2
    // surface — completes the oracle-gated sample-format matrix
    // (1 std/ibm, 2/8 fmt28, 3 fmt3, 6 fmt6, 5 here)
    QuerySpec("q_segy_fmt5_roundtrip", (s, d) => {
      val f = graft.core.TempDirs.scratch("segy_fmt5_rt") + "/rt.sgy"
      lineitem(s, d).select(
          col("l_orderkey").cast("int").as("inline"),
          col("l_linenumber").cast("int").as("crossline"),
          array(col("l_partkey").cast("float"),
            (-col("l_partkey")).cast("float")).as("samples"))
        .write.format("segy").option("fields", "inline,crossline")
        .option("formatCode", "5")
        .option("nSamples", "2") // fixed by the projection; skips take(1)
        .mode("overwrite").save(f)
      s.read.format("segy").option("fields", "inline,crossline").load(f)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).cast("long").as("s1"),
          element_at(col("samples"), 2).cast("long").as("s2"))
    },
      // float32 keeps sub-2^24 ints exact, so the long casts are lossless
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey AS BIGINT) AS s1,
        |  CAST(-l_partkey AS BIGINT) AS s2
        |FROM lineitem""".stripMargin),
    // E5 masked export under the oracle: mask → bbox trim → projection →
    // global ordered seq, the composition a masked SEG-Y export drives
    QuerySpec("q_masked_export", (s, d) =>
      graft.`export`.SegyExport.maskedExport(
        lineitem(s, d),
        mask = col("l_quantity") > 25,
        dims = Seq("l_suppkey", "l_partkey"),
        headerFields = Seq("l_suppkey", "l_orderkey", "l_linenumber"),
        orderKeys = Seq("l_suppkey", "l_orderkey", "l_linenumber")),
      // bbox trims on the mask's own rows are no-ops by construction, so
      // the export set is exactly the masked filter
      """WITH m AS (SELECT l_suppkey, l_orderkey, l_linenumber
        |  FROM lineitem WHERE l_quantity > 25)
        |SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER (ORDER BY l_suppkey, l_orderkey, l_linenumber) - 1
        |    AS BIGINT) AS seq
        |FROM m""".stripMargin),
    // the fully SYMMETRIC DSv2 table surface: df.write.format("segy")
    // (V1-fallback into the one serialization + ordered parallel
    // positioned-write path) then spark.read.format("segy") (schema from
    // the binary header, samples decoded in the reader, byte-layer
    // pruning) — both directions of the idiomatic-Spark face under one
    // oracle hash
    QuerySpec("q_segy_dsv2_roundtrip", (s, d) => {
      val f = graft.core.TempDirs.scratch("segy_dsv2_rt") + "/rt.sgy"
      lineitem(s, d).select(
          col("l_orderkey").cast("int").as("inline"),
          col("l_linenumber").cast("int").as("crossline"),
          array(col("l_partkey").cast("float")).as("samples"))
        .write.format("segy").option("fields", "inline,crossline")
        .option("nSamples", "1") // fixed by the projection; skips take(1)
        .mode("overwrite").save(f)
      s.read.format("segy").option("fields", "inline,crossline").load(f)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).cast("long").as("pk"))
    },
      // ... and so must the DSv2 table surface over the same bytes
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey AS BIGINT) AS pk
        |FROM lineitem""".stripMargin),
    // format-3 (int16) standard roundtrip — what real field data ships:
    // three signed int16 samples per trace packed/decoded by the native
    // BeIntAt kernel family, negatives included, overflow-checked on write
    QuerySpec("q_segy_fmt3_roundtrip", (s, d) => {
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.sources.SegyRead
      import SegyRead.StandardFields.{Crossline, Inline}
      val src = lineitem(s, d).select(
        col("l_orderkey").cast("int").as("il"),
        col("l_linenumber").cast("int").as("xl"),
        array((col("l_partkey") % 20000 - 10000).cast("int"),
          (-(col("l_partkey") % 20000) + 10000).cast("int"),
          (col("l_orderkey") % 100).cast("int")).as("v"))
      val records = SegyExport.serializeStandardTraces(
        src.orderBy("il", "xl")
          .withColumn("samples", SegyExport.intPayload(col("v"), 3, formatCode = 3)),
        Seq(Inline -> "il", Crossline -> "xl"), "samples")
      val f = graft.core.TempDirs.scratch("segy_fmt3_rt") + "/rt.sgy"
      SegyExport.writeSegy(records, f,
        SegyHeaders.sanitizeTextHeader(Seq("C 1 GRAFT FORMAT-3 ROUNDTRIP")),
        SegyExport.standardBinaryHeader(nSamples = 3, sampleInterval = 2000,
          formatCode = 3))
      s.read.format("segy").option("fields", "inline,crossline").load(f)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).cast("long").as("s1"),
          element_at(col("samples"), 2).cast("long").as("s2"),
          element_at(col("samples"), 3).cast("long").as("s3"))
    },
      // int16 samples survive the pack->file->decode path exactly, sign bit
      // included
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  CAST(l_partkey % 20000 - 10000 AS BIGINT) AS s1,
        |  CAST(-(l_partkey % 20000) + 10000 AS BIGINT) AS s2,
        |  CAST(l_orderkey % 100 AS BIGINT) AS s3
        |FROM lineitem""".stripMargin),
    // format-6 (rev-2 IEEE float64) standard roundtrip: three doubles per
    // trace through the raw-bits encode (DoubleBits) and the native
    // BeDoubleAt decode — bit-exact by construction, so the oracle just
    // recomputes the sample formulas from lineitem (negatives and an exact
    // /64 division exercise sign and mantissa bytes)
    QuerySpec("q_segy_fmt6_roundtrip", (s, d) => {
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.sources.SegyRead
      import SegyRead.StandardFields.{Crossline, Inline}
      val src = lineitem(s, d).select(
        col("l_orderkey").cast("int").as("il"),
        col("l_linenumber").cast("int").as("xl"),
        array(col("l_extendedprice"),
          -col("l_extendedprice"),
          col("l_partkey").cast("double") / 64.0).as("v"))
      val records = SegyExport.serializeStandardTraces(
        src.orderBy("il", "xl")
          .withColumn("samples", SegyExport.ieee64Payload(col("v"), 3)),
        Seq(Inline -> "il", Crossline -> "xl"), "samples")
      val f = graft.core.TempDirs.scratch("segy_fmt6_rt") + "/rt.sgy"
      SegyExport.writeSegy(records, f,
        SegyHeaders.sanitizeTextHeader(Seq("C 1 GRAFT FORMAT-6 ROUNDTRIP")),
        SegyExport.standardBinaryHeader(nSamples = 3, sampleInterval = 2000,
          formatCode = 6))
      s.read.format("segy").option("fields", "inline,crossline").load(f)
        .select(col("inline").as("il"), col("crossline").as("xl"),
          element_at(col("samples"), 1).as("s1"),
          element_at(col("samples"), 2).as("s2"),
          element_at(col("samples"), 3).as("s3"))
    },
      // float64 roundtrip is raw-bit exact (DoubleBits encode / BeDoubleAt
      // decode), so the oracle recomputes the sample doubles directly; /64 is
      // a power-of-two division — exact in IEEE on both engines
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl,
        |  l_extendedprice AS s1,
        |  -l_extendedprice AS s2,
        |  CAST(l_partkey AS DOUBLE) / 64 AS s3
        |FROM lineitem""".stripMargin),
    // the other two integer sample formats through the same write→read
    // identity: format 2 (int32, ±1e9 values exercise all four bytes) and
    // format 8 (signed int8), one file each, joined on the grid key
    QuerySpec("q_segy_fmt28_roundtrip", (s, d) => {
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.sources.SegyRead
      import SegyRead.StandardFields.{Crossline, Inline}
      def file(fmt: Int, mk: org.apache.spark.sql.Column): String = {
        val src = lineitem(s, d).select(
          col("l_orderkey").cast("int").as("il"),
          col("l_linenumber").cast("int").as("xl"), mk.as("v"))
        val records = SegyExport.serializeStandardTraces(
          src.orderBy("il", "xl")
            .withColumn("samples",
              SegyExport.intPayload(col("v"), 2, formatCode = fmt)),
          Seq(Inline -> "il", Crossline -> "xl"), "samples")
        val f = graft.core.TempDirs.scratch(s"segy_fmt${fmt}_rt") + "/rt.sgy"
        SegyExport.writeSegy(records, f,
          SegyHeaders.sanitizeTextHeader(Seq(s"C 1 GRAFT FORMAT-$fmt RT")),
          SegyExport.standardBinaryHeader(nSamples = 2, sampleInterval = 2000,
            formatCode = fmt))
        f
      }
      // the two format exports are independent (disjoint scratch files) —
      // overlap them: each is a sort+serialize+write chain
      // whose straggler tail the other's tasks backfill
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val f2F = Future(file(2, array(
        (col("l_partkey") % 20000 * 100000 - 1000000000).cast("int"),
        (-(col("l_partkey") % 20000) * 100000 + 1000000000).cast("int"))))
      val f8F = Future(file(8, array(
        (col("l_partkey") % 255 - 127).cast("int"),
        (col("l_orderkey") % 200 - 100).cast("int"))))
      val f2 = Await.result(f2F, Duration.Inf)
      val f8 = Await.result(f8F, Duration.Inf)
      def decoded(f: String, fmt: Int) =
        s.read.format("segy").option("fields", "inline,crossline").load(f)
          .select(col("inline").as("il"), col("crossline").as("xl"),
            lit(fmt.toLong).as("fmt"),
            element_at(col("samples"), 1).cast("long").as("s1"),
            element_at(col("samples"), 2).cast("long").as("s2"))
      decoded(f2, 2).unionByName(decoded(f8, 8))
    },
      """SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl, CAST(2 AS BIGINT) AS fmt,
        |  CAST(l_partkey % 20000 * 100000 - 1000000000 AS BIGINT) AS s1,
        |  CAST(-(l_partkey % 20000) * 100000 + 1000000000 AS BIGINT) AS s2
        |FROM lineitem
        |UNION ALL
        |SELECT CAST(l_orderkey AS BIGINT) AS il,
        |  CAST(l_linenumber AS BIGINT) AS xl, CAST(8 AS BIGINT) AS fmt,
        |  CAST(l_partkey % 255 - 127 AS BIGINT) AS s1,
        |  CAST(l_orderkey % 200 - 100 AS BIGINT) AS s2
        |FROM lineitem""".stripMargin),
    // --- §3.1 end-to-end ingest: strategies → invariants → stats → store --
    QuerySpec("q_ingest_e2e", (s, d) => {
      import s.implicits._
      import graft.ingestion._
      import graft.schema.DatasetTemplate
      import graft.storage.MdioDataset
      val tmpl = DatasetTemplate("LineitemGrid", "time",
        Seq("l_suppkey", "l_partkey", "time"), Seq(8, 8, 512))
      val path = graft.core.TempDirs.scratch("ingest")
      val traces = lineitem(s, d).select("l_suppkey", "l_partkey",
        "l_orderkey", "l_linenumber", "l_extendedprice")
      val r = IngestPipeline.ingest(s, traces, tmpl,
        GridOverrides(hasDuplicates = true), path,
        ordinal = Seq("l_orderkey", "l_linenumber"),
        valueCol = "l_extendedprice", sparsityError = 1e9)
      val ds = MdioDataset.open(s, path)
      // one pruned scan answers both post-ingest checks
      val chk = ds.df.agg(count(lit(1)).as("n"), max(col("trace")).as("m")).first()
      val storeRows = chk.getLong(0)
      val traceMax = chk.getLong(1)
      Seq((r.nTraces, r.nCells, traceMax, storeRows, r.stats.sum))
        .toDF("n_rows", "n_cells", "trace_max", "store_rows", "sum_val")
    },
      """WITH g AS (SELECT count(*) AS c FROM lineitem GROUP BY l_suppkey, l_partkey)
        |SELECT (SELECT count(*) FROM lineitem) AS n_rows,
        |  (SELECT count(*) FROM lineitem) AS n_cells,
        |  (SELECT max(c) FROM g) AS trace_max,
        |  (SELECT count(*) FROM lineitem) AS store_rows,
        |  CAST(CAST((SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM lineitem
        |    WHERE l_extendedprice IS NOT NULL AND l_extendedprice != 0) AS VARCHAR) AS DOUBLE)
        |    AS sum_val""".stripMargin),
    // the reference's ACTUAL segy_to_mdio entry point, oracle-gated end to
    // end (converters/segy.py:44-80 -> ingestion/segy/pipeline.py:117-195):
    // lineitem is serialized as a standard rev-1 SEG-Y file (il/xl as
    // custom header fields + one format-2 int32 cents sample, written in
    // (il, xl, ok, ln) order so trace_index numbers duplicates the way that
    // order does), then Mdio.segyStandardToMdio runs file bytes
    // -> split-fanned header scan -> sample decode -> index strategies ->
    // grid QC -> write-pass stats -> dim tables -> store; the row checks
    // the pipeline result, the REOPENED store, and the dim tables against
    // DuckDB over the same projection — every seam on one green row
    QuerySpec("q_segy_file_ingest", (s, d) => {
      import s.implicits._
      import graft.`export`.{SegyExport, SegyHeaders}
      import graft.ingestion._
      import graft.schema.DatasetTemplate
      import graft.storage.MdioDataset
      val cents = (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")
      val fields = Seq(graft.sources.SegyRead.HeaderField("il", 9, 4),
        graft.sources.SegyRead.HeaderField("xl", 13, 4))
      val src = lineitem(s, d).select(
        col("l_suppkey").cast("int").as("il"),
        col("l_partkey").cast("int").as("xl"),
        col("l_orderkey").cast("int").as("ok"),
        col("l_linenumber").cast("int").as("ln"),
        array(cents.cast("int")).as("cents"))
      val records = SegyExport.serializeStandardTraces(
        src.orderBy("il", "xl", "ok", "ln")
          .withColumn("samples", SegyExport.intPayload(col("cents"), 1, formatCode = 2)),
        fields.map(f => f -> f.name), "samples")
      val f = graft.core.TempDirs.scratch("segy_file_ingest") + "/in.sgy"
      SegyExport.writeSegy(records, f,
        SegyHeaders.sanitizeTextHeader(Seq("C 1 GRAFT FILE INGEST")),
        SegyExport.standardBinaryHeader(nSamples = 1, sampleInterval = 2000,
          formatCode = 2))
      val tmpl = DatasetTemplate("SegyFileGrid", "time",
        Seq("il", "xl", "time"), Seq(8, 8, 512))
      val path = graft.core.TempDirs.scratch("segy_file_ingest_store")
      val r = Mdio.segyStandardToMdio(s, f, fields.map(_.spec), tmpl,
        GridOverrides(hasDuplicates = true), path, valueCol = "cents",
        sparsityError = 1e9)
      val ds = MdioDataset.open(s, path)
      // all post-ingest checks in ONE action: store agg × two dim-table
      // aggs as 1-row cross joins (broadcast — each side is a single row),
      // dim reads with the known explicit schema so no inference jobs run;
      // this folded 8 driver-sequential jobs into one
      val chkDf = ds.df.agg(
        lit(r.nTraces).as("n_rows"), lit(r.nCells).as("n_cells"),
        max(col("trace")).cast("long").as("trace_max"),
        count(lit(1)).as("store_rows"),
        lit(r.stats.sum).as("sum_val"),
        sum(element_at(col("cents"), 1)).cast("long").as("store_sum"))
      // both dim tables in ONE scan (sibling dirs, same schema), tagged by
      // file path, grouped per dim, then pivoted into the single stats row;
      // the explicit schema (the store's own dim type) skips the
      // footer-inference job a bare read would run
      val dimDt = ds.df.schema("il").dataType.sql
      val byDim = s.read.schema(s"dim_value $dimDt")
        .parquet(s"$path/dims/il", s"$path/dims/xl")
        .select(when(input_file_name().contains("/dims/il/"), lit("il"))
          .otherwise(lit("xl")).as("dim"), col("dim_value"))
        .groupBy("dim")
        .agg(count(lit(1)).as("card"),
          min(col("dim_value").cast("long")).as("mn"),
          max(col("dim_value").cast("long")).as("mx"))
      val dimRow = byDim.agg(
        max(when(col("dim") === "il", col("card"))).as("il_card"),
        max(when(col("dim") === "il", col("mn"))).as("il_min"),
        max(when(col("dim") === "il", col("mx"))).as("il_max"),
        max(when(col("dim") === "xl", col("card"))).as("xl_card"),
        max(when(col("dim") === "xl", col("mn"))).as("xl_min"),
        max(when(col("dim") === "xl", col("mx"))).as("xl_max"))
      chkDf.crossJoin(broadcast(dimRow))
    },
      // the file->pipeline->store composition must agree with DuckDB straight
      // off parquet on every seam: counts, per-cell max, decimal-exact cents
      // sums (pipeline stats AND reopened store), and the dim tables
      """WITH c AS (SELECT l_suppkey, l_partkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem),
        |g AS (SELECT count(*) AS cnt FROM c GROUP BY l_suppkey, l_partkey)
        |SELECT (SELECT count(*) FROM c) AS n_rows,
        |  (SELECT count(*) FROM c) AS n_cells,
        |  (SELECT max(cnt) FROM g) AS trace_max,
        |  (SELECT count(*) FROM c) AS store_rows,
        |  CAST(CAST((SELECT sum(CAST(cents AS DECIMAL(18,2))) FROM c
        |    WHERE cents IS NOT NULL AND cents != 0) AS VARCHAR) AS DOUBLE)
        |    AS sum_val,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM c) AS store_sum,
        |  (SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) FROM c) AS il_card,
        |  (SELECT CAST(min(l_suppkey) AS BIGINT) FROM c) AS il_min,
        |  (SELECT CAST(max(l_suppkey) AS BIGINT) FROM c) AS il_max,
        |  (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM c) AS xl_card,
        |  (SELECT CAST(min(l_partkey) AS BIGINT) FROM c) AS xl_min,
        |  (SELECT CAST(max(l_partkey) AS BIGINT) FROM c) AS xl_max""".stripMargin),
    // the ingest-tail dim tables through the OVER-THE-GATE branch: the
    // cardinality gate drops to 1 so every dim skips the driver collect_set
    // and writes via the distributed distinct (writeDimDistributed) or the
    // distributed counter range — the scale path gets its own oracle row
    QuerySpec("q_dims_distributed", (s, d) => {
      import graft.ingestion._
      import graft.schema.DatasetTemplate
      val tmpl = DatasetTemplate("LineitemGrid", "time",
        Seq("l_suppkey", "l_partkey", "time"), Seq(8, 8, 512))
      val path = graft.core.TempDirs.scratch("ingest_dims")
      val traces = lineitem(s, d).select("l_suppkey", "l_partkey",
        "l_orderkey", "l_linenumber", "l_extendedprice")
      val prev = s.conf.getOption("graft.dims.driverMaxValues")
      s.conf.set("graft.dims.driverMaxValues", "1")
      try IngestPipeline.ingest(s, traces, tmpl,
        GridOverrides(hasDuplicates = true), path,
        ordinal = Seq("l_orderkey", "l_linenumber"),
        valueCol = "l_extendedprice", sparsityError = 1e9)
      finally prev.fold(s.conf.unset("graft.dims.driverMaxValues"))(v =>
        s.conf.set("graft.dims.driverMaxValues", v))
      Seq("l_suppkey", "l_partkey", "trace").map(dim =>
          s.read.parquet(s"$path/dims/$dim")
            .select(lit(dim).as("dim_name"),
              col("dim_value").cast("long").as("dim_value")))
        .reduce(_ unionAll _)
    },
      """SELECT 'l_suppkey' AS dim_name, CAST(l_suppkey AS BIGINT) AS dim_value
        |FROM lineitem GROUP BY 2
        |UNION ALL
        |SELECT 'l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem GROUP BY 2
        |UNION ALL
        |SELECT 'trace', CAST(unnest(generate_series(1,
        |  (SELECT max(n) FROM (SELECT count(*) AS n FROM lineitem
        |     GROUP BY l_suppkey, l_partkey)))) AS BIGINT)""".stripMargin),
    // --- V240 raw headers: pack → hex (round-trip store/parse in specs) --
    QuerySpec("q_raw_headers", (s, d) => {
      import graft.sources.Sources
      val fields = Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey")
      Sources.withRawHeaders(lineitem(s, d).select(fields.map(col): _*), fields)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
                col("l_partkey"), hex(col("raw_headers")).as("header_hex"))
    },
      """SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey,
        |  lpad(to_hex(l_orderkey & 4294967295), 8, '0')
        |  || lpad(to_hex(l_linenumber & 4294967295), 8, '0')
        |  || lpad(to_hex(l_suppkey & 4294967295), 8, '0')
        |  || lpad(to_hex(l_partkey & 4294967295), 8, '0')
        |  || repeat('00', 224) AS header_hex
        |FROM lineitem""".stripMargin),
  )
}
