package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.`export`.{SegyExport, SegyHeaders}
import graft.sources.SegyRead

/** CLI parity (`commands/segy.py`, `commands/copy.py`, `commands/info.py`):
  * flag parsing matches the reference's click surface, and each verb drives
  * the Mdio facade end to end on a real byte file.
  */
class CliSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- parse unit

  test("parse splits positionals from options and resolves short aliases") {
    val (pos, opts) = Cli.parse(
      Seq("in.sgy", "out.mdio", "-loc", "189,193", "--header-names",
        "inline,crossline", "-overwrite"),
      Set("--header-locations", "--header-names", "--overwrite"))
    assert(pos == Seq("in.sgy", "out.mdio"))
    assert(opts("--header-locations") == "189,193")
    assert(opts("--header-names") == "inline,crossline")
    assert(opts("--overwrite") == "true")
  }

  test("unknown options and missing values are CliErrors, like click") {
    intercept[Cli.CliError] {
      Cli.parse(Seq("--no-such-flag", "x"), Set("--header-locations"))
    }
    intercept[Cli.CliError] {
      Cli.parse(Seq("--header-locations"), Set("--header-locations"))
    }
  }

  test("header types map to sized/signed fields; bad types fail actionably") {
    assert(Cli.fieldFor("il", 189, "int32") ==
      SegyRead.HeaderField("il", 189, 4))
    assert(Cli.fieldFor("ns", 115, "uint16") ==
      SegyRead.HeaderField("ns", 115, 2, unsigned = true))
    val e = intercept[Cli.CliError](Cli.fieldFor("x", 1, "float32"))
    assert(e.getMessage.contains("float32"))
  }

  test("grid overrides parse the reference's legacy CamelCase keys") {
    val o = Cli.parseOverrides("HasDuplicates=true,AutoChannelWrap=true")
    assert(o.hasDuplicates && o.autoChannelWrap && !o.nonBinned)
    val e = intercept[Cli.CliError](Cli.parseOverrides("Bogus=1"))
    assert(e.getMessage.contains("Bogus"))
    // NonBinned still enforces its parameter contract through the case class
    intercept[IllegalArgumentException](Cli.parseOverrides("NonBinned=true"))
  }

  test("run returns 2 on an unknown verb and on verb-level errors") {
    assert(Cli.run(Seq("frobnicate"), spark) == 2)
    assert(Cli.run(Seq("segy", "import", "only-one-positional"), spark) == 2)
    assert(Cli.run(Seq("info"), spark) == 2)
  }

  // ------------------------------------------------------- end-to-end cycle

  /** A 3×2-grid standard SEG-Y, 2 IBM32 samples per trace; or one trace
    * per (inline, crossline) pair of `cells` when given. */
  private def writeFixture(sampleInterval: Int = 4000,
                           cells: Seq[(Int, Int)] = Nil): String = {
    val grid = Seq(
      (1, 10, Array(1.5f, 2.5f)), (1, 11, Array(3.0f, 4.0f)),
      (2, 10, Array(5.0f, 6.0f)), (2, 11, Array(7.5f, 8.5f)),
      (3, 10, Array(9.0f, 10.0f)), (3, 11, Array(11.5f, 12.5f)),
    )
    val src = (if (cells.isEmpty) grid
               else cells.map { case (il, xl) => (il, xl, Array(il.toFloat, xl.toFloat)) })
      .toDF("il", "xl", "v")
    val records = SegyExport.serializeStandardTraces(
      src.orderBy("il", "xl")
        .withColumn("samples", SegyExport.ibmPayload(col("v"), 2)),
      Seq(SegyRead.StandardFields.Inline -> "il",
        SegyRead.StandardFields.Crossline -> "xl"), "samples")
    val f = Files.createTempDirectory("clispec").toString + "/in.sgy"
    SegyExport.writeSegy(records, f,
      SegyHeaders.sanitizeTextHeader(Seq("C 1 CLI SPEC")),
      SegyExport.standardBinaryHeader(nSamples = 2, sampleInterval = sampleInterval,
        formatCode = 1))
    f
  }

  test("segy export writes the imported sample interval and per-trace " +
    "geometry; a store that records none writes 0") {
    val segy = writeFixture(sampleInterval = 2500)
    val dir = Files.createTempDirectory("cliinterval").toString
    val store = s"$dir/i.mdio"
    assert(Cli.run(Seq("segy", "import", segy, store,
      "--header-locations", "189,193",
      "--header-names", "inline,crossline"), spark) == 0)
    val schema = graft.storage.MdioDataset.readSidecar(spark, store).get
    assert(schema.metadata.attributes.get(Cli.SampleIntervalAttr) == Some("2500"))

    /** (binary interval, binary samples, per-trace (samples, interval)). */
    def exported(name: String): (Int, Int, Set[(Int, Int)]) = {
      val out = s"$dir/$name.sgy"
      assert(Cli.run(Seq("segy", "export", store, out), spark) == 0)
      val b = java.nio.ByteBuffer.wrap(
        Files.readAllBytes(java.nio.file.Paths.get(out)))
      def u16(off1: Int) = b.getShort(off1 - 1) & 0xffff
      val record = 240 + 2 * 4
      val traces = (0 until 6).map { t =>
        val h = 3600 + t * record
        (u16(h + 115), u16(h + 117))
      }.toSet
      (u16(3217), u16(3221), traces)
    }
    assert(exported("with") == ((2500, 2, Set((2, 2500)))))

    // a store written before the interval was recorded: 0 means unknown
    graft.storage.MdioDataset.writeSidecar(spark, store, schema.copy(
      metadata = schema.metadata.copy(
        attributes = schema.metadata.attributes - Cli.SampleIntervalAttr)))
    assert(exported("without") == ((0, 2, Set((2, 0)))))
  }

  test("segy import warns once when the grid sparsity exceeds 2, and only then") {
    def imported(cells: Seq[(Int, Int)]): Seq[String] = {
      val segy = writeFixture(cells = cells)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        assert(Cli.run(Seq("segy", "import", segy, segy + ".mdio",
          "--header-locations", "189,193", "--header-names", "inline,crossline"),
          spark) == 0)
      }
      out.toString.linesIterator.toSeq
    }
    // diagonals: n traces on an n×n grid → sparsity n
    val at = imported(Seq((1, 10), (2, 11)))
    assert(at.exists(_.startsWith("ingested 2 traces")), at)
    assert(!at.exists(_.startsWith("warning:")), at)
    val over = imported(Seq((1, 10), (2, 11), (3, 12)))
    assert(over.exists(_.startsWith("ingested 3 traces")), over)
    assert(over.filter(_.startsWith("warning:")) ==
      Seq("warning: grid sparsity 3.00 exceeds 2.0 (warn threshold)"), over)
  }

  test("segy import → info → export → copy drive the facade end to end") {
    val segy = writeFixture()
    val dir = Files.createTempDirectory("clistore").toString
    val store = s"$dir/cli.mdio"

    // import with the reference's flag shapes (std inline/crossline bytes)
    assert(Cli.run(Seq("segy", "import", segy, store,
      "--header-locations", "189,193",
      "--header-names", "inline,crossline",
      "--header-types", "int32,int32",
      "--chunk-size", "2,2,2"), spark) == 0)
    // re-import without --overwrite refuses; with it succeeds
    assert(Cli.run(Seq("segy", "import", segy, store,
      "--header-locations", "189,193"), spark) == 2)
    assert(Cli.run(Seq("segy", "import", segy, store,
      "--header-locations", "189,193",
      "--header-names", "inline,crossline", "--overwrite"), spark) == 0)

    // the store holds the decoded per-trace sample arrays
    val handle = graft.Mdio.openMdio(spark, store)
    assert(handle.df.count() == 6)
    val sums = handle.df.select(sum(aggregate(col("amplitude"),
      lit(0.0), (a, e) => a + e))).as[Double].head()
    assert(math.abs(sums - 81.0) < 1e-6) // sum of all 12 samples
    // array-valued ingest stats made it into the sidecar
    val stats = handle.schema.variable("amplitude")
      .flatMap(_.metadata).flatMap(_.statsV1).get
    assert(stats.count == 12 && math.abs(stats.sum - 81.0) < 1e-6)
    assert(stats.min == 1.5 && stats.max == 12.5)

    // info: json shape carries the grid
    assert(Cli.run(Seq("info", store, "--output-format", "json"), spark) == 0)
    assert(Cli.run(Seq("info", store), spark) == 0)

    // export back to SEG-Y and re-read: same grid, same samples
    val out = s"$dir/out.sgy"
    assert(Cli.run(Seq("segy", "export", store, out), spark) == 0)
    val back = spark.read.format("segy").option("fields", "inline,crossline")
      .load(out).select(col("inline"), col("crossline"), col("samples"))
      .as[(Long, Long, Seq[Float])].collect().toSet
    assert(back == Set(
      (1L, 10L, Seq(1.5f, 2.5f)), (1L, 11L, Seq(3.0f, 4.0f)),
      (2L, 10L, Seq(5.0f, 6.0f)), (2L, 11L, Seq(7.5f, 8.5f)),
      (3L, 10L, Seq(9.0f, 10.0f)), (3L, 11L, Seq(11.5f, 12.5f))))
    // endian little is an actionable refusal, not silent little-endian bytes
    assert(Cli.run(Seq("segy", "export", store, out,
      "--endian", "little"), spark) == 2)

    // copy: metadata-only by default (no trace payload in any form), full
    // with the flag
    val metaCopy = s"$dir/meta.mdio"
    assert(Cli.run(Seq("copy", store, metaCopy), spark) == 0)
    val meta = graft.Mdio.openMdio(spark, metaCopy)
    assert(!meta.df.columns.contains("amplitude"))
    assert(!meta.df.columns.contains("samples"))
    assert(meta.df.count() == 6)
    val fullCopy = s"$dir/full.mdio"
    assert(Cli.run(Seq("copy", store, fullCopy, "--with-traces"), spark) == 0)
    val full = graft.Mdio.openMdio(spark, fullCopy)
    assert(full.df.columns.contains("amplitude") && full.df.count() == 6)

    // a store imported when the raw payload was kept beside `amplitude`
    // (an undeclared binary `samples` column) stays exportable, and its
    // metadata-only copy drops that payload too
    val legacy = s"$dir/legacy.mdio"
    graft.storage.MdioDataset.write(
      handle.df.withColumn("samples", SegyExport.ibmPayload(col("amplitude"), 2)),
      legacy, handle.schema)
    val legacyOut = s"$dir/legacy.sgy"
    assert(Cli.run(Seq("segy", "export", legacy, legacyOut), spark) == 0)
    assert(Files.readAllBytes(java.nio.file.Paths.get(legacyOut)).toSeq ==
      Files.readAllBytes(java.nio.file.Paths.get(out)).toSeq)
    val legacyMeta = s"$dir/legacy-meta.mdio"
    assert(Cli.run(Seq("copy", legacy, legacyMeta), spark) == 0)
    val legacyCols = graft.Mdio.openMdio(spark, legacyMeta).df.columns
    assert(!legacyCols.contains("amplitude") && !legacyCols.contains("samples"),
      legacyCols.mkString(","))
  }

  test("segy import --lossless false keeps the store exact and writes a " +
       "quantized fast_<dim0> copy with its Zfp tolerance") {
    import graft.operators.AccessPatterns
    val segy = writeFixture()
    val store = Files.createTempDirectory("clilossy").toString + "/l.mdio"
    assert(Cli.run(Seq("segy", "import", segy, store,
      "--header-locations", "189,193", "--header-names", "inline,crossline",
      "--lossless", "false", "--compression-tolerance", "0.5"), spark) == 0)
    def samples(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Seq[Float]] =
      df.select(col("inline").cast("long"), col("crossline").cast("long"),
          col("amplitude")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Float](2)).toMap
    val handle = graft.Mdio.openMdio(spark, store)
    val base = samples(handle.df)
    assert(base == Map(
      (1L, 10L) -> Seq(1.5f, 2.5f), (1L, 11L) -> Seq(3.0f, 4.0f),
      (2L, 10L) -> Seq(5.0f, 6.0f), (2L, 11L) -> Seq(7.5f, 8.5f),
      (3L, 10L) -> Seq(9.0f, 10.0f), (3L, 11L) -> Seq(11.5f, 12.5f)))
    val tol = AccessPatterns.toleranceFor(handle, "amplitude", 0.5)
    val fastPath = AccessPatterns.fastTablePath(store, "inline")
    val fastDf = spark.read.parquet(fastPath)
    assert(fastDf.schema("amplitude").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val fast = samples(fastDf)
    assert(fast.keySet == base.keySet && fast != base)
    for ((k, b) <- base; (x, q) <- b.zip(fast(k)))
      assert(math.abs(x - q) <= tol + 1e-5, s"$k: $x -> $q (tolerance $tol)")
    val sidecar = new String(Files.readAllBytes(
      java.nio.file.Paths.get(fastPath, ".mdio.json")), "UTF-8")
    assert(graft.schema.SchemaJson.fromJson(sidecar).variable("amplitude")
      .flatMap(_.compressor) ==
      Some(graft.schema.Zfp("fixed_accuracy", tolerance = Some(tol))))
  }

  test("segy import rejects malformed input with its cause and leaves no store") {
    val good = Files.readAllBytes(java.nio.file.Paths.get(writeFixture()))
    val dir = Files.createTempDirectory("climalformed").toString
    /** `good` with the `width`-byte big-endian word at 1-based file byte
      * `off1` set to `v`. */
    def patched(off1: Int, v: Int, width: Int = 2,
                from: Array[Byte] = good): Array[Byte] = {
      val b = from.clone()
      (0 until width).foreach(i => b(off1 - 1 + i) = (v >> (8 * (width - 1 - i))).toByte)
      b
    }
    def rejected(name: String, bytes: Array[Byte], names: String,
                 cause: String): Unit = {
      val segy = s"$dir/$name.sgy"
      Files.write(java.nio.file.Paths.get(segy), bytes)
      val store = s"$dir/$name.mdio"
      val err = new java.io.ByteArrayOutputStream()
      val rc = Console.withErr(err) {
        Cli.run(Seq("segy", "import", segy, store,
          "--header-locations", "189,193", "--header-names", names), spark)
      }
      assert(rc != 0, s"$name: import exited 0")
      assert(err.toString.contains(cause), s"$name: '$cause' not in: $err")
      assert(!Files.exists(java.nio.file.Paths.get(store)), s"$name left $store")
    }
    rejected("size", good :+ 0.toByte, "inline,crossline",
      "is not a multiple of the 248-byte standard record")
    rejected("format4", patched(3225, 4), "inline,crossline", "format 4")
    rejected("format0", patched(3225, 0), "inline,crossline",
      "unsupported SEG-Y sample format code 0")
    // the rev-2 byte-order word (binary-header bytes 97-100) of a
    // little-endian file
    rejected("littleendian", patched(3297, 0x04030201, width = 4),
      "inline,crossline", "little-endian SEG-Y is not supported")
    rejected("nosamples", patched(3221, 0), "inline,crossline",
      "declares 0 samples per trace")
    rejected("collision", good, "samples,crossline",
      "segy field 'samples' is a reserved column name")
    // a binary-header sample count whose record width still divides the
    // data section (6 records of 2 IBM32 samples are 3 of 64), while every
    // trace header (bytes 115-116) carries the true 2
    val carries2 = (0 until 6).foldLeft(good)((b, t) =>
      patched(3600 + 248 * t + 115, 2, from = b))
    rejected("nsamples", patched(3221, 64, from = carries2), "inline,crossline",
      "the first trace header declares 2 samples per trace")
    rejected("truncated", good.dropRight(10), "inline,crossline",
      "is not a multiple of the 248-byte standard record")
    // the segy scan refuses both files the same way
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    Seq("nsamples" -> "the first trace header declares 2 samples per trace",
      "truncated" -> "is not a multiple of the 248-byte standard record").foreach {
      case (name, cause) =>
        val e = intercept[Exception](spark.read.format("segy").load(s"$dir/$name.sgy").count())
        assert(msgs(e).exists(_.contains(cause)), s"$name: ${msgs(e)}")
    }

    // a failure inside the store write (the stats kernel refuses a NaN
    // sample) removes the partly written store too
    val nan = s"$dir/nan.sgy"
    Seq((1, 10, Seq(1.0f, Float.NaN))).toDF("inline", "crossline", "samples")
      .write.format("segy").option("fields", "inline,crossline")
      .option("formatCode", "5").mode("overwrite").save(nan)
    val e = intercept[Exception](Cli.run(Seq("segy", "import", nan, s"$dir/nan.mdio",
      "--header-locations", "189,193", "--header-names", "inline,crossline"), spark))
    assert(msgs(e).exists(_.contains("non-finite sample")), msgs(e))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/nan.mdio")))
  }

  test("segy import over a DIRECTORY ingests all member shot files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("clidir").toString
    def shot(ils: Range, name: String): Unit =
      (for (il <- ils; xl <- 1 to 3) yield (il, xl))
        .map { case (il, xl) => (il, xl, Seq((il * 10 + xl).toFloat)) }
        .toDF("inline", "crossline", "samples")
        .write.format("segy").option("fields", "inline,crossline")
        .mode("overwrite").save(s"$dir/$name.sgy")
    shot(1 to 2, "a")
    shot(3 to 3, "b")
    val store = s"$dir/out.mdio"
    assert(Cli.run(Seq("segy", "import", dir, store,
      "--header-names", "inline,crossline"), spark) == 0)
    val df = graft.Mdio.openMdio(spark, store).df
    assert(df.count() == 9)
    assert(df.select(sum(element_at(col("amplitude"), 1)).cast("long"))
      .as[Long].head() ==
      (for (il <- 1 to 3; xl <- 1 to 3) yield il * 10 + xl).sum.toLong)
    // custom byte locations don't apply to directory imports
    assert(Cli.run(Seq("segy", "import", dir, s"$dir/x.mdio",
      "--header-locations", "189,193",
      "--header-names", "inline,crossline"), spark) == 2)
  }

  test("segy export and info refuse --access-pattern and -access as unknown " +
       "options") {
    val segy = writeFixture()
    val dir = Files.createTempDirectory("cliaccess").toString
    val store = s"$dir/cli.mdio"
    assert(Cli.run(Seq("segy", "import", segy, store,
      "--header-locations", "189,193",
      "--header-names", "inline,crossline"), spark) == 0)
    val out = s"$dir/out.sgy"
    assert(Cli.run(Seq("segy", "export", store, out,
      "--access-pattern", "012"), spark) == 2)
    assert(Cli.run(Seq("segy", "export", store, out, "-access", "012"), spark) == 2)
    assert(Cli.run(Seq("info", store, "--access-pattern", "012"), spark) == 2)
    assert(Cli.run(Seq("info", store, "-access", "012"), spark) == 2)
    assert(!Files.exists(java.nio.file.Paths.get(out)))
  }

  test("prep verbs drive the corpus pipeline over parquet tables") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cliprep").toString
    val in = s"$dir/docs.parquet"
    // two exact dups, one near-dup paraphrase, one junk doc (no stopwords,
    // non-alpha), one clean singleton — each prep stage has work to do
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    Seq(
      (1L, base, "web"),
      (2L, base, "web"), // exact dup of 1
      (3L, base + " tonight", "web"), // near-dup of 1
      (4L, "### 123 456 789 ###", "junk"),
      (5L, "completely different and clean text about the spark engine runtime", "web"))
      .toDF("doc_id", "text", "source").write.parquet(in)

    // quality: junk doc drops (alpha fraction + stopwords), others keep
    val q = s"$dir/q.parquet"
    assert(Cli.run(Seq("prep", "quality", in, q,
      "--min-tokens", "5", "--min-stopwords", "1"), spark) == 0)
    assert(spark.read.parquet(q).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L, 5L))

    // dedup exact: min-id survivor per content hash
    val de = s"$dir/de.parquet"
    assert(Cli.run(Seq("prep", "dedup", in, de), spark) == 0)
    assert(spark.read.parquet(de).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 4L, 5L))

    // dedup near: the paraphrase (higher id of the pair) also drops
    val dn = s"$dir/dn.parquet"
    assert(Cli.run(Seq("prep", "dedup", in, dn, "--mode", "near"), spark) == 0)
    assert(spark.read.parquet(dn).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 4L, 5L))

    // spans: the shared run reports per-doc token spans
    val sp = s"$dir/sp.parquet"
    assert(Cli.run(Seq("prep", "dedup", in, sp, "--mode", "spans",
      "--ngram", "4"), spark) == 0)
    val spanDocs = spark.read.parquet(sp).select("doc_id").as[Long]
      .collect().toSet
    assert(Set(1L, 2L, 3L).subsetOf(spanDocs) && !spanDocs.contains(4L))

    // dedup editdist: " tonight" is 8 edits from base — kept at --edits 4,
    // dropped at --edits 8; the exact dup (doc 2, ed 0) drops either way
    val dd = s"$dir/dd.parquet"
    assert(Cli.run(Seq("prep", "dedup", in, dd, "--mode", "editdist"), spark) == 0)
    assert(spark.read.parquet(dd).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 4L, 5L))
    val dd8 = s"$dir/dd8.parquet"
    assert(Cli.run(Seq("prep", "dedup", in, dd8, "--mode", "editdist",
      "--edits", "8"), spark) == 0)
    assert(spark.read.parquet(dd8).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 4L, 5L))

    // pipeline: quality -> exact -> near in one verb
    val pl = s"$dir/pl.parquet"
    assert(Cli.run(Seq("prep", "pipeline", in, pl,
      "--min-tokens", "5", "--min-stopwords", "1"), spark) == 0)
    assert(spark.read.parquet(pl).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 5L))

    // guard rails: existing output needs --overwrite; bad mode is loud
    assert(Cli.run(Seq("prep", "quality", in, q), spark) == 2)
    assert(Cli.run(Seq("prep", "dedup", in, s"$dir/x.parquet",
      "--mode", "bogus"), spark) == 2)
  }

  test("index compact verb auto-detects the layout and folds the files") {
    val docs = Seq(
      (0L, "spark engine fast scan"), (1L, "window query engine"),
      (2L, "fast data stream"), (3L, "table scan window"))
      .toDF("doc_id", "text")
    val path = graft.core.TempDirs.scratch("cli_index_compact")
    graft.llm.Retrieval.buildIndex(docs.where($"doc_id" < 2), path)
    graft.llm.Retrieval.appendToIndex(docs.where($"doc_id" >= 2), path)
    val queries = Seq(0L -> "fast scan")
    val before = graft.llm.Retrieval.bm25TopKFromIndex(spark, path, queries, 10)
      .collect().map(_.toSeq).toSet
    assert(Cli.run(Seq("index", "compact", path), spark) == 0)
    assert(spark.read.parquet(s"$path/postings")
      .where($"term".isNull).count() == 1L, "markers folded")
    assert(graft.llm.Retrieval.bm25TopKFromIndex(spark, path, queries, 10)
      .collect().map(_.toSeq).toSet == before)
    // guard rails: undetectable layout and bad --kind are loud
    val empty = graft.core.TempDirs.scratch("cli_index_compact_empty")
    assert(Cli.run(Seq("index", "compact", empty), spark) == 2)
    assert(Cli.run(Seq("index", "compact", path, "--kind", "bogus"), spark) == 2)
  }

  test("validate verb: a fresh ingest passes every check; a corrupted sidecar fails exactly") {
    val segy = writeFixture()
    val dir = Files.createTempDirectory("clifsck").toString
    val store = s"$dir/v.mdio"
    assert(Cli.run(Seq("segy", "import", segy, store,
      "--header-locations", "189,193",
      "--header-names", "inline,crossline"), spark) == 0)
    // honest store: everything (incl. the exact stats recompute) passes
    assert(Cli.run(Seq("validate", store), spark) == 0)

    // corrupt ONE recorded fact: bump the value variable's stats count
    val schema = graft.storage.MdioDataset.readSidecar(spark, store).get
    val tampered = schema.copy(variables = schema.variables.map { v =>
      v.metadata.flatMap(_.statsV1) match {
        case Some(s) => v.copy(metadata = Some(v.metadata.get.copy(
          statsV1 = Some(s.copy(count = s.count + 1)))))
        case None => v
      }
    })
    graft.storage.MdioDataset.writeSidecar(spark, store, tampered)
    assert(Cli.run(Seq("validate", store), spark) == 1)

    // and a declared dimension the data contradicts (size too small)
    val shrunk = schema.copy(dimensions = schema.dimensions.map(d =>
      if (d.name == "inline") d.copy(size = 1) else d))
    graft.storage.MdioDataset.writeSidecar(spark, store, shrunk)
    assert(Cli.run(Seq("validate", store), spark) == 1)

    // not a store at all
    assert(Cli.run(Seq("validate", s"$dir/nothing"), spark) == 1)
  }

  test("velocity verb drives scan/semblance/panel over a store") {
    val segy = writeFixture()
    val dir = Files.createTempDirectory("clivel").toString
    val store = s"$dir/vel.mdio"
    assert(Cli.run(Seq("segy", "import", segy, store,
      "--header-locations", "189,193",
      "--header-names", "inline,crossline"), spark) == 0)

    // scan: one argmax row per inline gather (crossline as offset);
    // trace length inferred from the store
    val scanOut = s"$dir/scan.parquet"
    assert(Cli.run(Seq("velocity", store, scanOut,
      "--keys", "inline", "--offset", "crossline",
      "--candidates", "0,0.5", "--samples-col", "amplitude"), spark) == 0)
    val scan = spark.read.parquet(scanOut)
    assert(scan.count() == 3)
    assert(scan.columns.toSet ==
      Set("inline", "best_shift", "n_traces", "energy"))

    // semblance mode renames the measure column
    val semOut = s"$dir/sem.parquet"
    assert(Cli.run(Seq("velocity", store, semOut,
      "--keys", "inline", "--offset", "crossline",
      "--candidates", "0,0.5", "--samples-col", "amplitude",
      "--mode", "semblance"), spark) == 0)
    assert(spark.read.parquet(semOut).columns.contains("semblance"))

    // panel: one row per gather per candidate, panel length = nSamples
    val panOut = s"$dir/panel.parquet"
    assert(Cli.run(Seq("velocity", store, panOut,
      "--keys", "inline", "--offset", "crossline",
      "--candidates", "0,0.5", "--samples-col", "amplitude",
      "--mode", "panel", "--window", "3"), spark) == 0)
    val pan = spark.read.parquet(panOut)
    assert(pan.count() == 6)
    assert(pan.select(size($"panel")).as[Int].collect().forall(_ == 2))

    // guard rails are loud: missing flags, bad mode, absent column
    assert(Cli.run(Seq("velocity", store, s"$dir/x.parquet",
      "--offset", "crossline", "--candidates", "0",
      "--samples-col", "amplitude"), spark) == 2)
    assert(Cli.run(Seq("velocity", store, s"$dir/x.parquet",
      "--keys", "inline", "--offset", "crossline", "--candidates", "0",
      "--samples-col", "amplitude", "--mode", "bogus"), spark) == 2)
    assert(Cli.run(Seq("velocity", store, s"$dir/x.parquet",
      "--keys", "inline", "--offset", "crossline", "--candidates", "0",
      "--samples-col", "samples"), spark) == 2) // the store has no such column
    assert(Cli.run(Seq("velocity", store, s"$dir/x.parquet",
      "--keys", "inline", "--offset", "crossline",
      "--candidates", "0,zoom", "--samples-col", "amplitude"), spark) == 2)
  }
}
