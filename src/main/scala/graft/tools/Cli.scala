package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.Mdio
import graft.ingestion.GridOverrides
import graft.schema.{DatasetTemplate, ScalarType}
import graft.sources.SegyRead

/** End-user CLI mirroring the reference's click commands
  * (`commands/segy.py:62-389`, `commands/copy.py:11-78`,
  * `commands/info.py:20-66`) verb-for-verb and flag-for-flag over the
  * [[graft.Mdio]] facade:
  *
  * {{{
  * graft.tools.Cli segy import <segy-path> <mdio-path>
  *     --header-locations 189,193 [--header-names inline,crossline]
  *     [--header-types int32,int32] [--chunk-size 64,64,64]
  *     [--lossless true] [--compression-tolerance 0.01]
  *     [--grid-overrides AutoChannelWrap=true,...] [--overwrite]
  * graft.tools.Cli segy export <mdio-file> <segy-path>
  *     [--access-pattern 012] [--endian big]
  * graft.tools.Cli copy <source> <target>
  *     [--with-traces] [--with-headers] [--overwrite]
  * graft.tools.Cli info <mdio-path> [--output-format pretty|json]
  *     [--access-pattern 012]
  * }}}
  *
  * Documented divergences from the reference flags:
  *  - `--lossless false` maps to the engine's quantize-then-zstd lossy
  *    approximation of ZFP fixed-accuracy mode (SURVEY §7.3) at
  *    `--compression-tolerance`.
  *  - export `--endian little` is rejected with an actionable message —
  *    the writer emits the rev-1 default big-endian only.
  *  - cloud `--storage-options-*` JSON is not needed: Hadoop FS configs
  *    carry credentials for every scheme Spark can reach.
  */
object Cli {

  final case class CliError(message: String) extends RuntimeException(message)

  // ---------------------------------------------------------------- parsing

  /** Flags that take no value (click `is_flag`). */
  private val BoolFlags = Set("--overwrite", "--with-traces", "--with-headers")
  /** Short aliases, exactly the reference's (`-loc`, `-types`, ...). */
  private val Aliases = Map(
    "-loc" -> "--header-locations", "-types" -> "--header-types",
    "-names" -> "--header-names", "-chunks" -> "--chunk-size",
    "-lossless" -> "--lossless", "-tolerance" -> "--compression-tolerance",
    "-overwrite" -> "--overwrite", "-grid-overrides" -> "--grid-overrides",
    "-access" -> "--access-pattern", "-endian" -> "--endian",
    "-format" -> "--output-format", "-traces" -> "--with-traces",
    "-headers" -> "--with-headers")

  /** Positionals + option map. Unknown `--flag`s are errors, like click. */
  def parse(args: Seq[String], known: Set[String])
      : (Seq[String], Map[String, String]) = {
    val canon = args.map(a => Aliases.getOrElse(a, a))
    val pos = Vector.newBuilder[String]
    var opts = Map.empty[String, String]
    var i = 0
    while (i < canon.length) {
      val a = canon(i)
      if (a.startsWith("--")) {
        if (!known.contains(a)) throw CliError(s"unknown option $a")
        if (BoolFlags.contains(a)) { opts += a -> "true"; i += 1 }
        else {
          if (i + 1 >= canon.length) throw CliError(s"$a requires a value")
          opts += a -> canon(i + 1); i += 2
        }
      } else { pos += a; i += 1 }
    }
    (pos.result(), opts)
  }

  private def intList(s: String, flag: String): Seq[Int] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { v =>
      try v.toInt
      catch { case _: NumberFormatException =>
        throw CliError(s"$flag: '$v' is not an integer") }
    }

  /** Header type alphabet of the reference's specs: int sizes + signedness
    * ([[SegyRead.HeaderField.typed]], shared with the segy scan's
    * `name@<byte>:<type>` fields). */
  private[tools] def fieldFor(name: String, loc: Int, tpe: String)
      : SegyRead.HeaderField =
    try SegyRead.HeaderField.typed(name, loc, tpe)
    catch { case e: IllegalArgumentException => throw CliError(e.getMessage) }

  /** The reference's legacy CamelCase grid-override dict, parsed from
    * `Key=value` pairs (`segy/geometry.py:29-105`). */
  private[tools] def parseOverrides(s: String): GridOverrides = {
    val kv = s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
      p.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw CliError(s"--grid-overrides: '$p' is not Key=value")
      }
    }.toMap
    val unknown = kv.keySet -- Set("AutoChannelWrap", "AutoShotWrap",
      "CalculateShotIndex", "NonBinned", "HasDuplicates", "chunksize",
      "non_binned_dims")
    if (unknown.nonEmpty)
      throw CliError(s"unknown grid overrides: ${unknown.mkString(", ")}")
    def b(k: String) = kv.get(k).exists(_.toBoolean)
    GridOverrides(
      autoChannelWrap = b("AutoChannelWrap"),
      autoShotWrap = b("AutoShotWrap"),
      calculateShotIndex = b("CalculateShotIndex"),
      nonBinned = b("NonBinned"),
      hasDuplicates = b("HasDuplicates"),
      chunksize = kv.get("chunksize").map(_.toInt),
      nonBinnedDims = kv.get("non_binned_dims").toSeq.flatMap(_.split(";")).filter(_.nonEmpty))
  }

  // ------------------------------------------------------------------ verbs

  private def segyImport(spark: SparkSession, pos: Seq[String],
                         opts: Map[String, String]): Unit = {
    val Seq(segyPath, mdioPath) = pos match {
      case s if s.length == 2 => s
      case _ => throw CliError("segy import needs <segy-path> <mdio-path>")
    }
    // directory imports resolve fields by catalog NAME (--header-names
    // alone suffices); single-file imports need the byte locations
    val locs = opts.get("--header-locations")
      .map(intList(_, "--header-locations"))
      .getOrElse {
        if (opts.contains("--header-names")) Nil
        else throw CliError("--header-locations is required")
      }
    val names = opts.get("--header-names")
      .map(_.split(",").toSeq.map(_.trim))
      .getOrElse(locs.indices.map(i => s"dim_$i"))
    val types = opts.get("--header-types")
      .map(_.split(",").toSeq.map(_.trim))
      .getOrElse(Seq.fill(locs.length)("int32"))
    if (locs.nonEmpty &&
        (names.length != locs.length || types.length != locs.length))
      throw CliError("--header-names/--header-types must match --header-locations in length")
    val fields = (names, locs, types).zipped.map(fieldFor)
    val lossless = opts.get("--lossless").forall(_.toBoolean)
    val tolerance = opts.get("--compression-tolerance").map(_.toDouble).getOrElse(0.01)
    val overrides = opts.get("--grid-overrides").map(parseOverrides).getOrElse(GridOverrides())

    val outPath = new org.apache.hadoop.fs.Path(mdioPath)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath)) {
      if (!opts.contains("--overwrite"))
        throw CliError(s"$mdioPath exists; pass --overwrite to replace it")
      fs.delete(outPath, true)
    }

    val vertical = "time"
    val chunks = opts.get("--chunk-size").map(intList(_, "--chunk-size"))
      .getOrElse(Seq.fill(names.length)(64) :+ 512)
    if (chunks.length != names.length + 1)
      throw CliError(s"--chunk-size needs ${names.length + 1} entries (dims + $vertical)")
    val tmpl = DatasetTemplate("SegyImport", vertical,
      names :+ vertical, chunks)
    val srcPath = new org.apache.hadoop.fs.Path(segyPath)
    val srcIsDir = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(srcPath).isDirectory
    if (srcIsDir) {
      // member fields resolve by CATALOG name, so custom byte locations
      // don't apply to a directory of shot files
      val catalog = graft.sources.SegyDataSourceV2.Catalog.map(_.name).toSet
      val unknown = names.filterNot(catalog)
      if (unknown.nonEmpty || opts.contains("--header-types") ||
          opts.contains("--header-locations")) {
        // name the ACTUAL trigger: custom locations/types on a directory,
        // or non-catalog names - "(unknown: )" with an empty list would
        // misattribute the failure
        val why =
          if (unknown.nonEmpty)
            s"unknown names: ${unknown.mkString(", ")}"
          else "custom --header-locations/--header-types were supplied"
        throw CliError(
          s"directory import resolves fields by standard catalog name ($why); " +
            "custom --header-locations/--header-types apply to single files only")
      }
    } else if (fields.isEmpty)
      throw CliError("single-file import needs --header-locations")
    // both shapes read through the segy DSv2 scan; a failed import leaves
    // no store behind
    val (r, info) =
      try {
        val fi = SegyRead.standardInfo(spark,
          if (srcIsDir) graft.sources.SegyDataSourceV2.resolveFiles(spark, segyPath)._2.head
          else segyPath)
        val r = Mdio.segyStandardToMdio(spark, segyPath,
          if (srcIsDir) names else fields.map(_.spec), tmpl, overrides, mdioPath,
          valueCol = "amplitude", sparsityError = 1e9,
          attributes = intervalAttribute(fi))
        if (!lossless) {
          val handle = Mdio.openMdio(spark, mdioPath)
          Mdio.optimizeAccessPatterns(handle, names.take(1), "amplitude", tolerance)
        }
        (r, fi)
      } catch { case e: Exception => fs.delete(outPath, true); throw e }
    println(s"ingested ${r.nTraces} traces into $mdioPath " +
      s"(grid cells ${r.nCells}, format ${info.formatCode}, " +
      s"${info.nSamples} samples @ ${info.sampleInterval} us)")
    r.sparsityWarning.foreach(w => println(s"warning: $w"))
  }

  /** Sidecar attribute holding the imported file's sample interval in µs
    * (binary-header bytes 17-18), which `segy export` writes back. */
  private[tools] val SampleIntervalAttr = "segySampleIntervalUs"

  private def intervalAttribute(fi: SegyRead.StandardInfo): Map[String, String] =
    Map(SampleIntervalAttr -> fi.sampleInterval.toString)

  /** The recorded sample interval; 0 ("unknown" in SEG-Y) for a store
    * that records none. */
  private def recordedInterval(schema: graft.schema.MdioSchema): Int =
    schema.metadata.attributes.get(SampleIntervalAttr).fold(0) { v =>
      v.toIntOption.filter(i => i >= 0 && i <= 0xffff).getOrElse(
        throw CliError(s"sidecar attribute $SampleIntervalAttr=$v is not a " +
          "sample interval in 0..65535 us"))
    }

  private def segyExport(spark: SparkSession, pos: Seq[String],
                         opts: Map[String, String]): Unit = {
    val Seq(mdioFile, segyPath) = pos match {
      case s if s.length == 2 => s
      case _ => throw CliError("segy export needs <mdio-file> <segy-path>")
    }
    val access = opts.getOrElse("--access-pattern", "012")
    if (!access.forall(_.isDigit))
      throw CliError(s"--access-pattern must be digits, got '$access'")
    opts.get("--endian").foreach {
      case "big" => ()
      case "little" => throw CliError(
        "--endian little is not supported: the writer emits the SEG-Y rev-1 " +
        "default big-endian; re-run with --endian big (or omit the flag)")
      case other => throw CliError(s"--endian must be big|little, got '$other'")
    }
    val handle = Mdio.openMdio(spark, mdioFile)
    val dims = handle.schema.dimensions.map(_.name)
      .filter(handle.df.columns.contains)
    if (dims.isEmpty) throw CliError(s"$mdioFile has no dimension columns")
    // the data variable: full-rank array/scalar amplitude written at import
    val dataVar = handle.schema.variables
      .find(v => v.dataType != Left(ScalarType.Bytes240) &&
        handle.df.columns.contains(v.name) && !dims.contains(v.name))
      .getOrElse(throw CliError(s"$mdioFile has no data variable to export"))
    val vertical = handle.schema.dimensions.map(_.name)
      .filterNot(handle.df.columns.contains).lastOption
    val nSamples = vertical
      .flatMap(v => handle.schema.dimensions.find(_.name == v))
      .map(_.size.toInt).getOrElse(1)
    val interval = recordedInterval(handle.schema)
    // header slots: known standard names keep their spec bytes, every trace
    // carries its sample count and interval (bytes 115-118), and the other
    // dims take sequential free 4-byte words
    val byName: Map[String, SegyRead.HeaderField] = Seq(
      SegyRead.StandardFields.Inline, SegyRead.StandardFields.Crossline,
      SegyRead.StandardFields.SourcePoint, SegyRead.StandardFields.Offset,
      SegyRead.StandardFields.FieldRecord, SegyRead.StandardFields.TraceField,
      SegyRead.StandardFields.CdpEnsemble).map(f => f.name -> f).toMap
    val geometry = Seq(SegyRead.StandardFields.NSamples -> "__n_samples",
      SegyRead.StandardFields.SampleInterval -> "__sample_interval")
    val taken = (dims.flatMap(byName.get) ++ geometry.map(_._1))
      .flatMap(f => f.byteOffset until f.byteOffset + f.bytes).toSet
    val free = Iterator.from(0).map(1 + _ * 4)
      .filter(o => (o until o + 4).forall(b => !taken.contains(b)) && o + 3 <= 240)
    val fieldCols = dims.map { d =>
      byName.get(d).getOrElse(SegyRead.HeaderField(d, free.next(), 4)) -> d
    } ++ geometry
    val samples: Column =
      if (handle.df.schema(dataVar.name).dataType
            .isInstanceOf[org.apache.spark.sql.types.ArrayType])
        col(dataVar.name).cast("array<float>")
      else array(col(dataVar.name).cast("float"))
    val staged = handle.df.withColumn("__samples", samples)
      .withColumn("__n_samples", lit(nSamples))
      .withColumn("__sample_interval", lit(interval))
    Mdio.mdioToStandardSegy(
      handle.copy(df = staged), segyPath, mask = lit(true), dims = dims,
      fieldCols = fieldCols, orderKeys = dims, samplesCol = "__samples",
      nSamples = nSamples, sampleInterval = interval,
      textHeader = graft.`export`.SegyHeaders.sanitizeTextHeader(
        Seq(s"C 1 EXPORTED FROM ${dataVar.name.toUpperCase}")))
    println(s"exported $mdioFile to $segyPath ($nSamples samples/trace)")
  }

  private def copyVerb(spark: SparkSession, pos: Seq[String],
                       opts: Map[String, String]): Unit = {
    val Seq(src, dst) = pos match {
      case s if s.length == 2 => s
      case _ => throw CliError("copy needs <source-mdio-path> <target-mdio-path>")
    }
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    val fs = dstPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dstPath)) {
      if (!opts.contains("--overwrite"))
        throw CliError(s"$dst exists; pass --overwrite to replace it")
      fs.delete(dstPath, true)
    }
    val handle = Mdio.openMdio(spark, src)
    val dims = handle.schema.dimensions.map(_.name).toSet
    // reference semantics (`commands/copy.py:49-78`): grid + metadata always
    // copy; trace data only with --with-traces, raw headers only with
    // --with-headers
    val declared = handle.schema.variables.collect {
      case v if v.dataType == Left(ScalarType.Bytes240) &&
        !opts.contains("--with-headers") => v.name
      case v if v.dataType != Left(ScalarType.Bytes240) &&
        !dims.contains(v.name) && !opts.contains("--with-traces") => v.name
    }
    // stores imported before `segy import` kept only the decoded variable
    // also hold the raw payload as an undeclared binary `samples` column:
    // trace data as well
    val legacyPayload = handle.df.schema.fields.toSeq.collect {
      case f if f.name == "samples" && f.dataType == BinaryType &&
        handle.schema.variable(f.name).isEmpty &&
        !opts.contains("--with-traces") => f.name
    }
    val exclude = declared ++ legacyPayload
    Mdio.copyMdio(spark, src, dst, exclude)
    println(s"copied $src to $dst" +
      (if (exclude.nonEmpty) s" (excluded: ${exclude.mkString(", ")})" else ""))
  }

  private def infoVerb(spark: SparkSession, pos: Seq[String],
                       opts: Map[String, String]): Unit = {
    val mdioPath = pos match {
      case Seq(p) => p
      case _ => throw CliError("info needs <mdio-path>")
    }
    val fmt = opts.getOrElse("--output-format", "pretty")
    if (fmt != "pretty" && fmt != "json")
      throw CliError(s"--output-format must be pretty|json, got '$fmt'")
    val handle = Mdio.openMdio(spark, mdioPath)
    // info() is ONE row of <dim>_min/<dim>_max/<dim>_n columns (S8 shape)
    val row = handle.info().collect().head
    val dims = handle.schema.dimensions.map(_.name)
      .filter(d => row.schema.fieldNames.contains(s"${d}_min"))
    def cell(d: String, suffix: String) = row.get(row.fieldIndex(s"$d$suffix"))
    if (fmt == "json") {
      val grid = dims.map { d =>
        s""""$d":{"min":${cell(d, "_min")},"max":${cell(d, "_max")},"size":${cell(d, "_n")}}"""
      }.mkString("{", ",", "}")
      println(s"""{"path":"$mdioPath","name":"${handle.schema.metadata.name}",""" +
        s""""apiVersion":"${handle.schema.metadata.apiVersion}","grid":$grid}""")
    } else {
      println(s"${handle.schema.metadata.name} (api ${handle.schema.metadata.apiVersion})")
      dims.foreach(d => println(f"  $d%-16s min=${cell(d, "_min")} " +
        f"max=${cell(d, "_max")} size=${cell(d, "_n")}"))
    }
  }

  /** `validate <mdio-path>` — store fsck: is the sidecar still TRUE of the
    * data? Structural checks (sidecar parses, data readable, recorded DDL
    * matches the physical schema, layout/dimension references resolve) plus
    * one full scan that recomputes every recorded fact with the SAME
    * arithmetic ingestion used (decimal sums — order-independent, so the
    * comparison is exact, no tolerance): per-variable statsV1
    * (count/min/max/sum/sumSquares over non-zero values), dimension
    * cardinalities (distinct ≤ declared size; a dim can be sparse after a
    * masked copy, never larger), and the vertical size (max trace length).
    * Exit 0 = consistent, 1 = at least one check failed, 2 = usage.
    */
  private def validateVerb(spark: SparkSession, pos: Seq[String]): Int = {
    val mdioPath = pos match {
      case Seq(p) => p
      case _ => throw CliError("validate needs <mdio-path>")
    }
    val checks = scala.collection.mutable.ArrayBuffer[(String, Boolean, String)]()
    def check(name: String, ok: Boolean, detail: String): Unit =
      checks += ((name, ok, detail))

    val sidecar = graft.storage.MdioDataset.readSidecar(spark, mdioPath)
    check("sidecar_parses", sidecar.isDefined,
      sidecar.fold(s"no parseable .mdio.json at $mdioPath")(s =>
        s"${s.metadata.name} api ${s.metadata.apiVersion}"))
    sidecar.foreach { schema =>
      val df =
        try Some(spark.read.parquet(s"$mdioPath/data"))
        catch { case e: org.apache.spark.sql.AnalysisException =>
          check("data_readable", ok = false, e.getMessage); None }
      df.foreach { raw =>
        check("data_readable", ok = true, s"${raw.schema.fields.length} columns")
        val physical = raw.schema.fieldNames.toSet
        schema.layout.flatMap(_.sparkSchemaDdl).foreach { ddl =>
          val declared = org.apache.spark.sql.types.StructType
            .fromDDL(ddl).fieldNames.toSet
          check("schema_ddl", declared == physical,
            if (declared == physical) s"${physical.size} fields"
            else s"declared-only: ${(declared -- physical).mkString(",")}; " +
              s"physical-only: ${(physical -- declared).mkString(",")}")
        }
        schema.layout.foreach { lay =>
          val missing = (lay.sortDims ++ lay.partitionCols).filterNot(physical)
          check("layout_columns", missing.isEmpty,
            if (missing.isEmpty) "sortDims + partitionCols resolve"
            else s"missing: ${missing.mkString(",")}")
        }
        val declaredDims = schema.dimensions.map(_.name).toSet
        val dangling = schema.variables
          .flatMap(v => v.dimensions.filterNot(declaredDims).map(d => s"${v.name}:$d"))
        check("variable_dims_declared", dangling.isEmpty,
          if (dangling.isEmpty) s"${schema.variables.size} variables"
          else s"undeclared: ${dangling.mkString(",")}")

        // ---- the scan: recompute recorded facts with ingest's arithmetic
        val dimCols = schema.dimensions.filter(d => physical(d.name))
        val aggs = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column]()
        dimCols.foreach(d =>
          aggs += countDistinct(col(d.name)).as(s"_card_${d.name}"))
        val statVars = schema.variables.filter(v =>
          v.metadata.exists(_.statsV1.isDefined) && physical(v.name))
        statVars.foreach { v =>
          val isArray = raw.schema(v.name).dataType
            .isInstanceOf[org.apache.spark.sql.types.ArrayType]
          // the SAME aggregate definitions the ingest write pass recorded
          // with — shared code, so recorder and recomputer cannot drift
          val (nA, minA, maxA, sumA, sumsqA, lenA) =
            graft.operators.Stats.ingestStatsAggs(col(v.name), isArray)
          aggs += nA.cast("long").as(s"_n_${v.name}")
          aggs += minA.as(s"_min_${v.name}")
          aggs += maxA.as(s"_max_${v.name}")
          aggs += sumA.as(s"_sum_${v.name}")
          aggs += sumsqA.as(s"_sumsq_${v.name}")
          lenA.foreach(l => aggs += l.as(s"_len_${v.name}"))
        }
        if (aggs.nonEmpty) {
          val row = raw.agg(aggs.head, aggs.tail.toSeq: _*).collect().head
          def g(n: String) = row.get(row.fieldIndex(n))
          dimCols.foreach { d =>
            val card = g(s"_card_${d.name}").asInstanceOf[Long]
            check(s"dim_${d.name}", card <= d.size,
              s"distinct $card vs declared ${d.size}")
          }
          statVars.foreach { v =>
            val s = v.metadata.get.statsV1.get
            def eq(n: String, want: Double): Boolean =
              Option(g(n)).exists(_.asInstanceOf[Double] == want)
            val nOk = g(s"_n_${v.name}").asInstanceOf[Long] == s.count
            val ok = nOk && eq(s"_min_${v.name}", s.min) &&
              eq(s"_max_${v.name}", s.max) && eq(s"_sum_${v.name}", s.sum) &&
              eq(s"_sumsq_${v.name}", s.sumSquares)
            check(s"stats_${v.name}", ok,
              if (ok) s"count ${s.count} min ${s.min} max ${s.max} exact"
              else s"recorded (n=${s.count}, min=${s.min}, max=${s.max}, " +
                s"sum=${s.sum}, sumsq=${s.sumSquares}) != recomputed " +
                s"(n=${g(s"_n_${v.name}")}, min=${g(s"_min_${v.name}")}, " +
                s"max=${g(s"_max_${v.name}")}, sum=${g(s"_sum_${v.name}")}, " +
                s"sumsq=${g(s"_sumsq_${v.name}")})")
            if (raw.schema(v.name).dataType
                .isInstanceOf[org.apache.spark.sql.types.ArrayType]) {
              schema.dimensions.lastOption
                .filter(vd => v.dimensions.lastOption.contains(vd.name))
                .foreach { vd =>
                  val len = g(s"_len_${v.name}").asInstanceOf[Long]
                  check(s"vertical_${vd.name}", len == vd.size,
                    s"max trace length $len vs declared ${vd.size}")
                }
            }
          }
        }
      }
    }
    checks.foreach { case (name, ok, detail) =>
      println(f"${if (ok) "ok  " else "FAIL"} $name%-24s $detail")
    }
    val bad = checks.count(!_._2)
    println(s"validate: ${checks.size - bad}/${checks.size} checks passed")
    if (bad == 0) 0 else 1
  }

  /** `velocity <mdio-path> <out.parquet> --keys il,xl --offset <col>
    * --candidates 0,0.125,0.25 [--samples-col <col>] [--mode
    * scan|semblance|panel] [--window 121] [--overwrite]` — the velocity
    * analysis verb over an MDIO store: gathers group on `--keys`, each
    * trace shifts by candidate × `--offset`, and the result is either
    * the per-gather argmax pick (`scan` by stacked energy, `semblance`
    * by windowed-free semblance) or the full velocity-spectrum panel
    * (`panel`, windowed semblance per candidate per sample — needs
    * `--window`, odd). Trace length is read from the store's first row
    * unless `--n-samples` is given. Output is written as parquet.
    */
  private def velocityVerb(spark: SparkSession, pos: Seq[String],
                           opts: Map[String, String]): Unit = {
    val (mdioPath, out) = pos match {
      case Seq(a, b) => (a, b)
      case _ => throw CliError("velocity needs <mdio-path> <out.parquet>")
    }
    val keys = opts.getOrElse("--keys",
      throw CliError("velocity needs --keys k1[,k2...]")).split(",").toSeq
    val offsetCol = opts.getOrElse("--offset",
      throw CliError("velocity needs --offset <column>"))
    val candidates = opts.getOrElse("--candidates",
      throw CliError("velocity needs --candidates c1[,c2...]"))
      .split(",").toSeq.map { c =>
        try c.toDouble
        catch { case _: NumberFormatException =>
          throw CliError(s"bad candidate '$c'") }
      }
    val samplesCol = opts.getOrElse("--samples-col", "amplitude")
    val mode = opts.getOrElse("--mode", "scan")
    val handle = Mdio.openMdio(spark, mdioPath)
    val df = handle.df
    val missing = (keys :+ offsetCol :+ samplesCol)
      .filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw CliError(s"store has no column(s): ${missing.mkString(", ")}")
    df.schema(samplesCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType |
        org.apache.spark.sql.types.DoubleType, _) => ()
      case t => throw CliError(
        s"--samples-col '$samplesCol' must be array<float|double>, " +
          s"got ${t.simpleString} (use the decoded trace variable)")
    }
    val nSamples = opts.get("--n-samples").map(_.toInt).getOrElse {
      val head = df.select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col(samplesCol))).head()
      if (head.isNullAt(0)) throw CliError(
        s"cannot infer trace length from '$samplesCol' (null first row); " +
          "pass --n-samples") else head.getInt(0)
    }
    val result = mode match {
      case "scan" => graft.operators.TraceOps.moveoutScan(
        df, keys, samplesCol, nSamples, offsetCol, candidates)
      case "semblance" => graft.operators.TraceOps.moveoutScan(
        df, keys, samplesCol, nSamples, offsetCol, candidates,
        coherence = "semblance")
      case "panel" =>
        val window = opts.get("--window").map(_.toInt).getOrElse(
          throw CliError("velocity --mode panel needs --window (odd)"))
        graft.operators.TraceOps.semblancePanel(
          df, keys, samplesCol, nSamples, offsetCol, candidates, window)
      case other =>
        throw CliError(s"--mode must be scan|semblance|panel, got '$other'")
    }
    val writer = result.write
    (if (opts.contains("--overwrite")) writer.mode("overwrite") else writer)
      .parquet(out)
    val rows = spark.read.parquet(out).count()
    println(s"velocity $mode: ${candidates.length} candidates, " +
      s"$rows gather rows -> $out")
  }

  // ---------------------------------------------------------- index verbs

  /** `index compact <index-path> [--kind bm25|ivf|pq|sq] [--id-col ...]` —
    * fold append accumulation in a persisted retrieval/ANN index back into
    * its built layout (run with writers quiesced; the streaming tiers do
    * this automatically via `compactEveryBatches`). Kind auto-detects from
    * the on-disk layout: postings→bm25, cells→ivf, codes+books→pq,
    * codes+bounds→sq.
    */
  private def indexCompactVerb(spark: SparkSession, pos: Seq[String],
                               opts: Map[String, String]): Unit = {
    val path = pos match {
      case Seq(p) => p
      case _ => throw CliError("index compact needs <index-path>")
    }
    def has(sub: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val kind = opts.get("--kind").getOrElse {
      if (has("postings")) "bm25"
      else if (has("cells")) "ivf"
      else if (has("codes") && has("books")) "pq"
      else if (has("codes") && has("bounds")) "sq"
      else if (has("sigs")) "dedup"
      else throw CliError(
        s"cannot detect index kind at $path (pass --kind bm25|ivf|pq|sq|dedup)")
    }
    val idCol = opts.getOrElse("--id-col", "vec_id")
    val (before, after) = kind match {
      case "bm25"  => graft.llm.Retrieval.compactIndex(spark, path)
      case "ivf"   => graft.llm.Ivf.compactIndex(spark, path)
      case "pq"    => graft.llm.Pq.compactIndex(spark, path, idCol)
      case "sq"    => graft.llm.Sq.compactIndex(spark, path, idCol)
      case "dedup" => graft.llm.DedupIndex.compactIndex(spark, path)
      // a signature table is a bare parquet dir — no layout marker to
      // auto-detect, so this kind is explicit-only
      case "sigs" => graft.llm.Similarity.compactSignatures(spark, path)
      case other  => throw CliError(
        s"--kind must be bm25|ivf|pq|sq|dedup|sigs, got '$other'")
    }
    println(s"compacted $kind index at $path: $before -> $after files")
  }

  // ----------------------------------------------------------- prep verbs

  /** Corpus-prep verbs over parquet document tables — the LLM-pipeline
    * face of the CLI, same operators the registered queries gate:
    *
    * {{{
    * prep quality <in.parquet> <out.parquet> [--min-tokens 50]
    *     [--min-stopwords 2] [--overwrite]          # Gopher rule gate
    * prep dedup <in.parquet> <out.parquet> [--mode exact|near|spans|editdist]
    *     [--ngram 8] [--edits 4] [--overwrite]      # survivors / span report
    * prep pipeline <in.parquet> <out.parquet> [--min-tokens 10]
    *     [--min-stopwords 1] [--overwrite]          # quality→exact→near chain
    * }}}
    */
  private def prepVerb(spark: SparkSession, verb: String, pos: Seq[String],
                       opts: Map[String, String]): Unit = {
    val Seq(in, out) = pos match {
      case s if s.length == 2 => s
      case _ => throw CliError(s"prep $verb needs <in.parquet> <out.parquet>")
    }
    val outPath = new org.apache.hadoop.fs.Path(out)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(outPath) && !opts.contains("--overwrite"))
      throw CliError(s"$out exists; pass --overwrite to replace it")
    val docs = spark.read.parquet(in)
    if (!docs.columns.contains("doc_id") || !docs.columns.contains("text"))
      throw CliError(s"$in must carry doc_id and text columns")
    val minTokens = opts.get("--min-tokens").map(_.toInt)
      .getOrElse(if (verb == "pipeline") 10 else 50)
    val minStop = opts.get("--min-stopwords").map(_.toInt)
      .getOrElse(if (verb == "pipeline") 1 else 2)

    def qualityKept = docs.join(
      graft.llm.TextAnalysis.gopherRules(docs,
          minTokens = minTokens, minReqStopwords = minStop)
        .where(col("keep")).select("doc_id"), "doc_id")
    def exactSurvivors(d: org.apache.spark.sql.DataFrame) =
      d.join(d.groupBy(md5(col("text")).as("_h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"), "doc_id")
    def nearSurvivors(d: org.apache.spark.sql.DataFrame) =
      d.join(graft.llm.Dedup.nearDupPairs(d)
          .select(col("id_b").cast("long").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")

    val result = verb match {
      case "quality" => qualityKept
      case "dedup" => opts.getOrElse("--mode", "exact") match {
        case "exact" => exactSurvivors(docs)
        case "near"  => nearSurvivors(exactSurvivors(docs))
        case "spans" =>
          val n = opts.get("--ngram").map(_.toInt).getOrElse(8)
          graft.llm.Dedup.duplicateNgramSpans(docs, n = n)
        // character-level tier: exact edit-distance survivors (drop any doc
        // with a lower-id doc within --edits character edits)
        case "editdist" =>
          val k = opts.get("--edits").map(_.toInt).getOrElse(4)
          docs.join(graft.llm.EditDistance
              .dedupByEditDistance(docs, k = k), Seq("doc_id"))
        case other => throw CliError(
          s"--mode must be exact|near|spans|editdist, got '$other'")
      }
      case "pipeline" => nearSurvivors(exactSurvivors(qualityKept))
      case other => throw CliError(s"unknown prep verb '$other'")
    }
    result.write.mode("overwrite").parquet(out)
    val n = spark.read.parquet(out).count()
    println(s"prep $verb: ${docs.count()} docs in, $n rows out -> $out")
  }

  // ------------------------------------------------------------------- main

  /** Dispatch; returns a process exit code (testable without System.exit):
    * 0 = done, 1 = the input was rejected (a malformed SEG-Y file, an
    * invalid field or parameter), 2 = usage. */
  def run(args: Seq[String], spark: SparkSession): Int =
    try {
      args.toList match {
        case "segy" :: "import" :: rest =>
          val (pos, opts) = parse(rest, Set("--header-locations",
            "--header-names", "--header-types", "--chunk-size", "--lossless",
            "--compression-tolerance", "--grid-overrides", "--overwrite"))
          segyImport(spark, pos, opts); 0
        case "segy" :: "export" :: rest =>
          val (pos, opts) = parse(rest, Set("--access-pattern", "--endian"))
          segyExport(spark, pos, opts); 0
        case "copy" :: rest =>
          val (pos, opts) = parse(rest,
            Set("--with-traces", "--with-headers", "--overwrite"))
          copyVerb(spark, pos, opts); 0
        case "info" :: rest =>
          val (pos, opts) = parse(rest, Set("--output-format", "--access-pattern"))
          infoVerb(spark, pos, opts); 0
        case "validate" :: rest =>
          val (pos, _) = parse(rest, Set.empty)
          validateVerb(spark, pos)
        case "prep" :: verb :: rest if Set("quality", "dedup", "pipeline")(verb) =>
          val (pos, opts) = parse(rest, Set("--min-tokens", "--min-stopwords",
            "--mode", "--ngram", "--edits", "--overwrite"))
          prepVerb(spark, verb, pos, opts); 0
        case "index" :: "compact" :: rest =>
          val (pos, opts) = parse(rest, Set("--kind", "--id-col"))
          indexCompactVerb(spark, pos, opts); 0
        case "velocity" :: rest =>
          val (pos, opts) = parse(rest, Set("--keys", "--offset",
            "--candidates", "--samples-col", "--mode", "--window",
            "--n-samples", "--overwrite"))
          velocityVerb(spark, pos, opts); 0
        case other =>
          Console.err.println(
            s"""unknown command: ${other.mkString(" ")}
               |usage:
               |  segy import <segy-path> <mdio-path> --header-locations ... [options]
               |  segy export <mdio-file> <segy-path> [--access-pattern 012] [--endian big]
               |  copy <source> <target> [--with-traces] [--with-headers] [--overwrite]
               |  info <mdio-path> [--output-format pretty|json]
               |  validate <mdio-path>                 # store fsck: sidecar vs data, exact
               |  prep quality|dedup|pipeline <in.parquet> <out.parquet> [options]
               |  index compact <index-path> [--kind bm25|ivf|pq|sq|dedup|sigs] [--id-col vec_id]
               |  velocity <mdio-path> <out.parquet> --keys k1,k2 --offset <col> --candidates c1,c2 [--mode scan|semblance|panel] [--window N]""".stripMargin)
          2
      }
    } catch {
      case CliError(msg) => Console.err.println(s"error: $msg"); 2
      case e: IllegalArgumentException => Console.err.println(s"error: ${e.getMessage}"); 1
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.build("graft-cli")
    val rc = run(args.toSeq, spark)
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
