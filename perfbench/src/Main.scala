package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Mdio
import graft.export.SegyExport
import graft.ingestion.{GridOverrides, IndexStrategyRegistry, IngestPipeline, StrategyContext}
import graft.operators.Selection
import graft.schema.DatasetTemplate
import graft.sources.SegyRead
import graft.storage.MdioDatasetHandle
import graft.tools.Cli

/** Entry-point benchmark: `segy import`, open + `sel`/`isel`, and
  * `segy export`, driven through the program's public calls on seeded
  * synthetic surveys, with every output checked.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <scratch-dir> --out <result.json> --spans <spans.jsonl>
  * }}}
  *
  * Load model: one client, closed loop. Untraced runs (`--trace 0`) time
  * the workload's operation and report the end-to-end metrics; the traced
  * run (`--trace 1`) times each layer's public functions from outside and
  * reports the per-layer metrics. METRICS.md describes every metric.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, out: String, spansOut: String)

  // ---------------------------------------------------------- workloads

  /** Sizes and import flags of the two surveys. */
  final case class Shape(survey: Long => Gen.Survey, warmSurvey: Long => Gen.Survey,
                         fields: Seq[SegyRead.HeaderField],
                         types: Seq[String], overrides: GridOverrides,
                         overrideFlag: Option[String]) {
    def names: Seq[String] = fields.map(_.name)
    def importFlags: Seq[String] =
      Seq("--header-locations", fields.map(_.byteOffset).mkString(","),
        "--header-names", names.mkString(",")) ++
        (if (types.forall(_ == "int32")) Nil
         else Seq("--header-types", types.mkString(","))) ++
        overrideFlag.toSeq.flatMap(o => Seq("--grid-overrides", o)) :+ "--overwrite"
    def template: DatasetTemplate =
      DatasetTemplate("SegyImport", "time", names :+ "time",
        Seq.fill(names.length)(64) :+ 512)
  }

  val PostStackShape = Shape(
    seed => Gen.postStack(seed, nIl = 64, nXl = 48, nSamples = 500),
    seed => Gen.postStack(seed, nIl = 16, nXl = 48, nSamples = 500),
    Seq(SegyRead.HeaderField("inline", 189, 4), SegyRead.HeaderField("crossline", 193, 4)),
    Seq("int32", "int32"), GridOverrides(), None)

  val GathersShape = Shape(
    seed => Gen.gathers(seed, nShots = 16, nCables = 4, nChannels = 96,
      dupFraction = 0.01, nSamples = 64),
    seed => Gen.gathers(seed, nShots = 4, nCables = 4, nChannels = 96,
      dupFraction = 0.01, nSamples = 64),
    Seq(SegyRead.HeaderField("shot_point", 17, 4), SegyRead.HeaderField("cable", 137, 2),
      SegyRead.HeaderField("channel", 13, 4)),
    Seq("int32", "int16", "int32"),
    GridOverrides(autoChannelWrap = true, hasDuplicates = true),
    Some("AutoChannelWrap=true,HasDuplicates=true"))

  /** Both workloads make the same ops on their own survey: `segy import`,
    * selection rounds (open, each selection kind once) and `segy export`. */
  val Workloads: Map[String, Shape] = Map(
    "gathers_session" -> GathersShape,
    "poststack_session" -> PostStackShape)

  // -------------------------------------------------------------- setup

  /** Exactly `graft.tools.Cli.main`'s session. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One run's inputs, scratch paths and check state. */
  final class Run(val spark: SparkSession, val shape: Shape, val survey: Gen.Survey,
                  val stats: Gen.Stats, work: Path, seed: Long) {
    /** Check failures, each also printed to stderr as it is found. */
    val problems = new mutable.ArrayBuffer[String] {
      override def addOne(p: String): this.type = {
        System.err.println(s"[perfbench] check failed: $p"); super.addOne(p)
      }
    }
    val sgy: String = work.resolve("input.sgy").toString
    val store: String = work.resolve("store.mdio").toString
    val exportOut: String = work.resolve("export.sgy").toString
    val rng = new java.util.Random(seed * 7919 + 17)
    def inputBytes: Long = survey.fileBytes
  }

  def now(): Double = System.nanoTime() / 1e9

  def timed[T](f: => T): (T, Double) = { val t0 = now(); val r = f; (r, now() - t0) }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }
  }

  /** (bytes, files) on disk under `p`. */
  def treeSize(p: String): (Long, Long) = {
    val w = Files.walk(Paths.get(p))
    try {
      var b = 0L; var n = 0L
      w.filter(Files.isRegularFile(_)).forEach { f => b += Files.size(f); n += 1 }
      (b, n)
    } finally w.close()
  }

  /** `Cli.run` with its stdout captured: (exit code, printed text). */
  def cli(spark: SparkSession, args: Seq[String]): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Cli.run(args, spark)
    }
    (rc, buf.toString("UTF-8"))
  }

  def importOp(r: Run, store: String): Int = {
    val (rc, out) = cli(r.spark, Seq("segy", "import", r.sgy, store) ++ r.shape.importFlags)
    if (rc != 0) throw new IllegalStateException(s"segy import exited $rc")
    checkImportLine(r, out)
    rc
  }

  // ------------------------------------------------------------- checks

  private val Ingested =
    """ingested (\d+) traces into .* \(grid cells (\d+), format (\d+), (\d+) samples @ (\d+) us\)""".r

  def checkImportLine(r: Run, out: String): Unit = {
    val n = r.survey.geometry.nTraces.toLong
    Ingested.findFirstMatchIn(out) match {
      case Some(m) =>
        if (m.group(1).toLong != n) r.problems += s"import: ${m.group(1)} traces, want $n"
        if (m.group(2).toLong != n) r.problems += s"import: ${m.group(2)} grid cells, want $n"
        if (m.group(4).toInt != r.survey.nSamples)
          r.problems += s"import: ${m.group(4)} samples, want ${r.survey.nSamples}"
      case None => r.problems += s"import printed no result line: ${out.trim.take(200)}"
    }
  }

  /** Dimension sizes the store must record. */
  def expectedDims(s: Gen.Survey): Seq[(String, Long)] = s.geometry match {
    case g: Gen.PostStack =>
      Seq("inline" -> g.nIl.toLong, "crossline" -> g.nXl.toLong, "time" -> s.nSamples.toLong)
    case g: Gen.Gathers =>
      Seq("shot_point" -> g.nShots.toLong, "cable" -> g.nCables.toLong,
        "channel" -> g.nChannels.toLong, "trace" -> (if (g.nDuplicated > 0) 2L else 1L),
        "time" -> s.nSamples.toLong)
  }

  /** Spatial key of trace `t` as the store labels it, and the file indices
    * of every trace sharing that key, in file order. */
  def storeKey(s: Gen.Survey, t: Int): (Seq[(String, Long)], Seq[Int]) = s.geometry match {
    case g: Gen.PostStack =>
      (Seq("inline" -> g.inline(t).toLong, "crossline" -> g.crossline(t).toLong), Seq(t))
    case g: Gen.Gathers =>
      val same = (math.max(0, t - 1) to math.min(g.nTraces - 1, t + 1)).filter(u =>
        g.shot(u) == g.shot(t) && g.cable(u) == g.cable(t) && g.channel(u) == g.channel(t))
      (Seq("shot_point" -> g.shot(t).toLong, "cable" -> g.cable(t).toLong,
        "channel" -> (g.channel(t) - (g.cable(t) - 1) * g.nChannels).toLong), same)
  }

  def amplitudes(row: Row, i: Int): Array[Float] =
    row.getSeq[Float](i).toArray

  /** Stored dims, statistics and a few probed traces against the generator. */
  def checkStore(r: Run, store: String, validate: Boolean): Unit = {
    val schema = graft.storage.MdioDataset.readSidecar(r.spark, store)
      .getOrElse { r.problems += s"$store has no sidecar"; return }
    val dims = schema.dimensions.map(d => d.name -> d.size)
    if (dims != expectedDims(r.survey))
      r.problems += s"store dims $dims, want ${expectedDims(r.survey)}"
    schema.variable("amplitude").flatMap(_.metadata).flatMap(_.statsV1) match {
      case Some(st) =>
        if (st.count != r.stats.count || st.min != r.stats.min || st.max != r.stats.max)
          r.problems += s"store stats (${st.count}, ${st.min}, ${st.max}) != " +
            s"generated (${r.stats.count}, ${r.stats.min}, ${r.stats.max})"
      case None => r.problems += "store records no amplitude statistics"
    }
    val handle = Mdio.openMdio(r.spark, store)
    (0 until 3).foreach { _ =>
      val t = r.rng.nextInt(r.survey.geometry.nTraces)
      val (key, same) = storeKey(r.survey, t)
      val sels = key.map { case (d, v) => d -> (Selection.Point(v): Selection.Sel) }
      val order = if (handle.df.columns.contains("trace")) Seq(col("trace")) else Nil
      val rows = handle.sel(sels: _*).orderBy(order: _*).select("amplitude").collect()
      if (rows.length != same.length)
        r.problems += s"probe $key: ${rows.length} traces, want ${same.length}"
      else rows.zip(same).foreach { case (row, u) =>
        if (!java.util.Arrays.equals(amplitudes(row, 0), Gen.trace(r.survey, u)))
          r.problems += s"probe $key: samples differ from trace $u"
      }
    }
    if (validate) {
      val (rc, out) = cli(r.spark, Seq("validate", store))
      if (rc != 0) r.problems += s"validate exited $rc: ${out.trim.linesIterator.toSeq.last}"
    }
  }

  /** Export output against the input file: size, payload bytes and the
    * key words are failures; other header fields are fidelity mismatches.
    * Returns the names of the mismatched header fields. */
  def checkExport(r: Run, out: String): Set[String] = {
    val s = r.survey
    val mismatched = mutable.Set.empty[String]
    val len = Files.size(Paths.get(out))
    if (len != s.fileBytes) { r.problems += s"export is ${len}B, want ${s.fileBytes}B"; return Set.empty }
    val a = new java.io.RandomAccessFile(r.sgy, "r")
    val b = new java.io.RandomAccessFile(out, "r")
    try {
      def read(f: java.io.RandomAccessFile, off: Long, n: Int): java.nio.ByteBuffer = {
        val buf = new Array[Byte](n); f.seek(off); f.readFully(buf); java.nio.ByteBuffer.wrap(buf)
      }
      def field(buf: java.nio.ByteBuffer, off1: Int, w: Int): Int =
        if (w == 2) buf.getShort(off1 - 1) & 0xffff else buf.getInt(off1 - 1)
      val binA = read(a, 3200, 400); val binB = read(b, 3200, 400)
      Gen.binaryFields(s).foreach { case (name, o, w, _) =>
        if (field(binA, o, w) != field(binB, o, w)) mismatched += s"binary.$name" }
      val n = s.geometry.nTraces
      val probes = Seq(0, n - 1) ++ Seq.fill(16)(r.rng.nextInt(n))
      val keys = s.geometry match {
        case _: Gen.PostStack => Seq(("inline", 189, 4), ("crossline", 193, 4))
        case _ => Nil
      }
      probes.foreach { t =>
        val off = 3600L + t.toLong * s.recordBytes
        val ra = read(a, off, s.recordBytes); val rb = read(b, off, s.recordBytes)
        if (!java.util.Arrays.equals(ra.array(), 240, s.recordBytes, rb.array(), 240, s.recordBytes))
          r.problems += s"export trace $t: payload bytes differ from the input"
        keys.foreach { case (name, o, w) =>
          if (field(ra, o, w) != field(rb, o, w))
            r.problems += s"export trace $t: $name ${field(rb, o, w)}, want ${field(ra, o, w)}" }
        Gen.traceFields(s).foreach { case (name, o, w, _) =>
          if (field(ra, o, w) != field(rb, o, w)) mismatched += s"trace.$name" }
      }
    } finally { a.close(); b.close() }
    mismatched.toSet
  }

  def exportOp(r: Run, store: String, out: String): Unit = {
    val (rc, _) = cli(r.spark, Seq("segy", "export", store, out))
    if (rc != 0) throw new IllegalStateException(s"segy export exited $rc")
  }

  // ---------------------------------------------------------- selection

  val SelectKinds = Seq("sel_dim0", "sel_dim1", "sel_trace", "isel_box", "zslice")

  /** One selection of `kind` on `h`, collected to the driver. Only the
    * call is timed; the check that follows is not. Returns (seconds, rows
    * returned). */
  def selectOp(r: Run, h: MdioDatasetHandle, kind: String): (Double, Long) = {
    val s = r.survey
    val Seq(d0, d1) = r.shape.names.take(2)
    val (key, _) = storeKey(s, r.rng.nextInt(s.geometry.nTraces))
    val (n0, n1) = (expectedDims(s)(0)._2.toInt, expectedDims(s)(1)._2.toInt)
    val (i, j) = (r.rng.nextInt(math.max(1, n0 - 9)), r.rng.nextInt(math.max(1, n1 - 9)))
    val z = r.rng.nextInt(s.nSamples)
    val traces = Seq(col(d0), col(d1), col("amplitude"))
    val (rows, secs) = timed(kind match {
      case "sel_dim0" => h.sel(d0 -> Selection.Point(key(0)._2)).select(traces: _*).collect()
      case "sel_dim1" => h.sel(d1 -> Selection.Point(key(1)._2)).select(traces: _*).collect()
      case "sel_trace" =>
        h.sel(key.map { case (d, v) => d -> (Selection.Point(v): Selection.Sel) }: _*)
          .select(traces: _*).collect()
      case "isel_box" =>
        h.isel(d0 -> Selection.ISlice(i, i + 10), d1 -> Selection.ISlice(j, j + 10))
          .select(traces: _*).collect()
      case "zslice" =>
        h.df.select(col(d0), col(d1), element_at(col("amplitude"), z + 1)).collect()
    })
    if (kind == "zslice") checkZslice(r, rows, z) else checkSelection(r, kind, key, rows)
    (secs, rows.length.toLong)
  }

  /** Trace index of a post-stack (inline, crossline) pair. */
  def postStackTrace(g: Gen.PostStack, il: Long, xl: Long): Int =
    ((il - g.il0) * g.nXl + (xl - g.xl0)).toInt

  def checkSelection(r: Run, kind: String, key: Seq[(String, Long)], rows: Array[Row]): Unit =
    r.survey.geometry match {
      case g: Gen.PostStack =>
        val want = kind match {
          case "sel_dim0" => g.nXl
          case "sel_dim1" => g.nIl
          case "sel_trace" => 1
          case "isel_box" => math.min(10, g.nIl) * math.min(10, g.nXl)
        }
        if (rows.length != want) r.problems += s"$kind $key: ${rows.length} rows, want $want"
        rows.take(4).foreach { row =>
          val t = postStackTrace(g, row.getLong(0), row.getLong(1))
          if (!java.util.Arrays.equals(amplitudes(row, 2), Gen.trace(r.survey, t)))
            r.problems += s"$kind: trace (${row.getLong(0)}, ${row.getLong(1)}) samples differ"
        }
      case g: Gen.Gathers =>
        val want = kind match {
          case "sel_dim0" => g.shot.count(_ == key(0)._2).toLong
          case "sel_dim1" => g.cable.count(_ == key(1)._2).toLong
          case _ => -1L
        }
        if (want >= 0 && rows.length != want) r.problems += s"$kind $key: ${rows.length} rows, want $want"
        if (rows.isEmpty) r.problems += s"$kind $key: no rows"
    }

  def checkZslice(r: Run, rows: Array[Row], z: Int): Unit = {
    val s = r.survey
    if (rows.length != s.geometry.nTraces)
      r.problems += s"zslice: ${rows.length} rows, want ${s.geometry.nTraces}"
    s.geometry match {
      case g: Gen.PostStack =>
        val bad = rows.count(row =>
          row.getFloat(2) != Gen.sample(s, postStackTrace(g, row.getLong(0), row.getLong(1)), z))
        if (bad > 0) r.problems += s"zslice $z: $bad samples differ"
      case _ =>
    }
  }

  // ------------------------------------------------------------ the ops

  /** Call times of one op or session, in seconds; NaN for a call it did
    * not make. A call that throws keeps its time until the throw. */
  final class SessionLog {
    var ingest, open, export = Double.NaN
    val selects = mutable.ArrayBuffer.empty[(String, Double)]
    var storeBytes = Double.NaN
    var mismatches = Set.empty[String]
    def total: Double = (Seq(ingest, open, export) ++ selects.map(_._2)).filterNot(_.isNaN).sum
    /** The select entry point: open plus the round's selections. */
    def select: Double = if (open.isNaN) Double.NaN else open + selects.map(_._2).sum
  }

  def timedInto[T](set: Double => Unit)(f: => T): T = {
    val t0 = now()
    try f finally set(now() - t0)
  }

  /** Run `f`; throw when it added a check failure. */
  def checked(r: Run, what: String)(f: => Unit): Unit = {
    val before = r.problems.size
    f
    if (r.problems.size != before) throw new IllegalStateException(s"$what output check failed")
  }

  /** The five selection kinds in a seeded order. */
  def selectionOrder(r: Run): Seq[String] =
    scala.util.Random.javaRandomToRandom(r.rng).shuffle(SelectKinds)

  /** `segy import` of the survey into a fresh `store`, timed into `log`,
    * then checked. */
  def importPart(r: Run, store: String, log: SessionLog): Unit = {
    deleteTree(store) // the previous op's
    timedInto(log.ingest = _)(importOp(r, store))
    checked(r, "import")(checkStore(r, store, validate = false))
    log.storeBytes = treeSize(store)._1.toDouble
  }

  /** Open `store` and make each selection kind once, in a seeded order.
    * Only the calls are timed, into `log`; each check follows its call. */
  def selectPart(r: Run, store: String, log: SessionLog): Unit = {
    val h = timedInto(log.open = _)(Mdio.openMdio(r.spark, store))
    selectionOrder(r).foreach { k =>
      checked(r, k)(log.selects += k -> selectOp(r, h, k)._1)
    }
  }

  /** `segy export` of `store`, timed into `log`, then checked and deleted. */
  def exportPart(r: Run, store: String, log: SessionLog): Unit = {
    timedInto(log.export = _)(exportOp(r, store, r.exportOut))
    checked(r, "export")(log.mismatches = checkExport(r, r.exportOut))
    deleteTree(r.exportOut)
  }

  /** A user session on a fresh import of the survey: `segy import` into
    * `store`, open it and make each selection kind once, then `segy
    * export` it. Throws when a call or a check fails. */
  def sessionOp(r: Run, store: String, log: SessionLog): Unit = {
    importPart(r, store, log)
    selectPart(r, store, log)
    exportPart(r, store, log)
  }

  // ------------------------------------------------------ untraced run

  final case class OpLog(log: SessionLog, ok: Boolean)

  /** One op; an op that throws counts as failed, and its call times still count. */
  def attempt(op: SessionLog => Unit): OpLog = {
    val log = new SessionLog
    val ok = try { op(log); true } catch { case e: Exception =>
      System.err.println(s"[perfbench] op failed: $e"); false }
    OpLog(log, ok)
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)])

  /** Ops of one timed cycle: an import of the survey, then selection
    * rounds (open plus one selection of each kind) and exports of the
    * imported store, each its own op. An export takes under a second and
    * varies by about ±15% from call to call, so a run needs ten of them
    * after the first of each store for a steady median. */
  val SelectRounds = 2
  val ExportsPerStore = 6

  /** One cycle's ops: (import, selection rounds, exports). The rounds and
    * exports run only when the import succeeded. */
  def cycle(r: Run, rounds: Int, exports: Int): (OpLog, Seq[OpLog], Seq[OpLog]) = {
    val imp = attempt(importPart(r, r.store, _))
    if (!imp.ok) (imp, Nil, Nil)
    else (imp, (0 until rounds).map(_ => attempt(selectPart(r, r.store, _))),
      (0 until exports).map(_ => attempt(exportPart(r, r.store, _))))
  }

  def untraced(o: Opts, spark: SparkSession, sessionS: Double): Result = {
    val shape = Workloads(o.workload)
    val work = Paths.get(o.work)
    // several generations, so their median is the set-up share of input
    val gens = (0 until 3).map { _ =>
      timed(Gen.write(shape.survey(o.seed), work.resolve("input.sgy").toString))
    }
    val genS = median(gens.map(_._2))
    val r = new Run(spark, shape, shape.survey(o.seed), gens.head._1, work, o.seed)

    // Untimed warm-up: an import, one selection round and one export of a
    // quarter-size survey of the same layout and trace length. It pays
    // class loading and the first code generation of every op kind, about
    // 20 s whatever the survey's size. More warm-up rounds and exports did
    // not narrow the gap between the timed cycles.
    val warmWork = Files.createDirectories(work.resolve("warm"))
    val warmSurvey = shape.warmSurvey(o.seed)
    val (warmOps, warmS) = timed {
      val w = new Run(spark, shape, warmSurvey,
        Gen.write(warmSurvey, warmWork.resolve("input.sgy").toString), warmWork, o.seed)
      val (i, rs, es) = cycle(w, rounds = 1, exports = 1)
      if (w.problems.nonEmpty || !(i +: (rs ++ es)).forall(_.ok)) r.problems += "warm-up cycle failed"
      (i, rs, es)
    }
    deleteTree(warmWork.toString)

    val imports, rounds, firstExports, exports = mutable.ArrayBuffer.empty[OpLog]
    val until = now() + o.seconds
    while (now() < until || imports.size < 2) {
      val (i, rs, es) = cycle(r, SelectRounds, ExportsPerStore)
      // The first export of a fresh store is another population: 1.0-2.1 s
      // where the later ones take 0.55-1.2 s on the post-stack survey. A
      // median over both lands on whichever side the mix tips it to.
      imports += i; rounds ++= rs; firstExports ++= es.take(1); exports ++= es.drop(1)
    }
    val logs = imports ++ rounds ++ firstExports ++ exports
    // `validate` scans a whole store: run it on the last op's store only
    if (Files.exists(Paths.get(r.store))) {
      val before = r.problems.size
      checkStore(r, r.store, validate = true)
      if (r.problems.size != before) r.problems += "the last timed import failed validate"
      deleteTree(r.store)
    }

    def med(ls: Seq[OpLog], f: SessionLog => Double) = median(ls.map(l => f(l.log)).filterNot(_.isNaN))
    val setupS = sessionS + genS + warmS
    val ingestS = med(imports.toSeq, _.ingest)
    val selectS = med(rounds.toSeq, _.select)
    val exportS = med(exports.toSeq, _.export)
    val storeRatio = med(imports.toSeq, _.storeBytes) / r.inputBytes
    val failed = logs.count(!_.ok)
    val selects = rounds.flatMap(_.log.selects)
    val mismatches = exports.lastOption.map(_.log.mismatches).getOrElse(Set.empty)
    def secs(ls: Iterable[OpLog], f: SessionLog => Double) = ls.map(l => f"${f(l.log)}%.3f").mkString(" ")
    val report = Seq(
      f"setup: session $sessionS%.3f s, input generation $genS%.3f s (median of 3), " +
        f"warm-up cycle on a ${warmSurvey.geometry.nTraces}-trace survey $warmS%.3f s",
      s"warm-up seconds: import ${secs(Seq(warmOps._1), _.ingest)}, rounds ${secs(warmOps._2, _.select)}, " +
        s"exports ${secs(warmOps._3, _.export)}",
      "import seconds: " + secs(imports, _.ingest),
      "selection round seconds (open + five selections): " + secs(rounds, _.select),
      "first export seconds: " + secs(firstExports, _.export),
      "re-export seconds: " + secs(exports, _.export),
      "selection medians: " + SelectKinds.map(k =>
        f"$k ${median(selects.filter(_._1 == k).map(_._2 * 1000).toSeq)}%.1f ms").mkString(", "),
      f"metric setup_s = $setupS%.4f s",
      f"metric ingest_s = $ingestS%.4f s (median of ${imports.size} imports)",
      f"metric ingest_mb_per_s = ${r.inputBytes / 1e6 / ingestS}%.4f MB/s (SEG-Y read, at ingest_s)",
      f"metric open_ms = ${med(rounds.toSeq, _.open) * 1000}%.3f ms",
      f"metric select_s = $selectS%.4f s (open + one selection of each kind, median of ${rounds.size} rounds)",
      f"metric select_p50_ms = ${median(selects.map(_._2 * 1000).toSeq)}%.3f ms (${selects.size} selections)",
      f"metric export_s = $exportS%.4f s (median of ${exports.size} re-exports)",
      f"metric first_export_s = ${med(firstExports.toSeq, _.export)}%.4f s " +
        s"(median of ${firstExports.size} first exports of a fresh store)",
      f"metric export_mb_per_s = ${r.inputBytes / 1e6 / exportS}%.4f MB/s (SEG-Y written, at export_s)",
      s"metric export_header_mismatches = ${mismatches.size} count " +
        s"(${mismatches.toSeq.sorted.mkString(", ")})",
      f"metric store_bytes_per_input_byte = $storeRatio%.4f ratio",
      f"metric failed_op_ratio = ${failed.toDouble / logs.size}%.4f ($failed/${logs.size})")
    report.foreach(l => println(s"[perfbench] $l"))
    Result(r.problems.isEmpty && failed == 0, logs.size, failed, Seq(
      ("setup_s", setupS, "s"),
      ("ingest_s", ingestS, "s"),
      ("select_s", selectS, "s"),
      ("export_s", exportS, "s"),
      ("store_bytes_per_input_byte", storeRatio, "ratio")))
  }

  // -------------------------------------------------------- traced run

  /** Sequential write, read-back and memcpy rates, MB/s, on `bytes` bytes. */
  def ceilings(work: Path, bytes: Long): (Double, Double, Double) = {
    val f = work.resolve("ceiling.bin")
    val block = java.nio.ByteBuffer.allocateDirect(1 << 20)
    val n = math.max(1L, bytes >> 20)
    val (_, wS) = timed {
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try (0L until n).foreach { _ => block.clear(); while (block.hasRemaining) ch.write(block) }
      finally ch.close()
    }
    val (_, rS) = timed {
      val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.READ)
      try { block.clear(); while (ch.read(block) > 0) block.clear() } finally ch.close()
    }
    Files.delete(f)
    val src = new Array[Byte](64 << 20); val dst = new Array[Byte](64 << 20)
    java.util.Arrays.fill(src, 1.toByte)
    val reps = 16
    val (_, mS) = timed((0 until reps).foreach(_ => System.arraycopy(src, 0, dst, 0, src.length)))
    val mb = n.toDouble * (1 << 20) / 1e6
    (mb / wS, mb / rS, reps * 64.0 * (1 << 20) / 1e6 / mS)
  }

  def traced(o: Opts, spark: SparkSession): Result = {
    val shape = Workloads(o.workload)
    val work = Paths.get(o.work)
    val survey = shape.survey(o.seed)
    val stats = Gen.write(survey, work.resolve("input.sgy").toString)
    val r = new Run(spark, shape, survey, stats, work, o.seed)
    val sp = new Spans
    val m = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0
    var failed = 0
    def step[T](name: String)(f: => T): Option[(T, Double)] = {
      attempted += 1
      try Some(timed(sp.span(name)(f)))
      catch { case e: Exception =>
        failed += 1; r.problems += s"$name failed: $e"; None }
    }
    def sec[T](x: Option[(T, Double)]): Double = x.map(_._2).getOrElse(Double.NaN)
    def check(f: => Unit): Unit = sp.span("bench.check")(f)

    val (wMb, rMb, cMb) = ceilings(work, r.inputBytes)
    m("ceiling.seq_read_mb_per_s") = rMb
    m("ceiling.seq_write_mb_per_s") = wMb
    m("ceiling.memcpy_mb_per_s") = cMb
    spark.sparkContext.addSparkListener(sp)

    // one import, untimed but traced: warms every layer, and its store is
    // the one the selection, export and overhead steps use
    step("bench.warmup")(importOp(r, r.store))

    val info = SegyRead.standardInfo(spark, r.sgy)
    def traces(): DataFrame = SegyRead.readStandardTraces(spark, r.sgy, shape.fields)
    def decoded(): DataFrame = traces().withColumn("amplitude",
      SegyRead.decodeSamples(col("samples"), info.nSamples, info.formatCode))
    val n = survey.geometry.nTraces.toLong

    val header = step("sources.header_scan")(traces().select(shape.names.map(col): _*).count())
    val payload = step("sources.payload_scan")(
      traces().agg(sum(octet_length(col("samples")))).collect().head.getLong(0))
    val decode = step("sources.decode_scan")(
      decoded().agg(sum(size(col("amplitude")))).collect().head.getLong(0))
    check {
      if (!header.map(_._1).contains(n)) r.problems += s"header scan count != $n"
      if (!payload.map(_._1).contains(n * 4 * survey.nSamples)) r.problems += "payload scan bytes wrong"
      if (!decode.map(_._1).contains(n * survey.nSamples)) r.problems += "decode scan samples wrong"
    }
    m("sources.header_scan_s") = sec(header)
    m("sources.payload_scan_s") = sec(payload)
    m("sources.decode_scan_s") = sec(decode)
    m("sources.tasks") = traces().rdd.getNumPartitions.toDouble
    m("sources.read_ceiling_frac") = r.inputBytes / 1e6 / sec(decode) / rMb
    m("functions.sample_decode_s") = sec(decode) - sec(payload)

    val statsStep = step("operators.ingest_stats") {
      // every aggregate the ingest write pass records, decimal sums included
      val (nA, minA, maxA, sumA, sumsqA, lenA) =
        graft.operators.Stats.ingestStatsAggs(col("amplitude"), isArray = true)
      decoded().agg(nA, Seq(minA, maxA, sumA, sumsqA) ++ lenA: _*).collect().head
    }
    check(statsStep.foreach { case (row, _) =>
      if (row.getLong(0) != stats.count || row.getDouble(1) != stats.min || row.getDouble(2) != stats.max)
        r.problems += s"ingest stats $row != generated $stats"
    })
    m("operators.ingest_stats_s") = sec(statsStep)

    val tmpl = shape.template
    val strategy = step("ingestion.strategy")(
      IndexStrategyRegistry.createStrategy(shape.overrides, tmpl)
        .transform(decoded(), StrategyContext(tmpl, Seq("trace_index"))).count())
    check(if (!strategy.map(_._1).contains(n)) r.problems += "strategy output count wrong")
    m("ingestion.strategy_s") = sec(strategy)

    val ingestPath = work.resolve("ingest.mdio").toString
    val ingest = step("ingestion.ingest")(IngestPipeline.ingest(spark, decoded(), tmpl,
      shape.overrides, ingestPath, ordinal = Seq("trace_index"), valueCol = "amplitude",
      sparsityError = 1e9))
    check {
      ingest.foreach { case (res, _) =>
        if (res.nTraces != n || res.nCells != n)
          r.problems += s"ingest result ${res.nTraces} traces ${res.nCells} cells, want $n"
      }
      checkStore(r, ingestPath, validate = true)
    }
    m("ingestion.ingest_s") = sec(ingest)
    m("ingestion.self_s") = sec(ingest) - sec(decode)
    val (bytes, files) = treeSize(ingestPath)
    deleteTree(ingestPath)
    m("storage.bytes_written") = bytes.toDouble
    m("storage.files_written") = files.toDouble

    val sidecar = graft.storage.MdioDataset.readSidecar(spark, r.store).get
    val copyPath = work.resolve("to_mdio.mdio").toString
    m("storage.to_mdio_s") = sec(step("storage.to_mdio")(Mdio.toMdio(decoded(), copyPath, sidecar)))
    deleteTree(copyPath)

    val opens = (0 until 5).map(_ => step("storage.open")(Mdio.openMdio(spark, r.store)))
    m("storage.open_ms") = median(opens.map(sec(_) * 1000))
    val handle = opens.last.map(_._1).getOrElse(Mdio.openMdio(spark, r.store))

    var rowsReturned = 0L
    SelectKinds.foreach { k =>
      val times = (0 until 3).flatMap { _ =>
        step("operators.select")(selectOp(r, handle, k)).map { case ((secs, rows), _) =>
          rowsReturned += rows; secs * 1000 }
      }
      m(s"operators.${k}_ms") = median(times)
    }

    val dims = shape.names :+ "trace"
    val exportDims = dims.filter(handle.df.columns.contains)
    val staged = handle.df.withColumn("__samples", col("amplitude").cast("array<float>"))
    def ordered() = SegyExport.maskedExport(staged, lit(true), exportDims,
      exportDims :+ "__samples", exportDims)
    val order = step("operators.masked_order")(ordered().count())
    check(if (!order.map(_._1).contains(n)) r.problems += "masked export row count wrong")
    m("operators.masked_order_s") = sec(order)

    val plain = step("functions.amplitude_scan")(
      staged.agg(sum(size(col("__samples")))).collect().head.getLong(0))
    val ibm = step("functions.ibm_encode")(
      staged.agg(sum(octet_length(SegyExport.ibmPayload(col("__samples"), survey.nSamples))))
        .collect().head.getLong(0))
    check(if (!ibm.map(_._1).contains(n * 4 * survey.nSamples)) r.problems += "ibm payload bytes wrong")
    m("functions.ibm_encode_s") = sec(ibm) - sec(plain)

    val free = Iterator.from(0).map(1 + _ * 4).filter(o => o != 189 && o != 193)
    val fieldCols = exportDims.map {
      case "inline" => SegyRead.StandardFields.Inline -> "inline"
      case "crossline" => SegyRead.StandardFields.Crossline -> "crossline"
      case d => SegyRead.HeaderField(d, free.next(), 4) -> d
    }
    def records() = SegyExport.serializeStandardTraces(
      ordered().withColumn("_pay", SegyExport.ibmPayload(col("__samples"), survey.nSamples)),
      fieldCols, "_pay")
    val encode = step("export.encode")(records().agg(sum(col("record_len"))).collect().head.getLong(0))
    check(if (!encode.map(_._1).contains(n * survey.recordBytes.toLong))
      r.problems += "encoded record bytes wrong")
    m("export.encode_s") = sec(encode)
    val write = step("export.write")(SegyExport.writeSegy(records(), r.exportOut,
      graft.`export`.SegyHeaders.sanitizeTextHeader(Seq("C 1 PERFBENCH LAYER WRITE")),
      SegyExport.standardBinaryHeader(survey.nSamples, survey.intervalUs, formatCode = 1),
      fixedRecordBytes = Some(SegyExport.standardRecordBytes(survey.nSamples, 1))))
    check {
      val len = Files.size(Paths.get(r.exportOut))
      if (len != survey.fileBytes) r.problems += s"layer write produced ${len}B, want ${survey.fileBytes}B"
      deleteTree(r.exportOut)
    }
    m("export.write_s") = sec(write)
    m("export.write_ceiling_frac") = survey.fileBytes / 1e6 / sec(write) / wMb
    var mismatches = 0
    step("export.cli")(exportOp(r, r.store, r.exportOut))
    check { mismatches = checkExport(r, r.exportOut).size; deleteTree(r.exportOut) }
    m("export.header_mismatches") = mismatches.toDouble

    // tracing overhead: a full session, alternately traced and not,
    // in ABBA order so the JIT warming across the loop favours neither side
    val opPath = work.resolve("op.mdio").toString
    val on = mutable.ArrayBuffer.empty[Double]
    val off = mutable.ArrayBuffer.empty[Double]
    Seq(true, false, false, true).foreach { tracedOp =>
      if (!tracedOp) { sp.drain(); spark.sparkContext.removeSparkListener(sp) }
      val log = new SessionLog
      step(if (tracedOp) "bench.overhead_op" else "bench.untraced_op")(sessionOp(r, opPath, log))
      (if (tracedOp) on else off) += log.total
      if (!tracedOp) spark.sparkContext.addSparkListener(sp)
    }
    deleteTree(opPath)
    m("trace.overhead_frac") = median(on.toSeq) / median(off.toSeq) - 1

    sp.drain()
    spark.sparkContext.removeSparkListener(sp)
    val totals = sp.totals()
    m("export.jobs") = totals.get("export.write").map(_.jobs.toDouble).getOrElse(0.0)
    val selectRows = totals.get("operators.select").map(_.recordsRead).getOrElse(0L)
    m("operators.rows_read_per_row_returned") = selectRows.toDouble / math.max(1L, rowsReturned)
    for (s <- TracedSpans; (field, get) <- SpanFields) {
      m(s"$s.$field") = totals.get(s).map(get).getOrElse(0.0)
    }
    m("core.scratch_live_bytes") = graft.core.TempDirs.liveBytes().map(_.toDouble).getOrElse(-1.0)
    m("trace.unattributed_jobs") = sp.unattributedJobs().toDouble
    sp.dump(o.spansOut)
    deleteTree(r.store)
    println(s"[perfbench] spans written to ${o.spansOut}")

    Result(r.problems.isEmpty && failed == 0, attempted, failed,
      PerLayer.map { case (name, unit) => (name, m.getOrElse(name, Double.NaN), unit) })
  }

  val TracedSpans = Seq("sources.decode_scan", "ingestion.ingest", "operators.ingest_stats",
    "operators.select", "export.write")

  val SpanFields: Seq[(String, Spans#Totals => Double)] = Seq(
    "jobs" -> (_.jobs.toDouble), "tasks" -> (_.tasks.toDouble),
    "cpu_s" -> (_.cpuNs / 1e9), "gc_s" -> (_.gcMs / 1e3),
    "input_bytes" -> (_.inputBytes.toDouble), "output_bytes" -> (_.outputBytes.toDouble),
    "shuffle_write_bytes" -> (_.shuffleWriteBytes.toDouble),
    "spill_bytes" -> (_.spillBytes.toDouble))

  /** Per-layer metrics of the traced run, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.header_scan_s" -> "s", "sources.payload_scan_s" -> "s",
    "sources.decode_scan_s" -> "s", "sources.tasks" -> "count",
    "sources.read_ceiling_frac" -> "ratio", "functions.sample_decode_s" -> "s",
    "operators.ingest_stats_s" -> "s", "ingestion.strategy_s" -> "s",
    "ingestion.ingest_s" -> "s", "ingestion.self_s" -> "s",
    "storage.to_mdio_s" -> "s", "storage.bytes_written" -> "bytes",
    "storage.files_written" -> "count", "storage.open_ms" -> "ms") ++
    SelectKinds.map(k => s"operators.${k}_ms" -> "ms") ++ Seq(
    "operators.rows_read_per_row_returned" -> "ratio",
    "operators.masked_order_s" -> "s", "functions.ibm_encode_s" -> "s",
    "export.encode_s" -> "s", "export.write_s" -> "s", "export.jobs" -> "count",
    "export.write_ceiling_frac" -> "ratio", "export.header_mismatches" -> "count",
    "core.scratch_live_bytes" -> "bytes") ++
    (for (s <- TracedSpans; (f, _) <- SpanFields) yield s"$s.$f" -> (f match {
      case "cpu_s" | "gc_s" => "s"
      case "jobs" | "tasks" => "count"
      case _ => "bytes"
    })) ++ Seq(
    "ceiling.seq_read_mb_per_s" -> "MB/s", "ceiling.seq_write_mb_per_s" -> "MB/s",
    "ceiling.memcpy_mb_per_s" -> "MB/s",
    "trace.unattributed_jobs" -> "count", "trace.overhead_frac" -> "ratio")

  // --------------------------------------------------------------- main

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w),
      s"unknown workload $w (known: ${Workloads.keys.toSeq.sorted.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace must be 0 or 1")
    Opts(w, need("seed").toLong, need("seconds").toInt, trace == "1",
      need("work"), need("out"), need("spans"))
  }

  def json(r: Result): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = r.metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session()
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val conf = spark.sparkContext.getConf.getAll
      .filterNot { case (k, _) => Set("spark.app.id", "spark.app.startTime", "spark.driver.host",
        "spark.driver.port", "spark.executor.id", "spark.app.submitTime", "spark.app.name",
        "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions").contains(k) }
      .sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
    println(s"[perfbench] workload=${o.workload} seed=${o.seed} seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0} nproc=${Runtime.getRuntime.availableProcessors} " +
      f"heap_max_gib=${Runtime.getRuntime.maxMemory / math.pow(2, 30)}%.2f")
    println(s"[perfbench] conf $conf")
    val result =
      try if (o.trace) traced(o, spark) else untraced(o, spark, sessionS)
      finally spark.stop()
    if (!result.correct) System.err.println("[perfbench] output checks failed")
    Files.write(Paths.get(o.out), json(result).getBytes("UTF-8"))
  }
}
