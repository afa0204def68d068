package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import QueryFixtures._

/** Registered queries for per-trace kernels: AGC, mute, static shift, FIR,
  * stacks, moveout scans, semblance and velocity panels, at fixture and
  * real trace length, plus the IBM32 sample decode.
  */
object TraceKernelQueries {

  val all: Seq[QuerySpec] = Seq(
    // per-trace seismic conditioning: AGC (sliding-window RMS gain) and
    // top mute over 4-sample traces — IEEE-deterministic folds + sqrt, so
    // the oracle replays every sample bit-for-bit
    QuerySpec("q_trace_agc", (s, d) => {
      val df = lineitem(s, d).select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        array(col("l_partkey").cast("double"),
          (col("l_linenumber") * 1000).cast("double"),
          (col("l_orderkey") % 5000).cast("double"),
          lit(250.0)).as("v"))
      val g = TraceOps.agc(col("v"), nSamples = 4, window = 3)
      val m = TraceOps.muteTop(col("v"), nSamples = 4, firstLive = 3)
      df.select(col("ok"), col("ln"),
        element_at(g, 1).as("g1"), element_at(g, 2).as("g2"),
        element_at(g, 3).as("g3"), element_at(g, 4).as("g4"),
        element_at(m, 1).as("m1"), element_at(m, 2).as("m2"),
        element_at(m, 3).as("m3"), element_at(m, 4).as("m4"))
    },
      // window-3 AGC over 4 samples, spelled per position (edge windows
      // clip); left-to-right squares fold == Spark's aggregate fold
      """WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    CAST(l_partkey AS DOUBLE) AS v1,
        |    CAST(l_linenumber * 1000 AS DOUBLE) AS v2,
        |    CAST(l_orderkey % 5000 AS DOUBLE) AS v3,
        |    CAST(250.0 AS DOUBLE) AS v4
        |  FROM lineitem),
        |r AS (SELECT *,
        |    sqrt((v1*v1 + v2*v2) / 2.0) AS rms1,
        |    sqrt((v1*v1 + v2*v2 + v3*v3) / 3.0) AS rms2,
        |    sqrt((v2*v2 + v3*v3 + v4*v4) / 3.0) AS rms3,
        |    sqrt((v3*v3 + v4*v4) / 2.0) AS rms4
        |  FROM t)
        |SELECT ok, ln,
        |  CASE WHEN rms1 > 0.0 THEN v1 / rms1 ELSE 0.0 END AS g1,
        |  CASE WHEN rms2 > 0.0 THEN v2 / rms2 ELSE 0.0 END AS g2,
        |  CASE WHEN rms3 > 0.0 THEN v3 / rms3 ELSE 0.0 END AS g3,
        |  CASE WHEN rms4 > 0.0 THEN v4 / rms4 ELSE 0.0 END AS g4,
        |  0.0 AS m1, 0.0 AS m2, v3 AS m3, v4 AS m4
        |FROM r""".stripMargin),
    // fractional static shift (the statics/NMO primitive): per-trace
    // half-sample shift via linear interpolation, zero beyond the trace
    QuerySpec("q_trace_shift", (s, d) => {
      val df = lineitem(s, d).select(
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        array(col("l_partkey").cast("double"),
          (col("l_orderkey") % 997).cast("double"),
          (col("l_linenumber") * 11).cast("double")).as("v"),
        // deterministic per-trace shift in [0, 1): k/8 quarters-of-a-sample
        ((col("l_orderkey") % 8).cast("double") / 8.0).as("sh"))
      val r = TraceOps.shiftResample(col("v"), nSamples = 3, col("sh"))
      df.select(col("ok"), col("ln"), col("sh"),
        element_at(r, 1).as("r1"), element_at(r, 2).as("r2"),
        element_at(r, 3).as("r3"))
    },
      // eighth-sample shifts are dyadic ⇒ pos − floor(pos) recovers sh
      // EXACTLY, and the lerp spells in the same operation order
      """WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    CAST(l_partkey AS DOUBLE) AS v1,
        |    CAST(l_orderkey % 997 AS DOUBLE) AS v2,
        |    CAST(l_linenumber * 11 AS DOUBLE) AS v3,
        |    CAST(l_orderkey % 8 AS DOUBLE) / 8.0 AS sh
        |  FROM lineitem)
        |SELECT ok, ln, sh,
        |  v1 + (v2 - v1) * sh AS r1,
        |  v2 + (v3 - v2) * sh AS r2,
        |  v3 + (0.0 - v3) * sh AS r3
        |FROM t""".stripMargin),
    // linear moveout scan (velocity analysis miniature): candidate shifts
    // × per-trace offset → stack → max coherent energy per cell; dyadic
    // quarter-sample candidates keep every lerp exact
    QuerySpec("q_moveout_scan", (s, d) => {
      val df = lineitem(s, d).select(
        col("l_suppkey").as("cell"),
        (col("l_linenumber") - 1).cast("double").as("off"),
        array(col("l_partkey").cast("double"),
          (col("l_orderkey") % 997).cast("double"),
          (col("l_partkey") % 733).cast("double")).as("v"))
      TraceOps.moveoutScan(df, Seq("cell"), "v", nSamples = 3,
        offsetCol = "off", candidates = Seq(0.0, 0.25, 0.5, 0.75))
    },
      // the scan replayed candidate-by-candidate: dyadic shifts keep the
      // lerp exact, decimal sums make stacks order-free, fixed-order energy
      {
        def rExpr(i: Int): String = {
          val i0 = s"CAST(floor($i + sh) AS BIGINT)"
          s"""(coalesce(l[$i0], 0.0)
             |    + (coalesce(l[$i0 + 1], 0.0) - coalesce(l[$i0], 0.0))
             |      * ($i + sh - floor($i + sh)))""".stripMargin
        }
        def eExpr(i: Int): String =
          s"CAST(sum(CAST(r$i AS DECIMAL(28,10))) AS DOUBLE) / count(*)"
        s"""WITH t AS (SELECT l_suppkey AS cell,
          |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
          |    [CAST(l_partkey AS DOUBLE), CAST(l_orderkey % 997 AS DOUBLE),
          |     CAST(l_partkey % 733 AS DOUBLE)] AS l
          |  FROM lineitem),
          |c AS (SELECT unnest([0.0, 0.25, 0.5, 0.75]) AS s),
          |x AS (SELECT cell, s, l, s * off AS sh FROM t, c),
          |r AS (SELECT cell, s,
          |    ${rExpr(1)} AS r1,
          |    ${rExpr(2)} AS r2,
          |    ${rExpr(3)} AS r3
          |  FROM x),
          |stk AS (SELECT cell, s, CAST(count(*) AS BIGINT) AS n,
          |    ${eExpr(1)} AS e1, ${eExpr(2)} AS e2, ${eExpr(3)} AS e3
          |  FROM r GROUP BY 1, 2),
          |nrg AS (SELECT cell, s, n,
          |    e1 * e1 + e2 * e2 + e3 * e3 AS energy,
          |    row_number() OVER (PARTITION BY cell
          |      ORDER BY e1 * e1 + e2 * e2 + e3 * e3 DESC, s) AS rn
          |  FROM stk)
          |SELECT cell, s AS best_shift, n AS n_traces, energy
          |FROM nrg WHERE rn = 1""".stripMargin
      }),
    // the CDP STACK: traces sharing a cell average element-wise —
    // DECIMAL-exact partial sums make the parallel stack bit-equal to the
    // serial oracle
    QuerySpec("q_trace_stack", (s, d) => {
      val df = lineitem(s, d).select(
        col("l_suppkey").as("cell"),
        // integer-valued doubles: the double→DECIMAL re-cast inside the
        // exact aggregation is lossless in BOTH engines only for values
        // with short decimal expansions
        array(col("l_partkey").cast("double"),
          (col("l_linenumber") * 7).cast("double"),
          (col("l_orderkey") % 1000).cast("double")).as("v"))
      TraceOps.stack(df, Seq("cell"), "v", nSamples = 3)
        .select(col("cell"), col("n_traces"),
          element_at(col("stack"), 1).as("s1"),
          element_at(col("stack"), 2).as("s2"),
          element_at(col("stack"), 3).as("s3"))
    },
      """SELECT l_suppkey AS cell, CAST(count(*) AS BIGINT) AS n_traces,
        |  CAST(sum(CAST(CAST(l_partkey AS DOUBLE) AS DECIMAL(28,10)))
        |    AS DOUBLE) / count(*) AS s1,
        |  CAST(sum(CAST(CAST(l_linenumber * 7 AS DOUBLE) AS DECIMAL(28,10)))
        |    AS DOUBLE) / count(*) AS s2,
        |  CAST(sum(CAST(CAST(l_orderkey % 1000 AS DOUBLE) AS DECIMAL(28,10)))
        |    AS DOUBLE) / count(*) AS s3
        |FROM lineitem GROUP BY 1""".stripMargin),
    // AGC at a REAL trace length (1000 samples, 121 window — the PostStack
    // regime): the native kernel's O(1)-size
    // plan under oracle; integer-valued samples keep every window
    // sum-of-squares exact in BOTH engines regardless of fold order, so
    // the probed gains replay bit-for-bit
    QuerySpec("q_trace_agc_long", (s, d) => {
      // samples v[i] = ((ok+1)*i + ln) % 1000 for i=1..1000, built
      // NATIVELY: arithmetic sequence (codegen) + one elementwise-mod
      // kernel node — the transform() HOF this replaces was interpreted
      // per element and cost ~150 s at sf0.1, drowning the operator under
      // test; ok+1 keeps the sequence step positive (orderkey 0 exists)
      // ~240k flops + 8 KB of output per 16-BYTE input row: repartition
      // the pruned two-column projection so the kernels use the whole
      // cluster. The exchange moves ~0.01% of the volume the compute
      // emits, at any scale — and a single-row-group fixture parquet
      // otherwise plans every row into ONE task (split configs cannot
      // divide a row group)
      val df = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("ok"), col("ln"),
        graft.functions.TraceExprs.longModToDouble(
          sequence(col("ok") + 1L + col("ln"),
            (col("ok") + 1L) * 1000L + col("ln"),
            col("ok") + 1L), 1000L).as("v"))
      val g = TraceOps.agc(col("v"), nSamples = 1000, window = 121)
      df.select(col("ok"), col("ln"),
        element_at(g, 1).as("g1"), element_at(g, 2).as("g2"),
        element_at(g, 61).as("g61"), element_at(g, 500).as("g500"),
        element_at(g, 940).as("g940"), element_at(g, 1000).as("g1000"))
    },
      // window-121 AGC at 1000 samples, probed at the edge/boundary/interior
      // positions: the oracle computes ONLY the probed windows via list
      // slices — integer-valued samples make list_sum exact in any order
      {
        // 1-based probe p with half-window 60 → slice [lo:hi], count hi-lo+1
        def rms(p: Int): String = {
          val lo = math.max(1, p - 60); val hi = math.min(1000, p + 60)
          s"sqrt(list_sum(list_transform(v[$lo:$hi], x -> x*x)) / ${(hi - lo + 1).toDouble})"
        }
        def g(p: Int): String =
          s"CASE WHEN ${rms(p)} > 0.0 THEN v[$p] / ${rms(p)} ELSE 0.0 END AS g$p"
        s"""WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
          |    list_transform(range(1, 1001),
          |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 AS DOUBLE)) AS v
          |  FROM lineitem)
          |SELECT ok, ln,
          |  ${g(1)}, ${g(2)}, ${g(61)}, ${g(500)}, ${g(940)}, ${g(1000)}
          |FROM t""".stripMargin
      }),
    // 5-tap binomial FIR smoother at the 1000-sample trace length:
    // integer taps x integer samples keep every tap-sum exact, probes at
    // the edges (zero-padded reads) and interior replay bit-for-bit
    QuerySpec("q_trace_fir_long", (s, d) => {
      val df = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("ok"), col("ln"),
          graft.functions.TraceExprs.longModToDouble(
            sequence(col("ok") + 1L + col("ln"),
              (col("ok") + 1L) * 1000L + col("ln"),
              col("ok") + 1L), 1000L).as("v"))
      val f = TraceOps.firFilter(col("v"), nSamples = 1000,
        coeffs = Seq(1.0, 4.0, 6.0, 4.0, 1.0), center = 2)
      df.select(col("ok"), col("ln"),
        element_at(f, 1).as("f1"), element_at(f, 2).as("f2"),
        element_at(f, 500).as("f500"), element_at(f, 999).as("f999"),
        element_at(f, 1000).as("f1000"))
    },
      // 5-tap binomial FIR at 1000 samples, probed: per-probe spelled
      // tap-sum (out-of-range taps as literal 0.0 products — DuckDB's
      // negative list index reads from the END, so v[p-2] must never be
      // emitted for p <= 2); integer taps x integer samples are exact in
      // any fold order
      {
        val taps = Seq(1.0 -> -2, 4.0 -> -1, 6.0 -> 0, 4.0 -> 1, 1.0 -> 2)
        def f(p: Int): String =
          taps.map { case (c, o) =>
            val j = p + o
            if (j >= 1 && j <= 1000) s"$c * v[$j]" else s"$c * 0.0"
          }.mkString(" + ") + s" AS f$p"
        s"""WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
          |    list_transform(range(1, 1001),
          |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 AS DOUBLE)) AS v
          |  FROM lineitem)
          |SELECT ok, ln, ${f(1)}, ${f(2)}, ${f(500)}, ${f(999)}, ${f(1000)}
          |FROM t""".stripMargin
      }),
    // the CDP stack at 1000 samples: ONE StackAgg buffer per cell instead
    // of 1000 decimal agg columns — probed positions replay exactly
    QuerySpec("q_trace_stack_long", (s, d) => {
      val df = lineitem(s, d)
        .select(col("l_suppkey").as("cell"), col("l_orderkey").as("ok"),
          col("l_linenumber").as("ln"))
        // partition BY CELL (not round-robin): each cell's Θ(nSamples)
        // aggregation state then lives in exactly one task instead of one
        // copy per map partition — with cells ≥ cores this keeps full
        // kernel parallelism and cuts partial-buffer serialization and
        // GC-survivor churn by the partition count
        .repartition(s.sparkContext.defaultParallelism, col("cell"))
        .select(col("cell"),
          graft.functions.TraceExprs.longModToDouble(
            sequence(col("ok") + 1L + col("ln"),
              (col("ok") + 1L) * 1000L + col("ln"),
              col("ok") + 1L), 1000L).as("v"))
      TraceOps.stack(df, Seq("cell"), "v", nSamples = 1000)
        .select(col("cell"), col("n_traces"),
          element_at(col("stack"), 1).as("s1"),
          element_at(col("stack"), 500).as("s500"),
          element_at(col("stack"), 1000).as("s1000"))
    },
      // 1000-sample stack probed at 1/500/1000: per-probe exact decimal sum
      // — the oracle never builds the array at all
      {
        def s(p: Int): String =
          s"CAST(sum(CAST(CAST(((l_orderkey + 1) * $p + l_linenumber) % 1000 AS DOUBLE) " +
            s"AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS s$p"
        s"""SELECT l_suppkey AS cell, CAST(count(*) AS BIGINT) AS n_traces,
          |  ${s(1)}, ${s(500)}, ${s(1000)}
          |FROM lineitem GROUP BY 1""".stripMargin
      }),
    // fractional static shift at the REAL trace length (1000 samples) —
    // the last-but-one §2.6 member to get a realistic-shape oracle row:
    // per-trace dyadic shifts up to 7.875 SAMPLES (integer + fractional
    // part, unlike the 3-sample row's sub-sample shifts), probed at both
    // edges, the interior, and the zero-fill tail the big shifts expose
    QuerySpec("q_trace_shift_long", (s, d) => {
      val df = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("ok"), col("ln"),
          graft.functions.TraceExprs.longModToDouble(
            sequence(col("ok") + 1L + col("ln"),
              (col("ok") + 1L) * 1000L + col("ln"),
              col("ok") + 1L), 1000L).as("v"),
          // k/8 (k = 0..63): dyadic, so floor/frac/lerp replay exactly
          ((col("ok") % 64).cast("double") / 8.0).as("sh"))
      val r = TraceOps.shiftResample(col("v"), nSamples = 1000, col("sh"))
      df.select(col("ok"), col("ln"), col("sh"),
        element_at(r, 1).as("r1"), element_at(r, 2).as("r2"),
        element_at(r, 500).as("r500"), element_at(r, 993).as("r993"),
        element_at(r, 1000).as("r1000"))
    },
      // 1000-sample shift, dyadic eighth-sample shifts up to 7.875: the
      // generic floor/frac lerp (same operation order as the kernel), list
      // reads beyond the trace coalesce to the 0 mute convention
      {
        def r(p: Int): String = {
          val i0 = s"CAST(floor($p + sh) AS BIGINT)"
          s"""(coalesce(v[$i0], 0.0)
             |    + (coalesce(v[$i0 + 1], 0.0) - coalesce(v[$i0], 0.0))
             |      * ($p + sh - floor($p + sh))) AS r$p""".stripMargin
        }
        s"""WITH t AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
          |    list_transform(range(1, 1001),
          |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 AS DOUBLE)) AS v,
          |    CAST(l_orderkey % 64 AS DOUBLE) / 8.0 AS sh
          |  FROM lineitem)
          |SELECT ok, ln, sh,
          |  ${r(1)}, ${r(2)}, ${r(500)}, ${r(993)}, ${r(1000)}
          |FROM t""".stripMargin
      }),
    // the moveout scan at the REAL shape: 1000-sample traces, 16 dyadic
    // candidates, ~60-trace gathers — the deepest kernel COMPOSITION
    // (ShiftResampleExpr × offset → StackAgg → windowed argmax) finally
    // hash-checked at the length its users run it. Samples are multiples
    // of 8 so every eighth-sample lerp lands on an INTEGER — StackAgg
    // stays in its exact long mode (600 M decimal adds at sf0.1
    // otherwise) and the probed stack means replay bit-for-bit. The raw
    // `energy` double (a 1000-term float fold, order-sensitive across
    // engines) is intentionally NOT in the output — the 3-sample row
    // q_moveout_scan hash-checks it exactly; here the argmax it drives
    // (best_shift) plus the winning stacked trace are the checked facts
    QuerySpec("q_moveout_scan_long", (s, d) => {
      val cands = (0 until 16).map(_ / 8.0) // 0, 0.125, …, 1.875 samples
      val df = lineitem(s, d)
        .where(col("l_orderkey") % 16 === 0)
        .select((col("l_suppkey") % 512).as("cell"),
          (col("l_linenumber") - 1).cast("double").as("off"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        // by-cell partitioning: one state buffer per cell total (see
        // q_trace_stack_long's note). cell has 512 distinct values at
        // sf0.1+ (l_suppkey % 512, ~73-trace gathers), so hash-
        // partitioning keeps every box up to 512 cores busy — the r17
        // 64-cell modulus silently capped busy tasks on wider boxes and
        // forced a Bench refusal; raising the modulus (mirrored in the
        // oracle SQL) removed both
        .repartition(s.sparkContext.defaultParallelism, col("cell"))
        .select(col("cell"), col("off"),
          graft.functions.TraceExprs.longModToDouble(
            sequence((col("ok") + 1L + col("ln")) * 8L,
              ((col("ok") + 1L) * 1000L + col("ln")) * 8L,
              (col("ok") + 1L) * 8L), 8000L).as("v"))
      TraceOps.moveoutScan(df, Seq("cell"), "v", nSamples = 1000,
        offsetCol = "off", candidates = cands, emitStack = true)
        .select(col("cell"), col("best_shift"), col("n_traces"),
          element_at(col("stack"), 1).as("s1"),
          element_at(col("stack"), 500).as("s500"),
          element_at(col("stack"), 1000).as("s1000"))
    },
      // the full-shape moveout scan replayed: shifted lists unnest with
      // position, per-position DECIMAL-exact stack means, energy only
      // drives the argmax (it is not an output column — a 1000-term double
      // fold is order-sensitive across engines; the 3-sample row
      // q_moveout_scan hash-checks energy itself)
      {
        val candList = (0 until 16).map(_ / 8.0).mkString(", ")
        val lerp =
          """coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0)
            |      + (coalesce(v[CAST(floor(p + sh) AS BIGINT) + 1], 0.0)
            |         - coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0))
            |        * (p + sh - floor(p + sh))""".stripMargin
        s"""WITH t AS (SELECT l_suppkey % 512 AS cell,
          |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
          |    list_transform(range(1, 1001),
          |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 * 8 AS DOUBLE)) AS v
          |  FROM lineitem WHERE l_orderkey % 16 = 0),
          |c AS (SELECT CAST(unnest([$candList]) AS DOUBLE) AS s),
          |x AS (SELECT cell, s, v, s * off AS sh FROM t, c),
          |u AS (SELECT cell, s,
          |    unnest(range(1, 1001)) AS p,
          |    unnest(list_transform(range(1, 1001), p ->
          |      $lerp)) AS rv
          |  FROM x),
          |stk AS (SELECT cell, s, p,
          |    CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CAST(rv AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS e
          |  FROM u GROUP BY 1, 2, 3),
          |nrg AS (SELECT cell, s, max(n) AS n_traces,
          |    sum(e * e) AS energy,
          |    max(CASE WHEN p = 1 THEN e END) AS s1,
          |    max(CASE WHEN p = 500 THEN e END) AS s500,
          |    max(CASE WHEN p = 1000 THEN e END) AS s1000
          |  FROM stk GROUP BY 1, 2),
          |win AS (SELECT *, row_number() OVER (PARTITION BY cell
          |    ORDER BY energy DESC, s) AS rn FROM nrg)
          |SELECT cell, s AS best_shift, n_traces, s1, s500, s1000
          |FROM win WHERE rn = 1""".stripMargin
      }),
    // SEMBLANCE — the velocity-analysis standard coherence, Σ_t(Σ_i a)² /
    // (N·Σ_t Σ_i a²): unlike energy it is trace-count normalized and, in
    // the fused aggregate, BOTH folds are exact rationals (numerator
    // squares the stack's exact per-position sums, denominator is the
    // 128-bit/decimal Σx² accumulator) — so the semblance double itself
    // is hash-checked, at the short shape here and at the FULL 1000-
    // sample shape below (where energy's float fold could not be)
    QuerySpec("q_moveout_semblance", (s, d) => {
      val df = lineitem(s, d).select(
        col("l_suppkey").as("cell"),
        (col("l_linenumber") - 1).cast("double").as("off"),
        array(col("l_partkey").cast("double"),
          (col("l_orderkey") % 997).cast("double"),
          (col("l_partkey") % 733).cast("double")).as("v"))
      TraceOps.moveoutScan(df, Seq("cell"), "v", nSamples = 3,
        offsetCol = "off", candidates = Seq(0.0, 0.25, 0.5, 0.75),
        coherence = "semblance")
    },
      // semblance, short shape: num and den are EXACT decimal folds (the
      // quantize-then-square contract of the fused aggregate), the only
      // float steps the two final casts and one divide — so the semblance
      // double hash-matches. The casts go through VARCHAR because DuckDB's
      // direct DECIMAL→DOUBLE double-rounds at scale 20 (hugeint·10²⁰ no
      // longer fits 53 bits), while string→double is correctly rounded =
      // Java's parseDouble, the engine's conversion
      {
        def rExpr(i: Int): String = {
          val i0 = s"CAST(floor($i + sh) AS BIGINT)"
          s"""(coalesce(l[$i0], 0.0)
             |    + (coalesce(l[$i0 + 1], 0.0) - coalesce(l[$i0], 0.0))
             |      * ($i + sh - floor($i + sh)))""".stripMargin
        }
        // scale 2 (not 10): every interpolated value is an exact QUARTER
        // (candidates are k/4, samples integer-valued), so scale 2 loses
        // nothing — and the freed digits are needed at bench scale, where
        // key-shifted replication grows l_partkey ~linearly with sf
        // (DECIMAL(18,10) overflowed at sf1's ~1.03e8 values; 19,2 holds
        // to sf100+ and keeps s1*s1 within DuckDB's 38-digit product cap)
        def q(c: String): String = s"CAST($c AS DECIMAL(19,2))"
        def sExpr(i: Int): String =
          s"CAST(sum(${q(s"r$i")}) AS DECIMAL(19,2))"
        s"""WITH t AS (SELECT l_suppkey AS cell,
          |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
          |    [CAST(l_partkey AS DOUBLE), CAST(l_orderkey % 997 AS DOUBLE),
          |     CAST(l_partkey % 733 AS DOUBLE)] AS l
          |  FROM lineitem),
          |c AS (SELECT unnest([0.0, 0.25, 0.5, 0.75]) AS s),
          |x AS (SELECT cell, s, l, s * off AS sh FROM t, c),
          |r AS (SELECT cell, s,
          |    ${rExpr(1)} AS r1,
          |    ${rExpr(2)} AS r2,
          |    ${rExpr(3)} AS r3
          |  FROM x),
          |stk AS (SELECT cell, s, CAST(count(*) AS BIGINT) AS n,
          |    ${sExpr(1)} AS s1, ${sExpr(2)} AS s2, ${sExpr(3)} AS s3,
          |    sum(${q("r1")} * ${q("r1")} + ${q("r2")} * ${q("r2")}
          |        + ${q("r3")} * ${q("r3")}) AS den
          |  FROM r GROUP BY 1, 2),
          |sem AS (SELECT cell, s, n,
          |    CAST(CAST(s1 * s1 + s2 * s2 + s3 * s3 AS VARCHAR) AS DOUBLE)
          |      / (n * CAST(CAST(den AS VARCHAR) AS DOUBLE)) AS semblance
          |  FROM stk),
          |win AS (SELECT *, row_number() OVER (PARTITION BY cell
          |    ORDER BY semblance DESC, s) AS rn FROM sem)
          |SELECT cell, s AS best_shift, n AS n_traces, semblance
          |FROM win WHERE rn = 1""".stripMargin
      }),
    // the full-shape semblance scan: 1000-sample long-mode gathers, 16
    // candidates — the exact-fold property is what makes the semblance
    // DOUBLE hash-checkable here; the winning stack's probes ride along
    QuerySpec("q_moveout_semblance_long", (s, d) => {
      val cands = (0 until 16).map(_ / 8.0)
      val df = lineitem(s, d)
        .where(col("l_orderkey") % 16 === 0)
        .select((col("l_suppkey") % 512).as("cell"),
          (col("l_linenumber") - 1).cast("double").as("off"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        // by-cell partitioning: one state buffer per cell total (see
        // q_trace_stack_long's note). cell has 512 distinct values at
        // sf0.1+ (l_suppkey % 512, ~73-trace gathers), so hash-
        // partitioning keeps every box up to 512 cores busy — the r17
        // 64-cell modulus silently capped busy tasks on wider boxes and
        // forced a Bench refusal; raising the modulus (mirrored in the
        // oracle SQL) removed both
        .repartition(s.sparkContext.defaultParallelism, col("cell"))
        .select(col("cell"), col("off"),
          graft.functions.TraceExprs.longModToDouble(
            sequence((col("ok") + 1L + col("ln")) * 8L,
              ((col("ok") + 1L) * 1000L + col("ln")) * 8L,
              (col("ok") + 1L) * 8L), 8000L).as("v"))
      TraceOps.moveoutScan(df, Seq("cell"), "v", nSamples = 1000,
        offsetCol = "off", candidates = cands, emitStack = true,
        coherence = "semblance")
        .select(col("cell"), col("best_shift"), col("n_traces"),
          col("semblance"),
          element_at(col("stack"), 1).as("s1"),
          element_at(col("stack"), 500).as("s500"),
          element_at(col("stack"), 1000).as("s1000"))
    },
      // semblance, FULL shape: same exactness story at 1000 samples — the
      // per-position sums and the Σx² both stay exact decimals, so the
      // 1000-term folds are order-free and the semblance double itself is
      // in the hash (energy's float fold could only expose its argmax)
      {
        val candList = (0 until 16).map(_ / 8.0).mkString(", ")
        val lerp =
          """coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0)
            |      + (coalesce(v[CAST(floor(p + sh) AS BIGINT) + 1], 0.0)
            |         - coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0))
            |        * (p + sh - floor(p + sh))""".stripMargin
        s"""WITH t AS (SELECT l_suppkey % 512 AS cell,
          |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
          |    list_transform(range(1, 1001),
          |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 * 8 AS DOUBLE)) AS v
          |  FROM lineitem WHERE l_orderkey % 16 = 0),
          |c AS (SELECT CAST(unnest([$candList]) AS DOUBLE) AS s),
          |x AS (SELECT cell, s, v, s * off AS sh FROM t, c),
          |u AS (SELECT cell, s,
          |    unnest(range(1, 1001)) AS p,
          |    unnest(list_transform(range(1, 1001), p ->
          |      $lerp)) AS rv
          |  FROM x),
          |stk AS (SELECT cell, s, p,
          |    CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CAST(rv AS DECIMAL(18,10))) AS DECIMAL(18,10)) AS ssum
          |  FROM u GROUP BY 1, 2, 3),
          |den AS (SELECT cell, s,
          |    sum(CAST(rv AS DECIMAL(18,10)) * CAST(rv AS DECIMAL(18,10))) AS den
          |  FROM u GROUP BY 1, 2),
          |nrg AS (SELECT cell, s, max(n) AS n_traces,
          |    sum(ssum * ssum) AS num,
          |    CAST(max(CASE WHEN p = 1 THEN ssum END) AS DOUBLE)
          |      / max(n) AS s1,
          |    CAST(max(CASE WHEN p = 500 THEN ssum END) AS DOUBLE)
          |      / max(n) AS s500,
          |    CAST(max(CASE WHEN p = 1000 THEN ssum END) AS DOUBLE)
          |      / max(n) AS s1000
          |  FROM stk GROUP BY 1, 2),
          |sem AS (SELECT nrg.cell, nrg.s, n_traces,
          |    CAST(CAST(num AS VARCHAR) AS DOUBLE)
          |      / (n_traces * CAST(CAST(den.den AS VARCHAR) AS DOUBLE))
          |      AS semblance,
          |    s1, s500, s1000
          |  FROM nrg JOIN den ON nrg.cell = den.cell AND nrg.s = den.s),
          |win AS (SELECT *, row_number() OVER (PARTITION BY cell
          |    ORDER BY semblance DESC, s) AS rn FROM sem)
          |SELECT cell, s AS best_shift, n_traces, semblance, s1, s500, s1000
          |FROM win WHERE rn = 1""".stripMargin
      }),
    // the VELOCITY-SPECTRUM PANEL, short shape: windowed semblance per
    // candidate per position (window 3, clipped edges) — every value an
    // exact decimal ratio, all candidates emitted (no argmax)
    QuerySpec("q_moveout_panel", (s, d) => {
      val df = lineitem(s, d).select(
        col("l_suppkey").as("cell"),
        (col("l_linenumber") - 1).cast("double").as("off"),
        array(col("l_partkey").cast("double"),
          (col("l_orderkey") % 997).cast("double"),
          (col("l_partkey") % 733).cast("double")).as("v"))
      TraceOps.semblancePanel(df, Seq("cell"), "v", nSamples = 3,
        offsetCol = "off", candidates = Seq(0.0, 0.25, 0.5, 0.75),
        window = 3)
        .select(col("cell"), col("shift"), col("n_traces"),
          element_at(col("panel"), 1).as("v1"),
          element_at(col("panel"), 2).as("v2"),
          element_at(col("panel"), 3).as("v3"))
    },
      // the velocity-spectrum panel, short shape: per-position exact sums
      // AND per-position exact Σx², windowed by direct decimal sums (equal
      // to the engine's prefix-sum differences — both exact), finished by
      // the VARCHAR-routed correctly-rounded casts
      {
        def rExpr(i: Int): String = {
          val i0 = s"CAST(floor($i + sh) AS BIGINT)"
          s"""(coalesce(l[$i0], 0.0)
             |    + (coalesce(l[$i0 + 1], 0.0) - coalesce(l[$i0], 0.0))
             |      * ($i + sh - floor($i + sh)))""".stripMargin
        }
        // scale 2 like q_moveout_semblance's r17 fix: every interpolated
        // value is an exact QUARTER, so scale 2 loses nothing, and
        // DECIMAL(18,10) sums overflowed at sf1 (~1.02e8); 19,2 holds to
        // sf100+ and keeps s1*s1 within DuckDB's 38-digit product cap
        def q(c: String): String = s"CAST($c AS DECIMAL(19,2))"
        def sd(c: String): String = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
        s"""WITH t AS (SELECT l_suppkey AS cell,
          |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
          |    [CAST(l_partkey AS DOUBLE), CAST(l_orderkey % 997 AS DOUBLE),
          |     CAST(l_partkey % 733 AS DOUBLE)] AS l
          |  FROM lineitem),
          |c AS (SELECT unnest([0.0, 0.25, 0.5, 0.75]) AS s),
          |x AS (SELECT cell, s, l, s * off AS sh FROM t, c),
          |r AS (SELECT cell, s,
          |    ${rExpr(1)} AS r1, ${rExpr(2)} AS r2, ${rExpr(3)} AS r3
          |  FROM x),
          |stk AS (SELECT cell, s, CAST(count(*) AS BIGINT) AS n,
          |    ${"CAST(sum(" + q("r1") + ") AS DECIMAL(19,2))"} AS s1,
          |    ${"CAST(sum(" + q("r2") + ") AS DECIMAL(19,2))"} AS s2,
          |    ${"CAST(sum(" + q("r3") + ") AS DECIMAL(19,2))"} AS s3,
          |    sum(${q("r1")} * ${q("r1")}) AS d1,
          |    sum(${q("r2")} * ${q("r2")}) AS d2,
          |    sum(${q("r3")} * ${q("r3")}) AS d3
          |  FROM r GROUP BY 1, 2)
          |SELECT cell, s AS shift, n AS n_traces,
          |  ${sd("s1 * s1 + s2 * s2")} / (n * ${sd("d1 + d2")}) AS v1,
          |  ${sd("s1 * s1 + s2 * s2 + s3 * s3")}
          |    / (n * ${sd("d1 + d2 + d3")}) AS v2,
          |  ${sd("s2 * s2 + s3 * s3")} / (n * ${sd("d2 + d3")}) AS v3
          |FROM stk""".stripMargin
      }),
    // the panel at FULL shape: 1000 samples × 16 candidates × window 121
    // — the windowed prefix-sum eval stays exact at this length, so the
    // probed panel values hash-match; 512 cells × 16 candidates = 8192
    // rows of (cell, shift, probes)
    QuerySpec("q_moveout_panel_long", (s, d) => {
      val cands = (0 until 16).map(_ / 8.0)
      val df = lineitem(s, d)
        .where(col("l_orderkey") % 16 === 0)
        .select((col("l_suppkey") % 512).as("cell"),
          (col("l_linenumber") - 1).cast("double").as("off"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
        // by-cell partitioning: one state buffer per cell total (see
        // q_trace_stack_long's note). cell has 512 distinct values at
        // sf0.1+ (l_suppkey % 512, ~73-trace gathers), so hash-
        // partitioning keeps every box up to 512 cores busy — the r17
        // 64-cell modulus silently capped busy tasks on wider boxes and
        // forced a Bench refusal; raising the modulus (mirrored in the
        // oracle SQL) removed both
        .repartition(s.sparkContext.defaultParallelism, col("cell"))
        .select(col("cell"), col("off"),
          graft.functions.TraceExprs.longModToDouble(
            sequence((col("ok") + 1L + col("ln")) * 8L,
              ((col("ok") + 1L) * 1000L + col("ln")) * 8L,
              (col("ok") + 1L) * 8L), 8000L).as("v"))
      TraceOps.semblancePanel(df, Seq("cell"), "v", nSamples = 1000,
        offsetCol = "off", candidates = cands, window = 121)
        .select(col("cell"), col("shift"), col("n_traces"),
          element_at(col("panel"), 1).as("v1"),
          element_at(col("panel"), 500).as("v500"),
          element_at(col("panel"), 1000).as("v1000"))
    },
      // the panel at FULL shape: DuckDB's windowed decimal SUM OVER the
      // position frame replays the engine's exact prefix-sum differences;
      // probes pivot to columns
      {
        val candList = (0 until 16).map(_ / 8.0).mkString(", ")
        val lerp =
          """coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0)
            |      + (coalesce(v[CAST(floor(p + sh) AS BIGINT) + 1], 0.0)
            |         - coalesce(v[CAST(floor(p + sh) AS BIGINT)], 0.0))
            |        * (p + sh - floor(p + sh))""".stripMargin
        s"""WITH t AS (SELECT l_suppkey % 512 AS cell,
          |    CAST(l_linenumber - 1 AS DOUBLE) AS off,
          |    list_transform(range(1, 1001),
          |      i -> CAST(((l_orderkey + 1) * i + l_linenumber) % 1000 * 8 AS DOUBLE)) AS v
          |  FROM lineitem WHERE l_orderkey % 16 = 0),
          |c AS (SELECT CAST(unnest([$candList]) AS DOUBLE) AS s),
          |x AS (SELECT cell, s, v, s * off AS sh FROM t, c),
          |u AS (SELECT cell, s,
          |    unnest(range(1, 1001)) AS p,
          |    unnest(list_transform(range(1, 1001), p ->
          |      $lerp)) AS rv
          |  FROM x),
          |stk AS (SELECT cell, s, p,
          |    CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CAST(rv AS DECIMAL(18,10))) AS DECIMAL(18,10)) AS ssum,
          |    sum(CAST(rv AS DECIMAL(18,10)) * CAST(rv AS DECIMAL(18,10))) AS dp
          |  FROM u GROUP BY 1, 2, 3),
          |win AS (SELECT cell, s, p, n,
          |    sum(ssum * ssum) OVER (PARTITION BY cell, s ORDER BY p
          |      ROWS BETWEEN 60 PRECEDING AND 60 FOLLOWING) AS num,
          |    sum(dp) OVER (PARTITION BY cell, s ORDER BY p
          |      ROWS BETWEEN 60 PRECEDING AND 60 FOLLOWING) AS den
          |  FROM stk),
          |sem AS (SELECT cell, s, p, n,
          |    CAST(CAST(num AS VARCHAR) AS DOUBLE)
          |      / (n * CAST(CAST(den AS VARCHAR) AS DOUBLE)) AS sv
          |  FROM win WHERE p IN (1, 500, 1000))
          |SELECT cell, s AS shift, max(n) AS n_traces,
          |  max(CASE WHEN p = 1 THEN sv END) AS v1,
          |  max(CASE WHEN p = 500 THEN sv END) AS v500,
          |  max(CASE WHEN p = 1000 THEN sv END) AS v1000
          |FROM sem GROUP BY 1, 2""".stripMargin
      }),
    // native codegen'd IBM hex-float decode over synthesized bit patterns
    QuerySpec("q_ibm_decode", (s, d) => {
      import graft.functions.IbmFloatDecode
      val pos = (col("l_orderkey") % 1000000L + 1090000000L).cast("int")
      val neg = (-(col("l_orderkey") % 1000000L) - 1090000000L).cast("int")
      lineitem(s, d).select(col("l_orderkey"),
        IbmFloatDecode(pos).as("v_pos"), IbmFloatDecode(neg).as("v_neg"))
    },
      """WITH b AS (SELECT l_orderkey,
        |    CAST(l_orderkey % 1000000 + 1090000000 AS INT) AS bp,
        |    CAST(-(l_orderkey % 1000000) - 1090000000 AS INT) AS bn
        |  FROM lineitem)
        |SELECT l_orderkey,
        |  CAST(CASE WHEN (bp & 2147483647) = 0 THEN 0.0
        |    ELSE (CASE WHEN bp < 0 THEN -1.0 ELSE 1.0 END)
        |      * ((bp & 16777215) / 16777216.0)
        |      * power(16.0, ((bp >> 24) & 127) - 64) END AS FLOAT) AS v_pos,
        |  CAST(CASE WHEN (bn & 2147483647) = 0 THEN 0.0
        |    ELSE (CASE WHEN bn < 0 THEN -1.0 ELSE 1.0 END)
        |      * ((bn & 16777215) / 16777216.0)
        |      * power(16.0, ((bn >> 24) & 127) - 64) END AS FLOAT) AS v_neg
        |FROM b""".stripMargin),
  )
}
