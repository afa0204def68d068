package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-trace sample processing — the classic post-ingest seismic
  * conditioning steps a user of the reference stack runs right after
  * `segy_to_mdio` (the reference itself stops at storage; these are the
  * first operations every workflow applies to the stored amplitude
  * arrays). All single-node native kernels ([[graft.functions.TraceExprs]])
  * over the `array<double|float>` sample column: embarrassingly parallel,
  * no shuffle, O(1)-size expression trees at ANY trace length (a real
  * PostStack trace is ~1500 samples — per-sample expression trees at that
  * length meant ~1500 interpreted HOF folds per row and Janino-limit
  * risk), and every arithmetic step is IEEE-deterministic (left-to-right
  * folds, correctly-rounded sqrt), so the DuckDB oracle replays them
  * bit-for-bit.
  */
object TraceOps {

  /** Automatic gain control: each sample is divided by the RMS of a
    * sliding window centered on it (window length `window`, odd; clipped
    * at trace edges) — the standard amplitude-balancing step that
    * equalizes weak deep reflections against strong shallow ones. Dead
    * windows (RMS 0) output 0 rather than dividing.
    *
    * `nSamples` is fixed per file (SEG-Y records are fixed-length), so
    * window bounds are plan-time literals and the whole transform is one
    * projection.
    */
  def agc(samples: Column, nSamples: Int, window: Int): Column = {
    require(nSamples >= 1, s"nSamples must be >= 1, got $nSamples")
    graft.functions.TraceExprs.agc(samples, window)
  }

  /** Top mute: samples STRICTLY BEFORE 1-based position `firstLive` are
    * zeroed (the direct-arrival / water-column kill every marine workflow
    * applies before stacking); the rest pass through unchanged.
    */
  def muteTop(samples: Column, nSamples: Int, firstLive: Int): Column = {
    require(firstLive >= 1 && firstLive <= nSamples + 1,
      s"firstLive must be in 1..${nSamples + 1}, got $firstLive")
    graft.functions.TraceExprs.muteTop(samples, firstLive)
  }

  /** Time-domain FIR filter — the wavelet-conditioning primitive
    * (binomial/boxcar smoothers, Ricker-like sharpeners): each output
    * sample is the tap-weighted sum of its neighborhood, reads beyond
    * the trace as 0 (the mute convention). `center` is the 0-based tap
    * aligned with the output position. One kernel node at any length;
    * tap fold is left-to-right, oracle-replayable.
    */
  def firFilter(samples: Column, nSamples: Int, coeffs: Seq[Double],
                center: Int): Column = {
    require(nSamples >= 1, s"nSamples must be >= 1, got $nSamples")
    graft.functions.TraceExprs.firFilter(samples, coeffs, center)
  }

  /** Fractional static shift — the statics/NMO primitive: the trace is
    * resampled at positions `i + shift` (1-based, `shift` in samples, may
    * be fractional and per-trace) by LINEAR interpolation; positions
    * outside the trace read 0 (the mute convention). The lerp
    * `v0 + (v1 - v0) * f` is evaluated with the identical operation order
    * in the oracle, so outputs are bit-deterministic.
    */
  def shiftResample(samples: Column, nSamples: Int, shift: Column): Column = {
    require(nSamples >= 1, s"nSamples must be >= 1, got $nSamples")
    graft.functions.TraceExprs.shiftResample(samples, shift.cast("double"))
  }

  /** Velocity-analysis miniature — the LINEAR MOVEOUT SCAN: for each
    * candidate moveout `s`, every trace shifts by `s × offset`
    * ([[shiftResample]]), the cell stacks ([[stack]]), and the candidate
    * whose stacked trace carries the most energy wins (coherent energy
    * grows when the moveout is right — the flatten-and-stack principle
    * behind every semblance scan). Emits one row per cell:
    * (`keys…`, best_shift, n_traces, energy).
    *
    * Determinism: stacks are DECIMAL-exact, energy is a fixed-order
    * product-sum of those exact means, and candidate ties resolve to the
    * smallest shift — the oracle replays the scan bit-for-bit.
    * Scale: candidates explode the trace table ×|candidates| (a plan-time
    * constant), then the one stack shuffle; the argmax window partitions
    * by cell (bounded by |candidates| rows per cell).
    *
    * `emitStack = true` appends the WINNING candidate's stacked trace as
    * a `stack` column (array<double>, length `nSamples`) — the flattened
    * stack users actually carry forward after the velocity pick; it rides
    * the same argmax row, no extra pass.
    *
    * `coherence = "semblance"` switches the pick measure to SEMBLANCE —
    * Σ_t(Σ_i a)² / (N·Σ_t Σ_i a²), the velocity-analysis standard, in
    * [0, 1] and trace-count normalized (energy rewards loud gathers;
    * semblance rewards COHERENT ones). Both semblance folds are exact
    * rationals inside [[graft.functions.MoveoutStackAgg]], so the
    * emitted `semblance` double hash-matches a decimal-arithmetic
    * oracle at ANY trace length — unlike `energy`, whose 1000-term
    * float fold is order-sensitive across engines.
    */
  def moveoutScan(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
                  samplesCol: String, nSamples: Int, offsetCol: String,
                  candidates: Seq[Double],
                  emitStack: Boolean = false,
                  coherence: String = "energy"): org.apache.spark.sql.DataFrame = {
    require(candidates.nonEmpty, "moveoutScan needs at least one candidate")
    require(nSamples >= 1, s"nSamples must be >= 1, got $nSamples")
    val semb = coherence match {
      case "energy" => false
      case "semblance" => true
      case other => throw new IllegalArgumentException(
        s"coherence must be 'energy' or 'semblance', got '$other'")
    }
    val measure = if (semb) "semblance" else "energy"
    val ms = df.groupBy(keys.map(col): _*)
      .agg(graft.functions.TraceExprs.moveoutStack(col(samplesCol),
        col(offsetCol).cast("double"), candidates, semb).as("_ms"))
    val base = keys.map(col) :+ col("_ms.best_shift").as("best_shift") :+
      col("_ms.n_traces").as("n_traces") :+ col(s"_ms.$measure").as(measure)
    ms.select((if (emitStack) base :+ col("_ms.stack").as("stack")
               else base): _*)
  }

  /** The VELOCITY-SPECTRUM PANEL — windowed semblance per candidate per
    * sample position, the deliverable a velocity picker reads:
    * S_c(t) = Σ_{τ∈W(t)} s_cτ² / (N·Σ_{τ∈W(t)} d_cτ) over the clipped
    * window W(t) = [t−h, t+h] ∩ [1, n] (the AGC edge convention). One
    * fused aggregate per cell ([[graft.functions.MoveoutPanelAgg]]),
    * exploded to one row per candidate: (keys…, shift, n_traces, panel
    * array<double> length nSamples). Every panel value is an exact
    * decimal ratio finished by two correctly-rounded casts and one
    * divide, so the FULL panel hash-matches the oracle at any length.
    *
    * Scale: state is Θ(|candidates| · nSamples) per cell — independent
    * of trace count; the shuffle never carries traces or shifted rows.
    */
  def semblancePanel(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
                     samplesCol: String, nSamples: Int, offsetCol: String,
                     candidates: Seq[Double],
                     window: Int): org.apache.spark.sql.DataFrame = {
    require(candidates.nonEmpty, "semblancePanel needs at least one candidate")
    require(nSamples >= 1, s"nSamples must be >= 1, got $nSamples")
    val ag = df.groupBy(keys.map(col): _*)
      .agg(graft.functions.TraceExprs.semblancePanel(col(samplesCol),
        col(offsetCol).cast("double"), candidates, window).as("_p"))
    ag.select((keys.map(col) :+ col("_p").as("_p") :+
        posexplode(col("_p.shifts")).as(Seq("_ci", "shift"))): _*)
      .select((keys.map(col) :+ col("shift") :+
        col("_p.n_traces").as("n_traces") :+
        element_at(col("_p.panels"), col("_ci") + 1).as("panel")): _*)
  }

  /** The UNFUSED moveout scan — explode(candidates) → [[shiftResample]]
    * → [[stack]] → window argmax. Kept as the differential reference for
    * [[moveoutScan]]'s fused aggregate (MoveoutFusedSpec asserts
    * bit-identity on random gathers): same numeric path, but it
    * materializes |candidates| shifted 8 KB traces as rows per input
    * trace before map-side combine discards them — at 16 candidates ×
    * 1000 samples that row blowup is what the fused aggregate deletes.
    */
  private[graft] def moveoutScanComposed(
      df: org.apache.spark.sql.DataFrame, keys: Seq[String],
      samplesCol: String, nSamples: Int, offsetCol: String,
      candidates: Seq[Double],
      emitStack: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(candidates.nonEmpty, "moveoutScan needs at least one candidate")
    val cand = explode(array(candidates.map(lit): _*)).as("_cand")
    val shifted = df.select((keys.map(col) :+ col(samplesCol) :+
        col(offsetCol) :+ cand): _*)
      .withColumn("_shifted", shiftResample(col(samplesCol), nSamples,
        col("_cand") * col(offsetCol).cast("double")))
    val stacked = stack(shifted.withColumnRenamed("_shifted", "_sv"),
      keys :+ "_cand", "_sv", nSamples)
    // left-fold sum of squares == the spelled-out e1²+e2²+… reduction
    val energy = graft.functions.VecExprs.dot(col("stack"), col("stack"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_energy").desc, col("_cand"))
    val base = keys.map(col) :+ col("_cand").as("best_shift") :+
      col("n_traces") :+ col("_energy").as("energy")
    stacked.withColumn("_energy", energy)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select((if (emitStack) base :+ col("stack") else base): _*)
  }

  /** CDP stack — THE seismic reduce: traces sharing a cell average
    * element-wise into one stacked trace, as ONE
    * [[graft.functions.StackAgg]] aggregate whose buffer holds the
    * per-position exact DECIMAL(·,10) sums (the house exact-aggregation
    * pattern) — order-independent and bit-identical to the serial oracle;
    * one double division per position at eval. Emits `keys`, `n_traces`,
    * and `stack` (array<double>, length `nSamples`).
    *
    * Scale: one shuffle on the cell keys; map-side partial buffers
    * combine, the shuffle carries nSamples decimals + a count per cell —
    * never the traces, and never an nSamples-wide aggregate column list.
    *
    * Session sizing: ObjectHashAggregate falls back to SORT-based
    * aggregation after `spark.sql.objectHashAggregate.sortBased.
    * fallbackThreshold` (default 128) distinct groups per task — for
    * this operator family that means sorting the multi-KB sample rows
    * themselves (measured 6× on q_trace_stack_long at 1000 cells).
    * Gathers per task routinely exceed 128 on real surveys; raise the
    * threshold ([[graft.core.GraftSession]] sets 4096 ≈ ≤100 MB of
    * buffers per task at 1000-sample traces) so the hash path holds. Results are
    * bit-identical either way — this is purely a cost cliff.
    */
  def stack(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
            samplesCol: String, nSamples: Int): org.apache.spark.sql.DataFrame = {
    require(keys.nonEmpty, "stack needs at least one cell key")
    require(nSamples >= 1, s"nSamples must be >= 1, got $nSamples")
    df.groupBy(keys.map(col): _*)
      .agg(graft.functions.TraceExprs.stack(col(samplesCol)).as("_st"))
      .select((keys.map(col) :+ col("_st.n_traces").as("n_traces") :+
        col("_st.stack").as("stack")): _*)
  }
}
