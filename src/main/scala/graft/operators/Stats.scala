package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Summary statistics — the reference's per-block partial stats + merge +
  * derived values.
  *
  * A1 per-block partials (reference `segy/_workers.py:179-194`): masked
  * (non-zero) count, min, max, sum, sum-of-squares. A2 merge
  * (`segy/blocked_io.py:41-51`) is Spark's final aggregation step — partial
  * and final aggregation are built in. A3 derived stats
  * (`builder/schemas/v1/stats.py:58-71`): mean = sum/count,
  * variance = sumsq/count − mean² (the reference's naive formula, kept for
  * oracle parity), std = √variance.
  *
  * Determinism note: double addition is not associative, so a parallel sum of
  * doubles is run-dependent. The fixture's value columns are exact 2-decimal
  * values, so we accumulate in DECIMAL (exact, order-independent) and cast the
  * final sums back to double — bit-identical across engines and runs. At
  * 100 TB this costs one decimal add per row in the partial aggregate; still
  * a single-pass, map-side-combined hash aggregate.
  */
object Stats {

  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    graft.core.Par.map(xs)(f)

  /** A1–A3 in one pass over the non-zero mask of `valueCol`: the statsV1
    * aggregates ingest records and `validate` recomputes
    * ([[ingestStatsAggs]]), plus the derived mean / variance / std.
    */
  def summaryStats(df: DataFrame, valueCol: String): DataFrame = {
    val (n, lo, hi, s, sq, _) = ingestStatsAggs(col(valueCol), isArray = false)
    df.agg(n.as("n"), lo.as("min_val"), hi.as("max_val"), s.as("sum_val"),
        sq.as("sumsq_val"))
      // NULL derived stats on an empty/all-masked input — ANSI mode throws
      // on the division otherwise (the n > 0 branch is unchanged)
      .withColumn("mean_val", when(col("n") > 0, col("sum_val") / col("n")))
      .withColumn("var_val", when(col("n") > 0,
        col("sumsq_val") / col("n") - col("mean_val") * col("mean_val")))
      .withColumn("std_val", sqrt(col("var_val")))
  }

  /** Equal-width histogram over [lo, hi): bucket index by direct arithmetic
    * (no UDF, no custom aggregate — a groupBy over the computed bucket is
    * Spark's partial/final combine). Values outside the range clamp to the
    * edge buckets, like numpy's histogram with explicit range.
    * Complements `SummaryStatistics.histogram`
    * (`builder/schemas/v1/stats.py:26-45`; reference ingestion writes an
    * empty histogram — `segy/_workers.py:186-194` — this is the query-side
    * operator).
    */
  def histogram(df: DataFrame, valueCol: String, nBins: Int,
                lo: Double, hi: Double): DataFrame = {
    require(nBins > 0 && hi > lo, "need nBins > 0 and hi > lo")
    val x = col(valueCol)
    val raw = floor((x - lo) / (hi - lo) * nBins)
    val bucket = least(greatest(raw, lit(0.0)), lit((nBins - 1).toDouble)).cast("long")
    df.where(x.isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", lit(lo) + col("bucket") * ((hi - lo) / nBins))
  }

  /** The ingest statsV1 aggregate columns over value column `x` — ONE
    * definition shared by the ingest write pass
    * ([[graft.ingestion.Pipeline]]'s `observe`, which RECORDS these into
    * the sidecar) and the CLI `validate` verb (which RECOMPUTES them for
    * the exact, no-tolerance comparison): masked non-zero count / native
    * min/max cast to double / exact decimal sums cast string→double
    * (decimal→double is engine-dependent past 2^53; string parse is
    * correctly rounded everywhere). The array path folds each trace once
    * in [[graft.functions.TraceStatsExpr]] — DECIMAL(28, 6) sums per
    * trace, NaN/±Inf samples rejected by name — and adds the max trace
    * length. Keeping both consumers on this method is what makes
    * validate's equality sound — a drift between recorder and recomputer
    * is a false alarm factory.
    *
    * Returns (n, min, max, sum, sumSquares, maxLen — array path only),
    * unaliased: callers name them.
    */
  def ingestStatsAggs(x: org.apache.spark.sql.Column, isArray: Boolean)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
         org.apache.spark.sql.Column, org.apache.spark.sql.Column,
         org.apache.spark.sql.Column, Option[org.apache.spark.sql.Column]) = {
    if (!isArray) {
      val masked = when(x.isNotNull && x =!= 0.0, x)
      val xd = masked.cast(DecimalType(18, 2))
      (count(masked),
        min(masked).cast("double"),
        max(masked).cast("double"),
        sum(xd).cast("string").cast("double"),
        sum(xd * xd).cast("string").cast("double"),
        None)
    } else {
      // one compiled pass per trace (graft.functions.TraceStatsExpr);
      // Spark's sum/min/max merge the per-trace partials
      val t = graft.functions.TraceStats(x)
      (sum(t("n")),
        min(t("min")).cast("double"),
        max(t("max")).cast("double"),
        sum(t("sum")).cast("string").cast("double"),
        sum(t("sumsq")).cast("string").cast("double"),
        Some(max(t("len")).cast("long")))
    }
  }

  /** EXACT global quantiles WITHOUT a global sort — the scale path for the
    * one aggregate where "exact" usually means "sort 100 TB": quantile q =
    * the rank-⌈q·N⌉ smallest non-null value (1-based — the same convention
    * [[graft.llm.TextAnalysis.lengthQuantiles]] uses per key).
    *
    * Two (worst-case three) bounded passes:
    *   1. count/min/max + a fixed-width histogram (one map-side-combined
    *      aggregate; nBuckets counts collect to the driver — parameter-sized);
    *   2. each target rank locates its bucket by prefix sums; a bucket
    *      bigger than `refineLimit` re-histograms ONCE within its value
    *      range (handles heavy skew; a single repeated value collapses the
    *      sub-range to zero width, resolved by a distinct-value count over
    *      the slice — NATIVE values, never the double-cast range bound);
    *   3. the rank-r-within-bucket value = distributed top-(local r) over
    *      ONLY that bucket's rows — the bucket filter is a RANGE predicate
    *      on the value, so it pushes into the parquet scan (row-group
    *      min/max pruning), and the top-k never exceeds `refineLimit` rows.
    *
    * Correctness does not depend on the bucketing arithmetic: floor
    * bucketing is monotone, equal values share a bucket, and the local rank
    * is derived from the SAME counts that routed the rows. Emits one row:
    * (n, p<label>...) with the value column's native type preserved.
    */
  def exactQuantiles(df: DataFrame, valueCol: String,
                     quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.99),
                     nBuckets: Int = 4096,
                     refineLimit: Long = 1 << 20): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1], got $quantiles")
    require(quantiles.map(q => math.round(q * 100)).distinct.size == quantiles.size,
      s"quantile labels p<round(q*100)> must be distinct, got $quantiles")
    require(nBuckets > 1, s"need nBuckets > 1, got $nBuckets")
    val spark = df.sparkSession
    val x = col(valueCol)
    val base = df.where(x.isNotNull).select(x.as("x"))

    val head = base.agg(count(lit(1)).as("n"),
      min(col("x")).cast("double").as("lo"),
      max(col("x")).cast("double").as("hi")).collect().head
    val n = head.getLong(0)
    require(n > 0, s"exactQuantiles: no non-null rows in $valueCol")
    val labels = quantiles.map(q => s"p${math.round(q * 100)}")

    /** The rank-r smallest (1-based) for EVERY r in `ranks`, within
      * `slice` (value range [sLo, sHi], row count `cnt`). One histogram
      * per level routes ALL ranks together — never one scan per quantile.
      * Buckets route by the floor expression and the recursion slices by
      * THAT SAME expression — never by arithmetic range bounds, which can
      * disagree with the floor at bucket edges — plus a deliberately loose
      * redundant range predicate purely for parquet row-group pruning.
      * Refinement repeats until the slice fits `refineLimit` (the range
      * shrinks ≥ nBuckets× per level, so convergence is structural; a
      * sub-ulp range where the bucket width underflows falls back to a
      * distinct-value count, which such a range makes tiny by definition).
      */
    def resolve(slice: DataFrame, sLo: Double, sHi: Double,
                ranks: Seq[Long], cnt: Long, depth: Int): Map[Long, Any] = {
      require(depth < 200,
        s"exactQuantiles did not converge in $depth levels — report this")
      val w = (sHi - sLo) / nBuckets
      if (cnt <= refineLimit) {
        // distributed top-r (TakeOrdered) per rank over the pruned slice —
        // each bounded by refineLimit rows; never a silent truncation
        require(ranks.max <= Int.MaxValue,
          s"rank ${ranks.max} exceeds the top-r limit; raise nBuckets/refineLimit")
        // one TakeOrdered job per rank — independent, so overlap them
        // (guide §2.6) instead of paying serial job barriers
        parMap(ranks)(r => r -> slice.orderBy(col("x")).limit(r.toInt)
          .agg(max(col("x"))).collect().head.get(0)).toMap
      } else if (!(w > 0.0) || !java.lang.Double.isFinite(w)) {
        // sub-ulp or CONSTANT-IN-DOUBLE range (sLo == sHi makes w = 0):
        // only a handful of representable doubles remain, but for integral/
        // decimal columns one double can cover many NATIVE values (an ulp
        // near 2^63 spans 1024 longs), so the value must come from the
        // slice itself, never from the double-cast bound — returning sLo
        // here would silently round past 2^53 and merge distinct values
        // that collide in double, breaking the "exact" contract
        val byValue = slice.groupBy(col("x")).agg(count(lit(1)).as("c"))
          .orderBy(col("x")).collect()
          .map(row => (row.get(0), row.getLong(1)))
        require(byValue.length <= 65536,
          s"exactQuantiles: ${byValue.length} distinct values in a sub-ulp range")
        ranks.map { r =>
          var cum = 0L
          val v = byValue.find { case (_, c) => cum += c; cum >= r }.get._1
          r -> v
        }.toMap
      } else {
        val raw = floor((col("x") - sLo) / w)
        val b = least(greatest(raw, lit(0.0)), lit((nBuckets - 1).toDouble)).cast("int")
        val counts = slice.groupBy(b.as("b")).agg(count(lit(1)).as("c"))
          .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
        val cumBefore = new Array[Long](nBuckets)
        var acc = 0L
        (0 until nBuckets).foreach { i =>
          cumBefore(i) = acc; acc += counts.getOrElse(i, 0L)
        }
        // every rank locates its bucket on the SAME collected counts; ranks
        // sharing a bucket refine together
        // distinct buckets refine independently (disjoint slices) —
        // overlap their job chains (guide §2.6); ranks sharing a bucket
        // still refine together
        parMap(ranks.groupBy { r =>
          var bi = 0
          while (bi < nBuckets - 1 && cumBefore(bi + 1) < r) bi += 1
          bi
        }.toSeq) { case (bi, rs) =>
          val sub = slice
            .where(col("x") >= sLo + (bi - 1) * w && col("x") <= sLo + (bi + 2) * w)
            .where(b === bi)
          val bounds = sub.agg(min(col("x")).cast("double"),
            max(col("x")).cast("double")).collect().head
          resolve(sub, bounds.getDouble(0), bounds.getDouble(1),
            rs.map(_ - cumBefore(bi)), counts.getOrElse(bi, 0L), depth + 1)
            .map { case (localR, v) => (localR + cumBefore(bi)) -> v }
        }.flatten.toMap
      }
    }

    val ranks = quantiles.map(q => math.ceil(q * n).toLong)
    val byRank = resolve(base, head.getDouble(1), head.getDouble(2),
      ranks.distinct, n, depth = 0)
    val picks = quantiles.zip(labels).map { case (q, lab) =>
      lit(byRank(math.ceil(q * n).toLong))
        .cast(df.schema(valueCol).dataType).as(lab)
    }
    val one = spark.range(1)
    one.select((lit(n).as("n") +: picks): _*)
  }
}
