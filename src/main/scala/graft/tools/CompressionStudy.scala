package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the quantize-then-zstd lossy-compression ratios at the
  * reference's six quality tiers (round-13 ask #5).
  *
  * The reference's `optimize_access_patterns` compresses lossy fast copies
  * with fixed-accuracy ZFP at tolerance = quality × std
  * (`optimize/common.py:31-53`, quality ∈ {6,3,1,0.1,0.01,0.001}) and its
  * CLI cites ~10× size reduction for lossy mode
  * (`commands/segy.py:198-205`). This engine's documented approximation is
  * `round(x / 2tol)·2tol` then Parquet zstd
  * ([[graft.operators.AccessPatterns.quantize]]) — this main puts a NUMBER
  * on that divergence so a user choosing `--lossless false` knows what
  * they get here vs the reference's claim.
  *
  * Amplitude fixture: the same seismic-ish synthesis the ingest queries
  * use (lineitem-derived), as float32 — a smooth structured term plus
  * full-entropy fractional noise, so lossless parquet cannot cheat via
  * trivially repeating mantissas.
  *
  * `SPARK_GRAFT_SF_DIR=... runMain graft.tools.CompressionStudy` →
  * markdown table on stdout + JSON at SPARK_GRAFT_COMP_OUT
  * (default bench/compression_ratios.json).
  */
object CompressionStudy {

  val Qualities: Seq[Double] = Seq(6.0, 3.0, 1.0, 0.1, 0.01, 0.001)

  private def dirSize(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  /** max|x − quantize(x)| over the sample arrays — must be ≤ tolerance. */
  private def maxErr(df: DataFrame, tol: Double): Double =
    df.select(max(aggregate(
      transform(col("samples"), x =>
        abs(x - graft.operators.AccessPatterns.quantize(x, tol))),
      lit(0.0), (acc, e) => greatest(acc, e))))
      .head().getDouble(0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.build("graft-compression-study")

    // seismic-ish float32 TRACES (the real store layout: one row per
    // trace, array<float> samples — the file is amplitude-dominated, so
    // ratios measure the VALUE payload, not flat-key overhead):
    // reflectivity-like structure along the trace + noise with full
    // mantissa entropy (hash-derived), scaled to std ~1000 like field data
    val nSamples = 128
    val amp = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("trace"))
      .distinct()
      .select(col("trace"),
        transform(sequence(lit(1), lit(nSamples)), i =>
          (sin(col("trace") / 50.0 + i / 9.0) * 800.0 +
            cos(col("trace") / 7.0 + i) * 400.0 +
            (hash(col("trace"), i).cast("double") / 4294967296.0) * 300.0)
            .cast("float")).as("samples"))
      .cache()
    val nTraces = amp.count()
    val n = nTraces * nSamples
    val std = amp.select(explode(col("samples")).as("x"))
      .agg(stddev(col("x"))).head().getDouble(0)

    val base = graft.core.TempDirs.scratch("compstudy")
    val lossless = s"$base/lossless"
    amp.write.mode("overwrite").option("compression", "zstd").parquet(lossless)
    val losslessBytes = dirSize(spark, lossless)
    val rawBytes = n * 4 // the amplitude payload: float32 per sample

    // The fixture's IRREDUCIBLE information content per tier: the noise
    // term is uniform over a width-300 band (hash/2³² × 300), so a
    // quantizer at step 2·tol KEEPS log2(300 / 2tol) bits/sample of pure
    // entropy that NO codec (ZFP's bitplanes included) can remove — the
    // honest yardstick for "how close is the coded path to optimal",
    // where a bare ratio target would just measure the fixture
    def noiseFloorBits(tol: Double): Double =
      math.max(0.0, math.log(300.0 / (2 * tol)) / math.log(2.0))

    println(s"traces=$nTraces samples=$n std=$std " +
      s"lossless_zstd=${losslessBytes}B raw=${rawBytes}B")
    println("| quality | tol = q·std | plain B | packed B | gain | plain b/smp | packed b/smp | floor b/smp | max err |")
    println("|---|---|---|---|---|---|---|---|---|")
    val rows = Qualities.map { q =>
      val tol = q * std
      val path = s"$base/q_$q"
      amp.withColumn("samples",
          transform(col("samples"), x =>
            graft.operators.AccessPatterns.quantize(x, tol).cast("float")))
        .write.mode("overwrite").option("compression", "zstd").parquet(path)
      val bytes = dirSize(spark, path)
      val err = maxErr(amp, tol)
      require(err <= tol + 1e-9, s"quantize exceeded tolerance: $err > $tol")

      // the transform-coded storage path (delta→zigzag→byte-plane): same
      // information, laid out so zstd entropy-codes the index stream
      val packedPath = s"$base/qp_$q"
      amp.select(col("trace"),
          graft.operators.AccessPatterns.packQuantized(col("samples"), tol)
            .as("samples_enc"))
        .write.mode("overwrite").option("compression", "zstd").parquet(packedPath)
      val packedBytes = dirSize(spark, packedPath)
      // decode must be BIT-IDENTICAL to the plain quantized floats
      val mismatches = spark.read.parquet(packedPath)
        .join(amp, "trace")
        .select(when(
          graft.operators.AccessPatterns.unpackQuantized(col("samples_enc"), tol) ===
            transform(col("samples"), x =>
              graft.operators.AccessPatterns.quantize(x, tol).cast("float")),
          0).otherwise(1).as("bad"))
        .agg(sum(col("bad"))).head().getLong(0)
      require(mismatches == 0,
        s"packed decode diverged from quantize() on $mismatches traces at q=$q")

      val bitsPlain = bytes * 8.0 / n
      val bitsPacked = packedBytes * 8.0 / n
      val floor = noiseFloorBits(tol)
      val gain = bytes.toDouble / packedBytes
      // what ANY codec could gain over the plain path on THIS fixture:
      // bounded by the irreducible noise bits it must still store
      val maxGain = if (floor > 0) bitsPlain / floor else Double.NaN
      println(f"| $q | $tol%.4f | $bytes | $packedBytes | $gain%.2fx " +
        f"(max ${if (floor > 0) f"$maxGain%.2f" else "inf"}x) " +
        f"| $bitsPlain%.2f | $bitsPacked%.2f | $floor%.2f | $err%.4f |")
      f"""{"quality":$q,"tolerance":$tol%.6f,"bytes":$bytes,""" +
        f""""ratio_vs_lossless":${losslessBytes.toDouble / bytes}%.2f,""" +
        f""""ratio_vs_raw":${rawBytes.toDouble / bytes}%.2f,"max_abs_err":$err%.6f,""" +
        f""""packed_bytes":$packedBytes,""" +
        f""""packed_ratio_vs_raw":${rawBytes.toDouble / packedBytes}%.2f,""" +
        f""""packed_gain_vs_plain":$gain%.2f,""" +
        f""""bits_per_sample_plain":$bitsPlain%.2f,""" +
        f""""bits_per_sample_packed":$bitsPacked%.2f,""" +
        f""""noise_floor_bits":$floor%.2f}"""
    }

    // noise-free brackets — the regime ZFP's headline ratios are quoted
    // in. TWO variants, because "smooth" has a frequency axis:
    //  - near-Nyquist: the base fixture's structured term includes
    //    cos(·+i) (period ~6 samples) — no finite-difference predictor
    //    can shrink a component whose per-sample change is ~its amplitude;
    //  - band-limited: every frequency ≤ 0.2 rad/sample (real migrated
    //    sections live here, ~10-60 samples per period) — each predictor
    //    order multiplies residual amplitude by 2·sin(ω/2) < 0.2, so the
    //    adaptive order-0..3 predictor collapses the index stream
    def smoothTier(label: String, mk: org.apache.spark.sql.Column)
        : Seq[String] = {
      val sm = amp.select(col("trace"), mk.as("samples")).cache()
      sm.count()
      val rows = Seq(0.01, 0.001).map { q =>
        val tol = q * std
        val plainPath = s"$base/${label}_$q"
        sm.withColumn("samples",
            transform(col("samples"), x =>
              graft.operators.AccessPatterns.quantize(x, tol).cast("float")))
          .write.mode("overwrite").option("compression", "zstd").parquet(plainPath)
        val packedPath = s"$base/${label}p_$q"
        sm.select(col("trace"),
            graft.operators.AccessPatterns.packQuantized(col("samples"), tol)
              .as("samples_enc"))
          .write.mode("overwrite").option("compression", "zstd").parquet(packedPath)
        val pb = dirSize(spark, plainPath); val kb = dirSize(spark, packedPath)
        println(f"| $label q=$q | ${q * std}%.4f | $pb | $kb | ${pb.toDouble / kb}%.2fx " +
          f"| ${pb * 8.0 / n}%.2f | ${kb * 8.0 / n}%.2f | 0 | - |")
        f"""{"regime":"$label","quality":$q,"bytes":$pb,"packed_bytes":$kb,""" +
          f""""packed_gain_vs_plain":${pb.toDouble / kb}%.2f,""" +
          f""""bits_per_sample_plain":${pb * 8.0 / n}%.2f,""" +
          f""""bits_per_sample_packed":${kb * 8.0 / n}%.2f}"""
      }
      sm.unpersist()
      rows
    }
    val smoothRows =
      smoothTier("smooth",
        transform(sequence(lit(1), lit(nSamples)), i =>
          (sin(col("trace") / 50.0 + i / 9.0) * 800.0 +
            cos(col("trace") / 7.0 + i) * 400.0).cast("float"))) ++
      smoothTier("bandlimited",
        transform(sequence(lit(1), lit(nSamples)), i =>
          (sin(col("trace") / 50.0 + i / 9.0) * 800.0 +
            cos(col("trace") / 7.0 + i / 5.0) * 400.0).cast("float")))

    val out = sys.env.getOrElse("SPARK_GRAFT_COMP_OUT", "bench/compression_ratios.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      s"""{"sf":"$sfDir","traces":$nTraces,"samples":$n,"std":$std,""" +
        s""""lossless_zstd_bytes":$losslessBytes,""" +
        s""""raw_bytes":$rawBytes,"tiers":[${rows.mkString(",")}],""" +
        s""""smooth_tiers":[${smoothRows.mkString(",")}]}""" + "\n")
    spark.stop()
  }
}
