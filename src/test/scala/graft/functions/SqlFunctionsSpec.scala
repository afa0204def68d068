package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SQL surface of the native kernels: pure-SQL sessions must compute
  * the same sketches/vector math as the Scala Column API.
  */
class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("SQL minhash pipeline equals the Column API value-for-value") {
    GraftSparkExtensions.install(spark)
    Seq((1L, "the quick brown fox jumps over it"), (2L, "completely different words"))
      .toDF("doc_id", "text").createOrReplaceTempView("sqlfn_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, minhash_sig(shingle_hashes(
        |  filter(split(lower(text), '\\s+'), t -> t != ''), 3), 8) AS sig,
        |  simhash60(md5h60_array(array_distinct(
        |    filter(split(lower(text), '\\s+'), t -> t != '')))) AS sh
        |FROM sqlfn_docs""".stripMargin)
      .as[(Long, Seq[Long], Long)].collect().map { case (k, s, h) => k -> ((s, h)) }.toMap
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val viaApi = Seq((1L, "the quick brown fox jumps over it"), (2L, "completely different words"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        CrossHashExprs.minhashSig(CrossHashExprs.shingleHashes(toks, 3), 8).as("sig"),
        CrossHashExprs.simhash(CrossHashExprs.md5h60Array(array_distinct(toks))).as("sh"))
      .as[(Long, Seq[Long], Long)].collect().map { case (k, s, h) => k -> ((s, h)) }.toMap
    assert(viaSql == viaApi)
  }

  test("SQL stats_hist aggregate equals the Column API") {
    GraftSparkExtensions.install(spark)
    (1 to 100).map(i => (i % 11).toDouble).toDF("x").createOrReplaceTempView("sqlfn_x")
    val viaSql = spark.sql(
      "SELECT stats_hist(x, 5, 0.0, 10.0) AS s FROM sqlfn_x")
      .select("s.n", "s.sum_val", "s.hist").as[(Long, Double, Seq[Long])].head()
    val viaApi = (1 to 100).map(i => (i % 11).toDouble).toDF("x")
      .agg(StatsHistAgg.statsHist(col("x"), 5, 0.0, 10.0).as("s"))
      .select("s.n", "s.sum_val", "s.hist").as[(Long, Double, Seq[Long])].head()
    assert(viaSql == viaApi)
  }

  test("SQL vector functions: cosine_sim / vec_dot / unit_vec") {
    GraftSparkExtensions.install(spark)
    Seq((Array(3.0f, 4.0f), Array(3.0f, 4.0f)), (Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b").createOrReplaceTempView("sqlfn_v")
    val rows = spark.sql(
      """SELECT cosine_sim(a, b) AS c, vec_dot(unit_vec(a), unit_vec(b)) AS d
        |FROM sqlfn_v""".stripMargin)
      .as[(Double, Double)].collect()
    assert(math.abs(rows(0)._1 - 1.0) < 1e-12 && math.abs(rows(0)._2 - 1.0) < 1e-12)
    assert(rows(1)._1 == 0.0 && rows(1)._2 == 0.0)
  }

  test("SQL sig_agree / vec_l2sq equal the Column API") {
    GraftSparkExtensions.install(spark)
    Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L)))
      .toDF("sa", "sb").createOrReplaceTempView("sqlfn_sig")
    val (agree, d2) = spark.sql(
      "SELECT sig_agree(sa, sb) AS a, vec_l2sq(CAST(sa AS ARRAY<DOUBLE>), " +
        "CAST(sb AS ARRAY<DOUBLE>)) AS d FROM sqlfn_sig")
      .as[(Int, Double)].head()
    assert(agree == 2)           // components 1 and 3 agree
    assert(d2 == 49.0 + 9.0)     // (2-9)^2 + (4-7)^2
  }

  test("SQL winnow_fps equals the Column API") {
    GraftSparkExtensions.install(spark)
    Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text").createOrReplaceTempView("sqlfn_w")
    val viaSql = spark.sql(
      "SELECT winnow_fps(lower(text), 8, 4) AS fps FROM sqlfn_w")
      .as[Seq[Long]].head()
    val viaApi = spark.table("sqlfn_w")
      .select(graft.functions.CrossHashExprs.winnowFps(lower(col("text")), 8, 4))
      .as[Seq[Long]].head()
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }

  test("SQL trace-conditioning kernels equal the Column API") {
    GraftSparkExtensions.install(spark)
    Seq((1, Seq(3.0, 0.0, -4.0, 12.0), 0.5), (2, Seq(1.0, 1.0, 1.0, 1.0), 0.25))
      .toDF("cell", "v", "sh").createOrReplaceTempView("sqlfn_traces")
    val viaSql = spark.sql(
      """SELECT cell, trace_agc(v, 3) AS g, trace_mute_top(v, 3) AS m,
        |  trace_shift_resample(v, sh) AS r
        |FROM sqlfn_traces""".stripMargin)
      .as[(Int, Seq[Double], Seq[Double], Seq[Double])].collect().toSet
    val viaApi = spark.table("sqlfn_traces")
      .select(col("cell"),
        graft.operators.TraceOps.agc(col("v"), 4, 3).as("g"),
        graft.operators.TraceOps.muteTop(col("v"), 4, 3).as("m"),
        graft.operators.TraceOps.shiftResample(col("v"), 4, col("sh")).as("r"))
      .as[(Int, Seq[Double], Seq[Double], Seq[Double])].collect().toSet
    assert(viaSql == viaApi)
    // the stack aggregate through SQL GROUP BY
    val stSql = spark.sql(
      """SELECT s.st.n_traces AS n, s.st.stack AS stack FROM
        |  (SELECT trace_stack(v) AS st FROM sqlfn_traces) s""".stripMargin)
      .as[(Long, Seq[Double])].head()
    assert(stSql._1 == 2L && stSql._2 == Seq(2.0, 0.5, -1.5, 6.5))
    // the synthetic-trace helper
    val lm = spark.sql("SELECT long_mod_to_double(sequence(1L, 5L), 3) AS a")
      .as[Seq[Double]].head()
    assert(lm == Seq(1.0, 2.0, 0.0, 1.0, 2.0))
    // FIR through SQL: 3-tap centered smoother, zero-padded edges
    val fir = spark.sql(
      "SELECT trace_fir(array(1.0D, 2.0D, 3.0D, 4.0D), array(1.0D, 2.0D, 1.0D), 1) AS f")
      .as[Seq[Double]].head()
    assert(fir == Seq(1 * 0.0 + 2 * 1.0 + 1 * 2.0, 1 * 1.0 + 2 * 2.0 + 1 * 3.0,
      1 * 2.0 + 2 * 3.0 + 1 * 4.0, 1 * 3.0 + 2 * 4.0 + 1 * 0.0))
    // the packed lossy codec through SQL: grid-exact floats roundtrip
    val qp = spark.sql(
      "SELECT quant_unpack(quant_pack(array(CAST(1.5 AS FLOAT), " +
        "CAST(-3.0 AS FLOAT), CAST(0.5 AS FLOAT)), 0.25D), 0.25D) AS r")
      .as[Seq[Float]].head()
    assert(qp == Seq(1.5f, -3.0f, 0.5f))
  }

  test("SQL velocity aggregates equal the operator API") {
    GraftSparkExtensions.install(spark)
    Seq((1, 0.0, Seq(3.0, 0.0, -4.0, 12.0)), (1, 1.0, Seq(1.0, 5.0, 1.0, 1.0)),
      (2, 0.0, Seq(2.0, 2.0, 2.0, 2.0)), (2, 2.0, Seq(8.0, -1.0, 0.5, 3.0)))
      .toDF("cell", "off", "v").createOrReplaceTempView("sqlfn_vel")
    val cands = Seq(0.0, 0.25, 0.5)
    def apiRows(coherence: String) =
      graft.operators.TraceOps.moveoutScan(spark.table("sqlfn_vel"),
        Seq("cell"), "v", 4, "off", cands, coherence = coherence)
        .as[(Int, Double, Long, Double)].collect().toSet
    val scanSql = spark.sql(
      """SELECT cell, m.best_shift, m.n_traces, m.energy FROM
        |  (SELECT cell, trace_moveout_stack(v, off,
        |     array(0.0D, 0.25D, 0.5D)) AS m
        |   FROM sqlfn_vel GROUP BY cell) s""".stripMargin)
      .as[(Int, Double, Long, Double)].collect().toSet
    assert(scanSql == apiRows("energy"))
    val sembSql = spark.sql(
      """SELECT cell, m.best_shift, m.n_traces, m.semblance FROM
        |  (SELECT cell, trace_moveout_semblance(v, off,
        |     array(0.0D, 0.25D, 0.5D)) AS m
        |   FROM sqlfn_vel GROUP BY cell) s""".stripMargin)
      .as[(Int, Double, Long, Double)].collect().toSet
    assert(sembSql == apiRows("semblance"))
    val panelSql = spark.sql(
      """SELECT cell, m.n_traces, m.shifts, m.panels FROM
        |  (SELECT cell, trace_semblance_panel(v, off,
        |     array(0.0D, 0.25D, 0.5D), 3) AS m
        |   FROM sqlfn_vel GROUP BY cell) s""".stripMargin)
      .as[(Int, Long, Seq[Double], Seq[Seq[Double]])].collect().toSet
    val panelApi = graft.operators.TraceOps.semblancePanel(
        spark.table("sqlfn_vel"), Seq("cell"), "v", 4, "off", cands, 3)
      .groupBy("cell", "n_traces")
      .agg(collect_list(struct(col("shift"), col("panel"))).as("ps"))
      .as[(Int, Long, Seq[(Double, Seq[Double])])].collect()
      .map { case (c, n, ps) =>
        val sorted = ps.sortBy(_._1)
        (c, n, sorted.map(_._1), sorted.map(_._2)) }.toSet
    assert(panelSql == panelApi)
  }

  test("shape parameters must be literals (clear error, not silent misuse)") {
    GraftSparkExtensions.install(spark)
    Seq((1L, "abc")).toDF("doc_id", "text").createOrReplaceTempView("sqlfn_e")
    val e = intercept[Exception] {
      spark.sql("SELECT shingle_hashes(split(text, ' '), doc_id) FROM sqlfn_e").collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      Option(e.getCause).exists(_.getMessage.contains("integer literal")))
  }
}
