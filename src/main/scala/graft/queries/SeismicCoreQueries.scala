package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators._
import QueryFixtures._

/** Registered queries for the seismic core over the fixture grid: dimension
  * inference, grid map and QC, trace counters, channel/shot wrapping,
  * statistics, coordinates, masking, labelled selection, projection and
  * export order.
  */
object SeismicCoreQueries {

  val all: Seq[QuerySpec] = Seq(
    // --- G1/A5: dimension inference -------------------------------------
    QuerySpec("q_dims", (s, d) =>
      Dimensions.computeDimension(lineitem(s, d), "l_shipdate"),
      """SELECT DISTINCT l_shipdate AS dim_value FROM lineitem
        |WHERE l_shipdate IS NOT NULL ORDER BY dim_value""".stripMargin),
    QuerySpec("q_dim_summary", (s, d) =>
      Dimensions.dimSummary(lineitem(s, d), Seq("l_shipdate", "l_suppkey", "l_partkey")),
      """SELECT min(l_shipdate) AS l_shipdate_min, max(l_shipdate) AS l_shipdate_max,
        |  count(DISTINCT l_shipdate) AS l_shipdate_n,
        |  min(l_suppkey) AS l_suppkey_min, max(l_suppkey) AS l_suppkey_max,
        |  count(DISTINCT l_suppkey) AS l_suppkey_n,
        |  min(l_partkey) AS l_partkey_min, max(l_partkey) AS l_partkey_max,
        |  count(DISTINCT l_partkey) AS l_partkey_n
        |FROM lineitem""".stripMargin),
    // --- J1/J2/J3: grid map + invariants --------------------------------
    QuerySpec("q_grid_map", (s, d) =>
      GridIndex.withCellOrdinal(lineitem(s, d), Seq("l_suppkey", "l_linenumber"))
        .select("l_orderkey", "l_suppkey", "l_linenumber",
                "l_suppkey_idx", "l_linenumber_idx", "cell"),
      """WITH idx AS (
        |  SELECT l_orderkey, l_suppkey, l_linenumber,
        |    CAST(dense_rank() OVER (ORDER BY l_suppkey) - 1 AS BIGINT) AS l_suppkey_idx,
        |    CAST(dense_rank() OVER (ORDER BY l_linenumber) - 1 AS BIGINT) AS l_linenumber_idx
        |  FROM lineitem)
        |SELECT l_orderkey, l_suppkey, l_linenumber, l_suppkey_idx, l_linenumber_idx,
        |  l_suppkey_idx * (SELECT count(DISTINCT l_linenumber) FROM lineitem)
        |    + l_linenumber_idx AS cell
        |FROM idx""".stripMargin),
    QuerySpec("q_grid_unique", (s, d) =>
      GridIndex.liveTraceCheck(lineitem(s, d), Seq("l_orderkey", "l_linenumber")),
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT (l_orderkey, l_linenumber)) AS n_cells,
        |  count(*) = count(DISTINCT (l_orderkey, l_linenumber)) AS all_unique
        |FROM lineitem""".stripMargin),
    QuerySpec("q_sparsity", (s, d) =>
      GridIndex.sparsityQC(lineitem(s, d), Seq("l_suppkey", "l_partkey")),
      """WITH s AS (SELECT count(*) AS n_rows,
        |    count(DISTINCT l_suppkey) AS l_suppkey_n,
        |    count(DISTINCT l_partkey) AS l_partkey_n
        |  FROM lineitem)
        |SELECT n_rows, l_suppkey_n, l_partkey_n,
        |  CAST(l_suppkey_n * l_partkey_n AS BIGINT) AS grid_size,
        |  CAST(l_suppkey_n * l_partkey_n AS DOUBLE) / n_rows AS sparsity,
        |  CAST(l_suppkey_n * l_partkey_n AS DOUBLE) / n_rows > 2.0 AS warn,
        |  CAST(l_suppkey_n * l_partkey_n AS DOUBLE) / n_rows > 10.0 AS error
        |FROM s""".stripMargin),
    // --- G3/G4/G7: counters + synthesis ---------------------------------
    QuerySpec("q_dup", (s, d) =>
      Counters.duplicateCounter(lineitem(s, d),
          dims = Seq("l_suppkey", "l_partkey"),
          ordinal = Seq("l_orderkey", "l_linenumber"))
        .select("l_suppkey", "l_partkey", "l_orderkey", "l_linenumber", "trace"),
      """SELECT l_suppkey, l_partkey, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER (PARTITION BY l_suppkey, l_partkey
        |    ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS trace
        |FROM lineitem""".stripMargin),
    QuerySpec("q_nonbin", (s, d) =>
      Counters.nonBinnedCounter(lineitem(s, d),
          keptDims = Seq("l_orderkey"), ordinal = Seq("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "trace"),
      """SELECT l_orderkey, l_linenumber,
        |  CAST(row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber) AS BIGINT) AS trace
        |FROM lineitem""".stripMargin),
    QuerySpec("q_synth", (s, d) =>
      Counters.synthesizeComponent(lineitem(s, d), "component")
        .select("l_orderkey", "l_linenumber", "component"),
      "SELECT l_orderkey, l_linenumber, 1 AS component FROM lineitem"),
    // --- G5/G6: geometry detection + wrapping ---------------------------
    QuerySpec("q_chanwrap_detect", (s, d) =>
      Wrapping.detectChannelGeometry(lineitem(s, d), "l_suppkey", "l_linenumber"),
      """WITH r AS (SELECT l_suppkey AS cable, min(l_linenumber) AS mn,
        |    max(l_linenumber) AS mx FROM lineitem GROUP BY 1),
        |o AS (SELECT count(*) AS n_overlap FROM r a JOIN r b
        |  ON a.cable < b.cable AND a.mn <= b.mx AND b.mn <= a.mx)
        |SELECT (SELECT count(*) FROM r) AS n_cables,
        |  (SELECT n_overlap FROM o) > 0 AS has_overlap,
        |  CASE WHEN (SELECT n_overlap FROM o) > 0 THEN 'A' ELSE 'B' END AS geometry_type""".stripMargin),
    QuerySpec("q_chanwrap", (s, d) =>
      Wrapping.rebaseChannels(lineitem(s, d), "l_suppkey", "l_orderkey")
        .select("l_suppkey", "l_orderkey", "channel_wrapped"),
      """SELECT l_suppkey, l_orderkey,
        |  CAST(l_orderkey - min(l_orderkey) OVER (PARTITION BY l_suppkey) + 1 AS BIGINT)
        |    AS channel_wrapped
        |FROM lineitem""".stripMargin),
    QuerySpec("q_shotidx", (s, d) =>
      Wrapping.shotIndexDenseRank(orders(s, d), "o_custkey", "o_orderdate")
        .select("o_custkey", "o_orderdate", "shot_index"),
      """SELECT o_custkey, o_orderdate,
        |  CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) - 1 AS BIGINT)
        |    AS shot_index
        |FROM orders""".stripMargin),
    QuerySpec("q_shotidx_floor", (s, d) =>
      Wrapping.shotIndexFloorDiv(orders(s, d), "o_custkey", "o_orderkey", numGuns = 4)
        .select("o_custkey", "o_orderkey", "shot_index"),
      """SELECT o_custkey, o_orderkey,
        |  CAST(floor(o_orderkey / 4) - min(floor(o_orderkey / 4))
        |    OVER (PARTITION BY o_custkey) AS BIGINT) AS shot_index
        |FROM orders""".stripMargin),
    // --- A1-A3 / A4: statistics -----------------------------------------
    QuerySpec("q_stats", (s, d) => Stats.summaryStats(lineitem(s, d), "l_extendedprice"),
      """WITH m AS (SELECT l_extendedprice AS x FROM lineitem
        |    WHERE l_extendedprice IS NOT NULL AND l_extendedprice != 0),
        |s AS (SELECT count(x) AS n, min(x) AS min_val, max(x) AS max_val,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_val,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |      AS sumsq_val
        |  FROM m)
        |SELECT n, min_val, max_val, sum_val, sumsq_val,
        |  sum_val / n AS mean_val,
        |  sumsq_val / n - (sum_val / n) * (sum_val / n) AS var_val,
        |  sqrt(sumsq_val / n - (sum_val / n) * (sum_val / n)) AS std_val
        |FROM s""".stripMargin),
    QuerySpec("q_histogram", (s, d) =>
      Stats.histogram(lineitem(s, d), "l_quantity", nBins = 10, lo = 0.0, hi = 50.0),
      """SELECT CAST(least(greatest(floor((l_quantity - 0.0) / 50.0 * 10), 0), 9) AS BIGINT)
        |    AS bucket,
        |  count(*) AS n,
        |  0.0 + CAST(least(greatest(floor((l_quantity - 0.0) / 50.0 * 10), 0), 9) AS BIGINT)
        |    * 5.0 AS bin_lo
        |FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1""".stripMargin),
    // stats + histogram in ONE buffer (the §2.10 TypedImperativeAggregate):
    // one scan, one small merged state — vs the two-query composition above
    QuerySpec("q_stats_hist", (s, d) => {
      import graft.functions.StatsHistAgg
      lineitem(s, d)
        .agg(StatsHistAgg.statsHist(col("l_quantity"), nBins = 10,
          lo = 0.0, hi = 50.0).as("s"))
        .select((Seq(col("s.n").as("n"), col("s.min_val").as("min_val"),
          col("s.max_val").as("max_val"), col("s.sum_val").as("sum_val"),
          col("s.sumsq_val").as("sumsq_val")) ++
          (0 until 10).map(i => col("s.hist")(i).as(s"hist_$i"))): _*)
    },
      {
        val bins = (0 until 10).map(i =>
          s"  count(*) FILTER (WHERE bin = $i) AS hist_$i").mkString(",\n")
        s"""WITH b AS (SELECT l_quantity AS x,
           |    CAST(least(greatest(floor((l_quantity - 0.0) / (50.0 - 0.0) * 10), 0), 9) AS BIGINT) AS bin
           |  FROM lineitem WHERE l_quantity IS NOT NULL)
           |SELECT count(*) AS n, min(x) AS min_val, max(x) AS max_val,
           |  CAST(CAST(sum(CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_val,
           |  CAST(CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
           |    AS sumsq_val,
           |$bins
           |FROM b""".stripMargin
      }),
    QuerySpec("q_salted_agg", (s, d) =>
      Salting.saltedAgg(lineitem(s, d), "l_returnflag",
        sum(col("l_quantity").cast(DecimalType(18, 2))),
        "sum_qty", saltBuckets = 16,
        saltSource = Seq("l_orderkey", "l_linenumber"))
        .withColumn("sum_qty", col("sum_qty").cast("double")),
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin),
    QuerySpec("q_geom", (s, d) =>
      Geometry.groupRanges(lineitem(s, d), "l_suppkey", "l_linenumber", "l_orderkey"),
      """SELECT l_suppkey, min(l_linenumber) AS v_min, max(l_linenumber) AS v_max,
        |  count(DISTINCT l_orderkey) AS n_distinct, count(*) AS n_rows
        |FROM lineitem GROUP BY l_suppkey""".stripMargin),
    QuerySpec("q_geom_guns", (s, d) =>
      Geometry.gunShotCounts(orders(s, d), "o_orderpriority", "o_orderstatus", "o_custkey"),
      """SELECT o_orderpriority, o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_shots, count(*) AS n_rows
        |FROM orders GROUP BY 1, 2""".stripMargin),
    // --- C1/P8: coordinate population -----------------------------------
    QuerySpec("q_coord", (s, d) =>
      Coordinates.populateCoordinate(customer(s, d), Seq("c_nationkey"),
        Seq("c_acctbal"), "c_custkey", scalar = -100),
      """SELECT c_nationkey, min_by(c_acctbal, c_custkey) / 100.0 AS c_acctbal
        |FROM customer GROUP BY c_nationkey""".stripMargin),
    // --- P4-P6: masking + bbox ------------------------------------------
    QuerySpec("q_mask_bbox", (s, d) =>
      Masking.boundingBox(lineitem(s, d), maskR, Seq("l_shipdate", "l_orderkey")),
      """SELECT min(l_shipdate) AS l_shipdate_lo, max(l_shipdate) AS l_shipdate_hi,
        |  min(l_orderkey) AS l_orderkey_lo, max(l_orderkey) AS l_orderkey_hi,
        |  count(*) AS n_live
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 25""".stripMargin),
    QuerySpec("q_mask_rows", (s, d) =>
      Masking.maskedSelect(lineitem(s, d), maskR, Seq("l_shipdate", "l_orderkey"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")),
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 25""".stripMargin),
    // --- P3: labeled selection ------------------------------------------
    QuerySpec("q_select", (s, d) =>
      Selection.sel(lineitem(s, d), Map(
        "l_shipdate" -> Selection.Range(
          java.time.Instant.parse("1995-03-01T00:00:00Z"),
          java.time.Instant.parse("1995-06-30T00:00:00Z")),
        "l_returnflag" -> Selection.Point("A"),
        "l_linenumber" -> Selection.Values(Seq(1, 2, 3)),
      )),
      """SELECT * FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-03-01 00:00:00'
        |    AND TIMESTAMP '1995-06-30 00:00:00'
        |  AND l_returnflag = 'A' AND l_linenumber IN (1, 2, 3)""".stripMargin),
    // POSITIONAL selection (xarray isel): a store written WITHOUT the
    // ingest pipeline (so the dim coordinate order derives from a distinct
    // scan), then integer positions — a clamping slice, a position list,
    // and a negative point — resolve to label predicates through the
    // sorted coordinate tables; green only if position->label arithmetic
    // matches DuckDB's row_number over the same distinct sets
    QuerySpec("q_isel", (s, d) => {
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("isel_store")
      val li = lineitem(s, d).select("l_orderkey", "l_linenumber",
        "l_suppkey", "l_returnflag", "l_quantity")
      val schema = MdioSchema(
        variables = Seq(Variable("l_quantity",
          Seq("l_orderkey", "l_linenumber"), Left(ScalarType.Float64),
          compressor = Some(Blosc()))),
        metadata = DatasetMetadata("isel-slice", "1.0.0", "2026-01-01T00:00:00Z"))
      MdioDataset.write(li, path, schema, sortDims = Seq("l_suppkey"))
      MdioDataset.open(s, path)
        .isel("l_suppkey" -> Selection.ISlice(3, 8),
          "l_linenumber" -> Selection.IValues(Seq(0, 1, 2)),
          "l_returnflag" -> Selection.IPoint(-1))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
    },
      // positions resolve through row_number over the same sorted distinct
      // coordinate sets the engine's dim tables hold
      """WITH sk AS (SELECT l_suppkey,
        |    row_number() OVER (ORDER BY l_suppkey) - 1 AS p
        |  FROM (SELECT DISTINCT l_suppkey FROM lineitem)),
        |ln AS (SELECT l_linenumber,
        |    row_number() OVER (ORDER BY l_linenumber) - 1 AS p
        |  FROM (SELECT DISTINCT l_linenumber FROM lineitem)),
        |rf AS (SELECT l_returnflag,
        |    row_number() OVER (ORDER BY l_returnflag) - 1 AS p,
        |    count(*) OVER () AS n
        |  FROM (SELECT DISTINCT l_returnflag FROM lineitem))
        |SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT l_suppkey FROM sk WHERE p >= 3 AND p < 8)
        |  AND l_linenumber IN (SELECT l_linenumber FROM ln WHERE p IN (0, 1, 2))
        |  AND l_returnflag IN (SELECT l_returnflag FROM rf WHERE p = n - 1)
        |GROUP BY 1""".stripMargin),
    // --- P1/P2: projection ----------------------------------------------
    QuerySpec("q_proj", (s, d) =>
      Projection.projectToSpec(lineitem(s, d),
        Seq("l_linenumber", "l_suppkey", "l_orderkey", "l_extendedprice")),
      "SELECT l_linenumber, l_suppkey, l_orderkey, l_extendedprice FROM lineitem"),
    // --- E4: export order -----------------------------------------------
    QuerySpec("q_export_order", (s, d) =>
      GlobalOrder.withGlobalSeq(
        lineitem(s, d).select("l_suppkey", "l_orderkey", "l_linenumber"),
        Seq("l_suppkey", "l_orderkey", "l_linenumber")),
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER (ORDER BY l_suppkey, l_orderkey, l_linenumber) - 1 AS BIGINT)
        |    AS seq
        |FROM lineitem""".stripMargin),
    QuerySpec("q_coord_checked", (s, d) =>
      Coordinates.populateCoordinateChecked(customer(s, d), Seq("c_nationkey"),
        "c_acctbal", "c_custkey", scalar = -100),
      """SELECT c_nationkey, min_by(c_acctbal, c_custkey) / 100.0 AS c_acctbal,
        |  count(DISTINCT c_acctbal) AS n_values,
        |  count(DISTINCT c_acctbal) = 1 AS consistent
        |FROM customer GROUP BY c_nationkey""".stripMargin),
  )
}
