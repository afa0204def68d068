package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators._
import QueryFixtures._

/** Registered queries for the MDIO store lifecycle: write→open→select round
  * trips, copy, the DSv2 `mdio` format, compaction, access-pattern and
  * Z-order layouts, and the lossy quantized copy.
  */
object StoreQueries {

  val all: Seq[QuerySpec] = Seq(
    // --- S4/S5: MDIO store write→open→sel round-trip --------------------
    // S7 under the oracle: write store -> MDIO->MDIO copy (sidecar,
    // layout and data travel; excludeColumns drops a variable like the
    // reference's copy --exclude) -> select + aggregate over the COPY
    QuerySpec("q_store_copy", (s, d) => {
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("store_copy_src")
      val dst = graft.core.TempDirs.scratch("store_copy_dst")
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity",
          "l_extendedprice")
      val schema = MdioSchema(
        variables = Seq(Variable("l_quantity", Seq("l_orderkey", "l_linenumber"),
          Left(ScalarType.Float64), compressor = Some(Blosc()))),
        metadata = DatasetMetadata("lineitem-slice", "1.0.0", "2026-01-01T00:00:00Z"))
      MdioDataset.write(li, path, schema, sortDims = Seq("l_suppkey"))
      Mdio.copyMdio(s, path, dst, excludeColumns = Seq("l_extendedprice"))
      val copied = MdioDataset.open(s, dst)
      require(!copied.df.columns.contains("l_extendedprice"),
        "copy must drop excluded columns")
      copied
        .sel("l_suppkey" -> Selection.Point(7L))
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    },
      """SELECT l_linenumber, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_suppkey = 7 GROUP BY 1""".stripMargin),
    QuerySpec("q_store_roundtrip", (s, d) => {
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("store")
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val schema = MdioSchema(
        variables = Seq(Variable("l_quantity", Seq("l_orderkey", "l_linenumber"),
          Left(ScalarType.Float64), compressor = Some(Blosc()))),
        metadata = DatasetMetadata("lineitem-slice", "1.0.0", "2026-01-01T00:00:00Z"))
      MdioDataset.write(li, path, schema, sortDims = Seq("l_suppkey"))
      MdioDataset.open(s, path)
        .sel("l_suppkey" -> Selection.Point(7L))
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    },
      """SELECT l_linenumber, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_suppkey = 7 GROUP BY 1""".stripMargin),
    // --- S4/S5 via DataSourceV2: format("mdio") read AND write under the
    // oracle gate: half the rows land through the Scala API, the other half
    // through df.write.format("mdio").mode("append") — the aggregate only
    // matches DuckDB's full-lineitem answer if the DSv2 append really lands
    QuerySpec("q_store_v2", (s, d) => {
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("storev2")
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val schema = MdioSchema(
        variables = Seq(Variable("l_quantity", Seq("l_orderkey", "l_linenumber"),
          Left(ScalarType.Float64), compressor = Some(Blosc()))),
        metadata = DatasetMetadata("lineitem-v2", "1.0.0", "2026-01-01T00:00:00Z"))
      MdioDataset.write(li.where(col("l_orderkey") % 2 === 0), path, schema,
        sortDims = Seq("l_suppkey"))
      li.where(col("l_orderkey") % 2 =!= 0)
        .write.format("mdio").mode("append").save(path)
      s.read.format("mdio").load(path)        // the DSv2 surface
        .where(col("l_suppkey") === 7L)
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    },
      """SELECT l_linenumber, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_suppkey = 7 GROUP BY 1""".stripMargin),
    // compaction correctness: three append-accumulated file sets fold back
    // into the recorded layout; the oracle checks the compacted store is
    // row-identical to the source table
    QuerySpec("q_store_compact", (s, d) => {
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("store_compact")
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val schema = MdioSchema(
        variables = Seq(Variable("l_quantity", Seq("l_orderkey", "l_linenumber"),
          Left(ScalarType.Float64), compressor = Some(Blosc()))),
        metadata = DatasetMetadata("lineitem-compact", "1.0.0",
          "2026-01-01T00:00:00Z"))
      MdioDataset.write(li.where(col("l_suppkey") % 3 === 0), path, schema,
        sortDims = Seq("l_suppkey"))
      (1 to 2).foreach(m =>
        li.where(col("l_suppkey") % 3 === m)
          .write.format("mdio").mode("append").save(path))
      val (nb, na) = MdioDataset.compact(s, path)
      require(na < nb, s"compact must shrink the file count: $nb -> $na")
      s.read.format("mdio").load(path)
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    },
      """SELECT l_linenumber, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin),
    // --- O1: access-pattern materialization + catalog resolve ------------
    QuerySpec("q_access_fast", (s, d) => {
      import graft.operators.AccessPatterns
      val base = graft.core.TempDirs.scratch("ap")
      val li = lineitem(s, d).select("l_partkey", "l_orderkey", "l_extendedprice")
      li.write.parquet(s"$base/base")
      AccessPatterns.optimize(li, base, Seq("l_partkey"))
      AccessPatterns.resolve(s, base, "base", "l_partkey")
        .where(col("l_partkey") < 100)
        .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
    },
      """SELECT count(*) AS n, min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_partkey < 100""".stripMargin),
    // multi-dim clustering: write the Z-order (Morton) layout over two
    // grid dims, re-read it, and run the two-dim bounding box — count,
    // decimal-exact sum, and the min/max stored _zkey gate both the
    // interleave arithmetic and layout invariance (same rows back)
    QuerySpec("q_zorder", (s, d) => {
      import graft.operators.AccessPatterns
      val base = graft.core.TempDirs.scratch("zorder")
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val zp = AccessPatterns.optimizeZorder(li, base,
        Seq("l_suppkey", "l_linenumber"), bits = 16)
      s.read.parquet(zp)
        .where(col("l_suppkey").between(10, 50) &&
          col("l_linenumber").between(2, 5))
        // the layout is schema-identical (sort key dropped at write); the
        // key recomputed at read still gates the interleave arithmetic
        .withColumn("_zkey", AccessPatterns.zorderKey(
          Seq(col("l_suppkey"), col("l_linenumber")), 16))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"),
          min(col("_zkey")).as("zmin"), max(col("_zkey")).as("zmax"))
    },
      s"""SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  min(${OracleSqlGen.zorderKeySql(
               Seq("l_suppkey", "l_linenumber"), 16)}) AS zmin,
         |  max(${OracleSqlGen.zorderKeySql(
               Seq("l_suppkey", "l_linenumber"), 16)}) AS zmax
         |FROM lineitem
         |WHERE l_suppkey BETWEEN 10 AND 50
         |  AND l_linenumber BETWEEN 2 AND 5""".stripMargin),
    // --- O1 lossy path: sidecar stats → ZFP-style tolerance → bound ------
    QuerySpec("q_quantize", (s, d) => {
      import graft.operators.{AccessPatterns, Stats}
      import graft.schema._
      import graft.storage.MdioDataset
      val path = graft.core.TempDirs.scratch("quant")
      val li = lineitem(s, d).select("l_orderkey", "l_linenumber", "l_extendedprice")
      // decimal-exact summary stats (the q_stats formulas), stored in the
      // sidecar like ingest does — the metadata-sized driver value
      val st = Stats.summaryStats(li, "l_extendedprice").first()
      val stats = SummaryStatistics(st.getAs[Long]("n"), st.getAs[Double]("sum_val"),
        st.getAs[Double]("sumsq_val"), st.getAs[Double]("min_val"),
        st.getAs[Double]("max_val"))
      val schema = MdioSchema(
        variables = Seq(Variable("l_extendedprice", Seq("l_orderkey", "l_linenumber"),
          Left(ScalarType.Float64),
          metadata = Some(VariableMetadata(statsV1 = Some(stats))))),
        metadata = DatasetMetadata("quantize-demo", "1.0.0", "2026-01-01T00:00:00Z"))
      MdioDataset.write(li, path, schema)
      val h = MdioDataset.open(s, path)
      // tolerance = quality × sidecar-std; fast copy is written quantized
      val tol = AccessPatterns.optimizeStore(h, Seq("l_orderkey"),
        "l_extendedprice", quality = 0.5)
      val fast = s.read.parquet(AccessPatterns.fastTablePath(path, "l_orderkey"))
      val qx = AccessPatterns.quantize(col("l_extendedprice"), tol)
      val baseAgg = h.df.agg(
        count(lit(1)).as("n_rows"),
        max(abs(col("l_extendedprice") - qx)).as("_max_err"))
      val fastAgg = fast.agg(
        min(col("l_extendedprice")).as("min_q"),
        max(col("l_extendedprice")).as("max_q"),
        count(lit(1)).as("n_fast"))
      baseAgg.crossJoin(fastAgg)            // 1×1 scalar combine
        .select(col("n_rows"), lit(tol).as("tolerance"),
          (col("_max_err") <= tol).as("within_tol"),
          col("min_q"), col("max_q"), col("n_fast"))
    },
      """WITH m AS (SELECT l_extendedprice AS x FROM lineitem
        |    WHERE l_extendedprice IS NOT NULL AND l_extendedprice != 0),
        |s AS (SELECT count(x) AS n,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_val,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |      AS sumsq_val
        |  FROM m),
        |t AS (SELECT 0.5 * sqrt(sumsq_val / n - (sum_val / n) * (sum_val / n)) AS tol FROM s),
        |q AS (SELECT l_extendedprice AS x,
        |    round(l_extendedprice / (2 * tol)) * (2 * tol) AS xq, tol
        |  FROM lineitem, t)
        |SELECT count(*) AS n_rows, any_value(tol) AS tolerance,
        |  max(abs(x - xq)) <= any_value(tol) AS within_tol,
        |  min(xq) AS min_q, max(xq) AS max_q, count(*) AS n_fast
        |FROM q""".stripMargin),
    // the transform-coded lossy storage path end to end UNDER ORACLE:
    // pack (index+delta+zigzag+byte-plane) → parquet binary → read →
    // unpack. Samples are half-integers, exactly ON the tol=0.25 grid, so
    // the decode must reproduce the INPUTS bit-for-bit and the oracle is
    // the identity — any rounding, delta or plane bug breaks the hash
    QuerySpec("q_quantize_packed", (s, d) => {
      import graft.operators.AccessPatterns
      val tol = 0.25
      val path = graft.core.TempDirs.scratch("qpack")
      lineitem(s, d).select(
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          array(col("l_partkey").cast("float"),
            ((col("l_orderkey") % 997).cast("double") / 2.0).cast("float"),
            (-col("l_linenumber") * 7).cast("float")).as("v"))
        .select(col("ok"), col("ln"),
          AccessPatterns.packQuantized(col("v"), tol).as("enc"))
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .select(col("ok"), col("ln"),
          AccessPatterns.unpackQuantized(col("enc"), tol).as("r"))
        .select(col("ok"), col("ln"),
          element_at(col("r"), 1).cast("double").as("r1"),
          element_at(col("r"), 2).cast("double").as("r2"),
          element_at(col("r"), 3).cast("double").as("r3"))
    },
      // grid-exact inputs → the packed codec must return them untouched;
      // the oracle is therefore the inputs themselves
      """SELECT l_orderkey AS ok, l_linenumber AS ln,
        |  CAST(l_partkey AS DOUBLE) AS r1,
        |  CAST(l_orderkey % 997 AS DOUBLE) / 2.0 AS r2,
        |  CAST(-(l_linenumber * 7) AS DOUBLE) AS r3
        |FROM lineitem""".stripMargin),
  )
}
