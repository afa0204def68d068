package graft
package queries

import org.apache.spark.sql.functions._

import graft.llm._
import QueryFixtures._

/** Registered queries for mergeable sketches: HyperLogLog distinct counts,
  * count-min term counts and the k-bounded top-k aggregate.
  */
object SketchQueries {

  val all: Seq[QuerySpec] = Seq(
    // HLL cardinality: 64 deterministic registers over the orderkey
    // stream, raw estimate (no ln corrections — transcendental-free),
    // emitted beside the exact distinct for the error story. One pass:
    // the exact count rides the register aggregate (each key owns one
    // register, so per-register distincts sum to the global distinct)
    // instead of a second full scan — value-identical, oracle-pinned.
    QuerySpec("q_hll_distinct", (s, d) =>
      Hll.estimateWithExact(
        lineitem(s, d).select(col("l_orderkey").as("k")), "k"),
      s"""WITH k AS (SELECT l_orderkey AS k FROM lineitem),
         |h AS (SELECT ${OracleSqlGen.h60("'hll:' || k")} AS hv FROM k),
         |r AS (SELECT hv % 64 AS j,
         |    CASE WHEN hv // 64 = 0 THEN 55
         |         ELSE 55 - length(bin(hv // 64)) END AS rho
         |  FROM h),
         |occ AS (SELECT j, CAST(max(rho) AS BIGINT) AS m_j FROM r GROUP BY 1),
         |allj AS (SELECT unnest(range(0, 64)) AS j),
         |regs AS (SELECT allj.j, coalesce(occ.m_j, 0) AS m_j
         |  FROM allj LEFT JOIN occ USING (j)),
         |agg AS (SELECT
         |    list_reduce(list(pow(2.0, -m_j) ORDER BY j),
         |      (x, y) -> x + y) AS s,
         |    CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_zero_registers
         |  FROM regs)
         |SELECT ${graft.llm.Hll.alpha * graft.llm.Hll.m * graft.llm.Hll.m} / s
         |    AS est_n,
         |  n_zero_registers,
         |  (SELECT CAST(count(DISTINCT k) AS BIGINT) FROM k) AS true_n
         |FROM agg""".stripMargin),
    // grouped HLL: distinct users per event type, one 64-register sketch
    // per group beside the exact distinct
    QuerySpec("q_hll_grouped", (s, d) => {
      val keys = events(s, d).select(col("event_type"), col("user_id").as("k"))
      Hll.estimateByGroup(
          Hll.registersByGroup(keys, "k", "event_type"), "event_type")
        .join(keys.groupBy(col("event_type"))
          .agg(countDistinct(col("k")).cast("long").as("true_n")),
          "event_type")
    },
      s"""WITH k AS (SELECT event_type, user_id AS k FROM events),
         |h AS (SELECT event_type, ${OracleSqlGen.h60("'hll:' || k")} AS hv
         |  FROM k),
         |r AS (SELECT event_type, hv % 64 AS j,
         |    CASE WHEN hv // 64 = 0 THEN 55
         |         ELSE 55 - length(bin(hv // 64)) END AS rho
         |  FROM h),
         |occ AS (SELECT event_type, j, CAST(max(rho) AS BIGINT) AS m_j
         |  FROM r GROUP BY 1, 2),
         |g AS (SELECT DISTINCT event_type FROM events),
         |allj AS (SELECT unnest(range(0, 64)) AS j),
         |regs AS (SELECT g.event_type, allj.j, coalesce(occ.m_j, 0) AS m_j
         |  FROM g CROSS JOIN allj
         |  LEFT JOIN occ ON occ.event_type = g.event_type
         |    AND occ.j = allj.j),
         |agg AS (SELECT event_type,
         |    list_reduce(list(pow(2.0, -m_j) ORDER BY j),
         |      (x, y) -> x + y) AS s,
         |    CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_zero_registers
         |  FROM regs GROUP BY 1),
         |tr AS (SELECT event_type, CAST(count(DISTINCT k) AS BIGINT)
         |    AS true_n FROM k GROUP BY 1)
         |SELECT a.event_type,
         |  ${graft.llm.Hll.alpha * graft.llm.Hll.m * graft.llm.Hll.m} / a.s
         |    AS est_n,
         |  a.n_zero_registers, tr.true_n
         |FROM agg a JOIN tr USING (event_type)""".stripMargin),
    // count-min sketch: 4×64 deterministic md5-60 counters over the token
    // stream; the exact top-10 terms' estimates ride the broadcast counter
    // table — over-count-only error, bit-replayable in SQL
    QuerySpec("q_cms_terms", (s, d) => {
      val toks = graft.core.Scratch.rebalance(documents(s, d), heavy = true)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      val cnts = Cms.counters(toks, "term", d = 4, w = 64)
      val top = toks.groupBy(col("term"))
        .agg(count(lit(1)).cast("long").as("true_n"))
        .orderBy(col("true_n").desc, col("term")).limit(10)
      Cms.estimate(cnts, top, "term", d = 4, w = 64)
        .join(top, "term")
        .select(col("term"), col("true_n"), col("est_n"))
    },
      s"""WITH tok AS (SELECT unnest(${OracleSqlGen.tokensSql("lower(text)")})
         |    AS term FROM documents),
         |is_ AS (SELECT unnest(range(0, 4)) AS i),
         |cnts AS (SELECT i,
         |    ${OracleSqlGen.h60("'cms' || i || ':' || term")} % 64 AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok, is_ GROUP BY 1, 2),
         |top AS (SELECT term, CAST(count(*) AS BIGINT) AS true_n
         |  FROM tok GROUP BY 1 ORDER BY true_n DESC, term LIMIT 10),
         |est AS (SELECT t.term, min(c.cnt) AS est_n
         |  FROM top t, is_
         |  JOIN cnts c ON c.i = is_.i
         |    AND c.bucket =
         |      ${OracleSqlGen.h60("'cms' || is_.i || ':' || t.term")} % 64
         |  GROUP BY 1)
         |SELECT t.term, t.true_n, e.est_n
         |FROM top t JOIN est e USING (term)""".stripMargin),
    // per-group top-k WITHOUT the window sort: a k-bounded
    // TypedImperativeAggregate combines map-side, so tasks ship top-k
    // candidates per group instead of every row — rank ties total-ordered
    // by (value DESC, id), oracled against the window formulation
    QuerySpec("q_topk_group", (s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.TopKAgg.topK(col("l_extendedprice"),
          col("l_orderkey") * 10 + col("l_linenumber"), 3).as("top"))
        .select(col("l_returnflag"), posexplode(col("top")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rank"),
          col("col.v").as("price"), col("col.id").as("id")),
      """WITH t AS (SELECT l_returnflag, l_extendedprice AS price,
        |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, price, id,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY price DESC, id) AS BIGINT) AS rank
        |  FROM t)
        |SELECT l_returnflag, rank, price, id FROM r WHERE rank <= 3""".stripMargin),
  )
}
