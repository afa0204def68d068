package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators._
import QueryFixtures._

/** Registered queries for events analytics and joins: windowed and
  * sessionized event aggregates, funnels, retention, exact quantiles, OLAP
  * rollup and pivot, as-of / range joins, and the salted and bucketed
  * joins.
  */
object EventJoinQueries {

  val all: Seq[QuerySpec] = Seq(
    // --- events: windowed aggregation + sessionization ------------------
    QuerySpec("q_events_hourly", (s, d) => Events.hourlyAgg(events(s, d)),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // semi-structured tier: JSON property extraction + typed aggregates
    QuerySpec("q_props_stats", (s, d) => Events.propsStats(events(s, d)),
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS n_with_key,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_v,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS min_v,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS max_v
        |FROM events GROUP BY 1""".stripMargin),
    // EXACT global quantiles WITHOUT a global sort: histogram-locate +
    // bucket-pruned top-r (two bounded passes; the 100-TB path for the one
    // aggregate where exact usually means sort-everything)
    QuerySpec("q_exact_quantiles", (s, d) =>
      graft.operators.Stats.exactQuantiles(lineitem(s, d), "l_quantity"),
      """WITH c AS (SELECT l_quantity AS x FROM lineitem WHERE l_quantity IS NOT NULL),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM c),
        |m AS (SELECT count(*) AS n FROM c)
        |SELECT CAST(m.n AS BIGINT) AS n,
        |  max(CASE WHEN rn = CAST(ceil(0.25 * m.n) AS BIGINT) THEN x END) AS p25,
        |  max(CASE WHEN rn = CAST(ceil(0.50 * m.n) AS BIGINT) THEN x END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.75 * m.n) AS BIGINT) THEN x END) AS p75,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * m.n) AS BIGINT) THEN x END) AS p99
        |FROM r, m GROUP BY m.n""".stripMargin),
    // the FORCED-REFINE shape (the registered l_quantity row
    // rides 50 distinct values where the locate pass short-circuits):
    // price² is high-cardinality and ~110x density-skewed toward the low
    // buckets (uniform x → density(x²) ∝ 1/√), and the deliberately tight
    // (nBuckets=16, refineLimit=4096) forces multi-level histogram
    // refinement plus the final top-r pass at EVERY fixture scale — exact
    // double arithmetic both sides, so the oracle hash-matches
    QuerySpec("q_exact_quantiles_refine", (s, d) =>
      graft.operators.Stats.exactQuantiles(
        lineitem(s, d).withColumn("sq_price",
          col("l_extendedprice") * col("l_extendedprice")),
        "sq_price", Seq(0.25, 0.5, 0.75, 0.99),
        nBuckets = 16, refineLimit = 4096L),
      """WITH c AS (SELECT l_extendedprice * l_extendedprice AS x
        |    FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM c),
        |m AS (SELECT count(*) AS n FROM c)
        |SELECT CAST(m.n AS BIGINT) AS n,
        |  max(CASE WHEN rn = CAST(ceil(0.25 * m.n) AS BIGINT) THEN x END) AS p25,
        |  max(CASE WHEN rn = CAST(ceil(0.50 * m.n) AS BIGINT) THEN x END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.75 * m.n) AS BIGINT) THEN x END) AS p75,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * m.n) AS BIGINT) THEN x END) AS p99
        |FROM r, m GROUP BY m.n""".stripMargin),
    QuerySpec("q_sessionize", (s, d) => Events.sessionize(events(s, d)),
      """WITH x AS (SELECT event_id, user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT event_id, user_id, ts,
        |  CAST(sum(CASE WHEN prev_ts IS NULL
        |      OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM x""".stripMargin),
    // ordered product funnel signup → click → purchase: per user the
    // greedy-earliest strict-time chain (fold over the sorted event list,
    // no joins); per-step user counts like every funnel dashboard
    QuerySpec("q_funnel", (s, d) =>
      Events.funnel(events(s, d), Seq("signup", "click", "purchase")),
      // greedy-earliest strict chain == min-after-min-after-min (the fold
      // advances on the first qualifying event of each sorted list)
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t,
        |    CASE event_type WHEN 'signup' THEN 0 WHEN 'click' THEN 1
        |      WHEN 'purchase' THEN 2 ELSE -1 END AS i
        |  FROM events
        |  WHERE event_type IN ('signup', 'click', 'purchase')),
        |u0 AS (SELECT user_id, min(t) AS t1 FROM e WHERE i = 0 GROUP BY 1),
        |u1 AS (SELECT e.user_id, min(e.t) AS t2 FROM e
        |  JOIN u0 ON e.user_id = u0.user_id
        |  WHERE e.i = 1 AND e.t > u0.t1 GROUP BY 1),
        |u2 AS (SELECT e.user_id, min(e.t) AS t3 FROM e
        |  JOIN u1 ON e.user_id = u1.user_id
        |  WHERE e.i = 2 AND e.t > u1.t2 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |  (SELECT CAST(count(*) AS BIGINT) FROM u0) AS n_users
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click',
        |  (SELECT CAST(count(*) AS BIGINT) FROM u1)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase',
        |  (SELECT CAST(count(*) AS BIGINT) FROM u2)""".stripMargin),
    // time-to-convert for the funnel's completers: exact integer-micros
    // durations, one final mean division
    QuerySpec("q_funnel_latency", (s, d) =>
      Events.funnelLatency(events(s, d), Seq("signup", "click", "purchase")),
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t,
        |    CASE event_type WHEN 'signup' THEN 0 WHEN 'click' THEN 1
        |      WHEN 'purchase' THEN 2 ELSE -1 END AS i
        |  FROM events
        |  WHERE event_type IN ('signup', 'click', 'purchase')),
        |u0 AS (SELECT user_id, min(t) AS t1 FROM e WHERE i = 0 GROUP BY 1),
        |u1 AS (SELECT e.user_id, min(e.t) AS t2 FROM e
        |  JOIN u0 ON e.user_id = u0.user_id
        |  WHERE e.i = 1 AND e.t > u0.t1 GROUP BY 1),
        |u2 AS (SELECT e.user_id, min(e.t) AS t3 FROM e
        |  JOIN u1 ON e.user_id = u1.user_id
        |  WHERE e.i = 2 AND e.t > u1.t2 GROUP BY 1),
        |dur AS (SELECT u2.t3 - u0.t1 AS dur_us FROM u2
        |  JOIN u0 ON u2.user_id = u0.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_completers,
        |  CAST(sum(dur_us) AS BIGINT) AS total_us,
        |  CAST(sum(dur_us) AS DOUBLE) / count(*) AS mean_us
        |FROM dur""".stripMargin),
    // cohort retention matrix: users keyed by first-seen day, counted on
    // each later active day (offset 0..7)
    QuerySpec("q_retention", (s, d) =>
      Events.cohortRetention(events(s, d))
        // comparator-safe: DATE cells type-compare differently across the
        // two readers; the ISO string is unambiguous
        .withColumn("cohort_day",
          date_format(col("cohort_day"), "yyyy-MM-dd")),
      """WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT strftime(fs.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', fs.cohort_day, act.day) AS BIGINT)
        |    AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM act JOIN fs ON act.user_id = fs.user_id
        |WHERE date_diff('day', fs.cohort_day, act.day) BETWEEN 0 AND 7
        |GROUP BY 1, 2""".stripMargin),
    // sliding (hopping) windows: 1-hour span every 15 minutes — each event
    // lands in 4 windows; the oracle replays the window math by explode
    QuerySpec("q_events_sliding", (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n_events"), col("sum_value")),
      // each event lands in exactly 4 hopping windows: the 15-min-floor and
      // the 3 slides before it (half-open [start, start+1h) like Spark)
      """WITH ks AS (SELECT unnest(range(0, 4)) AS k),
        |w AS (SELECT event_type, value,
        |    make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000)
        |      AS win_start
        |  FROM events, ks)
        |SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin),
    // OLAP rollup: (status, linenumber) -> (status) -> () subtotal levels;
    // grouping ids disambiguate NULL-as-subtotal from NULL data
    QuerySpec("q_rollup", (s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linenumber"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
          coalesce(col("l_linenumber").cast("string"), lit("<all>"))
            .as("line"),
          col("n"), col("sum_qty")),
      """SELECT coalesce(l_returnflag, '<all>') AS flag,
        |  coalesce(CAST(l_linenumber AS VARCHAR), '<all>') AS line,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linenumber)""".stripMargin),
    // pivot with a FIXED value list (deterministic schema): event counts
    // per user-bucket, one column per event type
    QuerySpec("q_pivot", (s, d) =>
      events(s, d)
        .withColumn("bucket", (col("user_id") % 10).cast("long"))
        .groupBy(col("bucket"))
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)).cast("long"))
        .na.fill(0L),
      """SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY 1""".stripMargin),
    // forward as-of: each click's NEXT purchase at or after it — the
    // mirrored carry (first over the following frame)
    QuerySpec("q_asof_fwd", (s, d) => {
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.asofJoin(clicks, purchases,
        on = Seq("user_id"), valueCols = Seq("value"), forward = true)
        .withColumn("asof_ts",
          coalesce(col("asof_ts"), lit("1970-01-01 00:00:00").cast("timestamp")))
    },
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM events
        |    WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, l.ts,
        |  coalesce(r.ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
        |  r.value AS asof_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin),
    // exact fixed-width histogram — explicit bucket arithmetic (identical
    // expression both engines; underflow→0, overflow→21)
    QuerySpec("q_price_histogram", (s, d) =>
      lineitem(s, d)
        .withColumn("bucket",
          when(col("l_extendedprice") < 0.0, 0L)
            .when(col("l_extendedprice") >= 100000.0, 21L)
            .otherwise(floor(col("l_extendedprice") / 5000.0) + 1)
            .cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double")
            .as("sum_price")),
      """SELECT CAST(CASE WHEN l_extendedprice < 0.0 THEN 0
        |    WHEN l_extendedprice >= 100000.0 THEN 21
        |    ELSE floor(l_extendedprice / 5000.0) + 1 END AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin),
    // as-of with staleness tolerance: a purchase older than 1 hour doesn't
    // qualify — matches null out, exactly like pandas merge_asof tolerance
    QuerySpec("q_asof_tol", (s, d) => {
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.asofJoin(clicks, purchases,
        on = Seq("user_id"), valueCols = Seq("value"),
        toleranceSeconds = Some(3600L))
        .withColumn("asof_ts",
          coalesce(col("asof_ts"), lit("1970-01-01 00:00:00").cast("timestamp")))
    },
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM events
        |    WHERE event_type = 'purchase'),
        |j AS (SELECT l.event_id, l.user_id, l.ts, r.ts AS rts, r.value
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND l.ts >= r.ts),
        |t AS (SELECT event_id, user_id, ts,
        |    CASE WHEN rts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(rts) <= 3600000000
        |      THEN rts END AS m_ts,
        |    CASE WHEN rts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(rts) <= 3600000000
        |      THEN value END AS m_value
        |  FROM j)
        |SELECT event_id, user_id, ts,
        |  coalesce(m_ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
        |  m_value AS asof_value
        |FROM t""".stripMargin),
    // bucketized point-in-interval range join: every click inside a 2-hour
    // post-purchase window, per user — equi-join on (user, time bucket)
    // instead of Spark's nested-loop BETWEEN plan
    QuerySpec("q_range_join", (s, d) => {
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val wins = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("win_end"),
          col("event_id").as("purchase_id"))
      graft.operators.RangeJoin.pointInInterval(clicks, wins,
        on = Seq("user_id"), tsCol = "ts", startCol = "win_start",
        endCol = "win_end", bucketSeconds = 7200,
        rightCols = Seq("purchase_id"))
    },
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS win_start,
        |    ts + INTERVAL 2 HOUR AS win_end, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts, p.win_start, p.win_end,
        |  p.purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c.ts BETWEEN p.win_start AND p.win_end""".stripMargin),
    // backward as-of join (pandas merge_asof / DuckDB ASOF JOIN): each
    // click enriched with the user's most recent purchase at or before
    // it — the union+keyed-window composition, one shuffle, no range join
    QuerySpec("q_asof_join", (s, d) => {
      val e = events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.asofJoin(clicks, purchases,
        on = Seq("user_id"), valueCols = Seq("value"))
        // comparator-safe no-match marker: null TIMESTAMP cells don't
        // value-compare (NaT != NaT); the double stays null (NaN-safe)
        .withColumn("asof_ts",
          coalesce(col("asof_ts"), lit("1970-01-01 00:00:00").cast("timestamp")))
    },
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |    WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM events
        |    WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, l.ts,
        |  coalesce(r.ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
        |  r.value AS asof_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),
    QuerySpec("q_session_stats", (s, d) =>
      Events.sessionize(events(s, d))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .withColumn("duration_s",
          (col("session_end").cast("long") - col("session_start").cast("long"))),
      """WITH x AS (SELECT event_id, user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |sess AS (SELECT event_id, user_id, ts,
        |    CAST(sum(CASE WHEN prev_ts IS NULL
        |        OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM x)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  date_diff('second', min(ts), max(ts)) AS duration_s
        |FROM sess GROUP BY 1, 2""".stripMargin),
    // skew-proof salted join: the fact side scatters per-row to one of 8
    // salt buckets, the dim side replicates to all 8 — row-identical to
    // the plain join (oracle is exactly that), hot keys spread 8-wide
    QuerySpec("q_salted_join", (s, d) =>
      graft.operators.SaltedJoin.join(
          lineitem(s, d).select("l_orderkey", "l_quantity"),
          orders(s, d).select(col("o_orderkey").as("l_orderkey"),
            col("o_orderstatus")),
          on = Seq("l_orderkey"), salts = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty")),
      """SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin),
    // ADVERSARIAL-SKEW variant (the salted-join half of the skew pair,
    // beside q_neardup_lsh_skew's cap half): 30% of fact rows collapse
    // onto ONE hot key — a catastrophic Zipf head a plain hash join would
    // put on a single task — and the salted path must stay row-identical
    // to the plain-join oracle. The task-level spread itself is pinned in
    // SaltedJoinSpec ("the hot key spreads across salt buckets"); this
    // row pins the RESULT under the skew the spread exists for.
    QuerySpec("q_salted_join_skew", (s, d) => {
      val hot = (c: org.apache.spark.sql.Column) =>
        when(c % 10 < 3, lit(0L)).otherwise(c)
      val fact = lineitem(s, d).select(hot(col("l_orderkey")).as("k"),
        col("l_quantity"))
      val dim = orders(s, d).select(hot(col("o_orderkey")).as("k"),
          col("o_orderstatus"))
        .groupBy(col("k")).agg(min(col("o_orderstatus")).as("status"))
      graft.operators.SaltedJoin.join(fact, dim, on = Seq("k"), salts = 8)
        .groupBy(col("status"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
    },
      // the plain (unsalted) join over the SAME hot-key collapse — the
      // salting must be invisible in the result
      """WITH f AS (SELECT CASE WHEN l_orderkey % 10 < 3 THEN 0
        |      ELSE l_orderkey END AS k, l_quantity FROM lineitem),
        |d AS (SELECT k, min(o_orderstatus) AS status FROM (
        |    SELECT CASE WHEN o_orderkey % 10 < 3 THEN 0
        |      ELSE o_orderkey END AS k, o_orderstatus FROM orders)
        |  GROUP BY 1)
        |SELECT d.status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(f.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM f JOIN d ON f.k = d.k
        |GROUP BY 1""".stripMargin),
    // co-located join: both sides written bucketed on the join key, then
    // sort-merge-joined with broadcast disabled — correctness gated here,
    // the NO-exchange plan shape pinned in BucketingSpec (at 100 TB this
    // deletes the dominant shuffle from every repeated fact join)
    QuerySpec("q_bucketed_join", (s, d) => {
      import graft.storage.Bucketing
      val li = lineitem(s, d).select("l_orderkey", "l_quantity",
        "l_extendedprice")
      val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
      Bucketing.writeBucketed(li, "q_bkt_lineitem", Seq("l_orderkey"), 8)
      Bucketing.writeBucketed(ord.withColumnRenamed("o_orderkey", "l_orderkey"),
        "q_bkt_orders", Seq("l_orderkey"), 8)
      s.table("q_bkt_lineitem").join(s.table("q_bkt_orders"), "l_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
    },
      """SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin),
  )
}
