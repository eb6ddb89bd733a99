package graft.queries

import graft.functions.Exact
import graft.model.EventLog
import graft.operators.{AsofJoin, Funnel, RangeJoin, Retention, Sessionize}
import graft.sources.GraftIO.fixture
import org.apache.spark.sql.functions._

/**
 * The engine's full relational surface (SURVEY §2.9: the reference has no
 * joins of its own, but the engine ships Spark's complete join/agg algebra
 * for enrichment and the pipeline extensions). Exercised on the TPC-H-ish
 * star schema.
 *
 * Broadcast policy (r18, the r15 convention applied to this surface):
 * static `broadcast()` hints appear ONLY on provably bounded relations —
 * nation (25 rows), region (5), 1-row global aggregates, histogram-scale
 * cutoff tables. Every SF-scaling side (lineitem/orders/customer/part/
 * supplier and any filter/projection of them) carries NO hint: at gate SF
 * the planner's size estimates and AQE's runtime sizes re-derive the same
 * broadcast hash joins from measured bytes, while at the 100 TB design
 * point (customer ≈ 1.5e9 rows, supplier ≈ 1e9) the same queries degrade
 * gracefully to sort-merge joins instead of an un-demotable driver OOM —
 * AQE can demote an estimate, never a user hint. PlanShapeSpec's
 * whole-surface static-broadcast walk pins this class by query name.
 */
object RelationalQueries extends QueryGroup {

  /** TPC-H Q1-shaped pricing summary: single scan, partial aggregation.
   * Money sums and averages run the [[Exact]] convention — per-row e-k
   * integer codes (lossless: TPC-H money/quantity/discount are exactly
   * 2-dp), exact integer sums, one final IEEE division; the 6-dp
   * averages use the overflow-safe split rounding so intermediates stay
   * corpus-scale-safe. */
  private val q1 = QueryDef(
    (s, d) => fixture(s, d, "lineitem")
      .filter(col("l_shipdate") <= expr("TIMESTAMP '2001-09-01 00:00:00'"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(Exact.eRow(col("l_quantity"), 2)).as("_qty_e2"),
        // the two price sums ride decimal(38,0) accumulators (eRow38):
        // these groups are O(corpus) rows (returnflag × linestatus is
        // O(1)-cardinality), so at the 100 TB design point the e4 codes
        // sum past the Long line (~1.9e20 vs 2⁶³−1) — ANSI throw or
        // silent wrap vs DuckDB's HUGEINT promotion. qty/disc stay Long
        // (small codes, ~4 orders of headroom) because sparkRatioE's
        // div/% arithmetic wants integers.
        sum(Exact.eRow38(col("l_extendedprice"), 2)).as("_price_e2"),
        sum(Exact.eRow38(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
          .as("_disc_e4"),
        sum(Exact.eRow(col("l_discount"), 2)).as("_dsc_e2"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("_qty_e2").cast("double") / 100).as("sum_qty"),
        (col("_price_e2").cast("double") / 100).as("sum_base_price"),
        (col("_disc_e4").cast("double") / 10000).as("sum_disc_price"),
        (expr(Exact.sparkRatioE("_qty_e2", "count_order", 4)).cast("double") / 1e6)
          .as("avg_qty"),
        (expr(Exact.sparkRatioE("_dsc_e2", "count_order", 4)).cast("double") / 1e6)
          .as("avg_disc"),
        col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some(s"""WITH a AS (
      |  SELECT l_returnflag, l_linestatus,
      |         sum(${Exact.sqlERow("l_quantity", 2)}) AS qty_e2,
      |         sum(${Exact.sqlERow("l_extendedprice", 2)}) AS price_e2,
      |         sum(${Exact.sqlERow("l_extendedprice * (1 - l_discount)", 4)}) AS disc_e4,
      |         sum(${Exact.sqlERow("l_discount", 2)}) AS dsc_e2,
      |         count(*) AS count_order
      |  FROM lineitem
      |  WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus,
      |       CAST(qty_e2 AS DOUBLE) / 1e2 AS sum_qty,
      |       CAST(price_e2 AS DOUBLE) / 1e2 AS sum_base_price,
      |       CAST(disc_e4 AS DOUBLE) / 1e4 AS sum_disc_price,
      |       CAST(${Exact.duckRatioE("qty_e2", "count_order", 4)} AS DOUBLE) / 1e6 AS avg_qty,
      |       CAST(${Exact.duckRatioE("dsc_e2", "count_order", 4)} AS DOUBLE) / 1e6 AS avg_disc,
      |       count_order
      |FROM a
      |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** TPC-H Q3-shaped shipping priority: two dimension joins into the fact
   * (size-elected — BHJ at gate SF, SMJ at corpus scale where the
   * date-filtered orders side is ~1.1e10 rows). */
  private val q3 = QueryDef(
    (s, d) => {
      val cust = fixture(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = fixture(s, d, "orders")
        .filter(col("o_orderdate") < expr("TIMESTAMP '1998-06-01 00:00:00'"))
      val li = fixture(s, d, "lineitem")
        .filter(col("l_shipdate") > expr("TIMESTAMP '1998-06-01 00:00:00'"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(Exact.sumE(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .select(col("o_orderkey"), unix_millis(col("o_orderdate")).as("o_orderdate_ms"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    },
    Some(s"""SELECT o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
      |       ${Exact.sqlSumE("l_extendedprice * (1 - l_discount)", 4)} AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin))

  /** Semi/anti join surface: customers with vs without orders. */
  private val j1 = QueryDef(
    (s, d) => {
      val cust = fixture(s, d, "customer")
      val ord = fixture(s, d, "orders").select(col("o_custkey"))
      val withOrders = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("with_orders"))
      val withoutOrders = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("without_orders"))
      withOrders.crossJoin(withoutOrders)
    },
    Some("""SELECT
      |  (SELECT count(*) FROM customer WHERE EXISTS
      |     (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS with_orders,
      |  (SELECT count(*) FROM customer WHERE NOT EXISTS
      |     (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS without_orders""".stripMargin))

  /** Stream-static enrichment (§2.9: TableView/state lookup inside a
   * Function): events enriched against the customer dimension by key. */
  private val j2 = QueryDef(
    (s, d) => {
      val e = EventLog.topic(s, d)
      val cust = fixture(s, d, "customer")
      e.join(cust, col("key").cast("long") + 1 === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v"))
        .orderBy(col("c_mktsegment"))
    },
    Some(s"""${EventLog.oracleCte}
      |SELECT c_mktsegment, count(*) AS n, ${Exact.sqlSumE("env.value", 2)} AS sum_v
      |FROM env JOIN customer ON CAST(env.key AS BIGINT) + 1 = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Top-k with deterministic tie-break. */
  private val j3 = QueryDef(
    (s, d) => fixture(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(Exact.sumE(col("o_totalprice"), 2).as("total"), count(lit(1)).as("n_orders"))
      .orderBy(col("total").desc, col("o_custkey")).limit(10),
    Some(s"""SELECT o_custkey, ${Exact.sqlSumE("o_totalprice", 2)} AS total, count(*) AS n_orders
      |FROM orders GROUP BY o_custkey
      |ORDER BY total DESC, o_custkey LIMIT 10""".stripMargin))

  /** J4 — backward as-of join (AsofJoin): each click enriched with the
   * user's latest purchase at-or-before it, 3-day tolerance. The oracle
   * takes DuckDB's native ASOF LEFT JOIN — an entirely different
   * algorithm (per-key binary search) than the engine's union+window
   * plan, so parity is a real two-implementation check. Timestamps stay
   * at full microsecond precision for the match; outputs truncate to ms
   * exactly like epoch_ms. */
  private val j4 = QueryDef(
    (s, d) => {
      // ts is epoch NANOS as LONG (see EventLog.raw); match at full
      // precision, truncate to ms only at output (== epoch_ms).
      val ev = EventLog.raw(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      // right side unique per (key, ts): tied-instant purchases pre-merge
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), expr("ts div 1000").as("ts_us"))
        .agg(max(col("value")).as("pv"))
      val tolMs = 3L * 86400000L
      AsofJoin.asofJoin(clicks, purch, Seq("user_id"), "ts_us", "ts_us")
        .withColumn("click_ms", expr("ts_us div 1000"))
        .withColumn("purchase_ms", expr("asof_ts div 1000"))
        .withColumn("ok",
          col("asof_ts").isNotNull && col("click_ms") - col("purchase_ms") <= tolMs)
        .select(col("event_id"), col("user_id"), col("click_ms"),
          when(col("ok"), Exact.rRow(col("pv"), 2)).as("purchase_value"),
          when(col("ok"), col("click_ms") - col("purchase_ms")).as("lag_ms"))
        .orderBy(col("event_id"))
    },
    Some("""WITH clicks AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
      |), purch AS (
      |  SELECT user_id, ts, max(value) AS pv FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id, ts
      |)
      |SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS click_ms,
      |       CASE WHEN p.ts IS NOT NULL
      |                 AND epoch_ms(c.ts) - epoch_ms(p.ts) <= 259200000
      |            THEN (CAST(floor((p.pv) * 1e2 + 0.5) AS BIGINT) / 1e2) END AS purchase_value,
      |       CASE WHEN p.ts IS NOT NULL
      |                 AND epoch_ms(c.ts) - epoch_ms(p.ts) <= 259200000
      |            THEN epoch_ms(c.ts) - epoch_ms(p.ts) END AS lag_ms
      |FROM clicks c ASOF LEFT JOIN purch p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY c.event_id""".stripMargin))

  /** J4b — forward as-of join: each signup matched to the user's first
   * error at-or-after it (no tolerance: the pure forward frame). */
  private val j4b = QueryDef(
    (s, d) => {
      val ev = EventLog.raw(s, d)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      val errs = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), expr("ts div 1000").as("ts_us"))
        .agg(min(col("event_id")).as("err_id"))
      AsofJoin.asofJoin(signups, errs, Seq("user_id"), "ts_us", "ts_us",
          forward = true)
        .select(col("event_id"), col("user_id"),
          expr("ts_us div 1000").as("signup_ms"), col("err_id"),
          (expr("asof_ts div 1000") - expr("ts_us div 1000")).as("wait_ms"))
        .orderBy(col("event_id"))
    },
    Some("""WITH signups AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
      |), err AS (
      |  SELECT user_id, ts, min(event_id) AS err_id FROM events
      |  WHERE event_type = 'error' GROUP BY user_id, ts
      |)
      |SELECT s.event_id, s.user_id, epoch_ms(s.ts) AS signup_ms, e.err_id,
      |       epoch_ms(e.ts) - epoch_ms(s.ts) AS wait_ms
      |FROM signups s ASOF LEFT JOIN err e
      |  ON s.user_id = e.user_id AND s.ts <= e.ts
      |ORDER BY s.event_id""".stripMargin))

  /** J5 — bin-bucketed range join (RangeJoin): urgent orders define
   * 3-day shipping windows; returned lineitems land in every window
   * containing their ship date. The engine quantizes to 3-day bins and
   * equi-joins (each pair meets in exactly one bin); the oracle hands
   * DuckDB the bare inequality join (IEJoin) — again two different
   * algorithms agreeing. */
  private val j5 = QueryDef(
    (s, d) => {
      val win = 3L * 86400000L
      val pts = fixture(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select(unix_millis(col("l_shipdate")).as("ship_ms"), col("l_quantity"))
      val iv = fixture(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), unix_millis(col("o_orderdate")).as("win_start"))
        .withColumn("win_end", col("win_start") + win)
      RangeJoin.pointInInterval(pts, iv, "ship_ms", "win_start", "win_end",
          binWidth = win)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_in_window"),
          Exact.sumE(col("l_quantity"), 2).as("qty_in_window"))
        .orderBy(col("o_orderkey"))
    },
    Some(s"""SELECT o_orderkey, count(*) AS n_in_window,
      |       ${Exact.sqlSumE("l_quantity", 2)} AS qty_in_window
      |FROM orders JOIN lineitem
      |  ON l_shipdate >= o_orderdate
      | AND l_shipdate < o_orderdate + INTERVAL 3 DAY
      |WHERE o_orderpriority = '1-URGENT' AND l_returnflag = 'R'
      |GROUP BY o_orderkey
      |ORDER BY o_orderkey""".stripMargin))

  /** OLAP rollup: subtotal lattice over (returnflag, linestatus) in ONE
   * scan — Catalyst expands the grouping sets into a single Expand +
   * hash aggregate with map-side partials, not one pass per level.
   * Grouping nulls are displayed as '*' so neither engine's NULL sort
   * order can touch row identity; `gid` is the grouping_id bitmask
   * (first grouping column = most significant bit, both engines). */
  private val q4 = QueryDef(
    (s, d) => fixture(s, d, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(Exact.sumE(col("l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id(col("l_returnflag"), col("l_linestatus"))
          .cast("long").as("gid"))
      .select(col("gid"),
        coalesce(col("l_returnflag"), lit("*")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("*")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("gid"), col("returnflag"), col("linestatus")),
    Some(s"""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |       coalesce(l_returnflag, '*') AS returnflag,
      |       coalesce(l_linestatus, '*') AS linestatus,
      |       ${Exact.sqlSumE("l_quantity", 2)} AS sum_qty,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, returnflag, linestatus""".stripMargin))

  /** Pivot (long→wide): order counts per priority spread across status
   * columns. Spark's relational pivot with EXPLICIT values — one hash
   * aggregate over (priority, status) partials, no per-column scan;
   * empty cells coalesce to 0 so both engines agree on the hole value. */
  private val q5 = QueryDef(
    (s, d) => {
      val statuses = Seq("F", "O", "P")
      val piv = fixture(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", statuses)
        .agg(count(lit(1)))
      piv.select(col("o_orderpriority") +:
          statuses.map(st => coalesce(col(st), lit(0L)).as(st)): _*)
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority,
      |       CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS "F",
      |       CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS "O",
      |       CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS "P"
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin))

  /** Analytic-window suite over the order history: per-customer sequence
   * number, running spend, gap to the previous order, and a global spend
   * quartile — the lag/ntile/cumulative surface in ONE windowed pass.
   * Running spend accumulates in CENTS (exact longs), because a
   * cumulative double sum is order-sensitive and engines disagree on
   * association; datediff runs on day-aligned timestamps.
   * Shape at scale: the per-customer windows run behind ONE hash
   * exchange on the customer key. The global ntile is the deliberately
   * GLOBAL operator here (that is the surface being exercised) — it is
   * computed as a SEPARATE branch and joined back on the order key, so
   * its single-partition sort serializes only the 2-column
   * (orderkey, price) projection, never the per-customer analytics
   * (composed in one frame, Catalyst reuses the ntile's single
   * partition for everything — measured, not guessed; PlanShapeSpec
   * pins the split shape). At extreme row counts the ntile branch
   * itself degenerates — the scale escape is the histogram value-cutoff
   * selection p65/p47 use, traded against ntile's exact equal-size
   * buckets. */
  private val q6 = QueryDef(
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wq = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val orders = fixture(s, d, "orders")
      val quartile = orders.select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("spend_quartile", ntile(4).over(wq).cast("long"))
        .drop("o_totalprice")
      orders
        .withColumn("cents", Exact.eRow(col("o_totalprice"), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          row_number().over(w).cast("long").as("order_seq"),
          sum(col("cents")).over(w).as("running_spend_cents"),
          lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
          datediff(col("o_orderdate"),
            lag(col("o_orderdate"), 1).over(w)).cast("long")
            .as("days_since_prev"))
        .join(quartile, Seq("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("order_seq"), col("running_spend_cents"),
          col("prev_orderkey"), col("days_since_prev"),
          col("spend_quartile"))
        .orderBy(col("o_custkey"), col("order_seq"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(row_number() OVER w AS BIGINT) AS order_seq,
      |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT)
      |    AS running_spend_cents,
      |  lag(o_orderkey, 1) OVER w AS prev_orderkey,
      |  CAST(date_diff('day', lag(o_orderdate, 1) OVER w, o_orderdate)
      |    AS BIGINT) AS days_since_prev,
      |  CAST(ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey)
      |    AS BIGINT) AS spend_quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin))

  /** Q6b — the PRODUCTION form of q6's spend quartile (the p65 value-
   * cutoff pattern): the same per-customer window suite, but the
   * quartile comes from VALUE CUTOFFS selected by a two-level
   * order-statistic selection — a coarse hundred-dollar-bucket histogram
   * (bounded domain, ~6k rows at any SF) locates each quartile rank's
   * bucket and residual rank, and a second pass refines over only that
   * bucket's cents values — so no row-scale relation is ever globally
   * sorted (q6's deliberate global ntile is the surface row this
   * replaces at 100 TB). Ties share the UPPER bucket (a value equal to
   * the cutoff counts into the richer quartile) — the value-cutoff
   * semantics, deliberately distinct from ntile's positional split and
   * identical on tie-free data. The oracle takes the opposite route:
   * one full sort, row_number, the value AT each quartile position. */
  private val q6b = QueryDef(
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wb = org.apache.spark.sql.expressions.Window
        .orderBy(col("bkt"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("cents"))
      val orders = fixture(s, d, "orders")
        .withColumn("cents", Exact.eRow(col("o_totalprice"), 2))
      // coarse histogram over hundred-dollar buckets: bounded domain →
      // the cumulative window is histogram-scale, never row-scale
      val coarse = orders.groupBy(expr("cents div 10000").as("bkt"))
        .agg(count(lit(1)).as("c"))
      val cum = coarse.withColumn("cum", sum(col("c")).over(wb))
        .withColumn("cum_before", col("cum") - col("c"))
      val nAll = coarse.agg(sum(col("c")).as("n_all"))
      // quartile ranks, ascending: desc position ceil(k·N/4) = asc rank
      // N − ceil(k·N/4) + 1, exact integer arithmetic
      val ranks = nAll.select(col("n_all"), explode(array((1 to 3).map(k =>
          struct(lit(k).as("k"),
            expr(s"n_all - ($k * n_all + 3) div 4 + 1").as("rk"))): _*))
          .as("q"))
        .select(col("q.k").as("k"), col("q.rk").as("rk"))
      val bsel = broadcast(ranks.join(cum, col("cum") >= col("rk"))
        .groupBy(col("k"), col("rk")).agg(min(col("bkt")).as("bkt"))
        .join(cum.select(col("bkt"), col("cum_before")), Seq("bkt"))
        .withColumn("resid", col("rk") - col("cum_before"))
        .select(col("k"), col("bkt"), col("resid")))
      // refine: only the selected buckets' rows (≈ N / |buckets| each)
      val cuts = orders.withColumn("bkt", expr("cents div 10000"))
        .join(bsel, Seq("bkt"))
        .groupBy(col("k"), col("resid"), col("cents"))
        .agg(count(lit(1)).as("c2"))
        .withColumn("cum2", sum(col("c2")).over(wf))
        .filter(col("cum2") >= col("resid"))
        .groupBy(col("k")).agg(min(col("cents")).as("cut"))
      val cutRow = broadcast(cuts.agg(
        max(when(col("k") === 1, col("cut"))).as("cd1"),
        max(when(col("k") === 2, col("cut"))).as("cd2"),
        max(when(col("k") === 3, col("cut"))).as("cd3")))
      orders.crossJoin(cutRow)
        .withColumn("spend_quartile",
          (lit(1) + when(col("cents") < col("cd1"), 1).otherwise(0) +
            when(col("cents") < col("cd2"), 1).otherwise(0) +
            when(col("cents") < col("cd3"), 1).otherwise(0)).cast("long"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          row_number().over(w).cast("long").as("order_seq"),
          sum(col("cents")).over(w).as("running_spend_cents"),
          lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
          datediff(col("o_orderdate"),
            lag(col("o_orderdate"), 1).over(w)).cast("long")
            .as("days_since_prev"),
          col("spend_quartile"))
        .orderBy(col("o_custkey"), col("order_seq"))
    },
    Some("""WITH o AS (
      |  SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |rk AS (SELECT cents, row_number() OVER (ORDER BY cents DESC) AS rn
      |       FROM o),
      |nn AS (SELECT count(*) AS n FROM o),
      |cut AS (SELECT
      |    max(CASE WHEN rn = (1 * n + 3) // 4 THEN cents END) AS cd1,
      |    max(CASE WHEN rn = (2 * n + 3) // 4 THEN cents END) AS cd2,
      |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS cd3
      |  FROM rk, nn)
      |SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(row_number() OVER w AS BIGINT) AS order_seq,
      |  CAST(sum(cents) OVER w AS BIGINT) AS running_spend_cents,
      |  lag(o_orderkey, 1) OVER w AS prev_orderkey,
      |  CAST(date_diff('day', lag(o_orderdate, 1) OVER w, o_orderdate)
      |    AS BIGINT) AS days_since_prev,
      |  CAST(1 + (cents < cd1)::INT + (cents < cd2)::INT
      |         + (cents < cd3)::INT AS BIGINT) AS spend_quartile
      |FROM o, cut
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin))

  /** TPC-H Q2-shaped per-group correlated subquery: for each region, the
   * supplier(s) holding that region's maximum account balance
   * (greatest-n-per-group — q7's scalar-subquery cousin, but correlated
   * per outer group instead of global). No arithmetic touches the raw
   * doubles: the max and the equality compare untouched parquet values,
   * so partial-agg order can never move the answer.
   * Shape at scale: supplier is the fact side; nation/region broadcast;
   * the per-region max is a |regions|-row aggregate broadcast back — the
   * distributed answer to a correlated subquery, never a re-scan of the
   * fact per outer row. */
  private val q2 = QueryDef(
    (s, d) => {
      val joined = fixture(s, d, "supplier")
        .join(broadcast(fixture(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(fixture(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
      val regMax = joined.groupBy(col("r_regionkey").as("mr"))
        .agg(max(col("s_acctbal")).as("max_bal"))
      joined.join(broadcast(regMax),
          col("r_regionkey") === col("mr") &&
            col("s_acctbal") === col("max_bal"))
        .select(col("r_name"), col("s_suppkey"), col("s_name"), col("n_name"),
          Exact.rRow(col("s_acctbal"), 2).as("acctbal"))
        .orderBy(col("r_name"), col("s_suppkey"))
    },
    Some("""SELECT r_name, s_suppkey, s_name, n_name,
      |       (CAST(floor((s_acctbal) * 1e2 + 0.5) AS BIGINT) / 1e2) AS acctbal
      |FROM supplier s
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE s_acctbal = (
      |  SELECT max(s2.s_acctbal)
      |  FROM supplier s2 JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |  WHERE n2.n_regionkey = n.n_regionkey)
      |ORDER BY r_name, s_suppkey""".stripMargin))

  /** TPC-H Q15-shaped scalar subquery: suppliers whose shipped revenue in
   * 1996 equals the maximum over all suppliers. Revenue accumulates as an
   * EXACT integer (cents × (100 − discount-pct)), so the max comparison
   * can never hinge on double partial-sum order.
   * Shape at scale: one fact-table agg on the supplier key; the max is a
   * 1-row broadcast; the supplier dim join is size-elected (the winner
   * set is tiny, so AQE broadcasts it at every tier). */
  private val q7 = QueryDef(
    (s, d) => {
      val rev = fixture(s, d, "lineitem")
        .filter(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP '1997-01-01 00:00:00'"))
        .groupBy(col("l_suppkey"))
        .agg(sum(Exact.eRow(col("l_extendedprice"), 2) *
          (lit(100L) - Exact.eRow(col("l_discount"), 2)))
          .as("rev_e4"))
      val top = rev.agg(max(col("rev_e4")).as("max_rev"))
      rev.crossJoin(broadcast(top))
        .filter(col("rev_e4") === col("max_rev"))
        .join(fixture(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("rev_e4"),
          Exact.rRow(col("rev_e4") / 10000.0, 2).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some("""WITH rev AS (
      |  SELECT l_suppkey,
      |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT)
      |           AS rev_e4
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name, r.rev_e4,
      |       (CAST(floor((r.rev_e4 / 10000.0) * 1e2 + 0.5) AS BIGINT) / 1e2) AS total_revenue
      |FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
      |WHERE r.rev_e4 = (SELECT max(rev_e4) FROM rev)
      |ORDER BY s.s_suppkey""".stripMargin))

  /** TPC-H Q21-shaped EXISTS + NOT-EXISTS correlation: for finished
   * orders, the suppliers whose lineitem closed the order (no other
   * lineitem shipped later) while at least one OTHER supplier was also
   * on it — Q21's "waiting behind a multi-supplier order" shape adapted
   * to this schema (no commit/receipt dates; shipdate plays the role).
   * The oracle hands DuckDB the literal correlated EXISTS / NOT EXISTS;
   * the engine expresses both as ONE per-order aggregate (distinct-
   * supplier count ⇒ EXISTS, max shipdate ⇒ NOT EXISTS) joined back on
   * the order key — the distributed rewrite of a double-correlated
   * subquery. Ties on the max shipdate count on BOTH sides (NOT EXISTS
   * strictly-later), no float anywhere.
   * Shape at scale: two fact aggs share one order-key exchange; the
   * join-back is co-partitioned on that key; the supplier dim join is
   * size-elected (BHJ at gate SF, SMJ at corpus scale). */
  private val q8 = QueryDef(
    (s, d) => {
      val li = fixture(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val fOrders = fixture(s, d, "orders")
        .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
      val perOrder = li.groupBy(col("l_orderkey").as("ok"))
        .agg(max(col("l_shipdate")).as("max_ship"),
          countDistinct(col("l_suppkey")).as("n_sup"))
      li.join(fOrders, col("l_orderkey") === col("o_orderkey"))
        .join(perOrder, col("l_orderkey") === col("ok"))
        .filter(col("n_sup") > 1 && col("l_shipdate") === col("max_ship"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(fixture(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey")).limit(10)
    },
    Some("""SELECT s_suppkey, s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders o
      |WHERE s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey
      |  AND o.o_orderstatus = 'F'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_suppkey, s_name
      |ORDER BY numwait DESC, s_suppkey LIMIT 10""".stripMargin))

  /** RANGE-frame window (the one frame type q6 doesn't cover): for each
   * order, the customer's order count and exact-cents spend over the
   * trailing 30 days INCLUSIVE of same-day peers — RANGE, not ROWS, so
   * tied order dates contribute symmetrically on both engines and the
   * result is deterministic without any intra-day tie-break. The frame
   * key is an integer epoch-day; sums are exact cents.
   * Shape at scale: one hash exchange on the customer key, in-partition
   * sort — identical cost to q6's running window. */
  private val q9 = QueryDef(
    (s, d) => {
      val day = datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-30, 0)
      fixture(s, d, "orders")
        .withColumn("day", day)
        .withColumn("cents", Exact.eRow(col("o_totalprice"), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("day"),
          count(lit(1)).over(w).as("n_30d"),
          sum(col("cents")).over(w).as("cents_30d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      |       CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
      |         AS BIGINT) AS day,
      |       CAST(count(*) OVER w AS BIGINT) AS n_30d,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w
      |         AS BIGINT) AS cents_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
      |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** TPC-H Q18-shaped large-volume orders: IN over a grouped-HAVING
   * subquery. The oracle hands DuckDB the literal `IN (SELECT ... GROUP
   * BY ... HAVING sum(qty) > T)`; the engine computes the per-order
   * quantity aggregate ONCE and reuses it as both the IN-filter and the
   * output column — the distributed rewrite that avoids scanning
   * lineitem twice. Quantities are integral doubles cast to BIGINT
   * before summing, so the HAVING comparison is exact integer math on
   * both engines.
   * Shape at scale: one lineitem exchange on the order key; the
   * filtered aggregate (a few rows per million orders) joins orders
   * co-partitioned on that key; the customer dim join is size-elected. */
  private val q10 = QueryDef(
    (s, d) => {
      val perOrder = fixture(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        .filter(col("total_qty") > 250L)
      fixture(s, d, "orders")
        .join(perOrder, col("o_orderkey") === col("l_orderkey"))
        .join(fixture(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("day"),
          Exact.eRow(col("o_totalprice"), 2).as("price_cents"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    },
    Some("""SELECT c_name, c_custkey, o_orderkey,
      |       CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
      |         AS BIGINT) AS day,
      |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey
      |                     HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY total_qty DESC, o_orderkey""".stripMargin))

  /** TPC-H Q16-shaped supplier diversity count: distinct-supplier counts
   * per part attribute group, with a NOT IN exclusion subquery (suppliers
   * below an account-balance floor play Q16's complaint filter). The
   * oracle keeps the literal NOT IN; the engine rewrites it as an anti
   * join BEFORE the distinct aggregation, so excluded suppliers never
   * enter the distinct shuffle.
   * Shape at scale: the exclusion list and part dim are size-elected
   * joins (supplier- and part-scale sides — BHJ at gate SF, SMJ at
   * corpus scale); the only other fact exchange is the two-phase
   * distinct aggregation on the group keys (partial distinct map-side). */
  private val q11 = QueryDef(
    (s, d) => {
      val part = fixture(s, d, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_size") <= 25)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val excluded = fixture(s, d, "supplier")
        .filter(col("s_acctbal") < 1000).select(col("s_suppkey"))
      fixture(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(excluded,
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    },
    Some("""SELECT p_brand, p_size,
      |       count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part, lineitem
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#1' AND p_size <= 25
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 1000)
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin))

  /** TPC-H Q22-shaped dormant-value segmentation: positive-balance
   * customers above the positive-balance average with no URGENT order,
   * rolled up by market segment. The oracle uses the literal scalar
   * subqueries and correlated NOT EXISTS; the engine broadcasts a 1-row
   * global aggregate and rewrites the correlation as an anti join
   * against the distinct urgent-customer set. The above-average test is
   * integer CROSS-MULTIPLICATION (cents × count > sum-of-cents) — no
   * division, so the comparison can never hinge on a float quotient's
   * rounding on either engine.
   * Shape at scale: the stats row broadcasts; orders reduce to distinct
   * custkeys (customer-scale) before the anti join, co-partitioned on
   * the customer key. */
  private val q12 = QueryDef(
    (s, d) => {
      val pos = fixture(s, d, "customer").filter(col("c_acctbal") > 0)
        .withColumn("cents", Exact.eRow(col("c_acctbal"), 2))
      val stats = pos.agg(count(lit(1)).as("n_pos"),
        sum(col("cents")).as("sum_cents"))
      val urgent = fixture(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      pos.crossJoin(broadcast(stats))
        .filter(col("cents") * col("n_pos") > col("sum_cents"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("cents")).as("totacctbal_cents"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""WITH pos AS (
      |  SELECT c_custkey, c_mktsegment,
      |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c_mktsegment, count(*) AS numcust,
      |       CAST(sum(cents) AS BIGINT) AS totacctbal_cents
      |FROM pos c
      |WHERE cents * (SELECT count(*) FROM pos) > (SELECT sum(cents) FROM pos)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** TPC-H Q7-shaped cross-region volume: revenue between supplier and
   * customer nation blocs per ship year, through the full 4-table join
   * chain (lineitem → supplier, → orders → customer). Revenue is the
   * exact-integer e4 form (cents × (100 − disc-pct)) — no float sum
   * anywhere — and the year comes from integer date parts.
   * Shape at scale: ONE fact exchange (lineitem ⋈ orders on the order
   * key, co-partitioned); the supplier and customer dim joins are
   * size-elected (BHJ wherever the dim fits, SMJ past it); the final
   * aggregation keys are 3 low-cardinality columns with map-side
   * partials. This is the canonical multi-dim star join — the optimizer
   * must NOT shuffle the fact table more than once beyond the dim keys
   * it genuinely needs. */
  private val q13 = QueryDef(
    (s, d) => {
      val li = fixture(s, d, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"),
        year(col("l_shipdate")).as("ship_year"),
        (Exact.eRow(col("l_extendedprice"), 2) *
          (lit(100L) - Exact.eRow(col("l_discount"), 2)))
          .as("rev_e4"))
      val sup = fixture(s, d, "supplier")
        .select(col("s_suppkey"), (col("s_nationkey") % 2).as("supp_bloc"))
      val cust = fixture(s, d, "customer")
        .select(col("c_custkey"), (col("c_nationkey") % 2).as("cust_bloc"))
      val ord = fixture(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      li.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_bloc") =!= col("cust_bloc"))
        .groupBy(col("supp_bloc"), col("cust_bloc"), col("ship_year"))
        .agg(sum(col("rev_e4")).as("revenue_e4"), count(lit(1)).as("n_items"))
        .orderBy(col("supp_bloc"), col("cust_bloc"), col("ship_year"))
    },
    Some("""SELECT CAST(s.s_nationkey % 2 AS INT) AS supp_bloc,
      |       CAST(c.c_nationkey % 2 AS INT) AS cust_bloc,
      |       CAST(year(l.l_shipdate) AS INT) AS ship_year,
      |       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) *
      |         (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
      |         AS BIGINT) AS revenue_e4,
      |       count(*) AS n_items
      |FROM lineitem l, supplier s, orders o, customer c
      |WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
      |  AND c.c_custkey = o.o_custkey
      |  AND s.s_nationkey % 2 <> c.c_nationkey % 2
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin))

  /** TPC-H Q13-shaped customer order-count distribution: LEFT join so
   * zero-order customers survive into the c_count = 0 bucket, with the
   * join predicate (not a WHERE filter) carrying the priority exclusion
   * — the aggregate-of-aggregate histogram shape.
   * Shape at scale: orders aggregate to per-customer counts on the
   * customer key (one exchange, map-side partials); the second
   * aggregation is histogram-scale. */
  private val q14 = QueryDef(
    (s, d) => {
      val ord = fixture(s, d, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_ord"))
      val perCust = fixture(s, d, "customer")
        .join(ord, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("n_ord"), lit(0L)).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""SELECT c_count, count(*) AS custdist
      |FROM (SELECT c.c_custkey,
      |        CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      |      FROM customer c LEFT JOIN orders o
      |        ON o.o_custkey = c.c_custkey
      |        AND o.o_orderpriority <> '5-LOW'
      |      GROUP BY 1)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin))

  /** TPC-H Q20-shaped dominance via correlated group-total: suppliers
   * who shipped MORE THAN 15% of a part's total quantity — the
   * "fraction of the group's aggregate" correlation. The oracle keeps
   * the literal correlated scalar subquery (per-part total recomputed
   * per row); the engine computes per-(part, supplier) and per-part
   * aggregates from ONE scan sharing ONE part-key exchange and compares
   * via integer cross-multiplication (qty·100 > total·15), no division.
   * Shape at scale: the two aggregation levels are co-partitioned on
   * the part key (the second is a partial re-agg of the first, no extra
   * fact exchange); the comparison join is part-key co-located; the
   * part dim join is size-elected. */
  private val q15 = QueryDef(
    (s, d) => {
      val ps = fixture(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("supp_qty"))
      val tot = ps.groupBy(col("l_partkey"))
        .agg(sum(col("supp_qty")).as("part_qty"),
          countDistinct(col("l_suppkey")).as("n_suppliers"))
      ps.join(tot, Seq("l_partkey"))
        .filter(col("supp_qty") * 100 > col("part_qty") * 15 &&
          col("n_suppliers") > 1)
        .join(fixture(s, d, "part"),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey").as("partkey"), col("p_name"),
          col("l_suppkey").as("suppkey"), col("supp_qty"),
          col("part_qty"), col("n_suppliers"))
        .orderBy(col("partkey"), col("suppkey"))
    },
    Some("""SELECT l.l_partkey AS partkey, p.p_name,
      |       l.l_suppkey AS suppkey,
      |       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS supp_qty,
      |       (SELECT CAST(sum(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
      |        FROM lineitem l2
      |        WHERE l2.l_partkey = l.l_partkey) AS part_qty,
      |       (SELECT count(DISTINCT l3.l_suppkey) FROM lineitem l3
      |        WHERE l3.l_partkey = l.l_partkey) AS n_suppliers
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |GROUP BY l.l_partkey, p.p_name, l.l_suppkey
      |HAVING sum(CAST(l.l_quantity AS BIGINT)) * 100 >
      |       (SELECT sum(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
      |        WHERE l2.l_partkey = l.l_partkey) * 15
      |   AND (SELECT count(DISTINCT l3.l_suppkey) FROM lineitem l3
      |        WHERE l3.l_partkey = l.l_partkey) > 1
      |ORDER BY partkey, suppkey""".stripMargin))

  /** TPC-H Q19-shaped disjunctive predicate: revenue under an
   * OR-of-AND-blocks filter mixing part attributes and lineitem
   * quantity ranges — the shape that tests whether the optimizer keeps
   * a broadcast hash join with the residual disjunction instead of
   * degenerating to a nested-loop, and pushes the per-table conjuncts
   * it can factor out (brand/size reach the part scan). Revenue in
   * exact e4 integers.
   * Shape at scale: the part dim join is size-elected; the fact table
   * is scanned once with the quantity disjuncts evaluated in the scan;
   * one 3-group aggregation with map-side partials. */
  private val q16 = QueryDef(
    (s, d) => {
      val li = fixture(s, d, "lineitem")
      val part = fixture(s, d, "part")
      li.join(part, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(5, 20) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(10, 40) &&
            col("l_quantity").between(20, 50)))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(Exact.eRow(col("l_extendedprice"), 2) *
            (lit(100L) - Exact.eRow(col("l_discount"), 2)))
            .as("revenue_e4"))
        .orderBy(col("p_brand"))
    },
    Some("""SELECT p_brand, count(*) AS n_items,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |         (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
      |         AS BIGINT) AS revenue_e4
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 5 AND 20
      |       AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 10 AND 40
      |       AND l_quantity BETWEEN 20 AND 50)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin))

  /** TPC-H Q5-shaped local-supplier volume: revenue per nation where the
   * supplier and the ordering customer share a nation — the 6-table
   * snowflake (lineitem → orders → customer → nation → region, plus
   * supplier) with the equi-constraint c_nationkey = s_nationkey.
   * Revenue in exact e4 integers.
   * Shape at scale: ONE fact exchange (lineitem ⋈ orders on the order
   * key); nation and region broadcast (bounded); the supplier and
   * customer joins are size-elected; the nation-level aggregate has
   * map-side partials. The same-nation predicate is evaluated as a
   * residual on the dim joins — the fact table never shuffles on a
   * dimension key it doesn't need. */
  private val q17 = QueryDef(
    (s, d) => {
      val li = fixture(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        (Exact.eRow(col("l_extendedprice"), 2) *
          (lit(100L) - Exact.eRow(col("l_discount"), 2)))
          .as("rev_e4"))
      val ord = fixture(s, d, "orders")
        .filter(col("o_orderdate") >= expr("TIMESTAMP '1997-01-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_custkey"))
      val sup = fixture(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val cust = fixture(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
      val nat = fixture(s, d, "nation")
      val reg = fixture(s, d, "region")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("rev_e4")).as("revenue_e4"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue_e4").desc, col("n_name"))
    },
    Some("""SELECT r_name, n_name,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |         (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
      |         AS BIGINT) AS revenue_e4,
      |       count(*) AS n_items
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY r_name, n_name
      |ORDER BY revenue_e4 DESC, n_name""".stripMargin))

  /** TPC-H Q14-shaped promotion effect: the revenue share of PROMO parts
   * per ship year, as an integer PPM ratio (promo_e4 × 10⁶ div total_e4)
   * — the conditional-aggregate-over-one-scan shape. No float division:
   * both operands are exact integer sums, so the quotient is a single
   * deterministic integer division on each engine.
   * Shape at scale: the part dim join is size-elected; one fact scan;
   * a year-keyed aggregate with map-side partials; the PPM arithmetic
   * is output-scale. */
  private val q18 = QueryDef(
    (s, d) => {
      val li = fixture(s, d, "lineitem").select(
        year(col("l_shipdate")).as("ship_year"), col("l_partkey"),
        (Exact.eRow(col("l_extendedprice"), 2) *
          (lit(100L) - Exact.eRow(col("l_discount"), 2)))
          .as("rev_e4"))
      val part = fixture(s, d, "part")
        .select(col("p_partkey"), col("p_type").startsWith("PROMO").as("promo"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("ship_year"))
        .agg(sum(when(col("promo"), col("rev_e4")).otherwise(0L))
            .as("promo_e4"),
          sum(col("rev_e4")).as("total_e4"))
        .withColumn("promo_ppm",
          expr("(promo_e4 * 1000000) div total_e4"))
        .orderBy(col("ship_year"))
    },
    Some("""SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
      |       CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN
      |           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
      |         ELSE 0 END) AS BIGINT) AS promo_e4,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |         (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
      |         AS BIGINT) AS total_e4,
      |       CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN
      |           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
      |         ELSE 0 END) * 1000000 //
      |         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
      |         AS BIGINT) AS promo_ppm
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TPC-H Q17-shaped small-quantity revenue: lineitems of Brand#2 parts
   * whose quantity is below 20% of that part's average quantity — the
   * correlated-average correlation. The oracle keeps the literal
   * correlated scalar subquery; the engine computes the per-part
   * (count, sum) aggregate once and compares by integer
   * CROSS-MULTIPLICATION (qty × n × 5 < sum), so no float quotient
   * exists on either engine.
   * Shape at scale: the per-part aggregate shares the fact's part-key
   * exchange; the filtered part dim join (still part-scale — a fixed
   * brand fraction) is size-elected into both the aggregate and the
   * final join; the qualifying-lines aggregate is per-brand
   * (output-scale). */
  private val q19 = QueryDef(
    (s, d) => {
      val brand = fixture(s, d, "part")
        .filter(col("p_brand").isin("Brand#2", "Brand#3"))
        .select(col("p_partkey"), col("p_brand"))
      val li = fixture(s, d, "lineitem").select(col("l_partkey"),
        col("l_quantity").cast("long").as("qty"),
        Exact.eRow(col("l_extendedprice"), 2).as("price_cents"))
        .join(brand, col("l_partkey") === col("p_partkey"))
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("n_li"), sum(col("qty")).as("sum_qty"))
      li.join(perPart, col("l_partkey") === col("pk"))
        .filter(col("qty") * col("n_li") * 5 < col("sum_qty"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_small"),
          sum(col("price_cents")).as("revenue_cents"))
        .orderBy(col("p_brand"))
    },
    Some("""SELECT p_brand, count(*) AS n_small,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS revenue_cents
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand IN ('Brand#2', 'Brand#3')
      |  AND CAST(l.l_quantity AS BIGINT) *
      |      (SELECT count(*) FROM lineitem l2
      |       WHERE l2.l_partkey = l.l_partkey) * 5 <
      |      (SELECT sum(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
      |       WHERE l2.l_partkey = l.l_partkey)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin))

  /** TPC-H Q11-shaped important-stock cut: parts whose total revenue
   * exceeds 1.5× the per-part AVERAGE revenue — the
   * HAVING-against-global-scalar shape, with a scale-invariant
   * threshold (a fixed fraction-of-total cut degenerates as the part
   * count grows). The oracle keeps the literal scalar subqueries; the
   * engine re-aggregates the per-part relation into the 1-row global
   * (count, total) stats (no second fact scan) and broadcasts it; the
   * comparison is integer cross-multiplication
   * (part_e4 × n_parts × 2 > total_e4 × 3), no division.
   * Shape at scale: one fact exchange on the part key; the global stats
   * are a re-agg of the per-part relation; the filter drops everything
   * below the cut before the size-elected name join. */
  private val q20 = QueryDef(
    (s, d) => {
      val perPart = fixture(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(Exact.eRow(col("l_extendedprice"), 2) *
          (lit(100L) - Exact.eRow(col("l_discount"), 2)))
          .as("part_e4"))
      val stats = perPart.agg(count(lit(1)).as("n_parts"),
        sum(col("part_e4")).as("total_e4"))
      perPart.crossJoin(broadcast(stats))
        .filter(col("part_e4") * col("n_parts") * 2 > col("total_e4") * 3)
        .join(fixture(s, d, "part"),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey").as("partkey"), col("p_name"),
          col("part_e4"))
        .orderBy(col("part_e4").desc, col("partkey"))
    },
    Some("""WITH pp AS (
      |  SELECT l_partkey,
      |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
      |           AS BIGINT) AS part_e4
      |  FROM lineitem GROUP BY 1)
      |SELECT pp.l_partkey AS partkey, p.p_name, pp.part_e4
      |FROM pp JOIN part p ON p.p_partkey = pp.l_partkey
      |WHERE pp.part_e4 * (SELECT count(*) FROM pp) * 2 >
      |      (SELECT sum(part_e4) FROM pp) * 3
      |ORDER BY part_e4 DESC, partkey""".stripMargin))

  /** TPC-H Q10-shaped returned-item report: top 20 customers by revenue
   * on returned lines (l_returnflag = 'R'), enriched with the nation
   * dim — the classic top-k-over-join reporting query.
   * Shape at scale: the returnflag filter reaches the fact scan; ONE
   * fact exchange (lineitem ⋈ orders on the order key); the customer
   * join is size-elected and
   * nation broadcast; the per-customer aggregate carries map-side
   * partials and the top-20 is a TakeOrdered, never a global sort. */
  private val q21 = QueryDef(
    (s, d) => {
      val li = fixture(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (Exact.eRow(col("l_extendedprice"), 2) *
            (lit(100L) - Exact.eRow(col("l_discount"), 2)))
            .as("rev_e4"))
      val ord = fixture(s, d, "orders")
        .filter(col("o_orderdate") >= expr("TIMESTAMP '1997-06-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_custkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("rev_e4")).as("revenue_e4"),
          count(lit(1)).as("n_returned"))
        .join(fixture(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(fixture(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          Exact.eRow(col("c_acctbal"), 2).as("acctbal_cents"),
          col("revenue_e4"), col("n_returned"))
        .orderBy(col("revenue_e4").desc, col("c_custkey")).limit(20)
    },
    Some("""SELECT c_custkey, c_name, n_name,
      |       CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |         (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
      |         AS BIGINT) AS revenue_e4,
      |       count(*) AS n_returned
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |  AND o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name, c_acctbal
      |ORDER BY revenue_e4 DESC, c_custkey LIMIT 20""".stripMargin))

  /** TPC-H Q4-shaped priority check: orders placed in a half-year window
   * with at least one line shipped more than 60 days after the order
   * date, counted per priority. The oracle keeps the literal correlated
   * EXISTS; the engine is a LEFT SEMI join whose condition carries the
   * non-equi lateness predicate on top of the order-key equality — the
   * decorrelation every planner applies to Q4.
   * Shape at scale: semi join co-partitioned on the order key (both
   * sides shuffle once on that key; nothing materializes the duplicate
   * matches); the priority aggregate is output-scale (5 rows). */
  private val q22 = QueryDef(
    (s, d) => {
      val ord = fixture(s, d, "orders")
        .filter(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP '1996-07-01 00:00:00'"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = fixture(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_late_orders"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n_late_orders
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** TPC-H Q12-shaped priority split: lines shipped in 1996 classified by
   * their order's priority class — the join-then-two-conditional-counts
   * shape (shipmode is not in this schema; returnflag plays its role).
   * Shape at scale: ONE fact exchange (lineitem⋈orders on the order
   * key, both sides large so neither broadcasts at 100 TB); the CASE
   * split rides the aggregate's map-side partials; output is
   * flag-cardinality rows. */
  private val q23 = QueryDef(
    (s, d) => {
      val li = fixture(s, d, "lineitem")
        .filter(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP '1997-01-01 00:00:00'"))
        .select(col("l_orderkey"), col("l_returnflag"))
      val ord = fixture(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
            .as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** TPC-H Q6-shaped forecast revenue: the zero-join filter-aggregate.
   * Q6 revenue is price × discount (the amount the discount "cost"), in
   * exact integer e4 (cents × pct). The date and quantity predicates
   * push into the parquet scan (min/max pruning skips whole row groups
   * at 100 TB when the data is date-sorted); the discount band compares
   * the rounded integer pct, matching the oracle digit for digit.
   * Shape at scale: one scan, one 1-row aggregate — embarrassingly
   * parallel, partial sums only. */
  private val q24 = QueryDef(
    (s, d) => fixture(s, d, "lineitem")
      .filter(col("l_shipdate") >= expr("TIMESTAMP '1997-01-01 00:00:00'") &&
        col("l_shipdate") < expr("TIMESTAMP '1998-01-01 00:00:00'") &&
        col("l_quantity") < 24)
      .select((Exact.eRow(col("l_extendedprice"), 2) *
        Exact.eRow(col("l_discount"), 2)).as("disc_e4"),
        Exact.eRow(col("l_discount"), 2).as("disc_pct"))
      .filter(col("disc_pct") >= 4 && col("disc_pct") <= 6)
      .agg(sum(col("disc_e4")).as("revenue_e4"), count(lit(1)).as("n_lines")),
    Some("""SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
      |       count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_quantity < 24
      |  AND CAST(floor(l_discount * 100 + 0.5) AS BIGINT) BETWEEN 4 AND 6""".stripMargin))

  /** TPC-H Q8-shaped market share: of the revenue on orders placed by
   * ASIA-region customers, the fraction supplied by NATION_7 suppliers,
   * per order year, as integer PPM (both operands exact integer sums, so
   * the quotient is one deterministic integer division).
   * Shape at scale: ONE fact exchange (lineitem⋈orders on the order
   * key); nation/region broadcast (bounded) to prune customer and stamp
   * the supplier flag, while the customer semi join and the supplier
   * join are size-elected (both SF-scaling); the share arithmetic is
   * per-year output-scale. The region prune on customer is itself a
   * LEFT SEMI against the ≤25-row ASIA-nation key set rather than an
   * inner join chain: same rows, and the semi join's output statistics
   * stay customer-sized (an inner chain multiplies size estimates
   * through, which blocked the planner's own gate-SF broadcast election
   * downstream — measured +0.5 s on this query in the r18 hint sweep). */
  private val q25 = QueryDef(
    (s, d) => {
      val nat = fixture(s, d, "nation")
      val reg = fixture(s, d, "region").filter(col("r_name") === "ASIA")
      val asiaNations = nat
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"),
          "left_semi")
        .select(col("n_nationkey"))
      val cust = fixture(s, d, "customer")
        .join(broadcast(asiaNations),
          col("c_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("c_custkey"))
      val ord = fixture(s, d, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("order_year"))
      val sup = fixture(s, d, "supplier")
        .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
          col("n_name").as("sn_name"))), col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), (col("sn_name") === "NATION_7").as("is_target"))
      val li = fixture(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        (Exact.eRow(col("l_extendedprice"), 2) *
          (lit(100L) - Exact.eRow(col("l_discount"), 2)))
          .as("rev_e4"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("order_year"))
        .agg(sum(when(col("is_target"), col("rev_e4")).otherwise(0L))
            .as("target_e4"),
          sum(col("rev_e4")).as("total_e4"))
        .withColumn("share_ppm", expr("(target_e4 * 1000000) div total_e4"))
        .orderBy(col("order_year"))
    },
    Some("""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
      |       CAST(sum(CASE WHEN sn.n_name = 'NATION_7' THEN
      |           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
      |         ELSE 0 END) AS BIGINT) AS target_e4,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |         (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
      |         AS BIGINT) AS total_e4,
      |       CAST(sum(CASE WHEN sn.n_name = 'NATION_7' THEN
      |           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
      |         ELSE 0 END) * 1000000 //
      |         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
      |         AS BIGINT) AS share_ppm
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** CUBE lattice over (returnflag, linestatus): all four grouping sets
   * (the ROLLUP q4 covers three) with the grouping_id bitmask — Spark
   * plans ONE Expand + hash aggregate with map-side partials, not one
   * pass per set. Measures are exact integers (qty e2 / revenue e4). */
  private val q26 = QueryDef(
    (s, d) => fixture(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        Exact.eRow(col("l_quantity"), 2).as("qty_e2"),
        (Exact.eRow(col("l_extendedprice"), 2) *
          (lit(100L) - Exact.eRow(col("l_discount"), 2)))
          .as("rev_e4"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("qty_e2")).as("sum_qty_e2"),
        sum(col("rev_e4")).as("sum_rev_e4"),
        count(lit(1)).as("n"),
        grouping_id(col("l_returnflag"), col("l_linestatus"))
          .cast("long").as("gid"))
      .select(col("gid"),
        coalesce(col("l_returnflag"), lit("*")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("*")).as("linestatus"),
        col("sum_qty_e2"), col("sum_rev_e4"), col("n"))
      .orderBy(col("gid"), col("returnflag"), col("linestatus")),
    Some("""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |       coalesce(l_returnflag, '*') AS returnflag,
      |       coalesce(l_linestatus, '*') AS linestatus,
      |       CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |         AS sum_qty_e2,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |         (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
      |         AS BIGINT) AS sum_rev_e4,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, returnflag, linestatus""".stripMargin))

  /** Exact distributed quantiles on the relational surface: per-flag
   * median and P90 of the line price in cents, by order-statistic
   * selection over the (flag, cents) histogram — no global sort, no
   * interpolation (type-1 quantile: the ⌈q·n⌉-th smallest value), so
   * the answer is a value that exists in the data and both engines
   * agree bit-for-bit. The oracle takes the opposite algorithm: full
   * per-flag sort + row_number.
   * Shape at scale: the histogram is one hash aggregate (distinct
   * cents ≪ rows); the cumulative window runs over histogram rows,
   * never data rows — the same discipline as the corpus-side p47. */
  private val q27 = QueryDef(
    (s, d) => {
      val li = fixture(s, d, "lineitem")
      graft.pipeline.CorpusOps.exactQuantiles(li,
          col("l_returnflag"),
          Exact.eRow(col("l_extendedprice"), 2),
          Seq((1, 2), (9, 10)))
        .select(col("source").as("l_returnflag"), col("q"), col("n"),
          col("rank"), col("value"))
        .orderBy(col("l_returnflag"), col("q"))
    },
    Some("""WITH v AS (
      |  SELECT l_returnflag AS f,
      |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM lineitem),
      |r AS (SELECT f, v,
      |             row_number() OVER (PARTITION BY f ORDER BY v) AS rn,
      |             count(*) OVER (PARTITION BY f) AS n
      |      FROM v),
      |qs AS (SELECT * FROM (VALUES (1, 2), (9, 10)) t(qnum, qden))
      |SELECT f AS l_returnflag,
      |       (CAST(floor((CAST(qnum AS DOUBLE) / qden) * 1e4 + 0.5) AS BIGINT) / 1e4) AS q,
      |       CAST(n AS BIGINT) AS n,
      |       CAST((qnum * n + qden - 1) // qden AS BIGINT) AS rank,
      |       v AS value
      |FROM r JOIN qs ON rn = (qnum * n + qden - 1) // qden
      |ORDER BY l_returnflag, q""".stripMargin))

  /** Explicit set algebra (INTERSECT / EXCEPT with set semantics):
   * customers active in BOTH 1996 and 1997 minus those who filed a
   * return against a 1997 order — the §2.8 surface as first-class
   * relational operators (the
   * engine's other set ops ride unionByName and anti joins). Spark plans
   * INTERSECT/EXCEPT as distinct-aggregates + semi/anti joins — each
   * year-slice reduces to its distinct key set BEFORE any join, so the
   * set ops are key-cardinality work, never order-row work. */
  private val q28 = QueryDef(
    (s, d) => {
      val ord = fixture(s, d, "orders")
      def activeIn(y: Int) = ord
        .filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
      val returned = ord
        .filter(year(col("o_orderdate")) === 1997)
        .join(fixture(s, d, "lineitem").filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_custkey"))
      activeIn(1996).intersect(activeIn(1997)).except(returned)
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
      |EXCEPT
      |SELECT o_custkey FROM orders
      |WHERE year(o_orderdate) = 1997
      |  AND o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     WHERE l_returnflag = 'R')
      |ORDER BY o_custkey""".stripMargin))

  /** Ordered conversion funnel (signup → view → click → purchase) with
   * GREEDY stage chaining: each stage's timestamp is the user's earliest
   * qualifying event strictly after the previous stage. The four
   * chained minimums are per-user window aggregates over ONE user-key
   * exchange (same partitioning, no ordering, so Catalyst fuses them
   * into a single Window operator); the funnel report is a 1-row
   * aggregate exploded to 4 stage rows with exact integer PPM
   * conversions. The oracle replays the chain with literal correlated
   * scalar subqueries — a genuinely different formulation. */
  private val q29 = QueryDef(
    (s, d) => Funnel.report(Funnel.stageTimes(
      EventLog.raw(s, d).select(col("user_id"), col("event_type"),
        expr("ts div 1000000").as("ms")))),
    Some("""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |u AS (SELECT DISTINCT user_id FROM e),
      |s4 AS (
      |  SELECT user_id,
      |    (SELECT min(ms) FROM e WHERE e.user_id = u.user_id
      |      AND event_type = 'signup') AS t1,
      |    (SELECT min(ms) FROM e WHERE e.user_id = u.user_id
      |      AND event_type = 'view'
      |      AND ms > (SELECT min(ms) FROM e e2 WHERE e2.user_id = u.user_id
      |                AND event_type = 'signup')) AS t2,
      |    (SELECT min(ms) FROM e WHERE e.user_id = u.user_id
      |      AND event_type = 'click'
      |      AND ms > (SELECT min(ms) FROM e e2 WHERE e2.user_id = u.user_id
      |        AND event_type = 'view'
      |        AND ms > (SELECT min(ms) FROM e e3 WHERE e3.user_id = u.user_id
      |                  AND event_type = 'signup'))) AS t3,
      |    (SELECT min(ms) FROM e WHERE e.user_id = u.user_id
      |      AND event_type = 'purchase'
      |      AND ms > (SELECT min(ms) FROM e e2 WHERE e2.user_id = u.user_id
      |        AND event_type = 'click'
      |        AND ms > (SELECT min(ms) FROM e e3 WHERE e3.user_id = u.user_id
      |          AND event_type = 'view'
      |          AND ms > (SELECT min(ms) FROM e e4 WHERE e4.user_id = u.user_id
      |                    AND event_type = 'signup')))) AS t4
      |  FROM u),
      |f AS (SELECT count(*) AS n_total, count(t1) AS n1, count(t2) AS n2,
      |             count(t3) AS n3, count(t4) AS n4 FROM s4)
      |SELECT st.stage, st.stage_name,
      |       CAST(CASE st.stage WHEN 1 THEN n1 WHEN 2 THEN n2
      |                          WHEN 3 THEN n3 ELSE n4 END AS BIGINT) AS n_users,
      |       CAST(CASE WHEN n_total > 0 THEN
      |           (CASE st.stage WHEN 1 THEN n1 WHEN 2 THEN n2
      |                          WHEN 3 THEN n3 ELSE n4 END) * 1000000 // n_total
      |         ELSE 0 END AS BIGINT) AS conv_ppm,
      |       CAST(CASE WHEN (CASE st.stage WHEN 1 THEN n_total WHEN 2 THEN n1
      |                       WHEN 3 THEN n2 ELSE n3 END) > 0 THEN
      |           (CASE st.stage WHEN 1 THEN n1 WHEN 2 THEN n2
      |                          WHEN 3 THEN n3 ELSE n4 END) * 1000000 //
      |           (CASE st.stage WHEN 1 THEN n_total WHEN 2 THEN n1
      |                          WHEN 3 THEN n2 ELSE n3 END)
      |         ELSE 0 END AS BIGINT) AS step_ppm
      |FROM f CROSS JOIN (VALUES (CAST(1 AS BIGINT), 'signup'),
      |  (CAST(2 AS BIGINT), 'view'), (CAST(3 AS BIGINT), 'click'),
      |  (CAST(4 AS BIGINT), 'purchase')) st(stage, stage_name)
      |ORDER BY stage""".stripMargin))

  /** Weekly retention-cohort matrix: users grouped by the week of their
   * first event; for every later week, the fraction still active, in
   * exact integer PPM. Epoch-day/week arithmetic is all integer
   * division, so both engines derive identical cohorts and offsets.
   * Shape at scale: the cohort assignment is one user-key aggregate; the
   * activity join is co-partitioned on the user key; the matrix is
   * |cohorts|×|weeks| output-scale. */
  private val q30 = QueryDef(
    (s, d) => Retention.matrix(EventLog.raw(s, d)
      .select(col("user_id"), expr("(ts div 1000000) div 86400000").as("day"))),
    Some("""WITH e AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day,
      |             min(day) // 7 AS cohort_week
      |      FROM e GROUP BY user_id),
      |sz AS (SELECT cohort_week, count(*) AS cohort_size
      |       FROM c GROUP BY cohort_week),
      |act AS (
      |  SELECT DISTINCT c.cohort_week, (e.day - c.cohort_day) // 7 AS offset_week,
      |         e.user_id
      |  FROM e JOIN c ON e.user_id = c.user_id),
      |am AS (SELECT cohort_week, offset_week, count(*) AS n_active
      |       FROM act GROUP BY cohort_week, offset_week)
      |SELECT am.cohort_week, am.offset_week,
      |       CAST(am.n_active AS BIGINT) AS n_active,
      |       CAST(sz.cohort_size AS BIGINT) AS cohort_size,
      |       CAST(am.n_active * 1000000 // sz.cohort_size AS BIGINT)
      |         AS retention_ppm
      |FROM am JOIN sz ON am.cohort_week = sz.cohort_week
      |ORDER BY am.cohort_week, offset_week""".stripMargin))

  /** J6 — nearest-in-either-direction as-of join (AsofJoin.asofNearest):
   * each click matched to the user's CLOSEST purchase within ±2 days,
   * ties to the earlier purchase; the signed lag says which side won.
   * The oracle is a correlated LATERAL min-gap pick — a per-row search,
   * a genuinely different algorithm from the engine's two window frames
   * over one key exchange. Matching at full microsecond precision, ms
   * only at output (the j4 discipline), so a sub-millisecond gap
   * difference can never flip the chosen side on one engine only. */
  private val j6 = QueryDef(
    (s, d) => {
      val ev = EventLog.raw(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), expr("ts div 1000").as("ts_us"))
        .agg(max(col("value")).as("pv"))
      val tolUs = 2L * 86400000L * 1000L
      AsofJoin.asofNearest(clicks, purch, Seq("user_id"), "ts_us", "ts_us",
          tolerance = Some(tolUs))
        .withColumn("click_ms", expr("ts_us div 1000"))
        .withColumn("purchase_ms", expr("asof_ts div 1000"))
        .select(col("event_id"), col("user_id"), col("click_ms"),
          Exact.rRow(col("pv"), 2).as("purchase_value"),
          (col("click_ms") - col("purchase_ms")).as("lag_ms"))
        .orderBy(col("event_id"))
    },
    Some("""WITH clicks AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'click'
      |), purch AS (
      |  SELECT user_id, epoch_us(ts) AS us, max(value) AS pv FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id, epoch_us(ts)
      |)
      |SELECT c.event_id, c.user_id, c.us // 1000 AS click_ms,
      |       (CAST(floor((m.pv) * 1e2 + 0.5) AS BIGINT) / 1e2) AS purchase_value,
      |       c.us // 1000 - m.us // 1000 AS lag_ms
      |FROM clicks c LEFT JOIN LATERAL (
      |  SELECT p.us, p.pv FROM purch p
      |  WHERE p.user_id = c.user_id
      |    AND greatest(c.us - p.us, p.us - c.us) <= 172800000000
      |  ORDER BY greatest(c.us - p.us, p.us - c.us), p.us LIMIT 1) m ON TRUE
      |ORDER BY c.event_id""".stripMargin))

  /** Arbitrary GROUPING SETS (neither ROLLUP q4 nor CUBE q26): the two
   * single-dimension marginals WITHOUT the intersection or grand total
   * — Spark still plans ONE Expand (×2) + hash aggregate, proving the
   * lattice operator handles sparse set lists, not just the dense
   * prefixes. Exact integer measures. */
  private val q31 = QueryDef(
    (s, d) => {
      val li = fixture(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          Exact.eRow(col("l_quantity"), 2).as("qty_e2"))
      // GROUPING SETS ((l_returnflag), (l_linestatus)) via SQL — the
      // DataFrame API exposes only rollup/cube; the lattice form is SQL.
      // The view name is unique per invocation and dropped immediately
      // after sql() (analysis is eager, so the returned plan no longer
      // needs it) — no shared session-catalog state to race or clobber.
      val view = "gs_lineitem_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      li.createOrReplaceTempView(view)
      val out = li.sparkSession.sql(
        s"""SELECT CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |       coalesce(l_returnflag, '*') AS returnflag,
          |       coalesce(l_linestatus, '*') AS linestatus,
          |       CAST(sum(qty_e2) AS BIGINT) AS sum_qty_e2,
          |       count(*) AS n
          |FROM $view
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY gid, returnflag, linestatus""".stripMargin)
      li.sparkSession.catalog.dropTempView(view)
      out
    },
    Some("""SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |       coalesce(l_returnflag, '*') AS returnflag,
      |       coalesce(l_linestatus, '*') AS linestatus,
      |       CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |         AS sum_qty_e2,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY gid, returnflag, linestatus""".stripMargin))

  /** RFM customer segmentation over the event log: per-user recency
   * (days since last event vs the log's horizon), frequency (events),
   * monetary (exact cents), each scored 1–5 against exact quintile
   * cutoffs from the order-statistic histogram (score = 1 + cutoffs
   * strictly below the value; rawer is higher). The oracle derives the
   * same cutoffs by the OPPOSITE algorithm (full sort + row_number) and
   * replays the scoring.
   * Shape at scale: one user-key aggregate; quintile cutoffs are
   * histogram-scale (p47's engine path); scoring joins a 12-row
   * broadcast. */
  private val q32 = QueryDef(
    (s, d) => {
      val ev = EventLog.raw(s, d)
        .select(col("user_id"), expr("(ts div 1000000) div 86400000").as("day"),
          Exact.eRow(col("value"), 2).as("cents"))
      val horizon = ev.agg(max(col("day")).as("h"))
      val rfm = ev.groupBy(col("user_id"))
        .agg(max(col("day")).as("last_day"), count(lit(1)).as("frequency"),
          sum(col("cents")).as("monetary_cents"))
        .crossJoin(broadcast(horizon))
        .withColumn("recency_days", col("h") - col("last_day"))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary_cents"))
      val qs = Seq((1, 5), (2, 5), (3, 5), (4, 5))
      def cuts(metric: String) = graft.pipeline.CorpusOps
        .exactQuantiles(rfm, lit("all"), col(metric), qs)
        .select(lit(metric).as("metric"), col("value").as("cut"))
      val allCuts = cuts("recency_days")
        .unionByName(cuts("frequency"))
        .unionByName(cuts("monetary_cents"))
      def score(metric: String) =
        sum(when(col("metric") === metric && col(metric) > col("cut"), 1L)
          .otherwise(0L)) + 1L
      rfm.crossJoin(broadcast(allCuts))
        .groupBy(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary_cents"))
        .agg(score("recency_days").as("r_score"),
          score("frequency").as("f_score"),
          score("monetary_cents").as("m_score"))
        .withColumn("rfm", expr("r_score * 100 + f_score * 10 + m_score"))
        .orderBy(col("user_id"))
    },
    Some("""WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |rfm AS (
      |  SELECT user_id,
      |         (SELECT max(day) FROM ev) - max(day) AS recency_days,
      |         count(*) AS frequency,
      |         CAST(sum(cents) AS BIGINT) AS monetary_cents
      |  FROM ev GROUP BY user_id),
      |qs AS (SELECT unnest([1, 2, 3, 4]) AS qn),
      |cuts AS (
      |  SELECT m.metric, qs.qn,
      |         CASE m.metric
      |           WHEN 'r' THEN (SELECT v FROM (
      |             SELECT recency_days AS v,
      |                    row_number() OVER (ORDER BY recency_days) AS rn,
      |                    count(*) OVER () AS n FROM rfm) t
      |             WHERE rn = (qs.qn * n + 4) // 5 LIMIT 1)
      |           WHEN 'f' THEN (SELECT v FROM (
      |             SELECT frequency AS v,
      |                    row_number() OVER (ORDER BY frequency) AS rn,
      |                    count(*) OVER () AS n FROM rfm) t
      |             WHERE rn = (qs.qn * n + 4) // 5 LIMIT 1)
      |           ELSE (SELECT v FROM (
      |             SELECT monetary_cents AS v,
      |                    row_number() OVER (ORDER BY monetary_cents) AS rn,
      |                    count(*) OVER () AS n FROM rfm) t
      |             WHERE rn = (qs.qn * n + 4) // 5 LIMIT 1)
      |         END AS cut
      |  FROM (SELECT unnest(['r', 'f', 'm']) AS metric) m, qs)
      |SELECT rfm.user_id, rfm.recency_days, rfm.frequency,
      |       rfm.monetary_cents,
      |       CAST(1 + (SELECT count(*) FROM cuts
      |                 WHERE metric = 'r' AND rfm.recency_days > cut)
      |         AS BIGINT) AS r_score,
      |       CAST(1 + (SELECT count(*) FROM cuts
      |                 WHERE metric = 'f' AND rfm.frequency > cut)
      |         AS BIGINT) AS f_score,
      |       CAST(1 + (SELECT count(*) FROM cuts
      |                 WHERE metric = 'm' AND rfm.monetary_cents > cut)
      |         AS BIGINT) AS m_score,
      |       CAST((1 + (SELECT count(*) FROM cuts
      |                  WHERE metric = 'r' AND rfm.recency_days > cut)) * 100 +
      |            (1 + (SELECT count(*) FROM cuts
      |                  WHERE metric = 'f' AND rfm.frequency > cut)) * 10 +
      |            (1 + (SELECT count(*) FROM cuts
      |                  WHERE metric = 'm' AND rfm.monetary_cents > cut))
      |         AS BIGINT) AS rfm
      |FROM rfm ORDER BY user_id""".stripMargin))

  /** J7 — interval×interval overlap join (RangeJoin.intervalOverlap):
   * for every urgent order's 3-day window, the high-priority windows it
   * overlaps and the total overlap mass in exact ms. The oracle is the
   * bare inequality join; the engine pays one co-partitioned bin
   * shuffle with the max(start)-bin dedup rule — every pair meets
   * exactly once, no DISTINCT pass. */
  private val j7 = QueryDef(
    (s, d) => {
      val win = 3L * 86400000L
      def windows(prio: String, prefix: String) =
        fixture(s, d, "orders").filter(col("o_orderpriority") === prio)
          .select(col("o_orderkey").as(s"${prefix}_key"),
            unix_millis(col("o_orderdate")).as(s"${prefix}_s"))
          .withColumn(s"${prefix}_e", col(s"${prefix}_s") + win)
      RangeJoin.intervalOverlap(
          windows("1-URGENT", "u"), windows("2-HIGH", "h"),
          "u_s", "u_e", "h_s", "h_e", binWidth = win)
        .groupBy(col("u_key"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("u_e"), col("h_e")) -
            greatest(col("u_s"), col("h_s"))).as("overlap_ms"))
        .orderBy(col("u_key"))
    },
    Some("""WITH u AS (
      |  SELECT o_orderkey AS u_key, epoch_ms(o_orderdate) AS u_s,
      |         epoch_ms(o_orderdate) + 259200000 AS u_e
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |h AS (
      |  SELECT o_orderkey AS h_key, epoch_ms(o_orderdate) AS h_s,
      |         epoch_ms(o_orderdate) + 259200000 AS h_e
      |  FROM orders WHERE o_orderpriority = '2-HIGH')
      |SELECT u_key, count(*) AS n_overlaps,
      |       CAST(sum(least(u_e, h_e) - greatest(u_s, h_s)) AS BIGINT)
      |         AS overlap_ms
      |FROM u JOIN h ON u_s < h_e AND h_s < u_e
      |GROUP BY u_key ORDER BY u_key""".stripMargin))

  /** The complete ranking-function inventory in ONE window pass —
   * rank / dense_rank / percent_rank / cume_dist over a column WITH
   * ties (quantity), so the tie semantics of every function are
   * exercised, not just the happy path (q6 covers row_number/ntile/
   * lag). Tied rows share every ranking value, so the output collapses
   * to the distinct (flag, qty) grain — compact and deterministic.
   * percent_rank/cume_dist are IEEE divisions of exact integers:
   * bit-identical across engines, no rounding needed. */
  private val q33 = QueryDef(
    // Order statistics from the per-(flag, value) HISTOGRAM, not a
    // row-level window (r21, guide §2.5): l_returnflag has 3 values, so
    // the old rank/percent_rank window over every lineitem row ran in ≤3
    // tasks (measured: two serial ~1 s single-task window stages at
    // sf0.1), and at 100 TB one task would sort a third of the corpus.
    // Every output is a pure function of the (flag, qty) counts: all
    // rows of a group are window-ties, so rank = rows-below + 1 =
    // cum − n_rows + 1, dense_rank = the group's position (row_number
    // over the histogram), percent_rank = (rank−1)/(N−1) and cume_dist =
    // cum/N with the SAME integer inputs and ONE final IEEE division
    // each — bit-identical to the window form (oracle unchanged). The
    // corpus-scale work is now one map-side-partial hash aggregate; the
    // windows run over the ~150-row histogram.
    (s, d) => {
      val byFlag = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
      val ordered = byFlag.orderBy(col("qty_e2"))
      fixture(s, d, "lineitem")
        .select(col("l_returnflag"),
          Exact.eRow(col("l_quantity"), 2).as("qty_e2"))
        .groupBy(col("l_returnflag"), col("qty_e2"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("cum", sum(col("n_rows")).over(ordered))
        .withColumn("n", sum(col("n_rows")).over(byFlag))
        .withColumn("rnk", col("cum") - col("n_rows") + 1L)
        .withColumn("drnk", row_number().over(ordered).cast("long"))
        .withColumn("prank", when(col("n") === 1L, lit(0.0))
          .otherwise((col("rnk") - 1L).cast("double") /
            (col("n") - 1L).cast("double")))
        .withColumn("cdist",
          col("cum").cast("double") / col("n").cast("double"))
        .select(col("l_returnflag"), col("qty_e2"), col("n_rows"),
          col("rnk"), col("drnk"), col("prank"), col("cdist"))
        .orderBy(col("l_returnflag"), col("qty_e2"))
    },
    Some("""WITH r AS (
      |  SELECT l_returnflag,
      |         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_e2,
      |         CAST(rank() OVER w AS BIGINT) AS rnk,
      |         CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      |         percent_rank() OVER w AS prank,
      |         cume_dist() OVER w AS cdist
      |  FROM lineitem
      |  WINDOW w AS (PARTITION BY l_returnflag
      |               ORDER BY CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)))
      |SELECT l_returnflag, qty_e2, count(*) AS n_rows,
      |       min(rnk) AS rnk, min(drnk) AS drnk,
      |       min(prank) AS prank, min(cdist) AS cdist
      |FROM r GROUP BY l_returnflag, qty_e2
      |ORDER BY l_returnflag, qty_e2""".stripMargin))

  /** Q34 — gap-based sessionization (30-minute idle gap): one row per
   * (user, session) with event count, bounds, and exact duration. The
   * engine's lag + running-sum windows share ONE user-key exchange and
   * fuse into a single Window operator ([[Sessionize]]); the roll-up is
   * a co-partitioned hash agg — no second event shuffle. The streaming
   * twin (StreamingSpec "sessionizer-q34") converges to this SAME
   * relation. */
  private val q34 = QueryDef(
    (s, d) => Sessionize.sessions(
      EventLog.raw(s, d).select(col("user_id"), col("event_id"),
        expr("ts div 1000000").as("ms")), gapMs = 1800000L)
      .orderBy(col("user_id"), col("session_idx")),
    Some("""WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      |a AS (SELECT user_id, event_id, ms,
      |        CASE WHEN ms - lag(ms) OVER
      |               (PARTITION BY user_id ORDER BY ms, event_id) <= 1800000
      |             THEN 0 ELSE 1 END AS ns
      |      FROM e),
      |b AS (SELECT user_id, ms,
      |        CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      |      FROM a)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |       min(ms) AS start_ms, max(ms) AS end_ms,
      |       max(ms) - min(ms) AS duration_ms
      |FROM b GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin))

  /** Q35 — TPC-H Q9-shaped profit roll-up: net amount (revenue minus the
   * tax bill) per nation per ship year for widget parts. All money stays
   * exact-integer e4 (cents × e2 factors); nation broadcasts (25 rows),
   * the part/supplier joins are size-elected, and the fact table
   * shuffles ONCE on the (nation, year) agg key at gate SF. */
  private val q35 = QueryDef(
    (s, d) => {
      val widget = fixture(s, d, "part").filter(col("p_name").contains("widget"))
        .select(col("p_partkey"))
      val sup = fixture(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = fixture(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      fixture(s, d, "lineitem")
        .join(widget, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), year(col("l_shipdate")).cast("long").as("o_year"),
          (Exact.eRow(col("l_extendedprice"), 2) *
            (lit(100L) - Exact.eRow(col("l_discount"), 2) -
              Exact.eRow(col("l_tax"), 2))).as("amount_e4"))
        .groupBy(col("n_name"), col("o_year"))
        .agg(sum(col("amount_e4")).as("profit_e4"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"), col("o_year"))
    },
    Some("""SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS o_year,
      |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
      |                - CAST(floor(l_tax * 100 + 0.5) AS BIGINT))) AS BIGINT) AS profit_e4,
      |       count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY n_name, o_year
      |ORDER BY n_name, o_year""".stripMargin))

  /** Q36 — first-order Markov transition census over the event stream:
   * per user, events in (ms, event_id) order; every adjacent
   * (from, to) pair counted corpus-wide with exact integer PPM row
   * probabilities. The per-user lag rides ONE user-key exchange; the
   * census is a 25-row hash agg. The stochastic-process audit behind
   * funnel design (which orderings actually happen?). */
  private val q36 = QueryDef(
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val tr = EventLog.raw(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000000").as("ms"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      // row totals via a window over the 25-row census, NOT a join back
      // to a second copy of the lag pipeline (a self-join re-executed
      // the event-level window once per branch)
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("from_type"))
      tr.withColumn("n_from", sum(col("n")).over(wf))
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
          expr("(n * 1000000) div n_from").as("row_ppm"))
        .orderBy(col("from_type"), col("to_type"))
    },
    Some("""WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |t AS (SELECT user_id, event_type AS to_type,
      |        lag(event_type) OVER (PARTITION BY user_id
      |          ORDER BY ms, event_id) AS from_type
      |      FROM e),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM t
      |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      |      FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, CAST(n AS BIGINT) AS n, n_from,
      |       CAST(n * 1000000 // n_from AS BIGINT) AS row_ppm
      |FROM c JOIN f USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin))

  /** Q37 — weekly-volume trend per event type by exact least squares
   * over the DENSIFIED week grid: every type is regressed over the full
   * observed [min, max] week span with zero-count weeks present (a gap
   * in activity IS signal — dropping empty weeks would report a
   * vanished type as "flat"). Slope numerator n·Σxy − Σx·Σy and
   * denominator n·Σx² − (Σx)² stay EXACT integers (x = epoch week);
   * slope = one IEEE division of the two (bit-identical across
   * engines, the q33 convention — no integer div whose
   * negative-rounding semantics differ), NULL when the span is a
   * single week (den = 0). One (type, week) agg joined to a
   * types×weeks grid, then a 5-row agg. */
  private val q37 = QueryDef(
    (s, d) => {
      val ev = EventLog.raw(s, d)
        .select(col("event_type"),
          expr("((ts div 1000000) div 86400000) div 7").as("wk"))
      val weekly = ev.groupBy(col("event_type"), col("wk"))
        .agg(count(lit(1)).as("c"))
      val bounds = ev.agg(min(col("wk")).as("w0"), max(col("wk")).as("w1"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("w0"), col("w1"))).as("wk"))
      val dense = grid.join(weekly, Seq("event_type", "wk"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      dense.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_weeks"), sum(col("c")).as("n_events"),
          sum(col("wk")).as("sx"), sum(col("c") * col("wk")).as("sxy"),
          sum(col("wk") * col("wk")).as("sxx"))
        .select(col("event_type"), col("n_weeks"), col("n_events"),
          (col("n_weeks") * col("sxy") - col("sx") * (col("n_events"))).as("num"),
          (col("n_weeks") * col("sxx") - col("sx") * col("sx")).as("den"))
        .withColumn("slope", when(col("den") === 0L, lit(null))
          .otherwise(Exact.rRow(col("num").cast("double") /
            col("den").cast("double"), 6)))
        .orderBy(col("event_type"))
    },
    Some("""WITH e AS (
      |  SELECT event_type, (epoch_ms(ts) // 86400000) // 7 AS wk FROM events),
      |b AS (SELECT min(wk) AS w0, max(wk) AS w1 FROM e),
      |t AS (SELECT DISTINCT event_type FROM e),
      |g AS (SELECT event_type, unnest(generate_series(w0, w1)) AS wk
      |      FROM t, b),
      |w AS (SELECT event_type, wk, count(*) AS c FROM e GROUP BY 1, 2),
      |dz AS (SELECT g.event_type, g.wk, coalesce(w.c, 0) AS c
      |       FROM g LEFT JOIN w ON g.event_type = w.event_type
      |         AND g.wk = w.wk),
      |a AS (SELECT event_type, count(*) AS n_weeks,
      |             CAST(sum(c) AS BIGINT) AS n_events,
      |             CAST(sum(wk) AS BIGINT) AS sx,
      |             CAST(sum(c * wk) AS BIGINT) AS sxy,
      |             CAST(sum(wk * wk) AS BIGINT) AS sxx
      |      FROM dz GROUP BY 1)
      |SELECT event_type, n_weeks, n_events,
      |       CAST(n_weeks * sxy - sx * n_events AS BIGINT) AS num,
      |       CAST(n_weeks * sxx - sx * sx AS BIGINT) AS den,
      |       CASE WHEN n_weeks * sxx - sx * sx = 0 THEN NULL
      |            ELSE (CAST(floor((CAST(n_weeks * sxy - sx * n_events AS DOUBLE) /
      |                       CAST(n_weeks * sxx - sx * sx AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) / 1e6)
      |       END AS slope
      |FROM a ORDER BY event_type""".stripMargin))

  /** Q38 — time-weighted average (TWAP) of the event value per user:
   * each value holds until the user's next event, so the mean weights
   * every reading by its holding duration — the time-series aggregate
   * a row-mean gets WRONG whenever sampling is irregular (a value held
   * for an hour must count 3600× a value held a second). All exact
   * integers: cents × ms into the numerator; the final quotient is one
   * IEEE division rounded 6 dp (the q37 convention), NULL for a
   * zero-length span. One user-key window (lead) + one user-key agg
   * sharing the exchange. */
  private val q38 = QueryDef(
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      EventLog.raw(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000000").as("ms"),
          Exact.eRow(col("value"), 2).as("v_e2"))
        .withColumn("next_ms", lead(col("ms"), 1).over(w))
        .filter(col("next_ms").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          // DECIMAL(38,0) accumulation (the p110 convention): cents × ms
          // products reach ~3e16 per interval, so a long SUM can wrap
          // silently at scale while the oracle's HUGEINT stays exact
          sum(expr("CAST(next_ms - ms AS DECIMAL(38,0)) * v_e2"))
            .cast("long").as("vms_e2"),
          (max(col("next_ms")) - min(col("ms"))).as("span_ms"))
        .withColumn("twap_e2", when(col("span_ms") === 0L, lit(null))
          .otherwise(Exact.rRow(col("vms_e2").cast("double") /
            col("span_ms").cast("double"), 6)))
        .orderBy(col("user_id"))
    },
    Some("""WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2 FROM events),
      |l AS (SELECT user_id, ms, v_e2,
      |        lead(ms) OVER (PARTITION BY user_id
      |          ORDER BY ms, event_id) AS next_ms
      |      FROM e),
      |a AS (SELECT user_id, count(*) AS n_intervals,
      |             CAST(sum((next_ms - ms) * v_e2) AS BIGINT) AS vms_e2,
      |             CAST(max(next_ms) - min(ms) AS BIGINT) AS span_ms
      |      FROM l WHERE next_ms IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n_intervals, vms_e2, span_ms,
      |       CASE WHEN span_ms = 0 THEN NULL
      |            ELSE (CAST(floor((CAST(vms_e2 AS DOUBLE) /
      |                       CAST(span_ms AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) / 1e6) END AS twap_e2
      |FROM a ORDER BY user_id""".stripMargin))

  override val defs: Map[String, QueryDef] = Map(
    "q38_twap" -> q38,
    "q34_sessions" -> q34,
    "q35_nation_profit" -> q35,
    "q36_markov_transitions" -> q36,
    "q37_trend_slopes" -> q37,
    "q33_ranking_suite" -> q33,
    "j7_interval_overlap" -> j7,
    "q32_rfm_segments" -> q32,
    "q31_grouping_sets" -> q31,
    "j6_asof_nearest" -> j6,
    "q29_funnel" -> q29,
    "q30_retention_cohorts" -> q30,
    "q28_set_algebra" -> q28,
    "q27_price_quantiles" -> q27,
    "q22_late_orders_exists" -> q22,
    "q23_priority_split" -> q23,
    "q24_forecast_revenue" -> q24,
    "q25_market_share" -> q25,
    "q26_cube_lattice" -> q26,
    "q1_pricing_summary" -> q1,
    "q2_best_supplier" -> q2,
    "q8_last_shipper" -> q8,
    "q9_range_frame" -> q9,
    "q10_large_orders" -> q10,
    "q11_supplier_diversity" -> q11,
    "q12_dormant_value" -> q12,
    "q13_bloc_volume" -> q13,
    "q14_custdist" -> q14,
    "q15_dominant_supplier" -> q15,
    "q16_disjunctive_revenue" -> q16,
    "q17_regional_volume" -> q17,
    "q18_promo_revenue" -> q18,
    "q19_small_qty_revenue" -> q19,
    "q20_top_value_parts" -> q20,
    "q21_returned_customers" -> q21,
    "q6_window_suite" -> q6,
    "q6b_quartile_cutoffs" -> q6b,
    "q7_top_supplier" -> q7,
    "q4_rollup_lattice" -> q4,
    "q5_pivot_status" -> q5,
    "q3_shipping_priority" -> q3,
    "j1_semi_anti_orders" -> j1,
    "j2_enrich_events" -> j2,
    "j3_topk_customers" -> j3,
    "j4_asof_backward" -> j4,
    "j4b_asof_forward" -> j4b,
    "j5_range_join" -> j5
  )
}
