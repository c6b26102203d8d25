package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.catalog.{Q, QueryModule}
import graft.catalog.Tables.t

/** Core relational operator surface (SURVEY.md §2.1-§2.7), recast over the
  * driver testdata tables per FIXTURES.md §3.
  *
  * Determinism rules shared with the DuckDB oracle:
  *  - monetary/quantity sums go through exact DECIMAL(12,2) arithmetic and
  *    are cast to DOUBLE only at the end (bit-identical across engines);
  *  - every top-k / row_number ordering carries a unique tiebreak key;
  *  - list aggregations are sorted (`sort_array` / `ORDER BY` in
  *    `string_agg`) — SURVEY.md A2 notes MySQL `group_concat` is unordered,
  *    we canonicalize per SURVEY.md §7.4.
  */
object RelationalQueries extends QueryModule {

  private val D = DecimalType(12, 2)

  def qs: Seq[Q] = Seq(

    // A1/A3 — pricing summary (scalar aggs over a pushed-down filter).
    // Reference: count probes + loose GROUP BY (authors.js:22, posts.js:24-26).
    Q("q01_pricing_summary", (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_shipdate" <= lit("2001-09-02").cast(TimestampType))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity".cast(D)).cast(DoubleType).as("sum_qty"),
          sum($"l_extendedprice".cast(D)).cast(DoubleType).as("sum_base_price"),
          sum($"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D)))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-02'
      GROUP BY l_returnflag, l_linestatus""")),

    // P1/P5 — projection + alias + filter, row-level (predicate & column
    // pruning must reach the parquet scan). Reference: authors.js:23-24.
    Q("q02_filter_project", (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_shipdate" >= lit("1996-01-01").cast(TimestampType) &&
                $"l_shipdate" <  lit("1997-01-01").cast(TimestampType) &&
                $"l_discount" >= 0.05 && $"l_quantity" < 24)
        .select($"l_orderkey", $"l_linenumber",
          ($"l_extendedprice".cast(D) * $"l_discount".cast(D))
            .cast(DoubleType).as("disc_amount"))
    }, Some("""
      SELECT l_orderkey, l_linenumber,
        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2)) AS DOUBLE) AS disc_amount
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= 0.05 AND l_quantity < 24""")),

    // J2 — multi-way inner join with broadcast dims (terms⋈term_taxonomy
    // analog, categories.js:22-24): revenue per nation within one region.
    Q("q03_join_agg", (s, d) => {
      import s.implicits._
      val orders   = t(s, d, "orders")
      val customer = t(s, d, "customer")
      val nation   = broadcast(t(s, d, "nation"))
      val region   = broadcast(t(s, d, "region"))
      orders
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(nation, customer("c_nationkey") === nation("n_nationkey"))
        .join(region, nation("n_regionkey") === region("r_regionkey"))
        .filter($"r_name" === "ASIA")
        .groupBy($"n_name")
        .agg(sum($"o_totalprice".cast(D)).cast(DoubleType).as("revenue"),
             count(lit(1)).as("n_orders"))
    }, Some("""
      SELECT n_name,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        count(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name""")),

    // J3 — left outer join (posts⟕users, posts.js:25-26): customers keep
    // their row even with zero orders.
    Q("q04_left_join", (s, d) => {
      import s.implicits._
      val customer = t(s, d, "customer")
      val orders   = t(s, d, "orders")
      customer
        .join(orders, customer("c_custkey") === orders("o_custkey"), "left_outer")
        .groupBy($"c_custkey", $"c_name")
        .agg(count($"o_orderkey").as("n_orders"),
             coalesce(sum($"o_totalprice".cast(D)).cast(DoubleType), lit(0.0))
               .as("total_spent"))
    }, Some("""
      SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_name""")),

    // J6 — semi join (EXISTS; IN-list by-ids entry point, P11): orders
    // containing at least one near-full-quantity line.
    Q("q05_semi_join", (s, d) => {
      import s.implicits._
      val orders = t(s, d, "orders")
      val big = t(s, d, "lineitem").filter($"l_quantity" >= 49)
      orders.join(big, orders("o_orderkey") === big("l_orderkey"), "left_semi")
        .select($"o_orderkey", $"o_totalprice")
    }, Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""")),

    // anti join (NOT EXISTS) — complement of J6; customers with no
    // in-progress ('P') orders.
    Q("q06_anti_join", (s, d) => {
      import s.implicits._
      val customer = t(s, d, "customer")
      val inProgress = t(s, d, "orders").filter($"o_orderstatus" === "P")
      customer
        .join(inProgress, customer("c_custkey") === inProgress("o_custkey"), "left_anti")
        .select($"c_custkey", $"c_name")
    }, Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""")),

    // J1 — EAV pivot (usermeta widening, authors.js:22-24): unpivot part
    // attributes to (key, value) rows, pivot back to wide columns. One
    // shuffle (groupBy+pivot) instead of the reference's 3 self-joins.
    Q("q07_eav_pivot", (s, d) => {
      import s.implicits._
      val eav = t(s, d, "part").select($"p_partkey",
          explode(map(
            lit("brand"), $"p_brand",
            lit("type"),  $"p_type",
            lit("size"),  $"p_size".cast(StringType))).as(Seq("meta_key", "meta_value")))
      EavOps.pivot(eav, "p_partkey", "meta_key", "meta_value",
        Seq("brand", "type", "size"))
    }, Some("""
      WITH eav AS (
        SELECT p_partkey, 'brand' AS meta_key, p_brand AS meta_value FROM part
        UNION ALL SELECT p_partkey, 'type', p_type FROM part
        UNION ALL SELECT p_partkey, 'size', CAST(p_size AS VARCHAR) FROM part)
      SELECT p_partkey,
        max(CASE WHEN meta_key = 'brand' THEN meta_value END) AS brand,
        max(CASE WHEN meta_key = 'type'  THEN meta_value END) AS type,
        max(CASE WHEN meta_key = 'size'  THEN meta_value END) AS size
      FROM eav GROUP BY p_partkey""")),

    // J5/A2 — decorrelated scalar-subquery list agg (group_concat of
    // category slugs per post, posts.js:25-26): sorted part list per order,
    // left-joined back so empty orders keep a row.
    Q("q08_group_concat", (s, d) => {
      import s.implicits._
      val orders = t(s, d, "orders")
      val lists = t(s, d, "lineitem")
        .groupBy($"l_orderkey")
        .agg(array_join(sort_array(collect_list($"l_partkey".cast(StringType))), ",")
               .as("plist"),
             count(lit(1)).as("items"))
      orders.join(lists, orders("o_orderkey") === lists("l_orderkey"), "left_outer")
        .select($"o_orderkey",
          coalesce($"plist", lit("")).as("part_list"),
          coalesce($"items", lit(0L)).as("n_items"))
    }, Some("""
      SELECT o_orderkey,
        coalesce(pl.plist, '') AS part_list,
        coalesce(pl.items, 0) AS n_items
      FROM orders LEFT JOIN (
        SELECT l_orderkey,
          string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY CAST(l_partkey AS VARCHAR)) AS plist,
          count(*) AS items
        FROM lineitem GROUP BY l_orderkey) pl
      ON o_orderkey = pl.l_orderkey""")),

    // J7 — parent lookup join (category parent slug, categories.js:47-65),
    // done as a real join (no batch-ordering dependence): nation → region
    // name, missing parent → ''.
    Q("q09_parent_lookup", (s, d) => {
      import s.implicits._
      val nation = t(s, d, "nation")
      val region = broadcast(t(s, d, "region"))
      nation.join(region, nation("n_regionkey") === region("r_regionkey"), "left_outer")
        .select($"n_name", coalesce($"r_name", lit("")).as("parent_name"))
    }, Some("""
      SELECT n_name, coalesce(r_name, '') AS parent_name
      FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""")),

    // P10 — point lookup of a config scalar, resolved before the DAG is
    // built (kills the posts.js:39-53 ctor race): region key for 'ASIA'
    // drives a pushed-down filter over customers.
    Q("q10_point_lookup", (s, d) => {
      import s.implicits._
      val asiaKey: Int = t(s, d, "region").filter($"r_name" === "ASIA")
        .select($"r_regionkey").head().getInt(0)
      val nation = broadcast(t(s, d, "nation").filter($"n_regionkey" === asiaKey))
      t(s, d, "customer")
        .join(nation, col("c_nationkey") === nation("n_nationkey"), "left_semi")
        .select($"c_custkey", $"c_name")
    }, Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE c_nationkey IN (
        SELECT n_nationkey FROM nation
        WHERE n_regionkey = (SELECT r_regionkey FROM region WHERE r_name = 'ASIA'))""")),

    // P11 — literal IN-list filter (by-ids replay entry point,
    // authors.js:24,67): built as Column expressions, never string-spliced.
    Q("q11_inlist", (s, d) => {
      import s.implicits._
      val ids = Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 55L, 89L)
      t(s, d, "lineitem")
        .filter($"l_partkey".isin(ids: _*))
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as("n_lines"),
             sum($"l_quantity".cast(D)).cast(DoubleType).as("sum_qty"))
    }, Some("""
      SELECT l_partkey, count(*) AS n_lines,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_partkey IN (1,2,3,5,8,13,21,34,55,89)
      GROUP BY l_partkey""")),

    // O2/O3 — ordered top-k with unique tiebreak (replaces the reference's
    // nondeterministic OFFSET pagination, SURVEY.md O3).
    Q("q12_topk", (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(100)
        .select($"o_orderkey", $"o_totalprice")
    }, Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""")),

    // A4 — keyed last-wins dedup (authordata[login]=…, authors.js:51):
    // latest event per user via row_number over (ts desc, id desc).
    // Executes via the custom TopKPerKeyExec operator (rank=1 shape,
    // graft.plans.WindowTopKRule) — one pass, no per-partition sort;
    // the oracle hash-checks the custom plan against DuckDB QUALIFY.
    Q("q13_dedup_lastwins", (s, d) => {
      import s.implicits._
      graft.plans.GraftPlanner.install(s)
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".desc, $"event_id".desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"event_type", $"value")
    }, Some("""
      SELECT user_id, event_id, event_type, value FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""")),

    // §2.7 — set ops (absent from the reference; engine extension):
    // users who clicked but never purchased.
    Q("q14_setop_except", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
        .filter($"ts" < lit("2024-01-03").cast(TimestampType))
      ev.filter($"event_type" === "click").select($"user_id").distinct()
        .except(ev.filter($"event_type" === "purchase").select($"user_id").distinct())
    }, Some("""
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-03'
      EXCEPT
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03'""")),

    // §2.7 — INTERSECT: users active on both the first and last day.
    Q("q49_setop_intersect", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      ev.filter($"ts" < lit("2024-01-02").cast(TimestampType))
        .select($"user_id").distinct()
        .intersect(ev.filter($"ts" >= lit("2024-01-30").cast(TimestampType))
          .select($"user_id").distinct())
    }, Some("""
      SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-02'
      INTERSECT
      SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-30'""")),

    // §2.5 — window functions (engine extension): per-customer running
    // spend, exact decimal accumulation (same addition order both engines).
    Q("q15_window_running", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("running_spend",
          sum($"o_totalprice".cast(D))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType))
        .select($"o_custkey", $"o_orderkey", $"rn", $"running_spend")
    }, Some("""
      SELECT o_custkey, o_orderkey,
        row_number() OVER w AS rn,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""")),

    // S6/S7 — snapshot merge with last-wins semantics (the reference's
    // read-modify-write file merge, authors.js:46-56): per-user event
    // counts from an "existing state" half and a "delta" half; delta wins.
    Q("q16_merge_lastwins", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val mid = lit("2024-01-15").cast(TimestampType)
      val state = ev.filter($"ts" < mid)
        .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
      val delta = ev.filter($"ts" >= mid)
        .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
      MergeOps.mergeLastWins(state, delta, Seq("user_id"))
    }, Some("""
      WITH state AS (
        SELECT user_id, count(*) AS cnt FROM events
        WHERE ts < TIMESTAMP '2024-01-15' GROUP BY user_id),
      delta AS (
        SELECT user_id, count(*) AS cnt FROM events
        WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY user_id)
      SELECT coalesce(d.user_id, s.user_id) AS user_id,
             coalesce(d.cnt, s.cnt) AS cnt
      FROM state s FULL OUTER JOIN delta d ON s.user_id = d.user_id""")),

    // as-of (backward) join — engine extension Spark lacks natively,
    // composed via union + running last (AsOfOps); DuckDB's native
    // ASOF JOIN is the oracle. Latest click at-or-before each error.
    Q("q47_asof_join", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts").agg(max($"event_id").as("click_id"))
      val errors = ev.filter($"event_type" === "error")
        .select($"user_id", $"ts", $"event_id".as("error_id"))
      AsOfOps.asofJoinLastBefore(errors, clicks, Seq("user_id"), "ts", "ts", "click_id")
        .select($"user_id", $"error_id",
          coalesce($"click_id", lit(-1L)).as("click_id"))
    }, Some("""
      WITH clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id FROM events
        WHERE event_type = 'click' GROUP BY user_id, ts),
      errors AS (
        SELECT user_id, ts, event_id AS error_id FROM events
        WHERE event_type = 'error')
      SELECT e.user_id, e.error_id, coalesce(c.click_id, -1) AS click_id
      FROM errors e ASOF LEFT JOIN clicks c
        ON e.user_id = c.user_id AND e.ts >= c.ts""")),

    // range (interval) join — engine extension: clicks in the 30 minutes
    // up to each error, bucketized into an equi-join (RangeOps; a bare
    // range predicate would nested-loop). Oracle uses DuckDB's IEJoin.
    Q("q48_range_join", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id".as("error_id"), $"ts")
      val clicks = ev.filter($"event_type" === "click")
        .select($"ts".as("cts"))
      RangeOps.bucketedRangeCount(errors, clicks, "error_id", "ts", "cts",
          windowUs = 30L * 60 * 1000000, outCol = "n_recent_clicks")
        .select($"error_id", $"n_recent_clicks")
    }, Some("""
      WITH errors AS (
        SELECT event_id AS error_id, epoch_us(ts) AS eus FROM events
        WHERE event_type = 'error'),
      clicks AS (
        SELECT epoch_us(ts) AS cus FROM events WHERE event_type = 'click')
      SELECT e.error_id, count(c.cus) AS n_recent_clicks
      FROM errors e LEFT JOIN clicks c
        ON c.cus > e.eus - 1800000000 AND c.cus <= e.eus
      GROUP BY e.error_id""")),

    // 6-way analytic join (the TPC-H Q5 shape): regional revenue per
    // nation, customer and supplier constrained to the SAME nation.
    // This is the optimizer-evidence query: the declarative plan lets
    // Catalyst order the joins, broadcast the two dim tables
    // (nation/region annotated, and AQE upgrades more when sizes
    // allow), and push the date/region filters below the joins. Money
    // math rides DECIMAL into an order-independent sum (q01 precedent).
    Q("q91_regional_revenue", (s, d) => {
      import s.implicits._
      val rev = $"l_extendedprice".cast(D) *
        (lit(1).cast(D) - $"l_discount".cast(D))
      t(s, d, "customer")
        .join(t(s, d, "orders"), $"c_custkey" === $"o_custkey")
        .filter($"o_orderdate" >= lit("1996-01-01").cast(TimestampType) &&
                $"o_orderdate" < lit("1998-01-01").cast(TimestampType))
        .join(t(s, d, "lineitem"), $"o_orderkey" === $"l_orderkey")
        .join(t(s, d, "supplier"),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(t(s, d, "nation")), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA")
        .groupBy($"n_name")
        .agg(sum(rev).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lineitems"))
    }, Some("""
      SELECT n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                 (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
             AS DOUBLE) AS revenue,
        count(*) AS n_lineitems
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY n_name""")),

    // scalar subquery + anti join (the TPC-H Q22 shape): CHURNED rich
    // customers — above-average balance, no orders since 2000-01-01 —
    // rolled up per nation. The corpus-wide average is a single-row
    // broadcast (DECIMAL sum -> exact double -> one division, so the
    // threshold is engine-identical); the churn test is a left-anti
    // join against the filtered orders table — shuffled on the customer
    // key, never collected (the date filter pushes to the orders scan).
    Q("q92_idle_rich_customers", (s, d) => {
      import s.implicits._
      val cust = t(s, d, "customer")
      val avgBal = cust.filter($"c_acctbal" > 0)
        .agg((sum($"c_acctbal".cast(D)).cast(DoubleType) / count(lit(1)))
          .as("ab"))
      val recent = t(s, d, "orders")
        .filter($"o_orderdate" >= lit("2000-01-01").cast(TimestampType))
        .select($"o_custkey")
      cust.join(broadcast(avgBal))
        .filter($"c_acctbal" > $"ab")
        .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
        .join(broadcast(t(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_custs"),
          sum($"c_acctbal".cast(D)).cast(DoubleType).as("total_bal"))
    }, Some("""
      WITH ab AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                 / count(*) AS ab
        FROM customer WHERE c_acctbal > 0)
      SELECT n_name, count(*) AS n_custs,
        CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      FROM customer CROSS JOIN ab
      JOIN nation ON c_nationkey = n_nationkey
      WHERE c_acctbal > ab
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01')
      GROUP BY n_name""")),

    // value-based RANGE window frames (the window capability the rest
    // of §2.5 doesn't exercise — q15/q26/q97 all use row frames/lag):
    // per user, the rolling 1-hour event count and value mass at every
    // event, reduced to the user's PEAK burst — the rate-limiter /
    // bot-detection signal. RANGE frames bound the window by the
    // ORDER-BY VALUE (epoch micros), so simultaneous events all join
    // the frame regardless of row order — deterministic where a ROWS
    // frame on a timestamp with ties is not. Exactness: value mass is
    // floor-milli integer (float sum order never surfaces). Scale
    // shape: both windows are user-partitioned (bounded by a user's
    // event history, never the corpus) and computed in ONE WindowExec
    // pass (same partition + order + frame); the rollup is
    // map-side-combined.
    Q("q158_range_frame", (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ep")
        .rangeBetween(-3600000000L, 0L)
      t(s, d, "events")
        .select($"user_id",
          // cast: parquet ts is un-annotated (NTZ to Spark) — under
          // the UTC session tz the cast is identity for LTZ too
          unix_micros($"ts".cast("timestamp")).as("ep"),
          floor($"value" * 1000).cast("long").as("vm"))
        .withColumn("burst", count(lit(1)).over(w))
        .withColumn("mass", sum($"vm").over(w))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"), max($"burst").as("peak_1h_events"),
          max($"mass").as("peak_1h_value_milli"))
    }, Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS ep,
          CAST(floor(value * 1000) AS BIGINT) AS vm
        FROM events),
      r AS (
        SELECT user_id,
          count(*) OVER (PARTITION BY user_id ORDER BY ep
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            AS burst,
          sum(vm) OVER (PARTITION BY user_id ORDER BY ep
                        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            AS mass
        FROM e)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        CAST(max(burst) AS BIGINT) AS peak_1h_events,
        CAST(max(mass) AS BIGINT) AS peak_1h_value_milli
      FROM r GROUP BY 1""")),

    // TPC-H Q20 shape (the "excess inventory" nested aggregate): which
    // suppliers DOMINATED the 1997 shipments of some small part —
    // supplier share of a part's shipped quantity > 50%? The classic
    // formulation is a correlated subquery per (part, supplier); the
    // distributed form is two aggregations over the SAME filtered scan
    // (per-pair quantity, per-part total) joined on the part key —
    // no correlation, no re-scan, the date filter pushed to parquet.
    // Exactness: quantities sum as DECIMAL(12,2); the 50% test is
    // 2*qty > tot in exact decimal (no float division anywhere).
    // Scale shape: both aggs are map-side-combined over one shuffle on
    // l_partkey; the part-size filter semi-joins BEFORE the supplier
    // rollup (smallest frame first); nation is the only broadcast.
    Q("q271_dominant_supplier", (s, d) => {
      import s.implicits._
      val li = t(s, d, "lineitem")
        .filter($"l_shipdate" >= lit("1997-01-01").cast(TimestampType) &&
                $"l_shipdate" < lit("1998-01-01").cast(TimestampType))
        .select($"l_partkey", $"l_suppkey", $"l_quantity".cast(D).as("q"))
        .persist()
      val perPair = li.groupBy($"l_partkey", $"l_suppkey")
        .agg(sum($"q").as("qty"))
      val perPart = li.groupBy($"l_partkey").agg(sum($"q").as("tot"))
      val smallParts = t(s, d, "part").filter($"p_size" <= 10)
        .select($"p_partkey")
      val dominant = perPair.join(perPart, "l_partkey")
        .filter($"qty" * 2 > $"tot")
        .join(smallParts, $"l_partkey" === $"p_partkey", "left_semi")
      dominant
        .join(t(s, d, "supplier"), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(t(s, d, "nation")), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(countDistinct($"l_suppkey").as("n_suppliers"),
          count(lit(1)).as("n_dominated_parts"))
    }, Some("""
      WITH li AS (
        SELECT l_partkey, l_suppkey, CAST(l_quantity AS DECIMAL(12,2)) AS q
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'),
      pair AS (SELECT l_partkey, l_suppkey, sum(q) AS qty
               FROM li GROUP BY 1, 2),
      tot AS (SELECT l_partkey, sum(q) AS tot FROM li GROUP BY 1),
      dom AS (
        SELECT pair.l_partkey, pair.l_suppkey
        FROM pair JOIN tot USING (l_partkey)
        WHERE pair.qty * 2 > tot.tot
          AND EXISTS (SELECT 1 FROM part
                      WHERE p_partkey = pair.l_partkey AND p_size <= 10))
      SELECT n_name,
        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        count(*) AS n_dominated_parts
      FROM dom
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY 1""")),

    // TPC-H Q21 shape (the "waiting orders" multi-EXISTS self-join):
    // suppliers who were the SOLE late shipper on a finished
    // multi-supplier order — the classic blame query whose textbook
    // form is one EXISTS plus one NOT EXISTS against the same lineitem
    // table. The distributed form collapses both quantifiers into ONE
    // per-(order, supplier) flag aggregation and ONE per-order rollup
    // (n_suppliers, n_late_suppliers) joined back — three shuffles on
    // the order key total, against Q21's four logical scans. Lateness
    // is ship > order date + 80 days (this schema has no
    // commit/receipt dates; the delay domain is ~1..95 days so 80
    // isolates a real tail). Top-20 via TakeOrderedAndProject on the
    // (numwait desc, suppkey asc) total order.
    Q("q272_lone_late_supplier", (s, d) => {
      import s.implicits._
      val flags = t(s, d, "lineitem")
        .join(t(s, d, "orders").filter($"o_orderstatus" === "F")
          .select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey", $"l_suppkey")
        .agg(max(($"l_shipdate" >
          $"o_orderdate" + expr("INTERVAL 80 DAYS")).cast("long")).as("late"))
        .persist()
      val perOrder = flags.groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_supps"), sum($"late").as("n_late"))
      flags.filter($"late" === 1)
        .join(perOrder.filter($"n_supps" >= 2 && $"n_late" === 1),
          "l_orderkey")
        .groupBy($"l_suppkey").agg(count(lit(1)).as("numwait"))
        .join(t(s, d, "supplier"), $"l_suppkey" === $"s_suppkey")
        .select($"s_name", $"l_suppkey".as("suppkey"), $"numwait")
        .orderBy($"numwait".desc, $"suppkey".asc)
        .limit(20)
    }, Some("""
      WITH flags AS (
        SELECT l_orderkey, l_suppkey,
          max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 80 DAY
              THEN 1 ELSE 0 END) AS late
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY 1, 2),
      per_order AS (
        SELECT l_orderkey, count(*) AS n_supps, sum(late) AS n_late
        FROM flags GROUP BY 1),
      waits AS (
        SELECT f.l_suppkey, count(*) AS numwait
        FROM flags f JOIN per_order o USING (l_orderkey)
        WHERE f.late = 1 AND o.n_supps >= 2 AND o.n_late = 1
        GROUP BY 1)
      SELECT s_name, l_suppkey AS suppkey, CAST(numwait AS BIGINT) AS numwait
      FROM waits JOIN supplier ON l_suppkey = s_suppkey
      ORDER BY numwait DESC, suppkey ASC
      LIMIT 20""")),

    // TPC-H Q17-shape correlated-average subquery ("small-quantity
    // revenue": lost revenue from lineitems ordering under 20% of
    // their part's average quantity, over one brand's small parts) —
    // the per-group-threshold-then-probe classic. The correlation is
    // restructured (q271 convention): ONE filtered scan persisted,
    // per-part (sum, count) agg joined back, the 0.2·avg test spelled
    // EXACT-integer by cross-multiplication (5·qty·cnt < sum — no
    // division, no float avg), revenue summed in integer cents.
    // Scale shape: the part filter is a broadcast-ready semi-side
    // (brand slice of the part registry); two passes over the SAME
    // persisted slice (agg + probe) joined on the part key; AQE
    // adjudicates the join sides, no hints.
    Q("q293_small_qty_revenue", (s, d) => {
      import s.implicits._
      val parts = t(s, d, "part")
        .filter($"p_brand" === "Brand#13" && $"p_size" < 25)
        .select($"p_partkey")
      val li = t(s, d, "lineitem")
        .join(parts, $"l_partkey" === $"p_partkey")
        .select($"l_partkey", $"l_quantity".cast("long").as("qty"),
          floor($"l_extendedprice" * 100).cast("long").as("cents"))
        .persist()
      val avgq = li.groupBy($"l_partkey")
        .agg(sum($"qty").as("sq"), count(lit(1)).as("nq"))
      li.join(avgq, "l_partkey")
        .filter($"qty" * 5 * $"nq" < $"sq")
        .agg(count(lit(1)).as("n_small"),
          sum($"cents").as("revenue_cents"))
        .select($"n_small",
          coalesce($"revenue_cents", lit(0L)).as("revenue_cents"),
          coalesce(expr("revenue_cents div 7"), lit(0L))
            .as("avg_yearly_cents"))
    }, Some("""
      WITH li AS (
        SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
          CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#13' AND p_size < 25),
      avgq AS (
        SELECT l_partkey, sum(qty) AS sq, count(*) AS nq
        FROM li GROUP BY 1)
      SELECT CAST(count(*) AS BIGINT) AS n_small,
        CAST(coalesce(sum(cents), 0) AS BIGINT) AS revenue_cents,
        CAST(coalesce(sum(cents) // 7, 0) AS BIGINT) AS avg_yearly_cents
      FROM li JOIN avgq USING (l_partkey)
      WHERE qty * 5 * nq < sq""")),

    // TPC-H Q18-shape large-volume customers (orders whose total
    // quantity exceeds 150, top-20 by order value) — the
    // agg-HAVING-then-enrich classic: ONE map-side-combined lineitem
    // agg with the HAVING filter collapses the big table BEFORE any
    // join; orders and customer attach to the (rare) qualifying keys;
    // top-20 rides TakeOrderedAndProject on the
    // (o_totalprice desc, o_orderkey asc) total order — engine-
    // identical under price ties. Money in integer cents (q293
    // convention).
    Q("q294_large_volume_orders", (s, d) => {
      import s.implicits._
      val big = t(s, d, "lineitem")
        .groupBy($"l_orderkey")
        .agg(sum($"l_quantity".cast("long")).as("total_qty"))
        .filter($"total_qty" > 150)
      big.join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey")
        .select($"c_custkey", $"o_orderkey",
          floor($"o_totalprice" * 100).cast("long").as("price_cents"),
          $"total_qty")
        .orderBy($"price_cents".desc, $"o_orderkey".asc)
        .limit(20)
    }, Some("""
      WITH big AS (
        SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
          AS total_qty
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(l_quantity AS BIGINT)) > 150)
      SELECT c_custkey, o_orderkey,
        CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
        total_qty
      FROM big JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      ORDER BY price_cents DESC, o_orderkey ASC
      LIMIT 20""")),

    // TPC-H Q15-shape top supplier(s) by discounted revenue — the
    // agg-then-max-then-filter classic, DISTINCT from top-k (q12/q294
    // return k rows; Q15 returns ALL suppliers achieving the maximum,
    // however many tie — the semantics a LIMIT cannot express).
    // Exactness: per-line revenue floor(price·(1−disc)·100) cents —
    // ONE identically-spelled double product per row, floored before
    // the sum so aggregation order is irrelevant. Scale shape: ONE
    // map-side-combined supplier agg collapses lineitem; the max is a
    // 1-row broadcast joined back (no second scan, no global window);
    // the supplier dimension attaches to the (rare) maximal keys.
    Q("q312_top_supplier", (s, d) => {
      import s.implicits._
      val rev = t(s, d, "lineitem")
        .select($"l_suppkey",
          expr("cast(floor(l_extendedprice * (1.0 - l_discount) * 100) as bigint)")
            .as("cents"))
        .groupBy($"l_suppkey").agg(sum($"cents").as("revenue_cents"))
      val mx = rev.agg(max($"revenue_cents").as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter($"revenue_cents" === $"mx")
        .join(t(s, d, "supplier"), $"l_suppkey" === $"s_suppkey")
        .select($"l_suppkey".as("suppkey"), $"s_name",
          $"revenue_cents")
    }, Some("""
      WITH rev AS (
        SELECT l_suppkey,
          sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
            AS BIGINT)) AS revenue_cents
        FROM lineitem GROUP BY 1),
      mx AS (SELECT max(revenue_cents) AS mx FROM rev)
      SELECT l_suppkey AS suppkey, s_name,
        CAST(revenue_cents AS BIGINT) AS revenue_cents
      FROM rev CROSS JOIN mx
      JOIN supplier ON s_suppkey = l_suppkey
      WHERE revenue_cents = mx""")),

    // TPC-H Q13-shape customer order-count distribution ("custdist":
    // how many customers placed exactly k orders, INCLUDING the
    // zero-order customers a plain join would drop) — the
    // outer-join-then-double-aggregate classic: the first agg counts
    // orders per customer THROUGH a left outer join (null orders
    // count 0), the second histograms the counts. Scale shape: the
    // orders side collapses to (custkey, cnt) in ONE map-side-
    // combined agg BEFORE the outer join with the customer registry
    // (never a row-level customer x order join output); the histogram
    // is a second small agg on the bounded count domain.
    Q("q328_custdist", (s, d) => {
      import s.implicits._
      val perCust = t(s, d, "orders")
        .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
      t(s, d, "customer")
        .join(perCust, $"c_custkey" === $"o_custkey", "left_outer")
        .select(coalesce($"cnt", lit(0L)).as("c_count"))
        .groupBy($"c_count").agg(count(lit(1)).as("custdist"))
    }, Some("""
      WITH pc AS (SELECT o_custkey, count(*) AS cnt
                  FROM orders GROUP BY 1)
      SELECT coalesce(pc.cnt, 0) AS c_count,
        count(*) AS custdist
      FROM customer LEFT JOIN pc ON pc.o_custkey = c_custkey
      GROUP BY 1""")),

    // TPC-H Q3-shape shipping priority (top-10 unshipped BUILDING-
    // segment orders by discounted revenue as of a cutoff date — the
    // classic 3-way selective join + computed-measure top-k). Scale
    // shape: both date filters and the segment filter PUSH DOWN to
    // their scans before any join (verified in the plan audit's scan
    // inspection conventions); the customer slice broadcasts (AQE
    // adjudicates); revenue floors per line BEFORE summing (q312
    // convention); top-10 rides TakeOrderedAndProject on the
    // (revenue desc, odate asc, orderkey asc) total order.
    Q("q332_shipping_priority", (s, d) => {
      import s.implicits._
      val cust = t(s, d, "customer")
        .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
      val ord = t(s, d, "orders")
        .filter(to_date($"o_orderdate") < lit("1998-06-01"))
        .select($"o_orderkey", $"o_custkey",
          date_format(to_date($"o_orderdate"), "yyyy-MM-dd").as("odate"),
          $"o_orderpriority")
      val li = t(s, d, "lineitem")
        .filter(to_date($"l_shipdate") > lit("1998-06-01"))
        .select($"l_orderkey",
          expr("cast(floor(l_extendedprice * (1.0 - l_discount) * 100) as bigint)")
            .as("cents"))
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"odate", $"o_orderpriority")
        .agg(sum($"cents").as("revenue_cents"))
        .orderBy($"revenue_cents".desc, $"odate".asc, $"l_orderkey".asc)
        .limit(10)
    }, Some("""
      SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
        o_orderpriority,
        CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
          AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
        AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
      GROUP BY 1, 2, 3
      ORDER BY revenue_cents DESC, odate ASC, l_orderkey ASC
      LIMIT 10""")),

    // Min-cost supplier (the TPC-H Q2 shape, adapted: no partsupp table
    // in the testdata star, so the part-supplier cost book derives from
    // observed lineitem trades — min unit price in exact cents per
    // (part, supplier)). Per LARGE part, the cheapest EUROPE supplier
    // wins on the (cost asc, suppkey asc) total order — the classic
    // correlated min-subquery DECORRELATED to one row_number window
    // (q12's top-k convention, not a per-part subquery). Exactness:
    // unit cost = extendedprice cents div quantity, all-integer; the
    // top-20 rides (s_acctbal desc, p_partkey asc) with acctbal an
    // untouched parquet double — identical bits both engines. Scale:
    // the cost book is one map-side-combined (part, supp) agg off the
    // lineitem scan; dims broadcast; ONE bounded window on the
    // part-keyed frame (partition = part, never global).
    Q("q333_mincost_supplier", (s, d) => {
      import s.implicits._
      // the LARGE-part restriction joins BEFORE the (part, supp) cost
      // agg — it prunes ~5/6 of the fact rows ahead of the shuffle
      // (Catalyst can't hoist a filter above an agg on its own;
      // measured 2.8 -> ~1.4 s at sf0.1) — and the part dim broadcasts
      val parts = t(s, d, "part").filter($"p_type" === "LARGE")
        .select($"p_partkey", $"p_size")
      val cost = t(s, d, "lineitem")
        // part grows with the corpus (unlike nation/region), so the
        // hint is runtime-guarded: above the cap it degrades to a
        // shuffled join instead of pinning an unbounded side
        .join(CorpusOps.boundedBroadcast(parts, what = "LARGE part slice"),
          $"l_partkey" === $"p_partkey")
        .select($"l_partkey", $"l_suppkey", $"p_size",
          expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)")
            .as("cents"),
          $"l_quantity".cast("long").as("qty"))
        .groupBy($"l_partkey", $"l_suppkey", $"p_size")
        .agg(min(expr("cents div qty")).as("unit_cost_cents"))
      val euro = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "EUROPE")
        .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
      val w = Window.partitionBy($"l_partkey")
        .orderBy($"unit_cost_cents".asc, $"l_suppkey".asc)
      cost.join(euro, $"l_suppkey" === $"s_suppkey")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"l_partkey".as("p_partkey"), $"p_size", $"s_name",
          $"n_name", $"s_acctbal", $"unit_cost_cents")
        .orderBy($"s_acctbal".desc, $"p_partkey".asc)
        .limit(20)
    }, Some("""
      WITH cost AS (
        SELECT l_partkey, l_suppkey,
          min(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
              // CAST(l_quantity AS BIGINT)) AS unit_cost_cents
        FROM lineitem GROUP BY 1, 2),
      euro AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'),
      ranked AS (
        SELECT p.p_partkey, p.p_size, e.s_name, e.n_name, e.s_acctbal,
          c.unit_cost_cents,
          row_number() OVER (PARTITION BY c.l_partkey
            ORDER BY c.unit_cost_cents ASC, c.l_suppkey ASC) AS rn
        FROM cost c
        JOIN euro e ON c.l_suppkey = e.s_suppkey
        JOIN part p ON c.l_partkey = p.p_partkey
        WHERE p.p_type = 'LARGE')
      SELECT p_partkey, p_size, s_name, n_name, s_acctbal, unit_cost_cents
      FROM ranked WHERE rn = 1
      ORDER BY s_acctbal DESC, p_partkey ASC
      LIMIT 20""")),

    // Promo revenue share by ship month (the TPC-H Q14 shape): what
    // fraction of 1997's discounted revenue each month came from PROMO
    // parts — the merchandising-effect monitor. Exactness: per-row
    // discounted revenue in scale-4 integer units (DECIMAL(12,2) *
    // DECIMAL(12,2) is exact scale-4; * 10000 -> integral BIGINT), so
    // the ppm share is one integer floor division — no double ratio
    // ever forms. Scale: ONE lineitem⋈part equi-join (part side is the
    // dim, AQE adjudicates), ONE map-side-combined month agg; the
    // month grid is value-bounded (12 rows).
    Q("q334_promo_revenue", (s, d) => {
      import s.implicits._
      val rev4 = expr("""cast(cast(l_extendedprice as decimal(12,2)) *
        (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))
        * 10000 as bigint)""")
      t(s, d, "lineitem")
        .filter($"l_shipdate" >= lit("1997-01-01").cast(TimestampType) &&
                $"l_shipdate" < lit("1998-01-01").cast(TimestampType))
        .join(t(s, d, "part"), $"l_partkey" === $"p_partkey")
        .select(date_format($"l_shipdate", "yyyy-MM").as("ship_month"),
          rev4.as("rev4"),
          when($"p_type" === "PROMO", rev4).otherwise(0L).as("promo4"))
        .groupBy($"ship_month")
        .agg(count(lit(1)).as("n_items"), sum($"rev4").as("rev4"),
          sum($"promo4").as("promo4"))
        // share masses quantized to whole currency units BEFORE the ppm
        // multiply: sum(rev4) * 1e6 would pass 2^63 past ~10^14 scale-4
        // units (reachable at sf1); whole-unit masses carry headroom to
        // ~sf10^5 and the quantization is the same floor in both engines
        .select($"ship_month", $"n_items",
          expr("((promo4 div 10000) * 1000000) div (rev4 div 10000)")
            .as("promo_ppm"),
          expr("rev4 div 10000").as("revenue_whole"))
    }, Some("""
      WITH l AS (
        SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
               (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
               * 10000 AS BIGINT) AS rev4,
          p_type
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01')
      SELECT ship_month, count(*) AS n_items,
        CAST((sum(CASE WHEN p_type = 'PROMO' THEN rev4 ELSE 0 END) // 10000)
             * 1000000 // (sum(rev4) // 10000) AS BIGINT) AS promo_ppm,
        CAST(sum(rev4) // 10000 AS BIGINT) AS revenue_whole
      FROM l GROUP BY 1""")),

    // Bracketed discount revenue (the TPC-H Q19 shape): revenue from
    // three OR'd (brand, size-range, quantity-range) brackets — the
    // classic multi-predicate disjunction that must stay INSIDE one
    // codegen'd scan+join (a UNION of three scans would read the fact
    // table three times; the disjunction reads it once and the bracket
    // label is a row-local CASE). Exactness: scale-4 integer revenue
    // (q334 convention). Scale: one lineitem⋈part equi-join; the OR
    // collapses to a residual filter on the joined row; 3-row rollup.
    Q("q335_bracket_revenue", (s, d) => {
      import s.implicits._
      val rev4 = expr("""cast(cast(l_extendedprice as decimal(12,2)) *
        (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))
        * 10000 as bigint)""")
      val b1 = $"p_brand" === "Brand#1" && $"p_size".between(1, 10) &&
        $"l_quantity" >= 1 && $"l_quantity" <= 15
      val b2 = $"p_brand" === "Brand#7" && $"p_size".between(5, 25) &&
        $"l_quantity" >= 10 && $"l_quantity" <= 30
      val b3 = $"p_brand" === "Brand#13" && $"p_size".between(10, 50) &&
        $"l_quantity" >= 25 && $"l_quantity" <= 50
      t(s, d, "lineitem")
        .join(t(s, d, "part"), $"l_partkey" === $"p_partkey")
        .filter(b1 || b2 || b3)
        .select(when(b1, "bracket1").when(b2, "bracket2")
          .otherwise("bracket3").as("bracket"), rev4.as("rev4"))
        .groupBy($"bracket")
        .agg(count(lit(1)).as("n_items"),
          expr("sum(rev4) div 10000").as("revenue_whole"))
    }, Some("""
      WITH j AS (
        SELECT CASE
            WHEN p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                 AND l_quantity BETWEEN 1 AND 15 THEN 'bracket1'
            WHEN p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 25
                 AND l_quantity BETWEEN 10 AND 30 THEN 'bracket2'
            WHEN p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 50
                 AND l_quantity BETWEEN 25 AND 50 THEN 'bracket3'
            END AS bracket,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
               (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
               * 10000 AS BIGINT) AS rev4
        FROM lineitem JOIN part ON l_partkey = p_partkey)
      SELECT bracket, count(*) AS n_items,
        CAST(sum(rev4) // 10000 AS BIGINT) AS revenue_whole
      FROM j WHERE bracket IS NOT NULL GROUP BY 1""")),

    // National market share (the TPC-H Q8 shape): the focus supply
    // nation's share of ASIA customers' discounted revenue, per order
    // year — the competitive-position readout. Exactness: scale-4
    // integer revenue, share as one ppm floor division per year.
    // Scale: the 5-way star join shuffles only fact-keyed equi-joins
    // (lineitem⋈orders on orderkey, ⋈customer on custkey); nation and
    // region broadcast; supplier-side nation lookup is a second
    // broadcast of the same dim under a different alias; ONE
    // map-side-combined year agg ends it (the year grid is bounded).
    Q("q336_market_share", (s, d) => {
      import s.implicits._
      val rev4 = expr("""cast(cast(l_extendedprice as decimal(12,2)) *
        (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))
        * 10000 as bigint)""")
      val custAsia = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA")
        .select($"c_custkey")
      val suppNation = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").select($"n_nationkey".as("sn_key"),
          $"n_name".as("supp_nation"))), $"s_nationkey" === $"sn_key")
        .select($"s_suppkey", $"supp_nation")
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(custAsia, $"o_custkey" === $"c_custkey")
        .join(suppNation, $"l_suppkey" === $"s_suppkey")
        .select(year($"o_orderdate").cast("long").as("o_year"),
          rev4.as("rev4"),
          when($"supp_nation" === "NATION_3", rev4).otherwise(0L)
            .as("focus4"))
        .groupBy($"o_year")
        .agg(count(lit(1)).as("n_items"),
          // whole-unit masses before the ppm multiply (q334 overflow note)
          expr("((sum(focus4) div 10000) * 1000000) div (sum(rev4) div 10000)")
            .as("share_ppm"),
          expr("sum(rev4) div 10000").as("market_whole"))
    }, Some("""
      WITH j AS (
        SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
               (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
               * 10000 AS BIGINT) AS rev4,
          sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA')
      SELECT CAST(o_year AS BIGINT) AS o_year, count(*) AS n_items,
        CAST((sum(CASE WHEN supp_nation = 'NATION_3' THEN rev4 ELSE 0 END)
              // 10000) * 1000000 // (sum(rev4) // 10000) AS BIGINT)
          AS share_ppm,
        CAST(sum(rev4) // 10000 AS BIGINT) AS market_whole
      FROM j GROUP BY 1""")),

    // Parts-supplier relationship count (the TPC-H Q16 shape, adapted:
    // the (part, supplier) relationship book derives from observed
    // lineitem trades; suppliers in deficit — negative account balance,
    // the complaint stand-in — are excluded by an ANTI join before
    // counting). Per (brand, type, size octet): how many DISTINCT
    // eligible suppliers serve it — the supply-diversity number a
    // procurement risk review reads. Top-20 on (cnt desc, brand, type,
    // bucket) — a total order. Scale: the (part, supp) dedup rides the
    // grid countDistinct's map-side partial agg (no separate corpus
    // distinct exchange); the deficit exclusion is a broadcast-able
    // anti join against the supplier dim; the count-distinct rides the
    // bounded attribute grid.
    Q("q337_supplier_diversity", (s, d) => {
      import s.implicits._
      // round-16 opt: NO upfront .distinct() — the grid countDistinct
      // below dedups (grid, supplier) map-side anyway, so the corpus-
      // wide (part, supp) distinct exchange (the plan's largest) bought
      // nothing: the anti join and the part join are broadcast-side
      // (multiplicity-safe), and countDistinct is multiplicity-blind.
      val rel = t(s, d, "lineitem")
        .select($"l_partkey", $"l_suppkey")
      val deficit = t(s, d, "supplier").filter($"s_acctbal" < 0)
        .select($"s_suppkey")
      rel.join(deficit, $"l_suppkey" === $"s_suppkey", "left_anti")
        .join(t(s, d, "part"), $"l_partkey" === $"p_partkey")
        .select($"p_brand", $"p_type",
          expr("cast(p_size as bigint) div 8").as("size_bucket"),
          $"l_suppkey")
        .groupBy($"p_brand", $"p_type", $"size_bucket")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand".asc, $"p_type".asc,
          $"size_bucket".asc)
        .limit(20)
    }, Some("""
      WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      ok AS (
        SELECT rel.l_partkey, rel.l_suppkey FROM rel
        WHERE rel.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
      SELECT p_brand, p_type,
        CAST(p_size AS BIGINT) // 8 AS size_bucket,
        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM ok JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, size_bucket ASC
      LIMIT 20""")),

    // Order-priority checking (the TPC-H Q4 shape, adapted: no
    // commitdate/receiptdate columns in the star, so "late" = at least
    // one line shipped 90+ days after the order was placed): per
    // priority in one order quarter, how many orders slipped — the SLA
    // scorecard. The EXISTS subquery is a LEFT SEMI join (never a
    // count-then-filter of the fact table). Exactness: date arithmetic
    // on whole days, counts exact. Scale: the quarter filter pushes to
    // the orders scan; ONE orderkey-keyed semi join against the
    // pre-filtered late-lines side; map-side-combined priority agg
    // (priority registry is value-bounded).
    Q("q339_order_priority_check", (s, d) => {
      import s.implicits._
      val ord = t(s, d, "orders")
        .filter($"o_orderdate" >= lit("1997-01-01").cast(TimestampType) &&
                $"o_orderdate" < lit("1997-04-01").cast(TimestampType))
      val late = t(s, d, "lineitem")
        .join(ord.select($"o_orderkey".as("ok"), $"o_orderdate".as("od")),
          $"l_orderkey" === $"ok")
        .filter(datediff(to_date($"l_shipdate"), to_date($"od")) >= 90)
        .select($"l_orderkey")
      ord.join(late, $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("late_orders"))
    }, Some("""
      WITH ord AS (
        SELECT o_orderkey, o_orderdate, o_orderpriority FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
          AND CAST(o_orderdate AS DATE) <  DATE '1997-04-01')
      SELECT o_orderpriority, count(*) AS late_orders
      FROM ord
      WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = ord.o_orderkey
          AND date_diff('day', CAST(ord.o_orderdate AS DATE),
                CAST(l_shipdate AS DATE)) >= 90)
      GROUP BY 1""")),

    // Returned-item customer report (the TPC-H Q10 shape): top-20
    // customers by revenue lost to returns in a quarter — the
    // churn-risk outreach list. Exactness: revenue in exact cents
    // (DECIMAL scale-2 × 100 per line, floor'd by construction —
    // integral), the top-20 on (revenue desc, custkey asc) — a total
    // order. Scale: date filter pushes to the orders scan and the
    // returnflag filter to the lineitem scan BEFORE their join;
    // customer join is custkey-keyed; nation broadcasts; the top-20 is
    // one TakeOrderedAndProject.
    Q("q340_returned_items", (s, d) => {
      import s.implicits._
      val rev4 = expr("""cast(cast(l_extendedprice as decimal(12,2)) *
        (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))
        * 10000 as bigint)""")
      t(s, d, "lineitem").filter($"l_returnflag" === "R")
        .join(t(s, d, "orders")
          .filter($"o_orderdate" >= lit("1997-01-01").cast(TimestampType) &&
                  $"o_orderdate" < lit("1997-04-01").cast(TimestampType)),
          $"l_orderkey" === $"o_orderkey")
        .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey")
        .join(broadcast(t(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name", rev4.as("rev4"))
        .groupBy($"c_custkey", $"n_name")
        .agg(expr("sum(rev4) div 10000").as("lost_revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"lost_revenue".desc, $"c_custkey".asc)
        .limit(20)
    }, Some("""
      SELECT c_custkey, n_name,
        CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
              (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
              * 10000 AS BIGINT)) // 10000 AS BIGINT) AS lost_revenue,
        count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        AND CAST(o_orderdate AS DATE) <  DATE '1997-04-01'
      GROUP BY 1, 2
      ORDER BY lost_revenue DESC, c_custkey ASC
      LIMIT 20""")),

    // Bi-nation trade volume (the TPC-H Q7 shape): discounted revenue
    // shipped between two focus nations, both directions, per ship
    // year — the bilateral-flow readout q336's one-sided market share
    // doesn't give. Exactness: scale-4 integer revenue (q334
    // convention), whole-unit rollups. Scale: the nation pair filter
    // collapses supplier/customer to two TINY key slices BEFORE the
    // fact joins (both broadcast-eligible, AQE adjudicates — the
    // filters push into the dim scans); lineitem⋈orders stays
    // fact-keyed; bounded (direction, year) grid agg.
    Q("q345_binat_volume", (s, d) => {
      import s.implicits._
      val rev4 = expr("""cast(cast(l_extendedprice as decimal(12,2)) *
        (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))
        * 10000 as bigint)""")
      val nat = t(s, d, "nation")
        .filter($"n_name".isin("NATION_3", "NATION_7"))
      val supp = t(s, d, "supplier")
        .join(nat.select($"n_nationkey", $"n_name".as("supp_nation")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"supp_nation")
      val cust = t(s, d, "customer")
        .join(nat.select($"n_nationkey".as("cnk"),
          $"n_name".as("cust_nation")), $"c_nationkey" === $"cnk")
        .select($"c_custkey", $"cust_nation")
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(supp, $"l_suppkey" === $"s_suppkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .filter($"supp_nation" =!= $"cust_nation")
        .select($"supp_nation", $"cust_nation",
          year($"l_shipdate").cast("long").as("ship_year"),
          rev4.as("rev4"))
        .groupBy($"supp_nation", $"cust_nation", $"ship_year")
        .agg(count(lit(1)).as("n_lines"),
          expr("sum(rev4) div 10000").as("volume_whole"))
    }, Some("""
      WITH nat AS (
        SELECT n_nationkey, n_name FROM nation
        WHERE n_name IN ('NATION_3', 'NATION_7'))
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_year,
        count(*) AS n_lines,
        CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
              (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
              * 10000 AS BIGINT)) // 10000 AS BIGINT) AS volume_whole
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nat sn ON s_nationkey = sn.n_nationkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nat cn ON c_nationkey = cn.n_nationkey
      WHERE sn.n_name <> cn.n_name
      GROUP BY 1, 2, 3""")),

    // Forecast revenue change (the TPC-H Q6 shape): the revenue a
    // blanket discount-elimination would have added in one year, over
    // the mid-band discounted small-quantity lines — the classic
    // ALL-pushdown single-scan aggregate: every predicate (date range,
    // discount band, quantity cap) must reach the parquet scan and the
    // whole plan is one WholeStageCodegen span over a scalar agg.
    // Exactness: extendedprice*discount is exact DECIMAL(12,2) scale-4;
    // summed as scale-4 integers, reported in whole units.
    Q("q346_forecast_revenue", (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_shipdate" >= lit("1997-01-01").cast(TimestampType) &&
                $"l_shipdate" < lit("1998-01-01").cast(TimestampType) &&
                $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
                $"l_quantity" < 24)
        .select(expr("""cast(cast(l_extendedprice as decimal(12,2)) *
          cast(l_discount as decimal(12,2)) * 10000 as bigint)""")
          .as("rev4"))
        .agg(count(lit(1)).as("n_lines"),
          expr("sum(rev4) div 10000").as("forecast_revenue_whole"))
    }, Some("""
      SELECT count(*) AS n_lines,
        CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
              CAST(l_discount AS DECIMAL(12,2)) * 10000 AS BIGINT))
             // 10000 AS BIGINT) AS forecast_revenue_whole
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24""")),

    // Product-line profit by nation and year (the TPC-H Q9 shape,
    // adapted: no partsupp in the testdata star, so the supply-cost
    // book derives from observed trades — min unit price in exact
    // cents per (part, supplier), the q333 convention). Profit per
    // line = discounted revenue - cost-book floor x quantity, rolled
    // up per (supplier nation, order year) over the 'widget' product
    // line — the classic 5-way fact/dim join with a fact-derived
    // second fact. Exactness: rev4 is scale-4 integral (q334), cost4 =
    // unit_cost_cents x qty x 100 — all-bigint, no double ever forms.
    // Scale: the name filter prunes the fact FIRST through a
    // runtime-guarded broadcast (q333); the slim pruned slice
    // (5 narrow cols) is persisted because BOTH the cost book and the
    // fact pass consume it — one lineitem scan, not two (at the 100 TB
    // tier an operator would flip spark.graft.broadcast.maxRows and
    // trade the persist for a re-scan if executor storage is tight);
    // the cost-book join is (part, supp)-keyed post-agg, orders joins
    // fact-keyed under AQE, supplier⋈nation broadcasts; the final agg
    // is a bounded (nation, year) grid, map-side combined.
    Q("q347_profit_by_nation", (s, d) => {
      import s.implicits._
      val widgets = t(s, d, "part").filter($"p_name".like("%widget%"))
        .select($"p_partkey")
      val wli = t(s, d, "lineitem")
        .join(CorpusOps.boundedBroadcast(widgets, what = "widget part slice"),
          $"l_partkey" === $"p_partkey")
        .select($"l_orderkey", $"l_partkey", $"l_suppkey",
          expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)")
            .as("cents"),
          $"l_quantity".cast("long").as("qty"),
          expr("""cast(cast(l_extendedprice as decimal(12,2)) *
            (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2)))
            * 10000 as bigint)""").as("rev4"))
        .persist()
      val cost = wli.groupBy($"l_partkey", $"l_suppkey")
        .agg(min(expr("cents div qty")).as("unit_cost_cents"))
      // supplier grows with the corpus: runtime-guarded broadcast only
      // (degrades to a shuffled join past the cap — the 100x behavior);
      // nation is the fixed 25-row dimension
      val suppNat = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name")
      wli.join(cost, Seq("l_partkey", "l_suppkey"))
        .join(t(s, d, "orders").select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .join(CorpusOps.boundedBroadcast(suppNat, what = "supplier-nation map"),
          $"l_suppkey" === $"s_suppkey")
        .select($"n_name".as("nation"),
          year($"o_orderdate").cast("long").as("o_year"),
          ($"rev4" - $"unit_cost_cents" * $"qty" * lit(100L)).as("profit4"))
        .groupBy($"nation", $"o_year")
        .agg(count(lit(1)).as("n_lines"),
          expr("sum(profit4) div 10000").as("profit_whole"))
    }, Some("""
      WITH wli AS (
        SELECT l_orderkey, l_partkey, l_suppkey,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            AS cents,
          CAST(l_quantity AS BIGINT) AS qty,
          CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
              (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
              * 10000 AS BIGINT) AS rev4
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%widget%'),
      cost AS (
        SELECT l_partkey, l_suppkey, min(cents // qty) AS unit_cost_cents
        FROM wli GROUP BY 1, 2)
      SELECT n_name AS nation,
        CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
        count(*) AS n_lines,
        CAST(sum(wli.rev4 - cost.unit_cost_cents * wli.qty * 100) // 10000
          AS BIGINT) AS profit_whole
      FROM wli
      JOIN cost USING (l_partkey, l_suppkey)
      JOIN orders ON wli.l_orderkey = o_orderkey
      JOIN supplier ON wli.l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1, 2""")),

    // Important parts by traded value (the TPC-H Q11 shape, adapted:
    // value per part = total traded cents through ONE nation's
    // suppliers, kept only where it exceeds 2x the MEAN part value —
    // the global-threshold scalar subquery, decorrelated to a
    // broadcast 1-row agg. TPC-H's fixed fraction is scale-hostile:
    // part cardinality grows with SF, so 1/1000-of-total empties at
    // sf0.1 and would keep everything at sf1000; the mean-relative cut
    // selects the same tail at ANY corpus size). Exactness: the
    // compare is value_cents x n_parts > 2 x total_cents — one
    // all-bigint cross-multiply, no fraction ever forms (headroom:
    // total cents at sf1000 ~ 1.2e15, n_parts ~ 1.3e8 only if BOTH
    // maxed — value x n_parts stays < 2^63 because value x n <=
    // total x n holds only for the max part; realistic value ~ 1e10 x
    // 1.3e8 exceeds 2^63, so the compare is done in DECIMAL(38,0) —
    // exact integer arithmetic with 2^127 headroom, still no double,
    // identical in both engines). Scale: the nation slice collapses
    // supplier to a tiny broadcast side BEFORE the fact join; ONE
    // map-side-combined part agg; the 1-row total broadcasts back over
    // the part-sized frame (never a second corpus pass); ordered
    // output is part-cardinality post-HAVING — bounded, and the sort
    // is range-partitioned, not single-task.
    Q("q348_important_parts", (s, d) => {
      import s.implicits._
      // the one-nation supplier slice still grows with the corpus
      // (~1/25 of suppliers): runtime-guarded broadcast, not a bare hint
      val natSupp = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").filter($"n_name" === "NATION_7")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey")
      val value = t(s, d, "lineitem")
        .join(CorpusOps.boundedBroadcast(natSupp, what = "NATION_7 suppliers"),
          $"l_suppkey" === $"s_suppkey")
        .select($"l_partkey",
          expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)")
            .as("cents"))
        .groupBy($"l_partkey").agg(sum($"cents").as("value_cents"))
      val total = value.agg(sum($"value_cents").as("total_cents"),
        count(lit(1)).as("n_parts"))
      value.crossJoin(broadcast(total))
        .filter($"value_cents".cast(DecimalType(38, 0)) * $"n_parts" >
          $"total_cents".cast(DecimalType(38, 0)) * lit(2L))
        .select($"l_partkey".as("p_partkey"), $"value_cents")
        .orderBy($"value_cents".desc, $"p_partkey".asc)
    }, Some("""
      WITH value AS (
        SELECT l_partkey,
          sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS value_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY 1)
      SELECT l_partkey AS p_partkey, CAST(value_cents AS BIGINT)
          AS value_cents
      FROM value
      WHERE CAST(value_cents AS DECIMAL(38,0)) *
            (SELECT count(*) FROM value) >
            (SELECT CAST(sum(value_cents) AS DECIMAL(38,0)) FROM value) * 2
      ORDER BY value_cents DESC, p_partkey ASC""")),

    // Priority split by return class (the TPC-H Q12 shape, adapted:
    // no l_shipmode/l_receiptdate in the testdata star, so the
    // mode-analog is the A/R return class and the date window rides
    // l_shipdate). Per class, how many 1997 lines belong to
    // critical-priority orders vs not — the canonical conditional agg
    // (SUM over CASE) across the ONE big-big join. Exactness: pure
    // integer 0/1 sums. Scale: the date+class filters push to the
    // lineitem parquet scan BEFORE the orders join (fact-keyed, AQE
    // adjudicates); the agg grid is value-bounded (2 classes).
    Q("q349_priority_class", (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_shipdate" >= lit("1997-01-01").cast(TimestampType) &&
                $"l_shipdate" < lit("1998-01-01").cast(TimestampType) &&
                $"l_returnflag".isin("A", "R"))
        .select($"l_orderkey", $"l_returnflag")
        .join(t(s, d, "orders").select($"o_orderkey", $"o_orderpriority"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(
          sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_lines"),
          sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_lines"))
    }, Some("""
      SELECT l_returnflag,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
        AND l_returnflag IN ('A', 'R')
      GROUP BY 1""")),

    // Full TPC-H Q1 parity (q01 carries the sums; this adds the charge
    // sum and the three averages, completing the literal Q1 column set
    // so all 22 TPC-H shapes have full-fidelity counterparts).
    // Exactness: charge = extendedprice x (1-disc) x (1+tax) is exact
    // DECIMAL scale-6 (12,2 x 12,2 x 12,2); summed as scale-6 integers;
    // the averages are floor divisions of exact integer sums by the
    // group count (centi-units for qty/price, basis points for disc) —
    // no double ever forms, so the hash gate is engine-order-free.
    // Scale: ONE pushed-filter scan, ONE map-side-combined agg on the
    // value-bounded (returnflag, linestatus) grid.
    Q("q350_pricing_summary_full", (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_shipdate" <= lit("2001-09-02").cast(TimestampType))
        .select($"l_returnflag", $"l_linestatus",
          $"l_quantity".cast("long").as("qty"),
          expr("cast(cast(l_extendedprice as decimal(12,2)) * 100 as bigint)")
            .as("price_c"),
          expr("""cast(cast(l_extendedprice as decimal(12,2)) *
            (cast(1 as decimal(12,2)) - cast(l_discount as decimal(12,2))) *
            (cast(1 as decimal(12,2)) + cast(l_tax as decimal(12,2)))
            * 1000000 as bigint)""").as("charge6"),
          expr("cast(cast(l_discount as decimal(12,2)) * 10000 as bigint)")
            .as("disc_bp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"qty").as("sum_qty"),
          expr("sum(price_c) div 100").as("sum_base_price_whole"),
          expr("sum(charge6) div 1000000").as("sum_charge_whole"),
          expr("sum(qty * 100) div count(1)").as("avg_qty_centi"),
          expr("sum(price_c) div count(1)").as("avg_price_cents"),
          expr("sum(disc_bp) div count(1)").as("avg_disc_bp"),
          count(lit(1)).as("count_order"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
          AS BIGINT)) // 100 AS BIGINT) AS sum_base_price_whole,
        CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
          (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) *
          (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))
          * 1000000 AS BIGINT)) // 1000000 AS BIGINT) AS sum_charge_whole,
        CAST(sum(CAST(l_quantity AS BIGINT) * 100) // count(*) AS BIGINT)
          AS avg_qty_centi,
        CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
          AS BIGINT)) // count(*) AS BIGINT) AS avg_price_cents,
        CAST(sum(CAST(CAST(l_discount AS DECIMAL(12,2)) * 10000
          AS BIGINT)) // count(*) AS BIGINT) AS avg_disc_bp,
        count(*) AS count_order
      FROM lineitem
      WHERE CAST(l_shipdate AS TIMESTAMP) <= TIMESTAMP '2001-09-02 00:00:00'
      GROUP BY 1, 2"""))
  )
}
