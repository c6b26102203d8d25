package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{Q, QueryModule, Tables}
import graft.catalog.Tables.t

/** Engine extensions beyond the reference surface (SURVEY.md §2.4/§4.2
  * "built-ins exist if we extend"): multi-level aggregation (rollup),
  * approximate distinct, and skew-safe salted aggregation.
  */
object ExtensionQueries extends QueryModule {

  private val D = DecimalType(12, 2)

  /** Register every testdata table as a temp view — the shared-ANSI-text
    * queries (q93, q96) run their SQL against these. */
  private def registerViews(s: org.apache.spark.sql.SparkSession,
                            d: String): Unit =
    Tables.names.foreach(n => Tables.t(s, d, n).createOrReplaceTempView(n))

  /** ONE SQL text for q93, executed verbatim by BOTH engines (Spark via
    * `spark.sql` over temp views, DuckDB as the oracle): ANSI-only
    * constructs — derived table, window with total-order tie-break,
    * DECIMAL-routed money cast. The hash gate then proves dialect-level
    * agreement, not just plan-level equivalence. */
  private val SharedSql93 = """
    SELECT o_orderpriority, o_orderkey, total_d FROM (
      SELECT o_orderpriority, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_d,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC)
               AS rk
      FROM orders) t
    WHERE rk <= 3"""

  /** Shared ANSI text for q96 (the q93 pattern): GROUPING SETS with an
    * explicit grouping-id column — the generalization of rollup/cube
    * (q41/q46) to arbitrary grouping combinations, one pass. */
  private val SharedSql96 = """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n,
           CAST(CAST(grouping(o_orderstatus) AS INT) * 2 +
                CAST(grouping(o_orderpriority) AS INT) AS BIGINT) AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""

  def qs: Seq[Q] = Seq(

    // rollup: per (status, priority), per status, grand total in one pass.
    Q("q41_rollup", (s, d) => {
      import s.implicits._
      t(s, d, "orders")
        .rollup($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             sum($"o_totalprice".cast(D)).cast(DoubleType).as("revenue"))
        .select(
          coalesce($"o_orderstatus", lit("ALL")).as("status"),
          coalesce($"o_orderpriority", lit("ALL")).as("priority"),
          $"n_orders", $"revenue")
    }, Some("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""")),

    // skew-safe two-stage salted aggregation over a 5-key (maximally
    // skewed) grouping; result is exactly the plain GROUP BY.
    Q("q42_salted_agg", (s, d) => {
      import s.implicits._
      SkewOps.saltedAgg(
        t(s, d, "events"), Seq("event_type"), salts = 16,
        sumExprs = Map("total_value" -> $"value".cast(D)))
        .select($"event_type",
          $"total_value".cast(DoubleType).as("total_value"), $"n")
    }, Some("""
      SELECT event_type,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        count(*) AS n
      FROM events GROUP BY event_type""")),

    // skew-safe salted equi-join: lineitem's join key salted by row
    // content, orders replicated once per salt, join on (key, salt) —
    // a hot orderkey spreads over 8 reducers instead of stalling one.
    // Result is row-identical to the plain join (oracle runs it), here
    // aggregated per priority to keep the gate output bounded. The
    // manual form of AQE's skew-join split, for the cases AQE doesn't
    // cover (no runtime stats yet, non-splittable stages).
    Q("q82_salted_join", (s, d) => {
      import s.implicits._
      // salts=4 demos the split at half the replication cost of 8 —
      // production sizes salts to the observed hot-key share
      val joined = SkewOps.saltedJoin(
        t(s, d, "lineitem").select($"l_orderkey", $"l_quantity"),
        t(s, d, "orders").select($"o_orderkey".as("l_orderkey"), $"o_orderpriority"),
        "l_orderkey", salts = 4)
      joined.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast(D)).cast(DoubleType).as("sum_qty"))
    }, Some("""
      SELECT o_orderpriority, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""")),

    // cube: all grouping combinations in one pass (rollup's superset).
    Q("q46_cube", (s, d) => {
      import s.implicits._
      t(s, d, "events")
        .cube($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce($"event_type", lit("ALL")).as("event_type"),
          coalesce($"day", lit("ALL")).as("day"),
          $"n")
    }, Some("""
      SELECT coalesce(event_type, 'ALL') AS event_type,
             coalesce(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
             count(*) AS n
      FROM events
      GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))""")),

    // EAV self-join-chain -> pivot rule, end-to-end on the correctness
    // gate: materialize an EAV projection of supplier to parquet (the
    // arm pattern needs a real scan; 'acct_band' is withheld for
    // suppkey%3==0 so the inner chain's drop semantics bite), run the
    // NAIVE 3-arm chain a user ports from the reference SQL, and let
    // EavPivotRule rewrite it to ONE scan + pivot aggregate. The result
    // is materialized (localCheckpoint) while the opt-in confs are set,
    // so the rewritten plan is what actually executes — then the confs
    // are restored so no other catalog query sees them (a production
    // pipeline would just leave them set session-wide). Excluded from
    // bench: the query writes its own input artifact each run.
    Q("q71_eav_chain_pivot", (s, d) => {
      import s.implicits._
      val eavDir = s"${System.getProperty("java.io.tmpdir")}/graft_eav_" +
        java.lang.Integer.toHexString(d.hashCode)
      t(s, d, "supplier")
        .select($"s_suppkey", explode(map(
          lit("name"), $"s_name",
          lit("nation"), $"s_nationkey".cast(StringType),
          lit("acct_band"), floor($"s_acctbal" / 1000).cast(LongType).cast(StringType)))
          .as(Seq("meta_key", "meta_value")))
        .filter(!($"meta_key" === "acct_band" && $"s_suppkey" % 3 === 0))
        .write.mode("overwrite").parquet(eavDir)
      val eav = s.read.parquet(eavDir)
      s.conf.set("spark.graft.eav.pivotJoinChains", "true")
      s.conf.set("spark.graft.eav.entityColumn", "s_suppkey")
      try {
        // persist() captures the physical plan NOW (confs still set), so
        // the pivot rewrite survives even a later cache eviction; count()
        // materializes it eagerly like the old localCheckpoint but keeps
        // lineage so the blocks stay evictable / clearCache-reclaimable.
        val out = EavOps.selfJoinChain(eav, "s_suppkey", "meta_key",
            "meta_value", Seq("name", "nation", "acct_band")).persist()
        out.count()
        out
      } finally {
        s.conf.set("spark.graft.eav.pivotJoinChains", "false")
        s.conf.unset("spark.graft.eav.entityColumn")
      }
    }, Some("""
      SELECT s_suppkey, s_name AS name,
        CAST(s_nationkey AS VARCHAR) AS nation,
        CAST(CAST(floor(s_acctbal / 1000) AS BIGINT) AS VARCHAR) AS acct_band
      FROM supplier WHERE s_suppkey % 3 <> 0"""), bench = false),

    // approximate distinct (HLL++): the estimate's raw value is
    // engine-private (DuckDB's HLL differs bit-for-bit), so the HARD
    // oracle gates it instead: the plan emits the exact count plus a
    // within_bound flag asserting relative error <= 3x the requested
    // rsd (0.05 default -> 15%, a >=3-sigma envelope); the oracle
    // recomputes the exact count and claims the flag TRUE. A drifting
    // estimate now hash-mismatches instead of hiding behind rows-only.
    // NOTE: this is a CALIBRATED-ENVELOPE check, not a worst-case
    // guarantee — HLL++ has no hard error bound, so the gate is tied to
    // the pinned test corpora (verified at sf0.001/0.01/0.1). On new
    // data a ~>3-sigma hash outlier can trip it as an ACCURACY
    // observation, not an engine mismatch; SketchErrorSpec prints the
    // raw per-group error so a trip is diagnosable at a glance.
    Q("q43_approx_distinct", (s, d) => {
      import s.implicits._
      // The sketch and the exact count run as SEPARATE aggregations
      // joined on the 3-row group key, NOT one mixed agg: Spark's
      // mixed distinct+imperative-agg rewrite shuffles one row per
      // DISTINCT (flag, partkey) with a ~400-byte HLL partial buffer
      // attached — each buffer holding exactly one value (the group
      // key it rides). The round-13 byte accounting measured that
      // first shuffle at 96 MB at sf1 vs 3.8 MB for this split form:
      // separately, the distinct shuffle is a bare 16-byte key row and
      // the HLL partials collapse to 3 groups per map partition (KB).
      val li = t(s, d, "lineitem")
      val ex = li.groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("exact_parts"))
      val ap = li.groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_partkey").as("approx"))
      // no broadcast() hint: the agg output is value-domain bounded
      // (distinct flags) but not STATICALLY bounded, so the hint sweep
      // rejects it — AQE's runtime size adjudication broadcasts the
      // 3-row side anyway (the q54/q81 convention).
      ex.join(ap, "l_returnflag")
        .select($"l_returnflag", $"exact_parts",
          (abs($"approx" - $"exact_parts").cast("double")
            / $"exact_parts" <= lit(0.15)).as("within_bound"))
    }, Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS exact_parts,
        TRUE AS within_bound
      FROM lineitem GROUP BY l_returnflag""")),

    // relational count-min sketch: token frequencies compressed into a
    // 3x256 counter table (768 rows at ANY corpus size — the sketch,
    // unlike the exact vocab table, has constant footprint and merges
    // by addition across shards/days). Estimates are min over the 3
    // rows, always >= the true count (biased up, never down). Built and
    // probed fully relationally from the same positional-md5 hash
    // family as MinHash/Bloom, so DuckDB replays every counter exactly.
    // The probe set (top-20 tokens, deterministic tie-break) carries the
    // true count alongside the estimate — the error is part of the
    // result contract.
    Q("q86_countmin_freq", (s, d) => {
      import s.implicits._
      val vocab = t(s, d, "documents")
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .persist() // shared by build + probe; evictable, lineage kept
      // same positional-md5 family as Bloom/MinHash — ONE definition
      val positioned = DedupOps.md5Buckets(vocab, $"tok", k = 3, mod = 256)
      val posCells = explode(array(
        struct(lit(0L).as("j"), $"b0".as("b")),
        struct(lit(1L).as("j"), $"b1".as("b")),
        struct(lit(2L).as("j"), $"b2".as("b")))).as("p")
      val sketch = positioned
        .select($"cnt", posCells)
        .groupBy($"p.j".as("j"), $"p.b".as("b"))
        .agg(sum($"cnt").as("c"))
      // exact top-20 probes via bucketed prefilter (CorpusOps.globalTopK)
      // so the global sort never sees the whole vocabulary
      val probes = CorpusOps.globalTopK(positioned, $"tok", k = 20,
          order = Seq($"cnt".desc, $"tok".asc))
        .select($"tok", $"cnt", posCells)
      probes.join(broadcast(sketch),
          probes("p.j") === sketch("j") && probes("p.b") === sketch("b"))
        .groupBy($"tok")
        .agg(max($"cnt").as("true_cnt"), min($"c").as("cm_est"))
        .select($"tok", $"true_cnt".cast("long").as("true_cnt"),
          $"cm_est".cast("long").as("cm_est"))
    }, Some {
      def hv(j: Int) = DedupQueries.hvDuckOf(s"(tok || ':$j')")
      s"""WITH vocab AS (
         |  SELECT tok, count(*) AS cnt FROM (
         |    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |    FROM documents) GROUP BY 1),
         |pos AS (
         |  SELECT tok, cnt,
         |    (${hv(0)}) % 256 AS b0, (${hv(1)}) % 256 AS b1,
         |    (${hv(2)}) % 256 AS b2
         |  FROM vocab),
         |cells AS (
         |  SELECT 0 AS j, b0 AS b, cnt FROM pos
         |  UNION ALL SELECT 1, b1, cnt FROM pos
         |  UNION ALL SELECT 2, b2, cnt FROM pos),
         |sketch AS (SELECT j, b, sum(cnt) AS c FROM cells GROUP BY 1, 2),
         |top AS (SELECT tok, cnt, b0, b1, b2 FROM pos
         |        QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC) <= 20),
         |probe AS (
         |  SELECT tok, cnt, 0 AS j, b0 AS b FROM top
         |  UNION ALL SELECT tok, cnt, 1, b1 FROM top
         |  UNION ALL SELECT tok, cnt, 2, b2 FROM top)
         |SELECT p.tok, CAST(max(p.cnt) AS BIGINT) AS true_cnt,
         |       CAST(min(s.c) AS BIGINT) AS cm_est
         |FROM probe p JOIN sketch s ON s.j = p.j AND s.b = p.b
         |GROUP BY p.tok""".stripMargin
    }),

    // funnel analysis (earliest-event-per-stage form): per user, the
    // minimum timestamp of each stage; a stage counts as reached iff it
    // happened strictly AFTER the previous stage's earliest event.
    // One shuffle (per-user conditional mins with map-side partials),
    // then a single-row reduce — no per-user sequence materialization,
    // so the plan is two aggs at any event volume.
    Q("q89_funnel", (s, d) => {
      import s.implicits._
      val stages = t(s, d, "events").groupBy($"user_id").agg(
        min(when($"event_type" === "view", $"ts")).as("tv"),
        min(when($"event_type" === "click", $"ts")).as("tc"),
        min(when($"event_type" === "purchase", $"ts")).as("tp"))
      stages.agg(
        count(lit(1)).as("n_users"),
        sum(when($"tv".isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when($"tv".isNotNull && $"tc" > $"tv", 1L).otherwise(0L))
          .as("n_view_click"),
        sum(when($"tv".isNotNull && $"tc" > $"tv" && $"tp" > $"tc", 1L)
          .otherwise(0L)).as("n_full_funnel"))
    }, Some("""
      WITH s AS (
        SELECT user_id,
          min(CASE WHEN event_type = 'view' THEN ts END) AS tv,
          min(CASE WHEN event_type = 'click' THEN ts END) AS tc,
          min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        FROM events GROUP BY 1)
      SELECT count(*) AS n_users,
        CAST(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_view,
        CAST(sum(CASE WHEN tv IS NOT NULL AND tc > tv THEN 1 ELSE 0 END)
          AS BIGINT) AS n_view_click,
        CAST(sum(CASE WHEN tv IS NOT NULL AND tc > tv AND tp > tc
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
      FROM s""")),

    // retention cohorts: users grouped by first-seen day, activity
    // counted per (cohort, day-offset) cell — the training-data analog
    // is source-ingest freshness tracking. The cohort table is one row
    // per user (NOT broadcastable at 1B users): the activity join
    // shuffles both sides on user_id and stays co-partitioned into the
    // distinct-count agg.
    Q("q90_retention", (s, d) => {
      import s.implicits._
      val ev = t(s, d, "events").select($"user_id", to_date($"ts").as("day"))
      val cohorts = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
      ev.join(cohorts, "user_id")
        .groupBy($"cohort_day", datediff($"day", $"cohort_day").as("day_offset"))
        .agg(countDistinct($"user_id").as("nu"))
        .select(date_format($"cohort_day", "yyyy-MM-dd").as("cohort_day"),
          $"day_offset".cast("long").as("day_offset"),
          $"nu".cast("long").as("n_users"))
    }, Some("""
      WITH a AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
      SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
        count(DISTINCT a.user_id) AS n_users
      FROM a JOIN c USING (user_id)
      GROUP BY 1, 2""")),

    // the SQL front door: the exact same ANSI text runs through
    // spark.sql over registered views AND through the DuckDB oracle —
    // engine-portable SQL is part of the API surface, and the hash gate
    // proves the two dialects agree on it.
    Q("q93_sql_text", (s, d) => {
      registerViews(s, d)
      s.sql(SharedSql93)
    }, Some(SharedSql93)),

    // GROUPING SETS — arbitrary grouping combinations in one pass (the
    // generalization rollup/cube specialize), with grouping() flags
    // disambiguating "ALL because grouped-out" from a literal value.
    // Same shared-ANSI-text discipline as q93.
    Q("q96_grouping_sets", (s, d) => {
      registerViews(s, d)
      s.sql(SharedSql96)
    }, Some(SharedSql96)),

    // event sequence-pattern detection (the MATCH_RECOGNIZE shape on a
    // lag chain): CONSECUTIVE view -> click -> purchase runs per user —
    // adjacency, where q89's funnel only tests existence-with-ordering.
    // One window shuffle on the user key; the lag chain is a single
    // WindowExec pass.
    Q("q97_sequence_pattern", (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      t(s, d, "events")
        .withColumn("p1", lag($"event_type", 1).over(w))
        .withColumn("p2", lag($"event_type", 2).over(w))
        .filter($"event_type" === "purchase" &&
                $"p1" === "click" && $"p2" === "view")
        .groupBy($"user_id").agg(count(lit(1)).as("n_matches"))
    }, Some("""
      WITH x AS (
        SELECT user_id, event_type,
          lag(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS p1,
          lag(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS p2
        FROM events)
      SELECT user_id, count(*) AS n_matches
      FROM x
      WHERE event_type = 'purchase' AND p1 = 'click' AND p2 = 'view'
      GROUP BY user_id""")),

    // unpivot/melt: wide measure columns restructured to (key, measure,
    // value) rows — the normalization step feeding generic metric
    // pipelines. Row-local expansion (3 rows out per row in, no
    // shuffle); values pass through UNCAST so the hash gate certifies
    // bit-identical doubles.
    Q("q94_unpivot", (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_orderkey" < 1000)
        .select($"l_orderkey", $"l_linenumber",
          $"l_quantity", $"l_extendedprice", $"l_discount")
        .unpivot(
          Array($"l_orderkey", $"l_linenumber"),
          Array($"l_quantity", $"l_extendedprice", $"l_discount"),
          "measure", "value")
    }, Some("""
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
             l_quantity AS value
      FROM lineitem WHERE l_orderkey < 1000
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      FROM lineitem WHERE l_orderkey < 1000
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      FROM lineitem WHERE l_orderkey < 1000""")),

    // relational HyperLogLog — the oracle-ABLE counterpart to q43's
    // engine-private sketch: 256 registers built with group-by max over
    // the positional-md5 hash (bucket = h % 256, rho = leading-zero
    // rank of the remaining 24 bits via an integer CASE chain), register
    // mass summed as DECIMAL(38,30) (every 2^-rho is a binary fraction
    // with <= 25 fractional bits, so the decimal sum is EXACT and
    // order-independent — the raw double sum would be partition-order
    // dependent), and the final alpha*m^2/mass division floor-quantized.
    // The sketch is 256 rows at any corpus size and merges by max.
    // True distinct count rides along: the estimate's error is part of
    // the result contract (~6.5% rse at m=256).
    Q("q87_hll_relational", (s, d) => {
      import s.implicits._
      val alphaM2 = 0.7213 / (1 + 1.079 / 256) * 256 * 256
      val aLit = f"$alphaM2%.17g"
      val bitlenSql = (24 to 1 by -1)
        .map(k => s"WHEN rest >= ${1L << (k - 1)} THEN $k")
        .mkString("CASE ", " ", " ELSE 0 END")
      val toks = t(s, d, "documents")
        .select(explode(TextOps.tokens($"text")).as("tok")).distinct()
        .persist() // shared by the sketch and the exact count
      val hashed = toks
        .withColumn("__h", md5($"tok"))
        .withColumn("hv", expr(s"(${DedupOps.hv32FromHexSql("__h")})"))
        .select(($"hv" % 256).as("b"), expr("hv div 256").as("rest"))
      val regs = hashed.groupBy($"b")
        .agg(max(expr(s"25 - ($bitlenSql)")).as("m"))
      val sums = regs.agg(
        sum(expr("cast(power(0.5, m) as decimal(38,30))")).as("sp"),
        count(lit(1)).as("np"))
      // small-range correction (Flajolet et al. 2007): below 2.5m with
      // empty registers, linear counting m*ln(m/V) replaces the raw
      // estimate — identical single ln() call on identical doubles in
      // both engines, then floor
      val estSql =
        s"""CASE WHEN ($aLit / (cast(sp as double) + (256 - np))) <= 640.0
           |       AND np < 256
           |     THEN floor(256.0 * ln(256.0 / (256 - np)))
           |     ELSE floor($aLit / (cast(sp as double) + (256 - np))) END""".stripMargin
      toks.agg(count(lit(1)).as("n_exact")).join(sums)
        .select($"n_exact".cast("long").as("n_exact"),
          (lit(256L) - $"np").cast("long").as("zero_regs"),
          expr(s"cast(($estSql) as bigint)").as("hll_est"))
    }, Some {
      val aLit = f"${0.7213 / (1 + 1.079 / 256) * 256 * 256}%.17g"
      val bitlenSql = (24 to 1 by -1)
        .map(k => s"WHEN rest >= ${1L << (k - 1)} THEN $k")
        .mkString("CASE ", " ", " ELSE 0 END")
      s"""WITH toks AS (
         |  SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM documents),
         |h AS (SELECT (${DedupQueries.hvDuckOf("tok")}) AS hv FROM toks),
         |r AS (SELECT hv % 256 AS b, hv // 256 AS rest FROM h),
         |regs AS (SELECT b, max(25 - ($bitlenSql)) AS m FROM r GROUP BY 1),
         |sums AS (SELECT sum(CAST(power(0.5, m) AS DECIMAL(38,30))) AS sp,
         |                count(*) AS np
         |         FROM regs),
         |e AS (SELECT count(*) AS n_exact FROM toks)
         |SELECT CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(256 - np AS BIGINT) AS zero_regs,
         |  CAST(CASE WHEN ($aLit / (CAST(sp AS DOUBLE) + (256 - np))) <= 640.0
         |                 AND np < 256
         |            THEN floor(256.0 * ln(256.0 / (256 - np)))
         |            ELSE floor($aLit / (CAST(sp AS DOUBLE) + (256 - np))) END
         |       AS BIGINT) AS hll_est
         |FROM e CROSS JOIN sums""".stripMargin
    }),

    // quantile-sketch observability with an in-plan error gate (the q43
    // scheme for order statistics): percentile_approx is the mergeable
    // constant-memory GK/KLL-style sketch that still works at corpus
    // scale where q60's exact percentile cannot (exact needs the full
    // sorted group). A static oracle cannot replay sketch internals, so
    // the plan emits the EXACT discrete quantile (min v whose cumulative
    // count reaches ceil(q*n/100), all-integer target math) plus a
    // within_bound flag asserting the approx value's exact rank is
    // inside the published 1/accuracy rank-error envelope (+1 slack);
    // the oracle recomputes the exact side and claims the flag TRUE.
    // Like q43 this is a calibrated-envelope gate pinned to the test
    // corpora (percentile_approx's published bound IS deterministic,
    // but the +1 slack and discrete-rank mapping are calibrated);
    // SketchErrorSpec emits the raw rank errors for diagnosability.
    // Scale: the cum table is one agg + a per-lang window over DISTINCT
    // lengths (bounded by max doc length, not corpus size); targets and
    // approx results are langs x 4 rows — broadcast; nothing quadratic.
    Q("q110_quantile_sketch", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").select($"lang", $"n_chars")
      val cum = docs.groupBy($"lang", $"n_chars".as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum",
          sum($"c").over(Window.partitionBy($"lang").orderBy($"v")))
      val nPer = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
      val qdf = Seq(25L, 50L, 75L, 90L).toDF("q_pct")
      val targets = nPer.crossJoin(broadcast(qdf))
        .withColumn("target", expr("(q_pct * n + 99) div 100"))
      val exact = broadcast(targets).join(cum, "lang")
        .filter($"cum" >= $"target")
        .groupBy($"lang", $"q_pct", $"n").agg(min($"v").as("exact_q"))
      val approx = docs.groupBy($"lang")
        .agg(percentile_approx($"n_chars",
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)), lit(1000)).as("avs"))
        .select($"lang", posexplode($"avs").as(Seq("i", "av")))
        .withColumn("q_pct",
          element_at(array(lit(25L), lit(50L), lit(75L), lit(90L)), $"i" + 1))
      val avRank = broadcast(approx).join(cum, "lang")
        .filter($"v" <= $"av")
        .groupBy($"lang", $"q_pct").agg(max($"cum").as("av_rank"))
      exact.join(avRank, Seq("lang", "q_pct"))
        .select($"lang", $"q_pct", $"n", $"exact_q",
          (abs($"av_rank" - expr("(q_pct * n + 99) div 100"))
            <= expr("(n + 999) div 1000 + 1")).as("within_bound"))
    }, Some("""
      WITH d AS (SELECT lang, n_chars AS v FROM documents),
      n AS (SELECT lang, count(*) AS n FROM d GROUP BY 1),
      cum AS (
        SELECT lang, v,
          sum(count(*)) OVER (PARTITION BY lang ORDER BY v) AS cum
        FROM d GROUP BY lang, v),
      q AS (SELECT unnest([25, 50, 75, 90]) AS q_pct),
      t AS (SELECT n.lang, q.q_pct, n.n, (q.q_pct * n.n + 99) // 100 AS target
            FROM n CROSS JOIN q),
      e AS (SELECT t.lang, t.q_pct, t.n, min(cum.v) AS exact_q
            FROM t JOIN cum ON cum.lang = t.lang AND cum.cum >= t.target
            GROUP BY 1, 2, 3)
      SELECT lang, CAST(q_pct AS BIGINT) AS q_pct, CAST(n AS BIGINT) AS n,
        exact_q, TRUE AS within_bound
      FROM e""")),

    // Misra-Gries heavy hitters (deterministic-guarantee sketch): the
    // constant-memory counterpart of count-min (q86) — at most k=16
    // counters at ANY corpus size, mergeable across partitions, with
    // PROVABLE (not probabilistic) invariants: never overcounts,
    // undercounts by at most n/(k+1), and every token with
    // true count > n/(k+1) is present. The summary CONTENT can vary
    // with merge order, so — q43-style — the oracled result emits the
    // exact counts plus gate flags the invariants force TRUE, and the
    // probe set is the exact top-10 (deterministic tie-break). All gate
    // arithmetic is integer (cnt*(k+1) > n; bound = n div (k+1)).
    // Scale: the Aggregator rides Spark's partial-agg machinery
    // (constant state map-side, one constant-size merge); probes via
    // the bucketed-prefilter top-K; sketch+total is a 1-row broadcast.
    Q("q124_mg_heavy_hitters", (s, d) => {
      import s.implicits._
      val k = 16
      val mg = udaf(graft.functions.MisraGries(k))
      val vocab = t(s, d, "documents")
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .persist() // shared by sketch + probe; evictable, lineage kept
      val sketchRow = vocab.agg(
        mg($"tok", $"cnt").as("sketch"), sum($"cnt").as("n"))
      val probes = CorpusOps.globalTopK(vocab, $"tok", k = 10,
        order = Seq($"cnt".desc, $"tok".asc))
      probes.join(broadcast(sketchRow))
        .withColumn("est", element_at($"sketch", $"tok"))
        .withColumn("in_sketch", $"est".isNotNull)
        .withColumn("bound", expr(s"n div ${k + 1}"))
        .withColumn("guaranteed", $"cnt" * (k + 1) > $"n")
        .select($"tok", $"cnt".cast("long").as("cnt"), $"guaranteed",
          ((!$"guaranteed" || $"in_sketch") &&
            (!$"in_sketch" ||
              ($"est" <= $"cnt" && $"est" >= $"cnt" - $"bound"))).as("ok"))
    }, Some("""
      WITH vc AS (
        SELECT tok, count(*) AS cnt FROM (
          SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
          FROM documents) GROUP BY 1),
      n AS (SELECT sum(cnt) AS n FROM vc),
      top AS (SELECT tok, cnt FROM vc
              QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC) <= 10)
      SELECT top.tok, CAST(top.cnt AS BIGINT) AS cnt,
        top.cnt * 17 > n.n AS guaranteed, TRUE AS ok
      FROM top CROSS JOIN n""")),

    // corpus drift report: per-token log-odds ratio with a Dirichlet
    // (add-one) prior between two source cohorts (even- vs odd-numbered
    // sources — in production, yesterday's crawl vs today's). The
    // Monroe-style "fightin' words" statistic that catches a source
    // changing register/topic before it poisons the mixture. Exactness:
    // the ln arguments are exact integers (c+1, N+V-c-1), the delta is
    // ONE IEEE-identical double expression floor-quantized to
    // nano-nats; top-20 by |delta| with token tie-break. Scale: token
    // counts map-side-combined; totals a 1-row broadcast; top-20 via
    // the bucketed prefilter — nothing vocabulary-sized on one task.
    Q("q125_term_drift", (s, d) => {
      import s.implicits._
      val grpA = regexp_extract($"source", "([0-9]+)", 1).cast("long") % 2 === 0
      val counts = t(s, d, "documents")
        .select(grpA.as("ga"), explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"tok")
        .agg(sum(when($"ga", 1L).otherwise(0L)).as("ca"),
          sum(when(!$"ga", 1L).otherwise(0L)).as("cb"))
      val tot = counts.agg(sum($"ca").as("na"), sum($"cb").as("nb"),
        count(lit(1)).as("v"))
      val scored = counts.join(broadcast(tot))
        .withColumn("delta_nano",
          floor((log(($"ca" + 1).cast("double")
              / ($"na" + $"v" - $"ca" - 1).cast("double"))
            - log(($"cb" + 1).cast("double")
              / ($"nb" + $"v" - $"cb" - 1).cast("double"))) * 1000000000d)
            .cast("long"))
        .select($"tok", $"ca".cast("long").as("cnt_a"),
          $"cb".cast("long").as("cnt_b"), $"delta_nano")
      CorpusOps.globalTopK(scored, $"tok", k = 20,
        order = Seq(abs($"delta_nano").desc, $"tok".asc))
    }, Some("""
      WITH tk AS (
        SELECT CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 2 = 0
                 AS ga,
               unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
      vc AS (SELECT tok,
               sum(CASE WHEN ga THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS cb
             FROM tk GROUP BY 1),
      tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM vc),
      sc AS (
        SELECT tok, ca, cb,
          CAST(floor((ln(CAST(ca + 1 AS DOUBLE)
                / CAST(na + v - ca - 1 AS DOUBLE))
              - ln(CAST(cb + 1 AS DOUBLE)
                / CAST(nb + v - cb - 1 AS DOUBLE))) * 1000000000) AS BIGINT)
            AS delta_nano
        FROM vc CROSS JOIN tot)
      SELECT tok, CAST(ca AS BIGINT) AS cnt_a, CAST(cb AS BIGINT) AS cnt_b,
        delta_nano
      FROM sc
      QUALIFY row_number() OVER (ORDER BY abs(delta_nano) DESC, tok ASC) <= 20""")),

    // join-size estimation via count-min inner products (the AMS/CM
    // sketch a cost-based planner consults before picking a shuffle
    // strategy): estimate the SELF-join size of lineitem on l_partkey
    // — Sum_k f(k)^2, the F2 moment that prices a part-keyed join's
    // shuffle — from the 3x256 count-min sketch alone, as
    // min_j Sum_b c_jb^2, gated against the exact answer. Structural
    // gate: every row's inner product expands to
    // Sum_{k,k' colliding} f(k)f(k') >= Sum_k f(k)^2 (all terms
    // non-negative), so est >= exact in BOTH engines — claimed as a
    // boolean both must agree on, plus the overestimate in ppm. Scale
    // shape: one key-counts agg, the sketch is the CONSTANT 3x256
    // frame (q86 family, ONE md5Buckets definition), exact F2 one
    // more map-side-combined agg; at 100 TB two pre-built 4 KB
    // sketches answer the question without touching either table.
    // int64 bound: per-bucket mass < ~3e9 rows keeps c^2 < 2^63
    // (upgrade the squares to DECIMAL(38,0) past that — same plan).
    Q("q159_join_size_sketch", (s, d) => {
      import s.implicits._
      val keys = t(s, d, "lineitem")
        .groupBy($"l_partkey".as("k")).agg(count(lit(1)).as("cnt"))
      val positioned = DedupOps.md5Buckets(
        keys.withColumn("ks", $"k".cast("string")), $"ks", k = 3, mod = 256)
      val cells = positioned.select($"cnt", explode(array(
        struct(lit(0L).as("j"), $"b0".as("b")),
        struct(lit(1L).as("j"), $"b1".as("b")),
        struct(lit(2L).as("j"), $"b2".as("b")))).as("p"))
        .groupBy($"p.j".as("j"), $"p.b".as("b"))
        .agg(sum($"cnt").as("c"))
      val est = cells.groupBy($"j").agg(sum($"c" * $"c").as("ip"))
        .agg(min($"ip").as("cm_est"))
      val exact = keys.agg(sum($"cnt" * $"cnt").as("exact_f2"),
        count(lit(1)).as("n_keys"))
      exact.crossJoin(broadcast(est))
        .select($"n_keys", $"exact_f2", $"cm_est",
          ($"cm_est" >= $"exact_f2").as("never_under"),
          expr("((cm_est - exact_f2) * 1000000) div exact_f2")
            .as("overest_ppm"))
    }, Some {
      def hv(j: Int) =
        DedupQueries.hvDuckOf(s"(CAST(k AS VARCHAR) || ':$j')")
      s"""WITH keys AS (
         |  SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
         |pos AS (
         |  SELECT cnt, (${hv(0)}) % 256 AS b0, (${hv(1)}) % 256 AS b1,
         |    (${hv(2)}) % 256 AS b2
         |  FROM keys),
         |cells AS (
         |  SELECT 0 AS j, b0 AS b, cnt FROM pos
         |  UNION ALL SELECT 1, b1, cnt FROM pos
         |  UNION ALL SELECT 2, b2, cnt FROM pos),
         |sk AS (SELECT j, b, sum(cnt) AS c FROM cells GROUP BY 1, 2),
         |est AS (SELECT min(ip) AS cm_est FROM (
         |          SELECT j, sum(c * c) AS ip FROM sk GROUP BY 1)),
         |ex AS (SELECT sum(cnt * cnt) AS exact_f2, count(*) AS n_keys
         |       FROM keys)
         |SELECT CAST(ex.n_keys AS BIGINT) AS n_keys,
         |  CAST(ex.exact_f2 AS BIGINT) AS exact_f2,
         |  CAST(est.cm_est AS BIGINT) AS cm_est,
         |  est.cm_est >= ex.exact_f2 AS never_under,
         |  CAST((est.cm_est - ex.exact_f2) * 1000000 // ex.exact_f2
         |         AS BIGINT) AS overest_ppm
         |FROM ex CROSS JOIN est""".stripMargin
    }),

    // KMV (k-minimum-values) distinct sketch with MERGE: per event
    // type, the 64 smallest positional-md5 hashes of the user ids
    // estimate distinct users as (k-1)·2^32/h_k; the per-type sketches
    // then MERGE (union the hash sets, keep the 64 smallest) into a
    // global-distinct estimate — the property HLL (q87/q150) also has,
    // but KMV adds an unbiased estimator whose arithmetic is pure
    // integer (no harmonic means), so the DuckDB replay is exact to
    // the last digit. Complements q43 (engine HLL), q87 (relational
    // HLL), q150 (HLL merge): same contract, different sketch, and
    // the err_ppm column puts the estimator's accuracy in the result.
    // Scale shape: ONE map-side-combined distinct on (type, hv); the
    // per-type min-64 rides a rank window that Spark rewrites to
    // WindowGroupLimit (bounded per-partition buffers, no full sort);
    // everything downstream is sketch-sized (≤ 64·|types| rows).
    // Exactness: h_k is an integer, (k-1)·2^32 div h_k exact; sets
    // with fewer than k hashes report their exact count (KMV rule).
    Q("q245_kmv_sketch", (s, d) => {
      import s.implicits._
      val k = 64
      val est = (n: String, kth: String) =>
        expr(s"case when $n < $k then $n " +
          s"else (${k - 1} * 4294967296) div greatest($kth, 1) end")
      val hv = t(s, d, "events")
        .select($"event_type", $"user_id",
          expr(DedupOps.hv32FromHexSql("md5(cast(user_id as string))"))
            .as("hv"))
      val dh = hv.select($"event_type", $"hv").distinct().persist()
      val wT = Window.partitionBy($"event_type").orderBy($"hv".asc)
      val sk = dh.withColumn("rn", row_number().over(wT))
        .filter($"rn" <= k).persist()
      val ex = hv.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
      val pt = sk.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), max($"hv").as("kth"))
      val pe = pt.join(broadcast(ex), Seq("event_type"))
        .select($"event_type".as("set_name"), $"exact_users",
          est("n", "kth").as("kmv_est"))
      val wG = Window.orderBy($"hv".asc)
      val mp = sk.select($"hv").distinct()
        .withColumn("rn", row_number().over(wG)).filter($"rn" <= k)
        .agg(count(lit(1)).as("n"), max($"hv").as("kth"))
      val exg = hv.agg(countDistinct($"user_id").as("exact_users"))
      val me = mp.crossJoin(exg)
        .select(lit("__merged__").as("set_name"), $"exact_users",
          est("n", "kth").as("kmv_est"))
      pe.unionByName(me)
        .select($"set_name", $"exact_users", $"kmv_est",
          expr("((kmv_est - exact_users) * 1000000) div exact_users")
            .as("err_ppm"))
    }, Some {
      val hv = DedupQueries.hvDuckOf("CAST(user_id AS VARCHAR)")
      s"""WITH h AS (
         |  SELECT event_type, user_id, ($hv) AS hv FROM events),
         |dh AS (SELECT DISTINCT event_type, hv FROM h),
         |sk AS (SELECT event_type, hv,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY hv ASC) AS rn
         |       FROM dh QUALIFY rn <= 64),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
         |       FROM h GROUP BY 1),
         |pt AS (SELECT event_type, count(*) AS n, max(hv) AS kth
         |       FROM sk GROUP BY 1),
         |pe AS (SELECT p.event_type AS set_name, e.exact_users,
         |         CASE WHEN p.n < 64 THEN p.n
         |           ELSE (63 * 4294967296) // greatest(p.kth, 1) END
         |           AS kmv_est
         |       FROM pt p JOIN ex e USING (event_type)),
         |mr AS (SELECT hv, row_number() OVER (ORDER BY hv ASC) AS rn
         |       FROM (SELECT DISTINCT hv FROM sk) QUALIFY rn <= 64),
         |mp AS (SELECT count(*) AS n, max(hv) AS kth FROM mr),
         |exg AS (SELECT count(DISTINCT user_id) AS exact_users FROM h),
         |me AS (SELECT '__merged__' AS set_name, exg.exact_users,
         |         CASE WHEN mp.n < 64 THEN mp.n
         |           ELSE (63 * 4294967296) // greatest(mp.kth, 1) END
         |           AS kmv_est
         |       FROM mp CROSS JOIN exg),
         |u AS (SELECT * FROM pe UNION ALL SELECT * FROM me)
         |SELECT set_name, CAST(exact_users AS BIGINT) AS exact_users,
         |  CAST(kmv_est AS BIGINT) AS kmv_est,
         |  CAST(((kmv_est - exact_users) * 1000000) // exact_users
         |         AS BIGINT) AS err_ppm
         |FROM u""".stripMargin
    }),

    // KMV audience-overlap estimate (click ∩ purchase users): the
    // set-INTERSECTION readout q245's union-merge can't give — from
    // the two 64-hash sketches alone, J ≈ |both-member hashes among
    // the union's 64 smallest| / 64 and |A∩B| ≈ J·|A∪B|, the classic
    // min-k Jaccard estimator. Exact overlap computed alongside so
    // the estimator error is part of the contract (q86/q245
    // convention) — at lake scale only the sketch side runs (exact
    // requires the full distinct), which is the point: audience
    // overlap from two 64-row summaries. Scale shape: ONE distinct on
    // (type, hv); min-64 per side rides WindowGroupLimit; everything
    // downstream is sketch-sized. All-integer estimator arithmetic.
    Q("q269_kmv_overlap", (s, d) => {
      import s.implicits._
      val k = 64
      val hv = t(s, d, "events")
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_type", $"user_id",
          expr(DedupOps.hv32FromHexSql("md5(cast(user_id as string))"))
            .as("hv"))
        .persist()
      val wT = Window.partitionBy($"event_type").orderBy($"hv".asc)
      val sk = hv.select($"event_type", $"hv").distinct()
        .withColumn("rn", row_number().over(wT)).filter($"rn" <= k)
        .persist()
      val wG = Window.orderBy($"hv".asc)
      val u = sk.select($"hv").distinct()
        .withColumn("rn", row_number().over(wG)).filter($"rn" <= k)
      val aS = sk.filter($"event_type" === "click")
        .select($"hv", lit(1L).as("ina"))
      val bS = sk.filter($"event_type" === "purchase")
        .select($"hv", lit(1L).as("inb"))
      val mem = u.join(aS, Seq("hv"), "left_outer")
        .join(bS, Seq("hv"), "left_outer")
        .agg(count(lit(1)).as("nu"), max($"hv").as("kth"),
          sum(when($"ina" === 1 && $"inb" === 1, 1L).otherwise(0L))
            .as("jnum"))
      val ex = hv.select($"event_type", $"user_id").distinct()
        .groupBy($"user_id").agg(count(lit(1)).as("nt"))
        .agg(count(lit(1)).as("ex_union"),
          sum(when($"nt" === 2, 1L).otherwise(0L)).as("ex_inter"))
      mem.crossJoin(ex)
        .withColumn("union_est", expr(
          s"case when nu < $k then nu " +
            s"else (${k - 1} * 4294967296) div greatest(kth, 1) end"))
        .select($"ex_union", $"ex_inter",
          $"union_est",
          expr("(jnum * union_est) div greatest(nu, 1)").as("inter_est"),
          expr("(ex_inter * 1000000) div greatest(ex_union, 1)")
            .as("jaccard_exact_ppm"),
          expr("(jnum * 1000000) div greatest(nu, 1)")
            .as("jaccard_est_ppm"))
    }, Some {
      val hvs = DedupQueries.hvDuckOf("CAST(user_id AS VARCHAR)")
      s"""WITH h AS (
         |  SELECT event_type, user_id, ($hvs) AS hv FROM events
         |  WHERE event_type IN ('click', 'purchase')),
         |dh AS (SELECT DISTINCT event_type, hv FROM h),
         |sk AS (SELECT event_type, hv,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY hv ASC) AS rn
         |       FROM dh QUALIFY rn <= 64),
         |u AS (SELECT hv, row_number() OVER (ORDER BY hv ASC) AS rn
         |      FROM (SELECT DISTINCT hv FROM sk) QUALIFY rn <= 64),
         |mem AS (
         |  SELECT count(*) AS nu, max(u.hv) AS kth,
         |    sum(CASE WHEN a.hv IS NOT NULL AND b.hv IS NOT NULL
         |        THEN 1 ELSE 0 END) AS jnum
         |  FROM u
         |  LEFT JOIN (SELECT hv FROM sk WHERE event_type = 'click') a
         |    ON a.hv = u.hv
         |  LEFT JOIN (SELECT hv FROM sk WHERE event_type = 'purchase') b
         |    ON b.hv = u.hv),
         |ex AS (
         |  SELECT count(*) AS ex_union,
         |    sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS ex_inter
         |  FROM (SELECT user_id, count(*) AS nt
         |        FROM (SELECT DISTINCT event_type, user_id FROM h)
         |        GROUP BY 1)),
         |r AS (
         |  SELECT ex.*, mem.nu, mem.jnum,
         |    CASE WHEN mem.nu < 64 THEN mem.nu
         |      ELSE (63 * 4294967296) // greatest(mem.kth, 1) END
         |      AS union_est
         |  FROM mem CROSS JOIN ex)
         |SELECT CAST(ex_union AS BIGINT) AS ex_union,
         |  CAST(ex_inter AS BIGINT) AS ex_inter,
         |  CAST(union_est AS BIGINT) AS union_est,
         |  CAST((jnum * union_est) // greatest(nu, 1) AS BIGINT)
         |    AS inter_est,
         |  CAST((ex_inter * 1000000) // greatest(ex_union, 1) AS BIGINT)
         |    AS jaccard_exact_ppm,
         |  CAST((jnum * 1000000) // greatest(nu, 1) AS BIGINT)
         |    AS jaccard_est_ppm
         |FROM r""".stripMargin
    }),
  )
}
