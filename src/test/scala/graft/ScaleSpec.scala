package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Tables
import graft.functions.GraftExtensions

/** Scale-mechanics evidence: session-extension function injection and
  * bucketed co-located joins (pre-partitioned storage removes the join
  * shuffle — the 100 TB technique for repeated joins on the same key). */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  test("driver contract: entry() returns rows and every query has a runner") {
    assert(SparkEntry.entry(spark).count() > 0)
    assert(SparkEntry.queries.keySet == SparkEntry.modules.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.benchQueries.toSet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries eq SparkEntry.queries, "the registry is rebuilt per call")
    assert(SparkEntry.select(Seq("q81")) == Seq("q81_bloom_decontam"))
    assert(SparkEntry.select(Seq(" q77 ", "")) == Seq("q77_window_dedup"))
    assert(SparkEntry.select(Seq("nope")).isEmpty)
    assert(SparkEntry.select(Seq()) == SparkEntry.modules.map(_.name))
  }

  test("GraftExtensions injects encode_uri at session build time") {
    val base = spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val got = s2.sql("SELECT encode_uri('a b/ü') AS x").head().getString(0)
      assert(got == "a%20b/%C3%BC")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    import spark.implicits._
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      Tables.t(spark, sf, "orders")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
      Tables.t(spark, sf, "lineitem")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")

      val j = spark.table("b_orders")
        .join(spark.table("b_lineitem"), $"o_orderkey" === $"l_orderkey")
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")

      // control: the same join over unbucketed parquet DOES shuffle
      val u = Tables.t(spark, sf, "orders")
        .join(Tables.t(spark, sf, "lineitem"), $"o_orderkey" === $"l_orderkey")
      assert(u.count() > 0)
      assert(u.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("saltedJoin equals the plain join and shuffles on (key, salt)") {
    import spark.implicits._
    import graft.operators.SkewOps
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = Tables.t(spark, sf, "lineitem")
        .select($"l_orderkey", $"l_quantity")
      val small = Tables.t(spark, sf, "orders")
        .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
      val salted = SkewOps.saltedJoin(big, small, "l_orderkey", salts = 8)
      val plain = big.join(small, "l_orderkey")
      // row-identical result (multiset compare via sorted collect)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"l_orderkey", $"l_quantity", $"o_orderpriority")
          .collect().map(_.toString).sorted.toSeq
      assert(rows(salted) == rows(plain))
      // the join key includes the salt, so a hot key spans 8 reducers
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("__salt"),
        s"salted join should partition on (key, __salt):\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("date-partitioned writes prune partitions at the scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.date_format
    val dir = "/tmp/events_bydate"
    val ev = Tables.t(spark, sf, "events")
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    ev.write.partitionBy("day").mode("overwrite").parquet(dir)
    val days = ev.select("day").distinct()
      .collect().map(_.getString(0)).sorted
    assert(days.length > 1, "need multiple partitions for the test to mean anything")
    val one = spark.read.parquet(dir).filter($"day" === days.head)
    val expected = ev.filter($"day" === days.head).count()
    assert(one.count() == expected)
    // the filter must land in PartitionFilters (directory-level skip),
    // not in PushedFilters/post-scan (row-level)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("\\s", "").contains(s"(day#"),
      s"partition filter missing from scan:\n$scan")
    val partsRead = one.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(partsRead.contains(1),
      s"scan should read exactly 1 of ${days.length} partitions, got $partsRead")
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, when}
    val keep = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one pathological key holding ~95% of the left side
      val big = spark.range(0, 200000)
        .select(when($"id" < 190000, 0L).otherwise($"id").as("k"), $"id".as("v"))
      val small = spark.range(0, 1000).select($"id".as("k"), lit("x").as("tag"))
      val j = big.join(small, "k")
      // execute THIS dataframe's plan (count() would plan a different
      // query); toRdd keeps the rows on the executors
      j.queryExecution.toRdd.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should mark the skewed join (isFinalPlan plan):\n$plan")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q80/q81 probe sides have no corpus-wide shuffle (broadcast-only plans)") {
    // q80: the only Exchange feeds the tiny per-lang stats agg; the
    // corpus branch must reach the join through broadcast, not shuffle.
    val p80 = SparkEntry.queries("q80_adaptive_threshold")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p80.contains("BroadcastHashJoin") || p80.contains("BroadcastNestedLoopJoin"))
    // q81: the three bloom joins are hinted broadcasts (constant 32-row
    // sides); the benchmark-fingerprint join carries NO hint — AQE must
    // upgrade it to a broadcast at runtime at this SF. Execute, then
    // walk the FINAL adaptive plan: every join a broadcast, no
    // SortMergeJoin left anywhere.
    val q81 = SparkEntry.queries("q81_bloom_decontam")(spark, sf)
    q81.queryExecution.toRdd.count()
    val p81 = q81.queryExecution.executedPlan.toString
    assert(!p81.contains("SortMergeJoin"),
      s"AQE should upgrade q81's unhinted benchmark join to broadcast:\n$p81")
    assert(p81.contains("BroadcastHashJoin"))
  }

  test("boundedBroadcast guards the hint: under cap broadcasts, over cap shuffles") {
    import spark.implicits._
    import graft.operators.CorpusOps
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // hint-only
    try {
      val big = (1 to 500).map(i => (i.toLong, s"k$i")).toDF("id", "k")
      val side = (1 to 100).map(i => (i.toLong, i * 2)).toDF("id", "v")

      // under cap: the hint survives -> BroadcastHashJoin
      val under = big.join(
        CorpusOps.boundedBroadcast(side, maxRows = 1000, what = "test"), "id")
      assert(under.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "under-cap side must keep the broadcast hint")
      assert(under.count() == 100)

      // over cap: hint dropped -> planner falls back to a shuffled join
      // (auto-broadcast disabled above, so no broadcast can appear)
      val over = big.join(
        CorpusOps.boundedBroadcast(side, maxRows = 10, what = "test"), "id")
      val overPlan = over.queryExecution.executedPlan.toString
      assert(!overPlan.contains("BroadcastHashJoin"),
        s"over-cap side must NOT be broadcast:\n$overPlan")
      assert(over.count() == 100)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  // the q54 wiring: the decontam benchmark join carries NO broadcast
  // hint (a corpus-derived side must never be pinned into the driver);
  // the broadcast decision is AQE's, from the side's measured runtime
  // size. At this SF the bench slice is tiny, so the final adaptive
  // plan must show the upgrade actually happening.
  test("q54 decontam benchmark join is unhinted and AQE-upgraded") {
    val q54 = SparkEntry.queries("q54_decontam")(spark, sf)
    q54.queryExecution.toRdd.count()
    val plan = q54.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected AQE to broadcast the small bench side at runtime:\n$plan")
  }

  // Round-14 verdict #1: SuffixOps' rank-class reductions must never be
  // class-keyed windows — rank classes are Zipf-skewed (a hot token like
  // "the" holds several % of ALL corpus positions), and a
  // Window.partitionBy over such a key puts the whole hot class in ONE
  // WindowExec task (window aggregation has no map-side partial agg and
  // AQE skew handling does not split window exchanges). This test plants
  // the hot token at ~10% of positions, forces the DISTRIBUTED arm, and
  // asserts (a) statically: every Window in the chain partitions on
  // doc_id ONLY (bounded < 2^20 rows by the gid guard — class keys tok /
  // (r, r2) / r must all go through groupBy-agg + join-back), and (b)
  // the profile is still exact on a planted shared prefix.
  test("suffix rank reductions survive a planted hot token: no class-keyed window") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.graph.maxDriverRows", "0") // distributed arm
    import s2.implicits._
    val nDocs = 60; val docLen = 100
    val rows = for {
      d <- 0 until nDocs
      p <- 0 until docLen
    } yield {
      val tok =
        if (d < 2 && p < 20) s"shared_$p"       // planted 20-token prefix
        else if (p % 10 == 0) "the"             // hot token: ~10% of positions
        else s"t${d}_$p"                        // unique elsewhere
      (d.toLong, p.toLong, tok)
    }
    val pos = rows.toDF("doc_id", "pos", "tok")
    val prof = graft.operators.SuffixOps.dupSpanProfile(pos, width = 8)

    // (a) static: no class-keyed window anywhere in the chain
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = prof.queryExecution.analyzed.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected per-document windows in the chain")
    wins.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      assert(keys == Set("doc_id"),
        s"Window partitioned on {${keys.mkString(",")}} — a class-keyed " +
          "window is a single-task straggler on a Zipf-hot class at 100 TB; " +
          "use groupBy-agg + join-back (q77 convention)")
    }

    // (b) exactness under the hot token: only the shared 20-token prefix
    // is duplicated — plus position 20, which is the hot token in BOTH
    // planted docs, so the shared run is 21 positions (the window at
    // start 13 = shared_13..19 + "the" recurs): docs 0/1 report exactly
    // 21 covered positions in one span; the hot token alone elsewhere
    // must create NO duplicated windows.
    val got = prof.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got.size == nDocs)
    (0 until nDocs).foreach { d =>
      val (nd, ns) = got(d.toLong)
      if (d < 2) assert(nd == 21L && ns == 1L,
        s"doc $d: expected the 21-position planted span, got nd=$nd ns=$ns")
      else assert(nd == 0L && ns == 0L,
        s"doc $d: hot token alone must not flag spans, got nd=$nd ns=$ns")
    }
  }
}
