package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusOps, TextOps}

class CorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Reference union-find for cross-checking the distributed algorithm. */
  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Run f with the driver-arm cap forced, restoring after. */
  private def withMaxDriverRows[T](n: Long)(f: => T): T = {
    val key = "spark.graft.graph.maxDriverRows"
    spark.conf.set(key, n.toString)
    try f finally spark.conf.unset(key)
  }

  /** Both code paths — driver union-find (small-N) and the distributed
    * star loop (threshold 0) — must produce identical labelings. */
  private def ccBothPaths(edges: Seq[(Long, Long)]): Seq[Map[Long, Long]] = {
    val df = edges.toDF("a", "b")
    Seq(
      CorpusOps.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      withMaxDriverRows(0) {
        CorpusOps.connectedComponents(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      })
  }

  test("connectedComponents matches union-find on a multi-cluster graph (both paths)") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 1L), (5L, 6L), (8L, 7L))
    // contract: EVERY node in an edge is labeled, roots label themselves
    val want = bruteComponents(edges)
    ccBothPaths(edges).foreach(got => assert(got == want))
  }

  test("connectedComponents with a reliable checkpoint dir (executor-loss-safe mode)") {
    // spark.graft.checkpointDir switches frontier materialization from
    // localCheckpoint (executor-local, dies with the executor) to
    // reliable DataFrame.checkpoint (shared filesystem, survives loss)
    val dir = "/tmp/graft_cc_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.conf.set("spark.graft.checkpointDir", dir)
    try withMaxDriverRows(0) {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 1L), (5L, 6L), (8L, 7L))
      val got = CorpusOps.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteComponents(edges))
      // the rounds really did checkpoint to the reliable dir
      val files = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(dir), null, true)
      assert(!files.isEmpty, "reliable checkpoint dir should be populated")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("connectedComponents converges on a long chain (diameter >> rounds)") {
    // a 64-node path: min-label propagation would need ~64 rounds; the
    // star algorithm's O(log n) rounds must still land every node on 0.
    val edges = (0L until 63L).map(i => (i, i + 1))
    ccBothPaths(edges).foreach { got =>
      assert(got.size == 64 && got.values.forall(_ == 0L))
    }
  }

  test("connectedComponents matches union-find on a random graph (both paths)") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val want = bruteComponents(edges)
    ccBothPaths(edges).foreach(got => assert(got == want))
  }

  test("driver union-find survives a descending path (deep-chain recursion hazard)") {
    // edges arrive worst-case: (n,n-1),(n-1,n-2),... builds the longest
    // possible parent chains; the iterative find must not blow the stack.
    val n = 30000L
    val edges = (n to 1L by -1).map(i => (i, i - 1))
    val got = withMaxDriverRows(1000000) {
      CorpusOps.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got.size == n + 1 && got.values.forall(_ == 0L))
  }

  test("componentLabels keeps singletons as their own cluster") {
    val docs = (1L to 8L).toDF("doc_id")
    val edges = Seq((2L, 4L), (4L, 6L)).toDF("a", "b")
    val got = CorpusOps.componentLabels(docs, "doc_id", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L,
      5L -> 5L, 6L -> 2L, 7L -> 7L, 8L -> 8L))
  }

  test("connectedComponents of an empty edge set is empty") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(CorpusOps.connectedComponents(empty).isEmpty)
  }

  test("piiRedact masks emails and phones; piiCount counts them") {
    val df = Seq(
      (1L, "write to a.user+tag@sub.example.co.uk or call 555-0134 now"),
      (2L, "no pii here, 555-01 is not a phone and a@b is not an email"),
      (3L, "two mails x@y.org z@w.io and 555-9999"))
      .toDF("id", "t")
      .select($"id", CorpusOps.piiCount($"t").as("n"),
        CorpusOps.piiRedact($"t").as("r"))
    val rows = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows(1L) == ((2L, "write to [EMAIL] or call [PHONE] now")))
    assert(rows(2L) == ((0L, "no pii here, 555-01 is not a phone and a@b is not an email")))
    assert(rows(3L) == ((3L, "two mails [EMAIL] [EMAIL] and [PHONE]")))
  }

  test("stratifiedHashSample is deterministic and partitioning-invariant") {
    val df = (0L until 2000L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("id", "lang")
    val rates = Map("en" -> 200, "de" -> 700)
    def ids(d: org.apache.spark.sql.DataFrame) =
      CorpusOps.stratifiedHashSample(d, $"id", $"lang", rates)
        .select($"id").collect().map(_.getLong(0)).toSet
    val a = ids(df)
    val b = ids(df.repartition(13, $"lang"))
    assert(a == b)
    // rates land near the target permille (hash uniformity)
    val en = a.count(_ % 3 == 0).toDouble / (2000 / 3 + 1)
    val de = a.count(_ % 3 != 0).toDouble / (2000 * 2 / 3)
    assert(math.abs(en - 0.2) < 0.05, s"en rate $en")
    assert(math.abs(de - 0.7) < 0.05, s"de rate $de")
  }

  test("reservoirSample: exactly k per stratum, partitioning-invariant, id-overflow-safe") {
    // include ids past 2^32 where the old unreduced multiply would wrap
    val df = ((0L until 500L) ++ (5000000000L until 5000000300L))
      .map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    def sample(d: org.apache.spark.sql.DataFrame) =
      CorpusOps.reservoirSample(d, $"id", $"lang", k = 40)
        .select($"id", $"lang", $"rk")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val a = sample(df)
    val b = sample(df.repartition(11, $"id"))
    assert(a == b)
    assert(a.count(_._2 == "en") == 40 && a.count(_._2 == "de") == 40)
    assert(a.groupBy(_._2).forall(_._2.map(_._3).toSeq.sorted == (1L to 40L)))
    // strata smaller than k yield the whole stratum
    val tiny = (0L until 5L).map(i => (i, "xx")).toDF("id", "lang")
    assert(CorpusOps.reservoirSample(tiny, $"id", $"lang", k = 40).count() == 5)
  }

  test("reservoirSample executes through TopKPerKeyExec, not a full window sort") {
    val df = (0L until 500L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val q = CorpusOps.reservoirSample(df, $"id", $"lang", k = 10)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      q.queryExecution.executedPlan.toString)
    assert(q.count() == 20)
  }

  test("q65 chunks reassemble to the exact token stream of every document") {
    val sf = "/root/testdata/sf0.001"
    val chunks = graft.SparkEntry.queries("q65_chunk")(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getLong(1)).map(_.getString(3)).mkString(" ")
      }
    val docs = graft.catalog.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").mkString(" "))
      .toMap
    assert(chunks.keySet == docs.keySet)
    chunks.foreach { case (id, s) =>
      assert(s == docs(id), s"doc $id chunk reassembly diverged")
    }
  }

  test("packSequences matches a sequential greedy concat-and-split") {
    val docs = (0L until 100L).map(i => (i, s"s${i % 3}", 1 + (i * 37 % 90).toInt))
    val df = docs.map { case (id, src, n) => (id, src, ("x " * n).trim) }
      .toDF("doc_id", "source", "text")
    val got = CorpusOps.packSequences(df, "doc_id", "source",
        TextOps.tokenCount($"text"), budget = 64)
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // sequential reference: per stream, running offset over id order
    val want = docs.groupBy(_._2).flatMap { case (_, ds) =>
      var cum = 0L
      ds.sortBy(_._1).map { case (id, src, n) =>
        val off = cum; cum += n
        id -> ((src, n.toLong, off / 64, (cum - 1) / 64 - off / 64))
      }
    }.toMap
    assert(got == want)
  }

  test("int8 quantization: codes reconstruct within the per-dim step bound") {
    import graft.operators.SimilarityOps
    val df = Seq(
      (1L, Array(0.0f, 10.0f, -5.0f)),
      (2L, Array(1.0f, 20.0f, 5.0f)),
      (3L, Array(0.5f, 15.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val ranges = SimilarityOps.dimRanges(df, "embedding")
    assert(ranges.toSeq == Seq((0.0, 1.0), (10.0, 20.0), (-5.0, 5.0)))
    val (codeSum, nClipped, mse) = SimilarityOps.int8QuantStats($"embedding", ranges)
    val rows = df.select($"vec_id", codeSum.as("cs"), nClipped.as("nc"), mse.as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // max error per dim is (range/256)^2; mse bound = max range 10 -> (10/256)^2
    val bound = math.pow(10.0 / 256.0, 2)
    rows.foreach { case (_, cs, nc, m) =>
      assert(m >= 0 && m <= bound)
      assert(cs >= 0 && cs <= 3L * 255)
      assert(nc >= 0 && nc <= 3)
    }
    // extreme rows quantize to the ends: vec 1 hits code 0 on every dim
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 == 0L && byId(1L)._3 == 3L)
  }

  test("stripBoilerplateSegments drops corpus-frequent segments, keeps unique text in order") {
    // 4-token segments; "nav home about contact" planted on 3 docs crosses
    // the df>=3 threshold, each doc's own tail stays unique
    val df = Seq(
      (1L, "nav home about contact alpha beta gamma delta"),
      (2L, "nav home about contact epsilon zeta eta theta"),
      (3L, "nav home about contact iota kappa lambda mu"),
      (4L, "nu xi omicron pi rho sigma tau upsilon"))
      .toDF("doc_id", "text")
    val got = CorpusOps.stripBoilerplateSegments(df, "doc_id", $"text",
        segTokens = 4, dfThreshold = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((2L, 1L, "alpha beta gamma delta")))
    assert(got(2L) == ((2L, 1L, "epsilon zeta eta theta")))
    assert(got(3L) == ((2L, 1L, "iota kappa lambda mu")))
    // untouched doc keeps both segments, reassembled in token order
    assert(got(4L) == ((2L, 2L, "nu xi omicron pi rho sigma tau upsilon")))
  }

  test("stripBoilerplateSegments: doc of ONLY boilerplate reassembles to empty") {
    val df = Seq(
      (1L, "nav home"), (2L, "nav home"), (3L, "nav home"),
      (4L, "nav home unique tail"))
      .toDF("doc_id", "text")
    val got = CorpusOps.stripBoilerplateSegments(df, "doc_id", $"text",
        segTokens = 2, dfThreshold = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((1L, 0L, "")))
    assert(got(4L) == ((2L, 1L, "unique tail")))
  }

  test("selectWithinTokenBudget matches a sequential greedy take-while") {
    val docs = (0L until 200L).map(i =>
      (i, 1 + (i * 37 % 90), (i * 13 % 20))) // (id, tokens, quality bucket)
    val df = docs.toDF("doc_id", "tok", "qb")
    val got = CorpusOps.selectWithinTokenBudget(df, "doc_id", $"tok", $"qb",
        budget = 3000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // reference: sort by (qb desc, id asc), take while cum <= budget
    var cum = 0L
    val want = docs.sortBy { case (id, _, qb) => (-qb, id) }.map {
      case (id, tok, _) =>
        cum += tok
        id -> (cum <= 3000L)
    }.toMap
    assert(got == want)
    // sanity: something selected, something rejected
    assert(got.valuesIterator.exists(identity) && got.valuesIterator.exists(!_))
  }

  test("packSequences: every sequence holds at most budget tokens of wholly-contained docs") {
    val df = (0L until 200L).map(i => (i, "s", 1 + (i * 13 % 50).toInt))
      .toDF("doc_id", "source", "n")
    val packed = CorpusOps.packSequences(df, "doc_id", "source", $"n", budget = 128)
    val bySeq = packed.filter($"n_boundary_crossings" === 0)
      .groupBy($"seq_id").agg(sum($"n_tokens").as("tot"))
      .collect().map(_.getLong(1))
    assert(bySeq.forall(_ <= 128))
  }

  test("globalTopK matches the single-window top-K and plans the bucketed prefilter") {
    // ties on cnt exercise the tok tiebreak across bucket boundaries;
    // spark.range (not a local Seq) so the optimizer cannot constant-fold
    // the bucket expression out of the plan we assert on below
    val df = spark.range(1, 1001).select(
      format_string("t%04d", $"id").as("tok"),
      ($"id" * 37 % 101).cast("long").as("cnt"))
    val order = Seq($"cnt".desc, $"tok".asc)
    val got = CorpusOps.globalTopK(df, $"tok", k = 25, order = order)
    val wG = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
    val want = df.withColumn("rk", row_number().over(wG))
      .filter($"rk" <= 25).drop("rk")
    assert(got.collect().map(_.getString(0)).toSet ==
      want.collect().map(_.getString(0)).toSet)
    // the parallel prefilter is structural: a hash-bucketed rank runs
    // before the global sort (the physical plan rewrites both ranks to
    // spill-safe TopKPerKey, with the bucket visible in the logical plan)
    val logical = got.queryExecution.optimizedPlan.toString
    assert(logical.contains("pmod(hash("),
      s"missing bucketed prefilter:\n$logical")
    // the rank itself executes as a bounded top-k (the repo's TopKPerKey
    // rewrite or Spark's WindowGroupLimit), never an unbounded window
    val physical = got.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerKey") ||
      physical.contains("WindowGroupLimit"),
      s"rank should execute as bounded top-k:\n$physical")
  }
}
