package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, TextOps}

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Jaccard similarity of two distinct-element array columns: the brute
    * all-pairs formula the exact operators are checked against. Under
    * ANSI mode two empty sets raise DIVIDE_BY_ZERO. */
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** All pairs within hamming distance `maxHamming` of their SimHash, by
    * a nested-loop self-join on a < b: the quadratic baseline that
    * [[DedupOps.simhashPairsBanded]] must equal. */
  private def simhashPairs(sigs: DataFrame, idCol: String, sigCol: String,
                           maxHamming: Int): DataFrame = {
    val a = sigs.select(col(idCol).as("doc_a"), col(sigCol).as("sig_a"))
    val b = sigs.select(col(idCol).as("doc_b"), col(sigCol).as("sig_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Every pair a < b of `sets` (columns doc_id, s) with its exact
    * (inter, size_a, size_b), by the brute nested-loop join. */
  private def bruteOverlaps(sets: DataFrame): Set[(Long, Long, Long, Long, Long)] =
    sets.select($"doc_id".as("a"), $"s".as("sa"))
      .join(sets.select($"doc_id".as("b"), $"s".as("sb")), $"a" < $"b")
      .select($"a", $"b", size(array_intersect($"sa", $"sb")).cast("long"),
        size($"sa").cast("long"), size($"sb").cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  private def operatorOverlaps(sets: DataFrame, tau: Double,
      cap: Option[Long]): Set[(Long, Long, Long, Long, Long)] =
    DedupOps.jaccardPairs(sets, "doc_id", "s", tau, cap)
      .select($"a", $"b", $"inter", $"size_a", $"size_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  /** inter / union >= num / den, in exact integer arithmetic. */
  private def atLeast(num: Long, den: Long)(r: (Long, Long, Long, Long, Long)) =
    r._3 * den >= num * (r._4 + r._5 - r._3)

  test("exactDedup groups duplicates and keeps min id as canonical") {
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa"))
      .toDF("id", "k")
    val got = DedupOps.exactDedup(df, $"k", $"id")
      .orderBy($"dup_key").collect()
    val byKey = got.map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(byKey("aa") == (1L, 3L))
    assert(byKey("bb") == (2L, 1L))
  }

  test("simhash: identical token lists get identical signatures; distance grows with edits") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely unrelated words about database query optimization plans"))
      .toDF("doc_id", "text")
      .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
    val sigs = DedupOps.simhash32FromTokenRows(df, "doc_id", "tok", "simhash")
      .select($"doc_id", $"simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def hd(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hd(sigs(1L), sigs(3L)) < hd(sigs(1L), sigs(4L)))
  }

  test("minhash-LSH recovers planted near-dups vs exact jaccard baseline") {
    val docs = graft.catalog.Tables.t(spark, sf, "documents")
    val sets = docs.select($"doc_id", TextOps.shingleSet($"text").as("s"))

    // exact baseline: all pairs with trigram jaccard >= 0.5
    val a = sets.select($"doc_id".as("doc_a"), $"s".as("sa"))
    val b = sets.select($"doc_id".as("doc_b"), $"s".as("sb"))
    val exact = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("j", jaccard($"sa", $"sb"))
      .filter($"j" >= 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")

    // LSH path (explode form, mirrors q36)
    val sr = TextOps.shingleRows(docs, "doc_id", "text")
      .select($"doc_id", $"shingle").distinct()
    val sigs = DedupOps.minhashSignatures(sr, "doc_id", "shingle", k = 16)
    val cands = DedupOps.lshCandidates(
      DedupOps.lshBands(sigs, "doc_id", "sig", bands = 4, rows = 4), "doc_id")
      .join(sets.select($"doc_id".as("doc_a"), $"s".as("sa")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"s".as("sb")), "doc_b")
      .withColumn("j", jaccard($"sa", $"sb"))
      .filter($"j" >= 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet

    assert(cands.subsetOf(exact), "verified LSH pairs must be true near-dups")
    val recall = cands.size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH recall $recall too low (${cands.size}/${exact.size})")
  }

  test("banded hamming self-join equals the brute-force pair set") {
    val docs = graft.catalog.Tables.t(spark, sf, "documents")
    val tokRows = docs.select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
    val sigs = DedupOps.simhash32FromTokenRows(tokRows, "doc_id", "tok", "simhash")
      .select($"doc_id", $"simhash").cache()
    try {
      for (h <- Seq(1, 2, 3)) {
        val brute = simhashPairs(sigs, "doc_id", "simhash", h)
          .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
        val banded = DedupOps.simhashPairsBanded(sigs, "doc_id", "simhash", h)
          .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
        assert(banded == brute, s"maxHamming=$h: banded must be exact")
      }
    } finally { sigs.unpersist(); () }
  }

  test("jaccardPairs equals the brute all-pairs join at tau 0.5") {
    val sets = graft.catalog.Tables.t(spark, sf, "documents")
      .select($"doc_id", TextOps.shingleSet($"text").as("s"))
    val brute = bruteOverlaps(sets)
    val got = operatorOverlaps(sets, 0.5, None)
    // every candidate is verified exactly, and no true pair is missed
    assert(got.subsetOf(brute))
    val truth = brute.filter(atLeast(1, 2))
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    assert(got.filter(atLeast(1, 2)) == truth)
    // the prefix filter prunes: far fewer candidates than pairs
    assert(got.size * 10 < brute.size)
  }

  test("jaccardPairs on q154's hv32 sets: exact uncapped, capped equals the capped-prefix recompute") {
    val sets = graft.catalog.Tables.t(spark, sf, "documents")
      .select($"doc_id", array_distinct(transform(
        TextOps.shingles(TextOps.tokens($"text")),
        g => conv(substring(md5(g), 1, 8), 16, 10).cast("long"))).as("s"))
      .cache()
    try {
      val brute = bruteOverlaps(sets)
      val truth = brute.filter(atLeast(3, 5))
      assert(truth.nonEmpty)
      assert(operatorOverlaps(sets, 0.6, None).filter(atLeast(3, 5)) == truth)
      // at tau 0.55, J = 55/100 is found only through the 46th prefix
      // element of the 100-set (its 45 rarest elements are its own); the
      // double 0.55 · 100 is 55.00000000000001, whose ceil would give a
      // 45-element prefix and miss the pair
      val shared = (1L to 55L)
      val tight = Seq(1L -> ((1000L until 1045L) ++ shared), 2L -> shared)
        .toDF("doc_id", "s")
      assert(operatorOverlaps(tight, 0.55, None) == Set((1L, 2L, 55L, 100L, 55L)))
      // the cap drops join elements with df > 20: recompute the capped
      // candidate rule on the driver, prefixes in (df, element) order
      val local = sets.as[(Long, Seq[Long])].collect().toMap
      val df = local.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      def capped(s: Seq[Long]): Set[Long] = {
        val l = s.size - (6 * s.size + 9) / 10 + 1
        s.sortBy(e => (df(e), e)).take(l).filter(df(_) <= 20).toSet
      }
      val exp = brute.filter { case (a, b, _, _, _) =>
        (capped(local(a)) & capped(local(b))).nonEmpty }
      val got = operatorOverlaps(sets, 0.6, Some(20L))
      assert(got == exp)
      assert(got.filter(atLeast(3, 5)).subsetOf(truth))
    } finally { sets.unpersist(); () }
  }

  test("documents under 3 tokens: the brute formula divides by zero, jaccardPairs and q33 return no pair for them") {
    val texts = Seq(
      1L -> "", 2L -> "one", 3L -> "one two", 4L -> "one two",
      5L -> "alpha beta", 6L -> "x",
      7L -> "the quick brown fox jumps over the lazy dog today",
      8L -> "the quick brown fox jumps over the lazy dog again",
      9L -> "completely different words about query plans and joins")
    val docs = texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
    val sets = docs.select($"doc_id", TextOps.shingleSet($"text").as("s"))
    // the brute all-pairs join (q33 and q250's truth side before
    // jaccardPairs) fails on two empty shingle sets under ANSI mode
    val err = intercept[Exception] {
      sets.select($"doc_id".as("a"), $"s".as("sa"))
        .join(sets.select($"doc_id".as("b"), $"s".as("sb")), $"a" < $"b")
        .filter(jaccard($"sa", $"sb") >= 0.5).collect()
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("DIVIDE_BY_ZERO")))
    // an empty set has an empty prefix, so it is never a candidate; the
    // DuckDB oracle's 0/0 is NULL and drops the pair the same way
    assert(operatorOverlaps(sets, 0.5, None).map(r => (r._1, r._2)) == Set((7L, 8L)))
    val dir = java.nio.file.Files.createTempDirectory("dedup-short").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val q33 = SparkEntry.queries("q33_jaccard_pairs")(spark, dir)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      assert(q33 == Set((7L, 8L)))
      val q250 = SparkEntry.queries("q250_pair_completeness")(spark, dir).head()
      assert(q250.getAs[Long]("n_true") == 1L)
    } finally {
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("lshCandidates caps degenerate buckets") {
    // 50 ids in ONE bucket with maxBucket=10 -> no candidates from it
    val band = (1L to 50L).map(i => (i, 0, 123)).toDF("doc_id", "band_id", "band_hash")
    assert(DedupOps.lshCandidates(band, "doc_id", maxBucket = 10).count() == 0)
    assert(DedupOps.lshCandidates(band, "doc_id", maxBucket = 100).count() == 50L * 49 / 2)
  }

  test("sorted-neighborhood hot-prefix cap re-blocks without losing local pairs") {
    // 120 titles all share the 6-char prefix "AAAAAA" (a planted hot
    // block), diverging at chars 7-12 into 12 groups of 10; within a
    // group titles differ only in the last character (levenshtein 1-2).
    val rows = (0 until 120).map { i =>
      val g = ('a' + i / 10).toChar.toString * 6
      (i.toLong, s"AAAAAA$g tail${i % 10}")
    }
    val df = rows.toDF("doc_id", "title")
    def run(cap: Int) = DedupOps.sortedNeighborhoodPairs(
        df, "doc_id", "title", maxDist = 3, prefixLen = 6, extLen = 6,
        blockCap = cap)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val capped = run(50)      // hot: 120 > 50 -> re-block on 12 chars
    val uncapped = run(1000000)
    // cross-group neighbors differ in >=6 chars (dist > maxDist), so the
    // re-blocking loses NOTHING here: capped must equal uncapped, and
    // every within-group lag-1 adjacency must be present
    assert(capped == uncapped)
    val lag1 = (0 until 120).filter(i => i % 10 != 9)
      .map(i => (i.toLong, i.toLong + 1)).toSet
    assert(lag1.subsetOf(capped), "within-group adjacent pairs must survive the cap")
    // and the effective blocks really are capped: no 12-char block
    // exceeds the group size
    val maxBlock = df.groupBy(substring($"title", 1, 12)).count()
      .agg(max("count")).head().getLong(0)
    assert(maxBlock <= 50)
  }

  test("q154 prefix-filter join: pigeonhole completeness vs brute force; engine matches the capped recompute") {
    // independent recompute from the raw corpus (same hv32 shingle
    // hashing as the engine)
    def hv32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8),
      16)
    val docs = graft.catalog.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
      .toMap
    val sets = docs.view.mapValues(ts =>
      ts.sliding(3).filter(_.size == 3).map(w => hv32(w.mkString(" "))).toSet)
      .filter(_._2.size >= 5).toMap
    val df = sets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    def prefix(s: Set[Long]): Seq[Long] = {
      val l = (s.size - (6 * s.size + 9) / 10 + 1).toInt
      s.toSeq.sortBy(t => (df(t), t)).take(l)
    }
    def jacPermille(a: Set[Long], b: Set[Long]): Long = {
      val i = (a & b).size.toLong
      i * 1000 / (a.size + b.size - i)
    }
    val ids = sets.keys.toSeq.sorted
    // pigeonhole: every true pair shares an UNCAPPED prefix shingle
    for {
      i <- ids.indices; j <- (i + 1) until ids.size
      (a, b) = (ids(i), ids(j))
      if jacPermille(sets(a), sets(b)) >= 600
    } assert(prefix(sets(a)).toSet.intersect(prefix(sets(b)).toSet).nonEmpty,
      s"prefix scheme missed true pair ($a, $b)")
    // capped candidate recompute (the engine's documented rule:
    // df <= 20 join keys), bucketed exactly as the engine reports
    val cands = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      (a, b) = (ids(i), ids(j))
      if prefix(sets(a)).filter(df(_) <= 20).toSet
        .intersect(prefix(sets(b)).filter(df(_) <= 20).toSet).nonEmpty
    } yield jacPermille(sets(a), sets(b))
    val expBuckets = cands.groupBy(jp => if (jp >= 600) jp / 100 else -1L)
      .map { case (bk, ps) => bk -> (ps.size.toLong, ps.min, ps.max) }
    val got = SparkEntry.queries("q154_setsim_join")(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSet == expBuckets.keySet)
    got.foreach { r =>
      val (n, lo, hi) = expBuckets(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == lo && r.getLong(3) == hi,
        s"bucket ${r.getLong(0)}")
    }
    // the filter actually matched something at this SF
    assert(expBuckets.keySet.exists(_ >= 6))
  }

  test("q177 fuzzy match equals a brute-force in-block levenshtein recompute") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    def hv32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8),
      16)
    val docs = graft.catalog.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val titled = docs.map { case (id, text) =>
      val t = text.trim.split("\\s+")
      (id, t.take(4).mkString(" "),
        s"${hv32(t.take(2).mkString(" ")) % 4096}:${math.min(t.length, 4)}")
    }
    val exp = titled.groupBy(_._3).values
      .filter(b => b.length >= 2 && b.length <= 50)
      .flatMap { b =>
        b.toSeq.flatMap(x => b.toSeq.collect {
          case y if x._1 < y._1 && lev(x._2, y._2) <= 5 =>
            (x._1, y._1) -> lev(x._2, y._2).toLong
        })
      }.toMap
    val got = run177.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == exp)
    assert(got.nonEmpty, "blocking should yield candidates at sf0.001")
  }

  private def run177 =
    SparkEntry.queries("q177_fuzzy_match")(spark, sf)
}
