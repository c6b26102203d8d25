package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EavOps, MergeOps, PairOps, TextOps}

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("EAV pivot equals the reference's 3-self-join widening, minus the inner-join drop") {
    // user 2 is missing last_name: reference J1 (INNER x3) would DROP it
    // (SURVEY.md J1 / README.md:77); our pivot keeps it with NULL.
    val eav = Seq(
      (1L, "first_name", "Ada"), (1L, "last_name", "L"), (1L, "bio", "x"),
      (2L, "first_name", "Bob"), (2L, "bio", "y"),
      (1L, "noise", "z")).toDF("user_id", "meta_key", "meta_value")
    val wide = EavOps.pivot(eav, "user_id", "meta_key", "meta_value",
      Seq("first_name", "last_name", "bio"))
      .orderBy($"user_id").collect()
    assert(wide.length == 2)
    assert(wide(0).getString(1) == "Ada" && wide(0).getString(2) == "L")
    assert(wide(1).getString(1) == "Bob" && wide(1).isNullAt(2))
  }

  test("EAV unpivot/pivot round-trip") {
    val wide = Seq((1L, "a", "b"), (2L, "c", "d")).toDF("id", "k1", "k2")
    val back = EavOps.pivot(
      EavOps.unpivot(wide, "id", Seq("k1", "k2")), "id", "meta_key", "meta_value",
      Seq("k1", "k2")).orderBy($"id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "a", "b"), (2L, "c", "d")))
  }

  test("EAV toMap builds a MapType meta column") {
    val eav = Seq((1L, "a", "1"), (1L, "b", "2")).toDF("id", "k", "v")
    val m = EavOps.toMap(eav, "id", "k", "v").head().getMap[String, String](1)
    assert(m == Map("a" -> "1", "b" -> "2"))
  }

  test("mergeLastWins: delta beats state, non-conflicting keys survive") {
    val state = Seq((1L, "old"), (2L, "keep")).toDF("id", "v")
    val delta = Seq((1L, "new"), (3L, "add")).toDF("id", "v")
    val merged = MergeOps.mergeLastWins(state, delta, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(merged == Map(1L -> "new", 2L -> "keep", 3L -> "add"))
  }

  test("mergeLastWins is associative over batches (A4 file-merge parity)") {
    val b0 = Seq((1L, "a")).toDF("id", "v")
    val b1 = Seq((1L, "b"), (2L, "b")).toDF("id", "v")
    val b2 = Seq((2L, "c")).toDF("id", "v")
    val seq = MergeOps.mergeLastWins(MergeOps.mergeLastWins(b0, b1, Seq("id")), b2, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(seq == Map(1L -> "b", 2L -> "c"))
  }

  test("shingles: short docs produce empty arrays, not errors") {
    val df = Seq("one two", "one", "", "a b c d").toDF("text")
    val got = df.select(size(TextOps.shingleSet($"text")).as("n"))
      .as[Int].collect().toSeq
    assert(got == Seq(0, 0, 0, 2))
  }

  test("pairs: every i < j member pair in array order, none for empty, one-element or null lists") {
    val lists = Seq((1, Seq.empty[Int]), (2, Seq(7)), (3, null: Seq[Int]),
      (4, Seq(4, 3, 2, 1))).toDF("id", "xs")
    val got = lists.select($"id", posexplode(PairOps.pairs($"xs", "a", "b")))
      .orderBy($"id", $"pos").select($"id", $"col.a", $"col.b")
      .as[(Int, Int, Int)].collect().toSeq
    assert((1 to 4).map(id => got.count(_._1 == id)) == Seq(0, 0, 0, 6))
    assert(got.map(r => (r._2, r._3)) ==
      Seq((4, 3), (4, 2), (4, 1), (3, 2), (3, 1), (2, 1)))
    val counts = PairOps.pairCounts(Seq(Seq(1, 2, 3), Seq(2, 3)).toDF("xs"),
      "xs", "a", "b", "n").as[(Int, Int, Long)].collect().toSet
    assert(counts == Set((1, 2, 1L), (1, 3, 1L), (2, 3, 2L)))
  }

  test("windowCount equals distinctWindows' per-document row count") {
    val w = TextOps.windowTokens
    val words = (1 to w + 3).map(i => s"w$i")
    val docs = Seq(
      1L -> words.take(w - 1).mkString(" "), // shorter than one window
      2L -> words.take(w).mkString(" "),
      3L -> words.mkString(" "),
      4L -> (words.take(w) ++ words.take(w)).mkString(" "), // first == last
      5L -> "").toDF("doc_id", "text")
    val rows = TextOps.distinctWindows(docs, "doc_id", "text")
      .groupBy($"doc_id").count().as[(Long, Long)].collect().toMap
    val got = docs.select($"doc_id", TextOps.windowCount($"text"))
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 5L).map(id => id -> rows.getOrElse(id, 0L)).toMap)
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 4L, 4L -> w.toLong, 5L -> 0L))
  }

  test("chunks: stride/width slices in order, a short last chunk, one empty chunk for no tokens") {
    val toks = Seq(Seq.empty[String], Seq("a", "b", "c"), Seq("a", "b", "c", "d"))
      .toDF("toks")
    def chunked(stride: Int, width: Int) =
      toks.select(TextOps.chunks($"toks", stride, width)(identity))
        .as[Seq[Seq[String]]].collect().toSeq
    assert(chunked(3, 3) == Seq(
      Seq(Seq()),
      Seq(Seq("a", "b", "c")),
      Seq(Seq("a", "b", "c"), Seq("d"))))
    // overlapping stride (q132's shape): chunk k starts at token k * stride
    assert(chunked(2, 3).last == Seq(Seq("a", "b", "c"), Seq("c", "d")))
  }

  test("asofJoinLastBefore: inclusive bound, per-key isolation, null when no match") {
    import graft.operators.AsOfOps
    val left = Seq( // (user, ts, error_id)
      (1L, 100L, 10L), (1L, 205L, 11L), (1L, 50L, 12L), (2L, 100L, 20L))
      .toDF("user_id", "ts", "error_id")
    val right = Seq( // (user, ts, click_id)
      (1L, 100L, 1L), (1L, 200L, 2L), (2L, 150L, 3L))
      .toDF("user_id", "ts", "click_id")
    val got = AsOfOps
      .asofJoinLastBefore(left, right, Seq("user_id"), "ts", "ts", "click_id")
      .collect()
      .map(r => r.getAs[Long]("error_id") ->
        Option(r.getAs[Any]("click_id")).map(_.asInstanceOf[Long])).toMap
    assert(got(10L).contains(1L)) // equal ts is inclusive
    assert(got(11L).contains(2L)) // latest preceding
    assert(got(12L).isEmpty)      // nothing before -> null
    assert(got(20L).isEmpty)      // other user's clicks invisible
  }

  test("bucketedRangeCount: half-open window (t-w, t], cross-bucket hits counted") {
    import graft.operators.RangeOps
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:30:00")), (2L, ts("2024-01-01 12:00:00")))
      .toDF("id", "ts")
    val right = Seq(
      ts("2024-01-01 10:30:00"), // == t      -> counted (inclusive)
      ts("2024-01-01 10:00:00"), // == t - w  -> NOT counted (exclusive)
      ts("2024-01-01 10:00:01"), // just inside, previous bucket
      ts("2024-01-01 10:31:00")) // after t   -> not counted
      .toDF("cts")
    val got = RangeOps.bucketedRangeCount(left, right, "id", "ts", "cts",
      windowUs = 30L * 60 * 1000000)
      .select($"id", $"n_in_range").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 0L))
  }

  test("langId argmax is deterministic with first-wins ties") {
    val dicts = Seq("x" -> Seq("foo"), "y" -> Seq("bar"))
    val df = Seq("foo bar", "bar bar foo", "baz").toDF("text")
    val got = df.select(TextOps.langId($"text", dicts)).as[String].collect().toSeq
    assert(got == Seq("x", "y", "x")) // ties (incl. all-zero) -> first dict wins
  }
}
