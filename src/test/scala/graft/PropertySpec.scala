package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Permalink
import graft.operators.EavOps

/** Property tests from SURVEY.md §5.2: EAV pivot ≡ the reference's
  * self-join widening on random meta subsets, permalink formatting vs
  * java.time, typed ordered-concat aggregator vs canonical built-ins. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  test("EAV pivot equals N-way self-join widening on random meta subsets") {
    val keys = Seq("first_name", "last_name", "description")
    val gen: Gen[List[(Long, String, String)]] = Gen.listOfN(40,
      for {
        uid <- Gen.choose(1L, 8L)
        key <- Gen.oneOf(keys :+ "noise")
        v <- Gen.alphaStr.map(_.take(5))
      } yield (uid, key, v))
    checkProp(Prop.forAll(gen) { rows =>
      // dedup (uid,key) pairs — EAV semantics assume one value per key
      val eavRows = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val eav = eavRows.toDF("user_id", "meta_key", "meta_value")
      val pivoted = EavOps.pivot(eav, "user_id", "meta_key", "meta_value", keys)
        .collect()
        .map(r => r.getLong(0) -> keys.indices.map(i =>
          Option(r.getString(i + 1))).toList).toMap
      // reference shape: one lookup per key (the 3-self-join result)
      val byUidKey = eavRows.map(r => (r._1, r._2) -> r._3).toMap
      val uids = eavRows.map(_._1).distinct
      uids.forall { uid =>
        pivoted.get(uid).exists(_ == keys.map(k => byUidKey.get(uid -> k)).toList)
      }
    })
  }

  test("permalink date tokens match java.time formatting on random dates") {
    val gen = Gen.choose(0L, 4102444800000L) // 1970..2100
    checkProp(Prop.forAll(gen) { millis =>
      val ts = new Timestamp(millis - millis % 1000)
      val df = Seq((ts, 1L, "slug")).toDF("ts", "id", "slug")
      val got = df.select(Permalink.expand(
        "/%year%/%monthnum%/%day%/%postname%/", $"ts", $"id", $"slug"))
        .head().getString(0)
      val utc = ts.toInstant.atZone(java.time.ZoneOffset.UTC)
      val want = f"/${utc.getYear}%04d/${utc.getMonthValue}%02d/${utc.getDayOfMonth}%02d/slug/"
      got == want
    })
  }

  test("hashMix stays in range and matches a BigInt reference for any id") {
    import graft.operators.CorpusOps
    val gen = Gen.listOfN(60, Gen.choose(Long.MinValue, Long.MaxValue))
    checkProp(Prop.forAll(gen) { ids =>
      def pmodB(x: BigInt, m: Long): Long = (((x % m) + m) % m).toLong
      val want = ids.map { id =>
        pmodB(BigInt(pmodB(BigInt(id), 1000003L)) * 2654435761L + 40503L, 1000L)
      }
      val got = ids.toDF("id")
        .select(CorpusOps.hashMix(col("id"), 1000L)).collect()
        .map(_.getLong(0)).toList
      got == want && got.forall(h => h >= 0 && h < 1000)
    })
  }

  test("minify(pretty(x)) round-trips any generated JSON object") {
    import graft.sinks.KeyedJsonSink
    // strings exercising quotes, escapes, braces-in-strings, unicode
    val strGen = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.const("""a"b"""), Gen.const("""back\slash"""),
      Gen.const("{not json}"), Gen.const("tab\tchar"), Gen.const("ü ñ"))
    val jsonGen: Gen[String] = Gen.listOfN(4,
      Gen.zip(Gen.alphaLowerStr.map(_.take(5) + "k"), strGen)).map { kvs =>
      kvs.map { case (k, v) =>
        val esc = v.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\t", "\\t")
        s""""$k":["$esc",1,{"n":"$esc"}]"""
      }.mkString("{", ",", "}")
    }
    checkProp(Prop.forAll(jsonGen) { j =>
      KeyedJsonSink.minify(KeyedJsonSink.pretty(j)) == j
    })
  }

  test("md5Buckets stays in range and is repartition-invariant") {
    import graft.operators.DedupOpsTestAccess
    val gen = Gen.listOfN(30, Gen.alphaNumStr.map(_.take(10)))
    checkProp(Prop.forAll(gen) { keys =>
      val df = keys.toDF("fp")
      val a = DedupOpsTestAccess.md5Buckets(df, col("fp"), 3, 64)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val b = DedupOpsTestAccess.md5Buckets(df.repartition(7), col("fp"), 3, 64)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq &&
        a.forall(r => Seq(r._2, r._3, r._4).forall(x => x >= 0 && x < 64))
    })
  }

  test("char-entropy kernel: permutation-invariant, bounded, uniform-exact") {
    import graft.functions.TextNormOps
    val gen = for {
      s <- Gen.listOfN(60, Gen.oneOf('a', 'b', 'c', ' ', 'é', '数')).map(_.mkString)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (s, seed)
    checkProp(Prop.forAll(gen) { case (s, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(s.toList).mkString
      val e = TextNormOps.entropyNanoSum(s)
      // counts-only function: any permutation scores identically
      val perm = e == TextNormOps.entropyNanoSum(shuffled)
      // bounds: 0 <= sum <= n * ln(#distinct) (+n quantization slack)
      val n = s.length.toLong
      val distinct = s.distinct.length.max(1)
      val hi = math.ceil(math.log(distinct.toDouble) * 1e9).toLong * n + n
      perm && e >= 0 && e <= hi
    })
    // exactly uniform input: per-char entropy == floor(ln(k) * 1e9) ± 1
    (1 to 6).foreach { k =>
      val s = ('a' until ('a' + k).toChar).mkString
      val perChar = TextNormOps.entropyNanoSum(s) / k
      assert(math.abs(perChar - math.floor(math.log(k.toDouble) * 1e9).toLong) <= 1)
    }
  }

  test("NFC kernel: idempotent, ASCII-invariant, equals java.text reference") {
    import graft.functions.TextNormOps
    val gen = Gen.listOfN(30,
      Gen.oneOf('e', 'a', '̀', '́', 'é', 'x', ' ')).map(_.mkString)
    checkProp(Prop.forAll(gen) { s =>
      val once = TextNormOps.nfc(s)
      val ascii = s.forall(_ < 128)
      (TextNormOps.nfc(once) == once) &&
        (!ascii || once == s) &&
        java.text.Normalizer.isNormalized(once, java.text.Normalizer.Form.NFC)
    })
  }

  test("stride-chunk arithmetic: every position lands in its owning chunks only") {
    // the q132 membership rule: pos is in chunk k iff 16k <= pos < 16k+32
    // and 0 <= k <= (n-1) div 16 — the two-candidate explode covers it
    val gen = for {
      n <- Gen.choose(1, 200)
      pos <- Gen.choose(0, n - 1)
    } yield (n, pos)
    checkProp(Prop.forAll(gen) { case (n, pos) =>
      val kmax = (n - 1) / 16
      val owners = (0 to kmax).filter(k => 16 * k <= pos && pos < 16 * k + 32)
      val candidates = Seq(pos / 16 - 1, pos / 16)
        .filter(k => k >= 0 && pos < k * 16 + 32 && k <= kmax)
      owners == candidates && owners.nonEmpty && owners.length <= 2
    })
  }
}
