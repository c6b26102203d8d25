package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewOps
import graft.sinks.KeyedJsonSink
import graft.sources.{IdListSource, JsonStateSource}

class SinkSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("KeyedJsonSink.writeSingle produces parseable pretty JSON; JsonStateSource reads it back") {
    val dir = Files.createTempDirectory("sink").toString
    val path = s"$dir/en-us.json"
    val entries = Seq(("a", "Alice", 1L), ("b", "Bob", 2L))
      .toDF("uid", "name", "rank")
    assert(KeyedJsonSink.writeSingle(entries, "uid", path) == 2)

    val schema = StructType(Seq(
      StructField("name", StringType), StructField("rank", LongType)))
    val back = JsonStateSource.read(spark, path, schema)
      .orderBy("uid").as[(String, String, Long)].collect().toSeq
    assert(back == Seq(("a", "Alice", 1L), ("b", "Bob", 2L)))

    // merge: update one key, add one; last-wins
    val delta = Seq(("b", "Bobby", 3L), ("c", "Cara", 4L)).toDF("uid", "name", "rank")
    assert(KeyedJsonSink.writeSingle(delta, "uid", path) == 3)
    val merged = JsonStateSource.read(spark, path, schema)
      .orderBy("uid").as[(String, String, Long)].collect().toSeq
    assert(merged == Seq(("a", "Alice", 1L), ("b", "Bobby", 3L), ("c", "Cara", 4L)))
  }

  test("KeyedJsonSink.mergeSharded keeps entries distributed and re-readable") {
    val dir = Files.createTempDirectory("shard").toString + "/out"
    val entries = (1 to 100).map(i => (s"u$i", i)).toDF("uid", "v")
    // a small advisory partition size spreads the entries over several shards
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256b")
    try assert(KeyedJsonSink.mergeSharded(entries, "uid", dir).shards > 1)
    finally spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val back = spark.read.text(dir)
      .select(split($"value", "\t").getItem(0).as("uid"),
        get_json_object(split($"value", "\t").getItem(1), "$.v").cast("int").as("v"))
    assert(back.count() == 100)
    assert(back.agg(sum($"v")).head().getLong(0) == 5050)
  }

  test("IdListSource parses comma lists with blanks and whitespace") {
    val dir = Files.createTempDirectory("ids").toString
    val f = s"$dir/ids.txt"
    Files.write(Paths.get(f), "1,2,3\n 4,5,\n".getBytes("UTF-8"))
    val ids = IdListSource.read(spark, f).as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("saltedAgg equals the plain aggregate exactly") {
    val df = (1 to 10000).map(i => (s"k${i % 3}", i.toDouble)).toDF("k", "v")
    val plain = df.groupBy($"k")
      .agg(sum($"v".cast(DecimalType(12, 2))).as("sv"), count(lit(1)).as("n"))
      .orderBy($"k").collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2)))
    val salted = SkewOps.saltedAgg(df, Seq("k"), salts = 8,
      sumExprs = Map("sv" -> $"v".cast(DecimalType(12, 2))))
      .orderBy($"k").collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2)))
    assert(plain.toSeq == salted.toSeq)
  }

  test("approx_count_distinct gated within the HLL error bound") {
    // q43 emits (l_returnflag, exact_parts, within_bound): the estimate
    // itself is engine-private, the bound flag is the hard contract
    val got = SparkEntry.queries("q43_approx_distinct")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(1) > 0, s"exact count must be positive: $r")
      assert(r.getBoolean(2),
        s"HLL estimate drifted outside the 15% gate for ${r.getString(0)}")
    }
  }
}
