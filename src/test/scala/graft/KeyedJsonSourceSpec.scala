package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.KeyedJsonSink
import graft.sources.KeyedJsonSource

/** DSv2 keyed-JSON source: round-trip vs the sink, shard pruning for
  * point lookups (the layout-aware file skip), and column pruning. */
class KeyedJsonSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dir = "/tmp/kjsource_state"
  private val fmt = "graft.sources.KeyedJsonSource"

  private def writeState(): Unit = {
    import spark.implicits._
    val df = (0 until 1000)
      .map(i => (i.toString, s"name-$i", i * 2)).toDF("uid", "name", "score")
    KeyedJsonSink.writeSharded(df, "uid", dir, shards = 8)
  }

  test("DSv2 read round-trips the sharded sink (all shards, parallel)") {
    writeState()
    val v2 = spark.read.format(fmt)
      .option("path", dir).option("shards", 8).load()
    // one input partition per shard file
    assert(v2.rdd.getNumPartitions == 8)
    val got = v2.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = KeyedJsonSink.readSharded(spark, dir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == want && got.size == 1000)
    assert(got("42").contains("\"name-42\""))
  }

  test("point lookup opens ONLY the shard its uid hashes to") {
    writeState()
    import spark.implicits._
    val v2 = spark.read.format(fmt)
      .option("path", dir).option("shards", 8).load()
    val one = v2.filter($"uid" === "42")
    assert(one.rdd.getNumPartitions == 1,
      "equality on the shard key must prune to a single file")
    val rows = one.collect()
    assert(rows.length == 1 && rows.head.getString(0) == "42")

    val two = v2.filter($"uid".isin("7", "999"))
    assert(two.rdd.getNumPartitions <= 2)
    assert(two.collect().map(_.getString(0)).toSet == Set("7", "999"))

    // without the shards option the writer sidecar still enables pruning
    val noOpt = spark.read.format(fmt).option("path", dir).load()
      .filter($"uid" === "42")
    assert(noOpt.rdd.getNumPartitions == 1)
    assert(noOpt.collect().map(_.getString(0)).toSeq == Seq("42"))
  }

  test("wrong shards option never mis-prunes: sidecar wins, legacy dirs full-scan") {
    writeState()
    import spark.implicits._
    // sidecar present: a stale shards=4 option is overridden (warn) and
    // the lookup still prunes to the ONE correct file
    val staleWithSidecar = spark.read.format(fmt)
      .option("path", dir).option("shards", 4).load()
      .filter($"uid" === "42")
    assert(staleWithSidecar.rdd.getNumPartitions == 1)
    assert(staleWithSidecar.collect().map(_.getString(0)).toSeq == Seq("42"))

    // legacy dir (no sidecar): a wrong option contradicts the on-disk
    // part indices -> FULL scan, never silent wrong answers
    val sc = new java.io.File(dir, graft.sinks.KeyedJsonSink.ShardSidecar)
    assert(sc.delete(), "sidecar should exist before this sub-case")
    val staleLegacy = spark.read.format(fmt)
      .option("path", dir).option("shards", 4).load()
      .filter($"uid" === "42")
    assert(staleLegacy.rdd.getNumPartitions == 8,
      "mismatched option must disable pruning, not mis-prune")
    assert(staleLegacy.collect().map(_.getString(0)).toSeq == Seq("42"))

    // legacy dir + CORRECT option: validated against maxIdx+1, prunes
    val okLegacy = spark.read.format(fmt)
      .option("path", dir).option("shards", 8).load()
      .filter($"uid" === "42")
    assert(okLegacy.rdd.getNumPartitions == 1)
    assert(okLegacy.collect().map(_.getString(0)).toSeq == Seq("42"))

    // legacy dir + no option: no pruning basis -> full scan
    val noneLegacy = spark.read.format(fmt).option("path", dir).load()
      .filter($"uid" === "42")
    assert(noneLegacy.rdd.getNumPartitions == 8)
    assert(noneLegacy.collect().map(_.getString(0)).toSeq == Seq("42"))
  }

  test("stale sidecar contradicted by on-disk part indices -> full scan") {
    writeState() // 8 shards on disk, sidecar says 8
    import spark.implicits._
    // corrupt the sidecar to claim FEWER shards than the part files
    // index — the signature of a rewritten dir / stale sidecar. Pruning
    // with it would open the wrong file and silently drop rows.
    val sc = new java.io.File(dir, graft.sinks.KeyedJsonSink.ShardSidecar)
    def setSidecar(v: String): Unit = {
      java.nio.file.Files.writeString(sc.toPath, v)
      // drop Hadoop LocalFileSystem's checksum sidecar — the hand-edit
      // invalidates it (which is precisely how a tampered file looks)
      new java.io.File(dir, "." + sc.getName + ".crc").delete()
    }
    setSidecar("4")
    val v2 = spark.read.format(fmt).option("path", dir).load()
      .filter($"uid" === "42")
    assert(v2.rdd.getNumPartitions == 8,
      "contradicted sidecar must disable pruning, not mis-prune")
    assert(v2.collect().map(_.getString(0)).toSeq == Seq("42"))
    // restore a consistent state for later tests
    setSidecar("8")
  }

  test("column pruning drops the json payload from the scan schema") {
    writeState()
    import spark.implicits._
    val uidsOnly = spark.read.format(fmt)
      .option("path", dir).option("shards", 8).load()
      .select($"uid")
    assert(uidsOnly.schema.fieldNames.toSeq == Seq("uid"))
    assert(uidsOnly.collect().length == 1000)
    // the scan itself (not a project above it) carries the pruned schema
    val scanLine = uidsOnly.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("[uid#") && !scanLine.contains("json#"),
      s"scan should read only uid: $scanLine")
  }

  test("a small state sized to one shard still serves point lookups") {
    import spark.implicits._
    val small = java.nio.file.Files.createTempDirectory("kjsmall").resolve("s").toString
    KeyedJsonSink.writeSharded((0 until 1000)
      .map(i => (i.toString, s"name-$i")).toDF("uid", "name"), "uid", small)
    val parts = new java.io.File(small).listFiles().map(_.getName)
      .filter(_.startsWith("part-"))
    assert(parts.length == 1)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(
      small, KeyedJsonSink.ShardSidecar)) == "1")
    val v2 = spark.read.format(fmt).option("path", small).load()
    val one = v2.filter($"uid" === "42")
    assert(one.rdd.getNumPartitions == 1)
    assert(one.collect().map(r => r.getString(0) -> r.getString(1)).toSeq ==
      Seq("42" -> """{"name":"name-42"}"""))
    assert(v2.filter($"uid".isin("7", "999", "nope")).collect()
      .map(_.getString(0)).toSet == Set("7", "999"))
  }

  test("malformed lines (no tab, empty uid) are skipped, not fatal") {
    import java.nio.file.{Files, Paths}
    val dir = "/tmp/kjsource_corrupt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "part-00000-x.txt"),
      "a\t{\"k\":1}\nno-tab-line\n\tempty-uid\nb\t{\"k\":2}\n")
    val got = spark.read.format(fmt).option("path", dir).load()
      .collect().map(_.getString(0)).toSet
    assert(got == Set("a", "b"))
  }

  test("shardOf replays the writer's hash partitioning exactly") {
    import spark.implicits._
    // the writer's own assignment: pmod(hash(uid), 8) computed by Spark
    val want = (0 until 100).map(_.toString).toDF("uid")
      .select($"uid", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"uid"),
        org.apache.spark.sql.functions.lit(8)).as("p"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    (0 until 100).map(_.toString).foreach { uid =>
      assert(KeyedJsonSource.shardOf(uid, 8) == want(uid), s"uid $uid")
    }
  }
}
