package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.KeyedJsonSink

/** `KeyedJsonSink.readSharded` over sharded keyed-JSON state: the
  * round-trip, shard pruning for uid lookups (which files a read opens,
  * from `Dataset.inputFiles`), its full-scan fallbacks, and the one line
  * parser. */
class ShardedReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/tmp/kjsharded_state"

  private def withAdvisory[T](size: String)(body: => T): T = {
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", size)
    try body finally spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
  }

  /** A fresh 8-shard state: the advisory partition size is an eighth of
    * the entries' observed bytes. */
  private def writeState(): Unit = {
    val df = (0 until 1000)
      .map(i => (i.toString, s"name-$i", i * 2)).toDF("uid", "name", "score")
    Seq(dir, dir + ".old").foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    val m = KeyedJsonSink.materialize(df, "uid")
    try withAdvisory(s"${(m.bytes + 7) / 8}b") {
      assert(KeyedJsonSink.mergeSharded(m, dir, None, None).shards == 8)
    } finally m.release()
  }

  private def read(d: String, uids: String*) =
    KeyedJsonSink.readSharded(spark, d, Some(uids.toSet))

  /** Shard index of each file a read opens. */
  private def shardsRead(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.inputFiles.toSeq.map(f => new org.apache.hadoop.fs.Path(f).getName
      .drop(5).takeWhile(_.isDigit).toInt).sorted

  private def setSidecar(d: String, v: String): Unit = {
    val sc = new java.io.File(d, KeyedJsonSink.ShardSidecar)
    Files.writeString(sc.toPath, v)
    // drop Hadoop LocalFileSystem's checksum of the sidecar — the
    // hand-edit invalidates it (which is precisely how a tampered file
    // looks)
    new java.io.File(d, "." + sc.getName + ".crc").delete()
  }

  test("readSharded round-trips the sink's 8 shard files") {
    writeState()
    val all = KeyedJsonSink.readSharded(spark, dir)
    assert(shardsRead(all) == (0 until 8))
    val got = all.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 1000)
    assert(got("42") == """{"name":"name-42","score":84}""")
  }

  test("a point lookup reads only the file shardOf names") {
    writeState()
    val one = read(dir, "42")
    assert(shardsRead(one) == Seq(KeyedJsonSink.shardOf("42", 8)))
    assert(one.collect().map(r => r.getString(0) -> r.getString(1)).toSeq ==
      Seq("42" -> """{"name":"name-42","score":84}"""))

    val two = read(dir, "7", "999")
    assert(two.inputFiles.length <= 2)
    assert(shardsRead(two) ==
      Seq("7", "999").map(KeyedJsonSink.shardOf(_, 8)).distinct.sorted)
    assert(two.collect().map(_.getString(0)).toSet == Set("7", "999"))
  }

  test("a stale sidecar reads every file and finds the row") {
    writeState() // 8 shards on disk, sidecar says 8
    // a sidecar claiming FEWER shards than the part files index is the
    // signature of a rewritten dir; pruning by it would open the wrong
    // file and silently drop rows
    setSidecar(dir, "4")
    val got = read(dir, "42")
    assert(shardsRead(got) == (0 until 8),
      "a contradicted sidecar must disable pruning, not mis-prune")
    assert(got.collect().map(_.getString(0)).toSeq == Seq("42"))
  }

  test("a missing sidecar reads every file and finds the row") {
    writeState()
    assert(new java.io.File(dir, KeyedJsonSink.ShardSidecar).delete())
    val got = read(dir, "42")
    assert(shardsRead(got) == (0 until 8))
    assert(got.collect().map(_.getString(0)).toSeq == Seq("42"))
  }

  test("a small state sized to one shard still serves point lookups") {
    val small = Files.createTempDirectory("kjsmall").resolve("s").toString
    KeyedJsonSink.mergeSharded((0 until 1000)
      .map(i => (i.toString, s"name-$i")).toDF("uid", "name"), "uid", small)
    val parts = new java.io.File(small).listFiles().map(_.getName)
      .filter(_.startsWith("part-"))
    assert(parts.length == 1)
    assert(Files.readString(Paths.get(small, KeyedJsonSink.ShardSidecar)) == "1")
    val one = read(small, "42")
    assert(shardsRead(one) == Seq(0))
    assert(one.collect().map(r => r.getString(0) -> r.getString(1)).toSeq ==
      Seq("42" -> """{"name":"name-42"}"""))
    assert(read(small, "7", "999", "nope").collect()
      .map(_.getString(0)).toSet == Set("7", "999"))
  }

  test("a uid whose shard has no part file reads nothing") {
    val sparse = Files.createTempDirectory("kjsparse").resolve("s").toString
    // two entries over five shards: Spark's text writer leaves no file
    // for an empty partition other than the first
    val n = withAdvisory("4b") {
      KeyedJsonSink.mergeSharded(Seq(("a", 1), ("b", 2)).toDF("uid", "x"),
        "uid", sparse).shards
    }
    assert(n == 5)
    val present = new java.io.File(sparse).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).map(_.drop(5).takeWhile(_.isDigit).toInt).toSet
    assert(Set("a", "b").map(KeyedJsonSink.shardOf(_, n)).subsetOf(present))
    assert(present.size < n)
    val absent = Iterator.from(0).map(i => s"x$i")
      .find(u => !present(KeyedJsonSink.shardOf(u, n))).get
    val got = read(sparse, absent)
    assert(got.inputFiles.isEmpty)
    assert(got.columns.toSeq == Seq("uid", "json"))
    assert(got.collect().isEmpty)
    assert(read(sparse, "a", absent).collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("malformed lines (no tab, empty uid) are skipped, not fatal") {
    val dir = "/tmp/kjsharded_corrupt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "part-00000-x.txt"),
      "a\t{\"k\":1}\nno-tab-line\n\tempty-uid\nb\t{\"k\":2}\n")
    val got = KeyedJsonSink.readSharded(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got == Set("a" -> """{"k":1}""", "b" -> """{"k":2}"""))
    assert(read(dir, "a", "no-tab-line").collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("shardOf replays the writer's hash partitioning exactly") {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    // the writer's own assignment: pmod(hash(uid), 8) computed by Spark
    val want = (0 until 100).map(_.toString).toDF("uid")
      .select($"uid", pmod(hash($"uid"), lit(8)).as("p"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    (0 until 100).map(_.toString).foreach { uid =>
      assert(KeyedJsonSink.shardOf(uid, 8) == want(uid), s"uid $uid")
    }
  }
}
