package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{HttpFetchSink, KeyedJsonSink}

/** Counters shared with executor-side fetcher closures (local mode =
  * same JVM, so statics observe true cross-task concurrency). */
object FetchProbe {
  val inFlight = new AtomicInteger(0)
  val maxInFlight = new AtomicInteger(0)
  def reset(): Unit = { inFlight.set(0); maxInFlight.set(0) }
  def enter(): Unit = {
    val cur = inFlight.incrementAndGet()
    maxInFlight.updateAndGet(m => math.max(m, cur))
    ()
  }
  def exit(): Unit = { inFlight.decrementAndGet(); () }
}

class SinkHardeningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("fetch concurrency bound holds ACROSS tasks (executor-wide gate)") {
    FetchProbe.reset()
    val fetcher: HttpFetchSink.Fetcher = _ => {
      FetchProbe.enter()
      try { Thread.sleep(25); Right(Array[Byte](1)) }
      finally FetchProbe.exit()
    }
    val dest = Files.createTempDirectory("fetchgate").toString
    val assets = (1L to 64L).map(i => (i, s"http://x/img-$i.jpg"))
      .toDF("uid", "url").repartition(16) // 16 concurrent tasks, bound 2
    val results = HttpFetchSink.fetch(assets, "uid", "url", dest, fetcher,
      concurrency = 2)
    assert(results.filter("ok").count() == 64)
    assert(FetchProbe.maxInFlight.get() <= 2,
      s"observed ${FetchProbe.maxInFlight.get()} concurrent fetches, bound was 2")
  }

  test("filename sanitization: traversal, query strings, empty segments") {
    import HttpFetchSink.{safeFileName => f}
    assert(f("http://x/a/img.jpg", 7) == "img.jpg")
    assert(f("http://x/a/img.jpg?v=2#frag", 7) == "img.jpg")
    assert(f("http://x/a/..", 7) == "asset-7")
    assert(f("http://x/a/.", 7) == "asset-7")
    assert(f("http://x/a/", 7) == "asset-7")
    assert(f("http://x/a/?q=1", 7) == "asset-7")
    // a '..' URL must fetch (not skip via Files.exists("..")) and the
    // written file must stay inside destDir
    val dest = Files.createTempDirectory("fetchsafe")
    val fetcher: HttpFetchSink.Fetcher = _ => Right(Array[Byte](42))
    val assets = Seq((9L, "http://x/a/..")).toDF("uid", "url")
    val r = HttpFetchSink.fetch(assets, "uid", "url", dest.toString, fetcher)
      .collect().head
    assert(r.getAs[Boolean]("ok") && !r.getAs[Boolean]("skipped"))
    val written = Paths.get(r.getAs[String]("path")).toAbsolutePath.normalize
    assert(written.startsWith(dest.toAbsolutePath.normalize))
    assert(Files.readAllBytes(written).sameElements(Array[Byte](42)))
  }

  test("fetch writes each asset through a temp sibling: only final files remain") {
    val dest = Files.createTempDirectory("fetchatomic")
    val fetcher: HttpFetchSink.Fetcher = url => Right(url.getBytes(StandardCharsets.UTF_8))
    val assets = (1L to 6L).map(i => (i, s"http://x/a/img-$i.jpg")).toDF("uid", "url")
      .repartition(3)
    assert(HttpFetchSink.fetch(assets, "uid", "url", dest.toString, fetcher)
      .filter("ok and not skipped").count() == 6)
    (1L to 6L).foreach { i =>
      val files = new java.io.File(dest.toFile, i.toString).listFiles().map(_.getName)
      assert(files.toSeq == Seq(s"img-$i.jpg"), s"id $i holds ${files.mkString(", ")}")
      assert(new String(Files.readAllBytes(dest.resolve(s"$i/img-$i.jpg")),
        StandardCharsets.UTF_8) == s"http://x/a/img-$i.jpg")
    }
  }

  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** Run `body` with the advisory partition size that sizes shard counts
    * set to `size`, unset afterwards. */
  private def withAdvisory[T](size: String)(body: => T): T = {
    spark.conf.set(Advisory, size)
    try body finally spark.conf.unset(Advisory)
  }

  test("writeSingle preserves untouched entries' raw JSON (nulls, order, types)") {
    val dir = Files.createTempDirectory("keyedjson")
    val path = dir.resolve("state.json").toString
    // hand-written state: null field, unusual field order, string-typed number
    val priorEntry = """{"z_last": 1, "a_first": null, "num_as_str": "007"}"""
    Files.write(Paths.get(path),
      s"""{"keep": $priorEntry}""".getBytes(StandardCharsets.UTF_8))
    val delta = Seq(("new", "v")).toDF("uid", "field")
    val n = KeyedJsonSink.writeSingle(delta, "uid", path)
    assert(n == 2)
    val out = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    val entries = KeyedJsonSink.topLevelEntries(out).toMap
    assert(entries.keySet == Set("keep", "new"))
    // raw text survives: null field present, order and formatting intact
    assert(KeyedJsonSink.minify(entries("keep")) ==
      """{"z_last":1,"a_first":null,"num_as_str":"007"}""")
  }

  test("writeSingle removeKeys drops stale entries (dead-letter contract)") {
    val dir = Files.createTempDirectory("keyedjson2")
    val path = dir.resolve("wp_failed.json").toString
    Files.write(Paths.get(path),
      """{"11": {"url": "http://x/a"}, "22": {"url": "http://x/b"}}"""
        .getBytes(StandardCharsets.UTF_8))
    val delta = Seq(("33", "http://x/c")).toDF("uid", "url")
    // prior 11 healed; 33 is this run's delta, which lands even though
    // removeKeys names it; 44 names nothing
    val n = KeyedJsonSink.writeSingle(delta, "uid", path,
      removeKeys = Some(Seq("11", "33", "44").toDF("uid")))
    assert(n == 2)
    val entries = KeyedJsonSink.topLevelEntries(
      new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)).toMap
    assert(entries.keySet == Set("22", "33"))
  }

  test("sharded merge + compaction round-trips ≡ writeSingle on same data") {
    val dir = Files.createTempDirectory("shardrt")
    val shardDir = dir.resolve("state").toString
    val singlePath = dir.resolve("state.json").toString
    val base = (1 to 40).map(i => (s"k$i", s"v$i", i)).toDF("uid", "field", "n")
    // delta: update 5 existing keys, add 3 new; removeKeys names 2: k20
    // (untouched, dropped) and k3 (updated by the delta, which lands)
    val delta = ((3 to 7).map(i => (s"k$i", s"V$i", i * 100)) ++
      Seq(("x1", "nx1", -1), ("x2", "nx2", -2), ("x3", "nx3", -3)))
      .toDF("uid", "field", "n")
    val rm = Seq("k3", "k20").toDF("uid")

    withAdvisory("512b") {
      assert(KeyedJsonSink.mergeSharded(base, "uid", shardDir).shards > 1)
      KeyedJsonSink.mergeSharded(delta, "uid", shardDir, removeKeys = Some(rm))
    }

    KeyedJsonSink.writeSingle(base, "uid", singlePath)
    KeyedJsonSink.writeSingle(delta, "uid", singlePath, removeKeys = Some(rm))

    val sharded = KeyedJsonSink.readSharded(spark, shardDir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val single = KeyedJsonSink.topLevelEntries(
      new String(Files.readAllBytes(Paths.get(singlePath)), StandardCharsets.UTF_8))
      .map { case (k, v) => k -> KeyedJsonSink.minify(v) }.toMap
    assert(sharded.keySet == single.keySet)
    assert(sharded.keySet.size == 42) // 40 - 1 removed + 3 added
    assert(single("k3") == """{"field":"V3","n":300}""")
    sharded.keySet.foreach(k => assert(sharded(k) == single(k), s"key $k"))

    // compaction: exactly one line per key across the shard files — the
    // merge rewrote state, not appended a log.
    val lines = spark.read.text(shardDir).count()
    assert(lines == 42)
  }

  test("mergeSharded absorbs a legacy writeSingle file once") {
    val dir = Files.createTempDirectory("shardlegacy")
    val shardDir = dir.resolve("state").toString
    val legacy = dir.resolve("legacy.json").toString
    Files.write(Paths.get(legacy),
      """{"old1": {"url": "http://x/a"}, "old2": {"url": "http://x/b"}}"""
        .getBytes(StandardCharsets.UTF_8))
    val delta = Seq(("new1", "http://x/c")).toDF("uid", "url")
    KeyedJsonSink.mergeSharded(delta, "uid", shardDir,
      removeKeys = Some(Seq("old2").toDF("uid")), legacyFile = Some(legacy))
    val got = KeyedJsonSink.readSharded(spark, shardDir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.keySet == Set("old1", "new1"))
    assert(KeyedJsonSink.minify(got("old1")) == """{"url":"http://x/a"}""")
    assert(!Files.exists(Paths.get(legacy))) // absorbed, deleted
  }

  test("mergeSharded self-heals an interrupted swap from the .old backup") {
    // Two crash windows of the previous merge, each rebuilt on disk: a
    // crash between rename(dir -> .old) and rename(tmp -> dir) leaves the
    // live dir missing and the backup present; a crash during the shard
    // write leaves a `.tmp` sibling holding a stale shard. Either way the
    // next merge must equal an uninterrupted run, and no read of the
    // state may return the stale rows.
    val stale = Seq(("a", "stale"), ("z", "stale")).toDF("uid", "x")
    def run(crash: String => Unit): Map[String, String] = {
      val shardDir = Files.createTempDirectory("shardheal").resolve("state").toString
      withAdvisory("16b") {
        assert(KeyedJsonSink.mergeSharded(Seq(("a", "1"), ("b", "2")).toDF("uid", "x"),
          "uid", shardDir).shards > 1)
        crash(shardDir)
        KeyedJsonSink.mergeSharded(Seq(("c", "3")).toDF("uid", "x"), "uid", shardDir)
      }
      assert(!Files.exists(Paths.get(shardDir + ".old")))
      Seq("a", "z").foreach { u =>
        assert(KeyedJsonSink.readSharded(spark, shardDir, Some(Set(u))).collect()
          .forall(!_.getString(1).contains("stale")), s"stale row for $u")
      }
      shardedKeys(shardDir)
    }
    val clean = run(_ => ())
    assert(clean.keySet == Set("a", "b", "c"))
    val swap = run(d => Files.move(Paths.get(d), Paths.get(d + ".old")))
    assert(swap == clean, s"expected pre-crash state recovered from .old, got $swap")
    var tmp = ""
    val leftover = run { d =>
      // a stale shard of the same layout, in the sibling a crashed write
      // would have left
      tmp = d + ".tmp"
      KeyedJsonSink.mergeSharded(stale, "uid", tmp)
      assert(partFiles(tmp).nonEmpty)
    }
    assert(leftover == clean, s"a leftover .tmp changed the merge: $leftover")
    assert(!Files.exists(Paths.get(tmp)), s"the crashed write's $tmp survived the merge")
  }

  private def partFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

  private def sidecar(dir: String): String =
    Files.readString(Paths.get(dir, KeyedJsonSink.ShardSidecar))

  /** Every line of part-NNNNN must hold a uid with
    * pmod(murmur3(uid), n) = NNNNN — the layout shard pruning trusts. */
  private def assertHashLayout(dir: String, n: Int): Unit =
    partFiles(dir).foreach { f =>
      val idx = f.getName.drop(5).takeWhile(_.isDigit).toInt
      assert(idx < n, s"${f.getName} beyond $n shards")
      Files.readAllLines(f.toPath).forEach { l =>
        val uid = l.takeWhile(_ != '\t')
        assert(KeyedJsonSink.shardOf(uid, n) == idx,
          s"uid $uid in ${f.getName}")
      }
    }

  private def shardedKeys(dir: String): Map[String, String] =
    KeyedJsonSink.readSharded(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("mergeSharded sizes a small state to one shard file") {
    val shardDir = Files.createTempDirectory("shardsmall").resolve("s").toString
    val base = (1 to 50).map(i => (s"k$i", s"v$i")).toDF("uid", "x")
    KeyedJsonSink.mergeSharded(base, "uid", shardDir)
    assert(partFiles(shardDir).length == 1)
    assert(sidecar(shardDir) == "1")
    KeyedJsonSink.mergeSharded(Seq(("k7", "V7"), ("n1", "w")).toDF("uid", "x"),
      "uid", shardDir)
    assert(partFiles(shardDir).length == 1 && sidecar(shardDir) == "1")
    val got = shardedKeys(shardDir)
    assert(got.size == 51 && got("k7") == """{"x":"V7"}""")
  }

  test("mergeSharded raises the shard count under a small advisory size") {
    val shardDir = Files.createTempDirectory("shardgrow").resolve("s").toString
    val base = (1 to 300).map(i => (s"k$i", s"value-$i" * 4)).toDF("uid", "x")
    KeyedJsonSink.mergeSharded(base, "uid", shardDir)
    assert(sidecar(shardDir) == "1")
    withAdvisory("4k") {
      KeyedJsonSink.mergeSharded(
        (290 to 320).map(i => (s"k$i", s"new-$i")).toDF("uid", "x"),
        "uid", shardDir)
    }
    val n = sidecar(shardDir).toInt
    assert(n > 1 && n < KeyedJsonSink.MaxShards, s"derived $n shards")
    assert(partFiles(shardDir).length > 1)
    assertHashLayout(shardDir, n)
    val got = shardedKeys(shardDir)
    assert(got.keySet == (1 to 320).map(i => s"k$i").toSet)
    assert(got("k300") == """{"x":"new-300"}""" &&
      got("k1") == s"""{"x":"${"value-1" * 4}"}""")
  }

  test("a 64-shard state re-merges into the derived count with no stale part") {
    val shardDir = Files.createTempDirectory("shard64").resolve("s").toString
    val base = (1 to 500).map(i => (s"k$i", s"v$i")).toDF("uid", "x")
    withAdvisory("64b")(KeyedJsonSink.mergeSharded(base, "uid", shardDir))
    assert(sidecar(shardDir) == "64" && partFiles(shardDir).length > 32)
    KeyedJsonSink.mergeSharded(Seq(("k1", "V1"), ("k501", "v501"))
      .toDF("uid", "x"), "uid", shardDir)
    assert(sidecar(shardDir) == "1")
    assert(partFiles(shardDir).map(_.getName.take(10)) == Seq("part-00000"))
    val got = shardedKeys(shardDir)
    assert(got.size == 501 && got("k1") == """{"x":"V1"}""")
    assert(spark.read.text(shardDir).count() == 501)
  }

  test("an RDD-backed delta is sized from its observed bytes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // an RDD has no size estimate; the shard count reads the bytes the
    // materialization observed instead
    val rows = spark.sparkContext.parallelize((1 to 20).map(i => Row(s"k$i", "v")))
    val delta = spark.createDataFrame(rows, StructType(Seq(
      StructField("uid", StringType), StructField("x", StringType))))
    val bytes = (1 to 20).map(i => s"k$i".length + """{"x":"v"}""".length + 2).sum
    val m = KeyedJsonSink.materialize(delta, "uid")
    try assert(m.count == 20 && m.bytes == bytes) finally m.release()
    val shardDir = Files.createTempDirectory("shardrdd").resolve("s").toString
    KeyedJsonSink.mergeSharded(delta, "uid", shardDir)
    assert(sidecar(shardDir) == "1")
    val grown = Files.createTempDirectory("shardrdd").resolve("s").toString
    withAdvisory("64b")(KeyedJsonSink.mergeSharded(delta, "uid", grown))
    assert(sidecar(grown) == ((bytes + 63) / 64).toString)
    assertHashLayout(grown, (bytes + 63) / 64)
    assert(shardedKeys(grown).size == 20)
  }

  test("observed bytes equal the part file of a one-shard state") {
    val shardDir = Files.createTempDirectory("shardbytes").resolve("s").toString
    val m = KeyedJsonSink.materialize(
      (1 to 30).map(i => (s"k$i", s"é-$i", i)).toDF("uid", "x", "n"), "uid")
    try {
      assert(KeyedJsonSink.mergeSharded(m, shardDir, None, None) ==
        KeyedJsonSink.Sharded(30, 1))
      assert(partFiles(shardDir).map(_.length).sum == m.bytes)
    } finally m.release()
    // an empty module still reports its observations
    for (empty <- Seq(Seq.empty[(String, String)].toDF("uid", "x"),
        (1 to 5).map(i => (s"k$i", "v")).toDF("uid", "x").filter("uid = ''"))) {
      val e = KeyedJsonSink.materialize(empty, "uid")
      try assert(e.count == 0 && e.bytes == 0) finally e.release()
    }
  }

  test("mergeSharded returns the merged count: removeKeys, legacy file, duplicate uids") {
    val dir = Files.createTempDirectory("shardcount")
    val shardDir = dir.resolve("s").toString
    val legacy = dir.resolve("legacy.json").toString
    Files.write(Paths.get(legacy),
      """{"old1": {"x": "a"}, "k1": {"x": "b"}}""".getBytes(StandardCharsets.UTF_8))
    def merged(delta: org.apache.spark.sql.DataFrame,
               rm: Option[org.apache.spark.sql.DataFrame] = None,
               legacyFile: Option[String] = None): Unit = {
      val got = KeyedJsonSink.mergeSharded(delta, "uid", shardDir,
        removeKeys = rm, legacyFile = legacyFile)
      assert(got.rows == KeyedJsonSink.readSharded(spark, shardDir).count())
    }
    // legacy absorption: old1 joins, k1 is overwritten by the delta
    merged((1 to 10).map(i => (s"k$i", "v")).toDF("uid", "x"),
      legacyFile = Some(legacy))
    assert(shardedKeys(shardDir).size == 11 && !Files.exists(Paths.get(legacy)))
    // removeKeys: the existing k2 is dropped; the delta's k12 lands
    merged(Seq(("k11", "v"), ("k12", "v")).toDF("uid", "x"),
      rm = Some(Seq("k2", "k12").toDF("uid")))
    assert(shardedKeys(shardDir).size == 12)
    // duplicate uids in the delta collapse to one line each
    merged(Seq(("k3", "a"), ("k3", "b"), ("n1", "c"), ("n1", "d")).toDF("uid", "x"))
    assert(shardedKeys(shardDir).size == 13)
  }

  test("the single-file master manifest keeps Spark's UTF-8 uid order") {
    // Java orders U+FFFD after a surrogate pair, UTF-8 bytes before it
    val uids = Seq("\uD83D\uDE00", "\uFFFD", "b", "A", "\u00e9")
    val df = uids.map(u => (u, 1)).toDF("uid", "n")
    // what writeMasterManifest wrote: Spark's orderBy over the uids
    val sparkOrder = df.select("uid").orderBy("uid").collect().map(_.getString(0))
    assert(sparkOrder.toSeq != uids.sorted)
    val want = KeyedJsonSink.pretty("""{"en-us": """ +
      sparkOrder.map(u => "\"" + u + "\": \"\"").mkString("{", ", ", "}") + "}")
    val dir = Files.createTempDirectory("manifest")
    val manifest = dir.resolve("master.json")
    val m = KeyedJsonSink.materialize(df, "uid")
    try assert(KeyedJsonSink.writeSingle(m.rows.collect(), dir.resolve("en-us.json").toString,
      Some(manifest.toString), None) == 5) finally m.release()
    assert(Files.readAllBytes(manifest).sameElements(want.getBytes(StandardCharsets.UTF_8)))
  }

  test("mergeSharded shuffles once, removeKeys included") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (nodes(qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec]))
          writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val shardDir = Files.createTempDirectory("shardonce").resolve("s").toString
    KeyedJsonSink.mergeSharded(
      (1 to 100).map(i => (s"k$i", "v")).toDF("uid", "x"), "uid", shardDir)
    spark.listenerManager.register(listener)
    try {
      KeyedJsonSink.mergeSharded(Seq(("k1", "V"), ("n1", "w")).toDF("uid", "x"),
        "uid", shardDir, removeKeys = Some(Seq("k2", "n1").toDF("uid")))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, s"expected one write, saw ${writes.size}")
    val plan = writes.peek()
    val exchanges = nodes(plan).collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.length == 1, plan.toString)
    // k2 is dropped; n1, named by removeKeys but in the delta, lands
    val got = shardedKeys(shardDir)
    assert(got.keySet == (1 to 100).filter(_ != 2).map(i => s"k$i").toSet + "n1")
    assert(got("k1") == """{"x":"V"}""")
  }

  test("HttpFetcher honors the 60s-contract against a live local server") {
    // zero-egress sandbox: a loopback HttpServer stands in for the
    // remote host; the production fetcher's contract (2xx body, non-2xx
    // Left, timeout actually cutting a stalled read) runs for real
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ok", ex => {
      val b = "payload-bytes".getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.createContext("/missing", ex => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.createContext("/stall", ex => {
      Thread.sleep(1500); ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.createContext("/midbody", ex => {
      // headers + first chunk arrive promptly, then the body stalls:
      // HttpRequest.timeout does NOT fire here (it only bounds
      // time-to-headers), so only a whole-exchange deadline cuts this
      ex.sendResponseHeaders(200, 1024 * 1024)
      ex.getResponseBody.write(Array.fill[Byte](16)(42))
      ex.getResponseBody.flush()
      Thread.sleep(5000)
      ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val f = new HttpFetchSink.HttpFetcher(timeoutMillis = 400)
      val ok = f(s"$base/ok")
      assert(ok.isRight &&
        new String(ok.toOption.get, "UTF-8") == "payload-bytes")
      assert(f(s"$base/missing") == Left("HTTP 404"))
      val t0 = System.nanoTime()
      val stalled = f(s"$base/stall")
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(stalled.isLeft && stalled.swap.toOption.get.startsWith("timeout"),
        s"expected timeout Left, got $stalled")
      assert(elapsedMs < 1400, s"timeout must cut the wait, took $elapsedMs ms")

      // mid-body stall: headers OK, body never finishes — the deadline
      // must cover the FULL body read, not just time-to-headers
      val t1 = System.nanoTime()
      val midbody = f(s"$base/midbody")
      val midMs = (System.nanoTime() - t1) / 1e6
      assert(midbody.isLeft && midbody.swap.toOption.get.startsWith("timeout"),
        s"expected timeout Left for mid-body stall, got $midbody")
      assert(midMs < 4500,
        s"deadline must cut a stalled body read, took $midMs ms")

      // and end-to-end through the distributed sink (serializability +
      // retry/dead-letter integration with a REAL http client)
      val spark = SparkTestSession.spark
      import spark.implicits._
      val dest = Files.createTempDirectory("httpfetch").toString
      val assets = Seq((1L, s"$base/ok"), (2L, s"$base/missing"))
        .toDF("id", "url")
      val results = HttpFetchSink.fetch(assets, "id", "url", dest,
        new HttpFetchSink.HttpFetcher(timeoutMillis = 400)).cache()
      assert(results.filter("ok").count() == 1)
      assert(HttpFetchSink.deadLetter(results).collect()
        .map(_.getLong(0)).toSeq == Seq(2L))
      assert(Files.readString(Paths.get(dest, "1", "ok")) == "payload-bytes")
      results.unpersist()
    } finally server.stop(0)
  }

  test("JsonLogger rotates at maxBytes and caps total files (winston parity)") {
    val dir = Files.createTempDirectory("jlrot").toString
    // ~90-byte lines, 300-byte cap, keep at most 3 files
    val lg = new graft.sinks.JsonLogger(dir, "export",
      maxBytes = 300, maxFiles = 3)
    (1 to 50).foreach(i => lg.log(f"line $i%03d padding-padding-padding"))
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    // live file keeps its name (tailable layout); history capped at .1/.2
    assert(files.toSet == Set("export.log", "export.1.log", "export.2.log"),
      s"unexpected rotation layout: ${files.mkString(", ")}")
    files.foreach { f =>
      val p = Paths.get(dir, f)
      // every retained file respects the cap and holds only complete
      // JSON lines (rotation never splits a line)
      assert(Files.size(p) <= 300, s"$f exceeds maxBytes")
      Files.readAllLines(p).forEach { l =>
        assert(l.startsWith("{\"level\":\"info\"") && l.endsWith("}"), l)
      }
    }
    // rotation keeps the NEWEST lines: the final message must be live
    val live = Files.readString(Paths.get(dir, "export.log"))
    assert(live.contains("line 050"))
  }

  test("topLevelEntries handles escapes, nesting and empty objects") {
    assert(KeyedJsonSink.topLevelEntries("{}").isEmpty)
    assert(KeyedJsonSink.topLevelEntries("""  { } """).isEmpty)
    val got = KeyedJsonSink.topLevelEntries(
      """{"a\"b": {"x": [1, {"y": "},"}]}, "c": "d,e"}""").toMap
    assert(got.keySet == Set("a\"b", "c"))
    assert(KeyedJsonSink.minify(got("a\"b")) == """{"x":[1,{"y":"},"}]}""")
    assert(got("c") == "\"d,e\"")
  }
}
