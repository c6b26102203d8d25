package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.TaskContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipelines.Orchestrator
import graft.sources.{JdbcCatalog, ParquetCatalog, WpCatalog}

/** Wall clock in epoch milliseconds with nanoTime resolution, so harness
  * spans and Spark listener timestamps share one axis. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** In-memory span store. Spans are written out once, when the run ends. */
object Recorder {
  @volatile var tracing = false
  @volatile var trace = 0L
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()

  def nextId(): Long = ids.incrementAndGet()

  def span(kind: String, name: String, start: Double, end: Double,
           parent: Long = 0L, id: Long = nextId(),
           attrs: Seq[(String, Any)] = Nil): Long = {
    spans.add((Seq("id" -> id, "parent" -> parent, "trace" -> trace,
      "kind" -> kind, "name" -> name, "start" -> start, "end" -> end) ++ attrs).toMap)
    id
  }
}

/** Counters of the stub fetcher; the fetcher runs inside tasks of the same
  * JVM (local mode), so plain statics are shared with the driver. */
object FetchStats {
  val calls = new AtomicLong
  val failed = new AtomicLong
  val busyNs = new AtomicLong
  val ids = new ConcurrentLinkedQueue[java.lang.Long]()
  def reset(): Unit = { calls.set(0); failed.set(0); busyNs.set(0); ids.clear() }
}

/** Stub for `HttpFetchSink.Fetcher`: fails the seeded ids on every attempt
  * and returns a deterministic payload otherwise. The asset id is the last
  * run of digits before the file extension in the URL. */
final class StubFetcher(failing: Set[Long])
    extends (String => Either[String, Array[Byte]]) with Serializable {
  def apply(url: String): Either[String, Array[Byte]] = {
    val t0 = System.nanoTime()
    val start = Clock.now()
    val id = StubFetcher.idOf(url)
    val out =
      if (failing(id)) Left(s"HTTP 503 for asset $id")
      else Right(Array.fill[Byte](256 * (1 + (id % 7).toInt))((id % 251).toByte))
    FetchStats.calls.incrementAndGet()
    if (out.isLeft) FetchStats.failed.incrementAndGet()
    FetchStats.ids.add(id)
    FetchStats.busyNs.addAndGet(System.nanoTime() - t0)
    if (Recorder.tracing) {
      val tc = TaskContext.get()
      Recorder.span("fetch", "fetch", start, Clock.now(),
        attrs = Seq("stage" -> (if (tc == null) -1 else tc.stageId()),
          "ok" -> out.isRight))
    }
    out
  }
}

object StubFetcher {
  private val Digits = """(\d+)\.[A-Za-z0-9]+$""".r.unanchored
  def idOf(url: String): Long = url match {
    case Digits(d) => d.toLong
    case _ => -1L
  }
}

/** Delegating `WpCatalog` that records one span per `table()` call. */
final class TracingCatalog(inner: WpCatalog) extends WpCatalog {
  def table(spark: SparkSession, name: String): DataFrame =
    if (!Recorder.tracing) inner.table(spark, name)
    else {
      val t0 = Clock.now()
      val df = inner.table(spark, name)
      Recorder.span("table", name, t0, Clock.now())
      df
    }
}

/** Spark job, stage, task and SQL-execution events, plus Catalyst phase
  * times, as spans. Registered only in traced runs; records only while
  * `Recorder.tracing` is on. */
final class TraceListener extends SparkListener with QueryExecutionListener {
  private final class JobAgg(val id: Long, val start: Double, val exec: Long,
                             val callSite: String, val stageName: String,
                             val stageIds: Seq[Int]) {
    var tasks, failures, stages = 0L
    var runMs, cpuNs, waitMs, shWrite, shRead, inBytes, inRecords, spill = 0L
  }
  private val jobs = mutable.Map.empty[Int, JobAgg]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val execStart = mutable.Map.empty[Long, (Double, String, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Recorder.tracing) {
      val result = e.stageInfos.maxBy(_.stageId)
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new JobAgg(Recorder.nextId(), e.time.toDouble, exec,
        result.details, result.name, e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); agg <- jobs.get(j)) {
      agg.tasks += 1
      if (e.reason != org.apache.spark.Success) agg.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        agg.runMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.shWrite += m.shuffleWriteMetrics.bytesWritten
        agg.shRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        agg.inBytes += m.inputMetrics.bytesRead
        agg.inRecords += m.inputMetrics.recordsRead
        agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageSubmit.get(e.stageId).foreach(s =>
        agg.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { a =>
      Recorder.span("job", a.stageName, a.start, e.time.toDouble, id = a.id,
        attrs = Seq("job" -> e.jobId, "exec" -> a.exec, "callsite" -> a.callSite,
          "stage_ids" -> a.stageIds,
          "ok" -> (e.jobResult == JobSucceeded), "stages" -> a.stages, "tasks" -> a.tasks,
          "task_failures" -> a.failures, "task_ms" -> a.runMs,
          "cpu_ns" -> a.cpuNs, "wait_ms" -> a.waitMs,
          "shuffle_write" -> a.shWrite, "shuffle_read" -> a.shRead,
          "input_bytes" -> a.inBytes, "input_records" -> a.inRecords,
          "spill" -> a.spill))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart if Recorder.tracing =>
        execStart(s.executionId) = (s.time.toDouble, s.description, s.details)
      case s: SparkListenerSQLExecutionEnd =>
        execStart.remove(s.executionId).foreach { case (t0, desc, details) =>
          Recorder.span("exec", desc, t0, s.time.toDouble,
            attrs = Seq("exec" -> s.executionId, "callsite" -> details))
        }
      case _ =>
    }
  }

  private def phases(funcName: String, qe: QueryExecution): Unit =
    if (Recorder.tracing) qe.tracker.phases.foreach { case (phase, p) =>
      Recorder.span("catalyst", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble,
        attrs = Seq("action" -> funcName))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(funcName, qe)
}

/** One benchmark process: build the session with `ExportMain`'s settings,
  * then either prepare state for a workload or measure it.
  *
  * Usage: perfbench.Harness key=value ... (see `Conf`). Writes one JSON
  * result file; prints nothing on stdout.
  */
object Harness {
  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing $k"))
    def get(k: String): Option[String] = kv.get(k)
    def int(k: String): Int = apply(k).toInt
  }

  /** ExportMain's settings (32 shuffle partitions, UTC) on the master the
    * benchmark names. */
  def session(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(c("master"))
      .appName("graft-export")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def catalog(c: Conf, dataKey: String): WpCatalog = c.get("jdbc") match {
    case Some(url) => new JdbcCatalog(url, new java.util.Properties())
    case None => new ParquetCatalog(c(dataKey))
  }

  def failingIds(c: Conf, key: String): Set[Long] =
    c.get(key).filter(_.nonEmpty).map { f =>
      new String(Files.readAllBytes(Paths.get(f)), "UTF-8").split("\\s+")
        .filter(_.nonEmpty).map(_.toLong).toSet
    }.getOrElse(Set.empty)

  /** Fixed CPU probe (a static range sum on one thread): a slow reading
    * marks a host stall, not a program change. */
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var i = 0L
    while (i < 150000000L) { acc += i ^ (acc >>> 3); i += 1 }
    if (acc == 42) println(acc)
    (System.nanoTime() - t0) / 1e6
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  /** Copy a prior export's state; asset files are hard-linked (the sink
    * never rewrites one in place), everything else is copied. */
  def restore(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else if (from.relativize(p).startsWith("assets") &&
               !from.relativize(p).startsWith(Paths.get("assets", "sharded")) &&
               !p.getFileName.toString.endsWith(".json"))
        Files.createLink(dst, p)
      else Files.copy(p, dst)
    } finally walk.close()
  }

  def main(args: Array[String]): Unit = {
    val c = Conf(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val result = try c("mode") match {
      case "prepare" => prepare(c)
      case "measure" => measure(c)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        Map("fatal" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(c("result")).toFile, result)
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }

  /** Untimed state for a workload: load the Derby database. */
  def prepare(c: Conf): Map[String, Any] = {
    val spark = session(c)
    Derby.load(spark, c("data"), c("derby_load"))
    spark.stop()
    Map("ok" -> true)
  }

  def measure(c: Conf): Map[String, Any] = {
    val probeBefore = cpuProbeMs()
    val traceMode = c("trace") == "1"
    val fetcher = new StubFetcher(failingIds(c, "failing"))
    val setupReps = c.int("setup_reps")
    val maxManifest = c("max_manifest").toLong
    val outRoot = Paths.get(c("out"))
    // A re-run workload's cold unit is the first export of the site, into
    // `base`; every later unit restores `base` and re-exports the revision.
    val base = c.get("base").map(Paths.get(_))
    val firstFetcher = c.get("first_failing")
      .map(_ => new StubFetcher(failingIds(c, "first_failing"))).getOrElse(fetcher)

    // set-up: session creation plus the program's own construction
    var spark: SparkSession = null
    var cat: WpCatalog = null
    val setups = (1 to setupReps).map { r =>
      val t0 = System.nanoTime()
      spark = session(c)
      cat = new TracingCatalog(catalog(c, "data"))
      new Orchestrator(spark, cat, outRoot.resolve("setup").toString, fetcher,
        maxDriverManifest = maxManifest)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < setupReps) spark.stop()
      s
    }
    val firstCat = c.get("first_data")
      .map(d => new TracingCatalog(new ParquetCatalog(d))).getOrElse(cat)
    val listener = new TraceListener
    if (traceMode) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }

    val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
    var maxCached = 0.0
    var deadline = Long.MaxValue
    val minIters = c.int("min_iters")
    val maxIters = c.int("max_iters")
    var k = 0
    // iteration 0 is the cold unit; the timed loop follows it
    while (k == 0 || ((k <= minIters || System.nanoTime() < deadline) && k <= maxIters)) {
      if (k == 1) deadline = System.nanoTime() + (c("seconds").toDouble * 1e9).toLong
      val out = if (k == 0) base.getOrElse(outRoot.resolve("iter0"))
                else outRoot.resolve(s"iter$k")
      if (k > 0) base.foreach(b => restore(b, out))
      val traced = traceMode && (k % 2 == 0)
      FetchStats.reset()
      val gc0 = gcMs()
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Recorder.trace = k
      Recorder.tracing = traced
      val orch = new Orchestrator(spark, if (k == 0) firstCat else cat, out.toString,
        if (k == 0) firstFetcher else fetcher, maxDriverManifest = maxManifest)
      val iterId = Recorder.nextId()
      val t0 = Clock.now()
      val modules = mutable.Map.empty[String, Any]
      var error: String = null
      val it = orch.modules.iterator
      while (error == null && it.hasNext) {
        val m = it.next()
        val s = Clock.now()
        try {
          val n = orch.runModule(m)
          val e = Clock.now()
          Recorder.span("module", m, s, e, parent = iterId)
          maxCached = math.max(maxCached, cachedMb(spark))
          modules += m -> Map("s" -> (e - s) / 1e3, "n" -> n)
        } catch {
          case NonFatal(ex) =>
            error = s"$m: ${ex.getClass.getSimpleName}: ${ex.getMessage}"
        }
      }
      val t1 = Clock.now()
      Recorder.span("iteration", s"iter$k", t0, t1, id = iterId)
      if (traced) org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      Recorder.tracing = false
      val cg1 = CodegenMetrics.METRIC_COMPILATION_TIME
      iters += Map("iter" -> k, "cold" -> (k == 0), "traced" -> traced,
        "error" -> Option(error), "out" -> out.toString, "wall_s" -> (t1 - t0) / 1e3,
        "start" -> t0, "end" -> t1, "modules" -> modules.toMap,
        "gc_s" -> (gcMs() - gc0) / 1e3,
        "codegen_compiles" -> (cg1.getCount - cg0),
        "codegen_mean_ms" -> cg1.getSnapshot.getMean,
        "fetch_calls" -> FetchStats.calls.get, "fetch_failed" -> FetchStats.failed.get,
        "fetch_busy_s" -> FetchStats.busyNs.get / 1e9,
        "fetch_ids" -> FetchStats.ids.asScala.map(_.longValue).toSeq.distinct.sorted)
      k += 1
    }
    spark.catalog.clearCache()
    // full GCs until Spark's cleaner has released what the last one freed
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val probeAfter = cpuProbeMs()
    // untimed reference export of the same data through the parquet source
    for (refData <- c.get("ref_data"); refOut <- c.get("ref_out"))
      new Orchestrator(spark, new ParquetCatalog(refData), refOut, fetcher,
        maxDriverManifest = maxManifest).run()
    Map("setup_s" -> setups, "heap_mb" -> heapMb, "cache_resident_mb" -> maxCached,
      "probe_before_ms" -> probeBefore, "probe_after_ms" -> probeAfter,
      "iterations" -> iters.toSeq, "spans" -> Recorder.spans.asScala.toSeq)
  }
}

/** Embedded Derby loader: WordPress's tables with their primary keys and
  * indexes, filled from the generated parquet. */
object Derby {
  private val ddl = Seq(
    """CREATE TABLE wp_users (ID BIGINT NOT NULL PRIMARY KEY,
       user_login VARCHAR(60), user_email VARCHAR(100))""",
    """CREATE TABLE wp_usermeta (umeta_id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
       user_id BIGINT, meta_key VARCHAR(255), meta_value VARCHAR(2000))""",
    "CREATE INDEX wp_usermeta_user_id ON wp_usermeta (user_id)",
    "CREATE INDEX wp_usermeta_meta_key ON wp_usermeta (meta_key)",
    """CREATE TABLE wp_terms (term_id BIGINT NOT NULL PRIMARY KEY,
       name VARCHAR(200), slug VARCHAR(200))""",
    "CREATE INDEX wp_terms_slug ON wp_terms (slug)",
    """CREATE TABLE wp_term_taxonomy (term_taxonomy_id BIGINT NOT NULL PRIMARY KEY,
       term_id BIGINT, taxonomy VARCHAR(32), description VARCHAR(2000), parent BIGINT)""",
    "CREATE UNIQUE INDEX wp_tt_term_id_taxonomy ON wp_term_taxonomy (term_id, taxonomy)",
    """CREATE TABLE wp_term_relationships (object_id BIGINT NOT NULL,
       term_taxonomy_id BIGINT NOT NULL, PRIMARY KEY (object_id, term_taxonomy_id))""",
    "CREATE INDEX wp_tr_term_taxonomy_id ON wp_term_relationships (term_taxonomy_id)",
    """CREATE TABLE wp_posts (ID BIGINT NOT NULL PRIMARY KEY, post_author BIGINT,
       post_title VARCHAR(2000), post_name VARCHAR(200), post_status VARCHAR(20),
       post_type VARCHAR(20), post_content VARCHAR(32672),
       post_date TIMESTAMP, post_date_gmt TIMESTAMP, guid VARCHAR(255))""",
    "CREATE INDEX wp_posts_type_status_date ON wp_posts (post_type, post_status, post_date, ID)",
    "CREATE INDEX wp_posts_post_author ON wp_posts (post_author)",
    """CREATE TABLE wp_postmeta (meta_id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
       post_id BIGINT, meta_key VARCHAR(255), meta_value VARCHAR(2000))""",
    "CREATE INDEX wp_postmeta_post_id ON wp_postmeta (post_id)",
    "CREATE INDEX wp_postmeta_meta_key ON wp_postmeta (meta_key)",
    """CREATE TABLE wp_options (option_id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
       option_name VARCHAR(191), option_value VARCHAR(2000),
       autoload VARCHAR(20) DEFAULT 'yes')""",
    "CREATE UNIQUE INDEX wp_options_option_name ON wp_options (option_name)")

  def load(spark: SparkSession, dataDir: String, url: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url + ";create=true")
    try ddl.foreach(s => conn.createStatement().execute(s)) finally conn.close()
    Seq("users", "usermeta", "terms", "term_taxonomy", "term_relationships",
        "posts", "postmeta", "options").foreach { t =>
      spark.read.parquet(s"$dataDir/wp_$t.parquet").coalesce(1)
        .write.mode(SaveMode.Append).jdbc(url, s"wp_$t", new java.util.Properties())
    }
    try java.sql.DriverManager.getConnection(url + ";shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby signals shutdown by throwing
  }
}
