package graft.pipelines

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.GraftPlanner
import graft.sinks.{HttpFetchSink, JsonLogger, KeyedJsonSink}
import graft.sources.{ContentTypeCatalog, IdListSource, WpCatalog}

/** §3 entry-point parity: run all modules, one module, or one module
  * restricted to an ID list (the reference's retry path, app.js:11-23).
  *
  * The reference's implicit ordering dependency — posts reads
  * _featured.json written by assets (posts.js:147 ← assets.js:57) — is an
  * explicit dataset dependency here (Pipelines.posts builds the
  * featured-image frame itself), so module order no longer matters for
  * correctness; `run` keeps the reference order for output parity.
  *
  * When `contentTypesDir` points at a contenttypes config directory
  * (reference: contenttypes/), module order comes from __priority.json
  * and each module's entry columns are conformed to its contenttype's
  * field order; without it the reference order is hardcoded. Every
  * module writes winston-parity JSON-lines progress/error logs (S11)
  * under `outDir`/logs.
  *
  * `maxDriverManifest` bounds every driver-side keyed-JSON write, the
  * dead-letter manifest (wp_failed) included: an output of at most that
  * many entries goes to the reference-contract single pretty-printed file
  * ([[KeyedJsonSink.writeSingle]]); past it, or once its sharded state
  * exists, it merges distributed ([[KeyedJsonSink.mergeSharded]]) — no
  * driver materialization at lake scale. Remove-on-success (the
  * dead-letter heal) is the sink's `removeKeys` on either path.
  *
  * Each module's pipeline runs once, in [[KeyedJsonSink.materialize]]: the
  * count that picks the sink path, the shard sizing and every file read
  * that one local checkpoint, whose blocks are released (like the fetch
  * results') before the module returns.
  */
final class Orchestrator(spark: SparkSession, cat: WpCatalog, outDir: String,
                         fetcher: HttpFetchSink.Fetcher,
                         contentTypesDir: Option[String] = None,
                         maxDriverManifest: Long = 10000L) {

  // assets' encode_uri resolves through the session's function registry
  GraftPlanner.install(spark)

  private val contentTypes = contentTypesDir
    .map(d => ContentTypeCatalog.load(spark, d)).getOrElse(Map.empty)

  val modules: Seq[String] = contentTypesDir match {
    case Some(d) => "assets" +: ContentTypeCatalog.priority(d)
    case None => Seq("assets", "authors", "categories", "posts")
  }

  private def conform(df: DataFrame, module: String): DataFrame =
    contentTypes.get(module).fold(df)(ContentTypeCatalog.conform(df, _))

  private def entries(module: String): DataFrame = module match {
    case "authors"    => Pipelines.authors(spark, cat)
    case "categories" => Pipelines.categories(spark, cat)
    case "posts"      => Pipelines.posts(spark, cat)
    case "assets"     => Pipelines.assets(spark, cat)
    case other => throw new IllegalArgumentException(
      s"Please provide valid module name ($other not in $modules)") // app.js:21
  }

  /** Restrict a module's entries to an ID file (entry point 3;
    * broadcast semi-join, not string splicing). */
  private def restrict(df: DataFrame, module: String, idFile: Option[String]): DataFrame =
    idFile.fold(df) { f =>
      val ids = IdListSource.read(spark, f)
      val key = if (module == "authors") col("ID").cast("long")
                else if (module == "categories") col("id").cast("long")
                else col("uid").cast("long")
      df.join(broadcast(ids), key === ids("id"), "left_semi")
    }

  /** Sharded state lives on whatever filesystem `outDir` names — check
    * through Hadoop FS, not java.nio (an `hdfs://`/`s3a://` outDir would
    * otherwise always read as absent and break sharded-mode stickiness).
    * Single-file state (writeSingle, logs) is driver-local by contract
    * and stays on java.nio. */
  private def shardedExists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Write one keyed-JSON output, log its `Exported` line (merged count,
    * `fields`, observed bytes, path taken, shard count), return the merged
    * count and, on the single path, the (uid, json) rows it collected
    * (None on the sharded path). The single
    * pretty-printed file (reference contract) is a driver materialization
    * bounded by maxDriverManifest, and its `manifest` lists the MERGED
    * entry keys; past it, or once sharded state exists, entries merge as
    * sharded keyed JSON, which needs no manifest (the state's uid column
    * is one), so a stale single-file `manifest` is deleted. Prior entries
    * named by `removeKeys` are dropped on either path. */
  private def writeKeyed(module: String, entries: DataFrame, single: String,
                         shardedDir: String, manifest: Option[String], logger: JsonLogger,
                         fields: ListMap[String, Any] = ListMap.empty,
                         removeKeys: Option[DataFrame] = None): (Long, Option[Array[Row]]) = {
    val m = KeyedJsonSink.materialize(entries, "uid")
    val (n, collected, shards) = try {
      if (m.count <= maxDriverManifest && !shardedExists(shardedDir)) {
        val rows = m.rows.collect()
        (KeyedJsonSink.writeSingle(rows, single, manifest, removeKeys), Some(rows), 0)
      } else {
        val merged = KeyedJsonSink.mergeSharded(m, shardedDir, removeKeys, Some(single))
        manifest.foreach(file => Files.deleteIfExists(Paths.get(file)))
        (merged.rows, None, merged.shards)
      }
    } finally m.release()
    logger.log(s"Exported $module", ListMap("entries" -> n) ++ fields ++
      ListMap("bytes" -> m.bytes, "path" -> collected.fold("sharded")(_ => "single"),
        "shards" -> shards))
    (n, collected)
  }

  /** Run one module end-to-end: entries → keyed-JSON sink + master
    * manifest (+ asset fetch & dead-letter for assets). Returns entry
    * count. */
  def runModule(module: String, idFile: Option[String] = None): Long = {
    val logger = new JsonLogger(s"$outDir/logs", module)
    val df = restrict(conform(entries(module), module), module, idFile)
    if (module == "assets") exportAssets(df, logger)
    else writeKeyed(module, df, s"$outDir/entries/$module/en-us.json",
      s"$outDir/entries/$module/sharded",
      Some(s"$outDir/master/entries/$module.json"), logger)._1
  }

  private def exportAssets(df: DataFrame, logger: JsonLogger): Long = {
    // localCheckpoint (eager) materializes the fetch results ONCE and
    // truncates lineage: the downstream actions (ok-join, succeeded set,
    // failure log, dead-letter merge) can never re-execute the
    // side-effecting fetcher — a cache() could, if partitions were
    // evicted, re-hitting every failed URL per action and desyncing the
    // success/failure views. The failure count is observed on that job.
    val fetched = Observation()
    val results = HttpFetchSink.fetch(df, "uid", "url", s"$outDir/assets", fetcher)
      .observe(fetched, count_if(!col("ok")).as("failed")).localCheckpoint(true)
    try {
      val failed = fetched.get("failed").asInstanceOf[Long]
      val okIds = results.filter(col("ok")).select(col("id").cast("string").as("uid"))
      // remove-on-success (reference assets.js:135-137): an id that
      // fetched OK this run — fresh or idempotent-skip — drops out of the
      // prior dead-letter state as the new failures merge in, on either
      // sink path.
      val failedDir = s"$outDir/master/wp_failed"
      val (_, dead) = writeKeyed("wp_failed",
        HttpFetchSink.deadLetter(results).withColumn("uid", col("id")),
        s"$failedDir.json", failedDir, None, logger, removeKeys = Some(okIds))
      // per-asset error lines only beside the bounded single file, from
      // the dead-letter rows it collected: at sharded scale a per-row log
      // line IS a driver materialization in disguise, so the log carries
      // the aggregate count.
      if (failed > 0) dead match {
        case Some(rows) => rows.foreach { r =>
          val f = KeyedJsonSink.topLevelEntries(r.getString(1)).toMap
          def str(k: String) = f.get(k).map(KeyedJsonSink.unquote).orNull
          logger.error("Failed to download asset", Map("id" -> r.getString(0).toLong,
            "url" -> str("url"), "error" -> str("error")))
        }
        case None => logger.error("Failed to download assets",
          Map("failed" -> failed, "manifest" -> failedDir))
      }
      // the ok-asset entries file is a driver materialization too: same
      // scale split as every other entries sink.
      writeKeyed("assets", df.join(okIds, "uid", "left_semi"),
        s"$outDir/assets/assets.json", s"$outDir/assets/sharded", None, logger,
        ListMap("failed" -> failed))._1
    } finally KeyedJsonSink.release(results)
  }

  /** Entry point 1: all modules in reference order (app.js:9,39). */
  def run(): Map[String, Long] =
    modules.map(m => m -> runModule(m)).toMap
}
