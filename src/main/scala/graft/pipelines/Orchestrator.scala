package graft.pipelines

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

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
  * `maxDriverManifest` bounds driver-side failure handling: at most that
  * many failed fetches go through the reference-contract collect +
  * single-file wp_failed.json; past it the dead-letter manifest is merged
  * distributed ([[KeyedJsonSink.mergeSharded]]) with remove-on-success
  * inside the merge — no driver materialization at lake scale.
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

  /** Write one module's entries, log its `Exported` line (merged count,
    * `fields`, observed bytes, path taken, shard count), return the merged
    * count. The single pretty-printed file (reference contract) is a driver
    * materialization bounded by maxDriverManifest; past it, or once sharded
    * state exists, entries merge as sharded keyed JSON, and the sharded
    * `manifest` follows the MERGED entry state, so uids absorbed from an
    * earlier small-mode file are never lost. */
  private def export(module: String, entries: DataFrame, single: String,
                     shardedDir: String, manifest: Option[String], logger: JsonLogger,
                     fields: ListMap[String, Any] = ListMap.empty): Long = {
    val m = KeyedJsonSink.materialize(entries, "uid")
    val (n, path, shards) = try {
      if (m.count <= maxDriverManifest && !shardedExists(shardedDir))
        (KeyedJsonSink.writeSingle(m, single, manifest), "single", 0)
      else {
        val merged = KeyedJsonSink.mergeSharded(m, shardedDir, 0, None, Some(single))
        manifest.foreach { file =>
          KeyedJsonSink.mergeSharded(KeyedJsonSink.readSharded(spark, shardedDir)
            .select(col("uid"), lit("en-us").as("locale")),
            "uid", file.stripSuffix(".json") + "-sharded")
          Files.deleteIfExists(Paths.get(file))
        }
        (merged.rows, "sharded", merged.shards)
      }
    } finally m.release()
    logger.log(s"Exported $module", ListMap("entries" -> n) ++ fields ++
      ListMap("bytes" -> m.bytes, "path" -> path, "shards" -> shards))
    n
  }

  /** Run one module end-to-end: entries → keyed-JSON sink + master
    * manifest (+ asset fetch & dead-letter for assets). Returns entry
    * count. */
  def runModule(module: String, idFile: Option[String] = None): Long = {
    val logger = new JsonLogger(s"$outDir/logs", module)
    val df = restrict(conform(entries(module), module), module, idFile)
    if (module == "assets") exportAssets(df, logger)
    else export(module, df, s"$outDir/entries/$module/en-us.json",
      s"$outDir/entries/$module/sharded",
      Some(s"$outDir/master/entries/$module.json"), logger)
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
      val shardedDir = s"$outDir/master/wp_failed"
      // remove-on-success (reference assets.js:135-137): an id that
      // fetched OK this run — fresh or idempotent-skip — must drop out of
      // any stale wp_failed state before the new failures merge in. Once
      // the manifest has gone sharded it stays sharded (healed ids must
      // anti-join out of the shard state even on a run with few fresh
      // failures).
      if (failed <= maxDriverManifest && !shardedExists(shardedDir)) {
        // reference-contract path: the single pretty-printed
        // wp_failed.json and a per-asset error log line. Only ids ALREADY
        // IN the prior manifest need the remove-on-success set —
        // collecting every succeeded id would materialize the whole
        // (possibly huge) corpus on the driver to heal a manifest bounded
        // at maxDriverManifest keys.
        val failedFile = s"$outDir/master/wp_failed.json"
        val priorFailed: Set[String] =
          if (Files.exists(Paths.get(failedFile)))
            KeyedJsonSink.topLevelEntries(new String(
              Files.readAllBytes(Paths.get(failedFile)), "UTF-8")).map(_._1).toSet
          else Set.empty
        val healed: Set[String] =
          if (priorFailed.isEmpty) Set.empty
          else results.filter(col("ok") &&
              col("id").cast("string").isin(priorFailed.toSeq: _*))
            .select(col("id").cast("string")).collect().map(_.getString(0)).toSet
        HttpFetchSink.deadLetter(results).collect().foreach(r =>
          logger.error("Failed to download asset", Map("id" -> r.getLong(0),
            "url" -> r.getString(1), "error" -> r.getString(2))))
        KeyedJsonSink.writeSingle(
          HttpFetchSink.deadLetter(results).withColumn("uid", col("id")),
          "uid", failedFile, removeKeys = healed)
      } else {
        // lake path: NOTHING materializes on the driver. The failure
        // manifest lives as sharded keyed JSON; remove-on-success drops
        // the succeeded ids inside the same distributed merge. The error
        // log carries the aggregate count — a per-row log line at this
        // scale IS a driver materialization in disguise.
        KeyedJsonSink.mergeSharded(
          HttpFetchSink.deadLetter(results).withColumn("uid", col("id")),
          "uid", shardedDir, removeKeys = Some(okIds),
          legacyFile = Some(s"$outDir/master/wp_failed.json"))
        if (failed > 0)
          logger.error("Failed to download assets",
            Map("failed" -> failed, "manifest" -> shardedDir))
      }
      // the ok-asset entries file is a driver materialization too: same
      // scale split as every other entries sink.
      export("assets", df.join(okIds, "uid", "left_semi"),
        s"$outDir/assets/assets.json", s"$outDir/assets/sharded", None, logger,
        ListMap("failed" -> failed))
    } finally KeyedJsonSink.release(results)
  }

  /** Entry point 1: all modules in reference order (app.js:9,39). */
  def run(): Map[String, Long] =
    modules.map(m => m -> runModule(m)).toMap
}
