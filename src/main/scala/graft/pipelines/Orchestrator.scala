package graft.pipelines

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** Run one module end-to-end: entries → keyed-JSON sink + master
    * manifest (+ asset fetch & dead-letter for assets). Returns entry
    * count. */
  def runModule(module: String, idFile: Option[String] = None): Long = {
    val logger = new JsonLogger(s"$outDir/logs", module)
    val df = restrict(conform(entries(module), module), module, idFile).cache()
    try {
      module match {
        case "assets" =>
          // localCheckpoint (eager) materializes the fetch results ONCE
          // and truncates lineage: the downstream actions (ok-join,
          // succeeded set, failure log, dead-letter merge) can never
          // re-execute the side-effecting fetcher — a cache() could, if
          // partitions were evicted, re-hitting every failed URL per
          // action and desyncing the success/failure views.
          val results = HttpFetchSink.fetch(df, "uid", "url",
            s"$outDir/assets", fetcher).localCheckpoint(true)
          try {
            val okAssets = df.join(
              results.filter(col("ok")).select(col("id").cast("string").as("uid")),
              "uid", "left_semi")
            val okCount = results.filter(col("ok")).count()
            val failed = results.filter(!col("ok")).count()
            // the ok-asset entries file is a driver materialization too:
            // same scale split as every other entries sink.
            val assetsShardedDir = s"$outDir/assets/sharded"
            val n =
              if (okCount <= maxDriverManifest && !shardedExists(assetsShardedDir))
                KeyedJsonSink.writeSingle(okAssets, "uid",
                  s"$outDir/assets/assets.json")
              else {
                KeyedJsonSink.mergeSharded(okAssets, "uid", assetsShardedDir,
                  legacyFile = Some(s"$outDir/assets/assets.json"))
                KeyedJsonSink.readSharded(spark, assetsShardedDir).count()
              }
            val shardedDir = s"$outDir/master/wp_failed"
            val shardedState = shardedExists(shardedDir)
            // remove-on-success (reference assets.js:135-137): an id that
            // fetched OK this run — fresh or idempotent-skip — must drop
            // out of any stale wp_failed state before the new failures
            // merge in. Once the manifest has gone sharded it stays
            // sharded (healed ids must anti-join out of the shard state
            // even on a run with few fresh failures).
            if (failed <= maxDriverManifest && !shardedState) {
              // reference-contract path: the single pretty-printed
              // wp_failed.json and a per-asset error log line. Only ids
              // ALREADY IN the prior manifest need the remove-on-success
              // set — collecting every succeeded id would materialize
              // the whole (possibly huge) corpus on the driver to heal a
              // manifest bounded at maxDriverManifest keys.
              val failedFile = s"$outDir/master/wp_failed.json"
              val priorFailed: Set[String] =
                if (Files.exists(Paths.get(failedFile)))
                  KeyedJsonSink.topLevelEntries(new String(
                    Files.readAllBytes(Paths.get(failedFile)), "UTF-8"))
                    .map(_._1).toSet
                else Set.empty
              val healed: Set[String] =
                if (priorFailed.isEmpty) Set.empty
                else results.filter(col("ok") &&
                    col("id").cast("string").isin(priorFailed.toSeq: _*))
                  .select(col("id").cast("string"))
                  .collect().map(_.getString(0)).toSet
              val failures = HttpFetchSink.deadLetter(results)
                .select(col("id"), col("url"), col("error")).collect()
              failures.foreach(r => logger.error("Failed to download asset",
                Map("id" -> r.getLong(0), "url" -> r.getString(1),
                  "error" -> r.getString(2))))
              KeyedJsonSink.writeSingle(
                HttpFetchSink.deadLetter(results).withColumn("uid", col("id")),
                "uid", failedFile, removeKeys = healed)
            } else {
              // lake path: NOTHING materializes on the driver. The failure
              // manifest lives as sharded keyed JSON; remove-on-success
              // drops the succeeded ids inside the same distributed merge.
              // The error log carries the aggregate count — a per-row log
              // line at this scale IS a driver materialization in disguise.
              val succeededIds = results.filter(col("ok"))
                .select(col("id").cast("string").as("uid"))
              KeyedJsonSink.mergeSharded(
                HttpFetchSink.deadLetter(results).withColumn("uid", col("id")),
                "uid", shardedDir,
                removeKeys = Some(succeededIds),
                legacyFile = Some(s"$outDir/master/wp_failed.json"))
              if (failed > 0)
                logger.error("Failed to download assets",
                  Map("failed" -> failed, "manifest" -> shardedDir))
            }
            logger.log(s"Exported assets", Map("entries" -> n,
              "failed" -> failed))
            n
          } finally { results.unpersist(); () }
        case m =>
          // same scale split as the failure manifest: the single
          // pretty-printed import file (reference contract) is a driver
          // materialization, bounded by maxDriverManifest; past it (or
          // once sharded state exists) entries and the locale manifest
          // merge distributed as sharded keyed JSON.
          val entryCount = df.count()
          val shardedDir = s"$outDir/entries/$m/sharded"
          val n =
            if (entryCount <= maxDriverManifest && !shardedExists(shardedDir)) {
              val merged = KeyedJsonSink.writeSingle(df, "uid",
                s"$outDir/entries/$m/en-us.json")
              KeyedJsonSink.writeMasterManifest(df, "uid",
                s"$outDir/master/entries/$m.json")
              merged
            } else {
              KeyedJsonSink.mergeSharded(df, "uid", shardedDir,
                legacyFile = Some(s"$outDir/entries/$m/en-us.json"))
              // the sharded master manifest derives from the MERGED
              // entry state, so uids written by earlier small-mode runs
              // (absorbed via legacyFile) are never lost across the
              // mode transition; the superseded single master file is
              // removed. (Single-mode master stays a current-run
              // snapshot — reference parity; sharded master tracks the
              // merged entry set, which is what a lake-scale consumer
              // needs.)
              val mergedEntries = KeyedJsonSink.readSharded(spark, shardedDir)
              KeyedJsonSink.mergeSharded(
                mergedEntries.select(col("uid"), lit("en-us").as("locale")),
                "uid", s"$outDir/master/entries/$m-sharded")
              Files.deleteIfExists(Paths.get(s"$outDir/master/entries/$m.json"))
              // parity with writeSingle's return contract: the MERGED
              // entry count (one shard line per key after compaction)
              KeyedJsonSink.readSharded(spark, shardedDir).count()
            }
          logger.log(s"Exported $m", Map("entries" -> n))
          n
      }
    } finally { df.unpersist(); () }
  }

  /** Entry point 1: all modules in reference order (app.js:9,39). */
  def run(): Map[String, Long] =
    modules.map(m => m -> runModule(m)).toMap
}
