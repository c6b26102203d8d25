package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String

/** S7/S8 — keyed-JSON entry sink: a single JSON object keyed by uid, not
  * an array (reference: authordata[login]={...} then JSON.stringify(x,
  * null, 4) — libs/export/authors.js:51-56). Merge semantics are
  * read-modify-write with last-write-wins per key (SURVEY.md §1.4).
  *
  * Two modes:
  *  - [[writeSingle]]: the reference-compatible single pretty-printed
  *    file. Bounded driver-side materialization — correct for entry
  *    counts that fit one import file (the reference's contract), wrong
  *    for 100 TB. Entries NOT in the delta round-trip as raw JSON text
  *    (no schema inference, no null-field dropping, no cross-entry type
  *    coercion), and the file is replaced with an atomic temp-file move
  *    so a crash mid-write cannot corrupt existing state.
  *  - [[writeSharded]]: the scale path — entries stay distributed, hashed
  *    on uid into shard files of JSON-lines (uid TAB json), mergeable by
  *    re-sharding on uid. Compaction = groupBy shard with last-wins. The
  *    shard count follows the state's size ([[shardCount]]: one shard per
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, 1 to
  *    [[MaxShards]]), because every committed file has a fixed cost that
  *    a small state should not pay 64 times.
  *
  * A module's output runs once, in [[materialize]]: both modes, the master
  * manifest and the shard sizing read that one observed checkpoint.
  */
object KeyedJsonSink {

  /** Render rows to (uid, json) pairs; all non-uid columns become the
    * entry object. */
  private def keyed(df: DataFrame, uidCol: String): DataFrame = {
    val valueCols = df.columns.filterNot(_ == uidCol).map(col)
    df.select(col(uidCol).cast("string").as("uid"),
      to_json(struct(valueCols.toIndexedSeq: _*)).as("json"))
  }

  /** A module's (uid, json) rows in an eager local checkpoint, with the
    * row count and JSON-lines bytes (uid TAB json NEWLINE) observed by the
    * one job that built it ([[materialize]]). */
  final case class Materialized(rows: DataFrame, count: Long, bytes: Long) {
    def release(): Unit = KeyedJsonSink.release(rows)
  }

  /** Render `entries` with [[keyed]] and run the plan once. Unlike
    * `cache()`, the checkpoint's final stage is coalesced by AQE (one
    * partition for a small module), and its cut lineage means no later
    * action re-runs the pipeline. */
  def materialize(entries: DataFrame, uidCol: String): Materialized = {
    val seen = Observation()
    val rows = keyed(entries, uidCol).observe(seen, count(lit(1)).as("rows"),
      coalesce(sum(octet_length(col("uid")) + octet_length(col("json")) + 2),
        lit(0L)).as("bytes")).localCheckpoint(eager = true)
    Materialized(rows, seen.get("rows").asInstanceOf[Long], seen.get("bytes").asInstanceOf[Long])
  }

  /** Drop a local checkpoint's blocks: `Dataset.unpersist` only drops
    * cache-manager entries, leaving them resident until GC. */
  def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(org.apache.spark.graft.CheckpointRelease.release)

  /** Pretty-print a JSON object string with 4-space indent, matching the
    * reference's JSON.stringify(x, null, 4). Minimal, deterministic. */
  private[graft] def pretty(json: String): String = {
    val sb = new StringBuilder
    var depth = 0
    var inStr = false
    var esc = false
    json.foreach { c =>
      if (esc) { sb.append(c); esc = false }
      else c match {
        case '\\' if inStr => sb.append(c); esc = true
        case '"' => sb.append(c); inStr = !inStr
        case '{' | '[' if !inStr =>
          depth += 1; sb.append(c).append('\n').append("    " * depth)
        case '}' | ']' if !inStr =>
          depth -= 1; sb.append('\n').append("    " * depth).append(c)
        case ',' if !inStr => sb.append(c).append('\n').append("    " * depth)
        case ':' if !inStr => sb.append(": ")
        case _ => sb.append(c)
      }
    }
    sb.toString
  }

  /** Strip inter-token whitespace (pretty -> compact) without touching
    * string contents — the inverse of [[pretty]] for re-merging. */
  private[graft] def minify(json: String): String = {
    val sb = new StringBuilder(json.length)
    var inStr = false
    var esc = false
    json.foreach { c =>
      if (inStr) {
        sb.append(c)
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else if (c == '"') { sb.append(c); inStr = true }
      else if (!c.isWhitespace) sb.append(c)
    }
    sb.toString
  }

  private def unescapeKey(raw: String): String = {
    // raw includes the surrounding quotes
    val s = raw.substring(1, raw.length - 1)
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '\\' && i + 1 < s.length) {
        s(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'u' if i + 6 <= s.length &&
              s.substring(i + 2, i + 6).forall(h =>
                Character.digit(h, 16) >= 0) =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Top-level (key, rawValueText) pairs of a JSON object — a structural
    * scan, not a schema-inferring parse, so each entry's exact text
    * (null fields, number formatting, field order) survives the
    * round-trip untouched. */
  private[graft] def topLevelEntries(json: String): Seq[(String, String)] = {
    val out = ArrayBuffer.empty[(String, String)]
    val s = json
    var i = 0
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    skipWs()
    if (i >= s.length || s(i) != '{') return out.toSeq
    i += 1
    skipWs()
    if (i < s.length && s(i) == '}') return out.toSeq
    while (i < s.length) {
      skipWs()
      if (i >= s.length || s(i) != '"') return out.toSeq
      val kStart = i
      i += 1
      var esc = false
      while (i < s.length && (esc || s(i) != '"')) {
        esc = !esc && s(i) == '\\'
        i += 1
      }
      i += 1 // closing quote
      val key = unescapeKey(s.substring(kStart, i))
      skipWs()
      if (i >= s.length || s(i) != ':') return out.toSeq
      i += 1
      skipWs()
      val vStart = i
      var depth = 0
      var inStr = false
      esc = false
      var done = false
      while (!done && i < s.length) {
        val c = s(i)
        if (inStr) {
          if (esc) esc = false
          else if (c == '\\') esc = true
          else if (c == '"') inStr = false
        } else c match {
          case '"' => inStr = true
          case '{' | '[' => depth += 1
          case '}' | ']' if depth > 0 => depth -= 1
          case '}' => done = true // outer object closes; don't consume
          case ',' if depth == 0 => done = true
          case _ =>
        }
        if (!done) i += 1
      }
      out += key -> s.substring(vStart, i).trim
      skipWs()
      if (i >= s.length || s(i) != ',') return out.toSeq
      i += 1 // consume ',' and continue with the next key
    }
    out.toSeq
  }

  private def escapeKey(k: String): String =
    "\"" + k.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Temp-file + atomic rename so readers never observe a half-written
    * state file and a crash can't destroy the previous one. */
  private def atomicWrite(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = Files.createTempFile(path.getParent,
      "." + path.getFileName.toString, ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, path,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: AtomicMoveNotSupportedException =>
        Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Merge `entries` into the keyed-JSON file at `path` (new rows win;
    * `removeKeys` are dropped — the dead-letter remove-on-success path,
    * reference assets.js:135-137), write pretty-printed atomically,
    * return the merged row count. Driver-side by design — see class
    * doc. Entries absent from the delta keep their raw JSON text. */
  def writeSingle(entries: DataFrame, uidCol: String, path: String,
                  removeKeys: Set[String] = Set.empty): Long =
    writeRows(keyed(entries, uidCol).collect(), path, removeKeys)

  /** [[writeSingle]] of materialized rows. The same collect writes the
    * master manifest (S8) {"en-us": {uid: ""}} (reference:
    * authors.js:34,52) in Spark's string order (UTF-8 bytes), not Java's. */
  def writeSingle(entries: Materialized, path: String,
                  manifest: Option[String]): Long = {
    val rows = entries.rows.collect()
    val n = writeRows(rows, path, Set.empty)
    manifest.foreach(p => atomicWrite(Paths.get(p), pretty(rows.map(_.getString(0))
      .sortBy(UTF8String.fromString).map(escapeKey(_) + ": \"\"")
      .mkString("{\"en-us\": {", ", ", "}}"))))
    n
  }

  private def writeRows(rows: Array[Row], path: String, removeKeys: Set[String]): Long = {
    val fresh: Seq[(String, String)] =
      rows.map(r => r.getString(0) -> r.getString(1))
        .toMap.toSeq // dedup within the delta: last collected row wins
    val freshKeys = fresh.map(_._1).toSet
    val p = Paths.get(path)
    val existing: Seq[(String, String)] =
      if (Files.exists(p) && Files.size(p) > 2)
        topLevelEntries(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
          .map { case (k, v) => k -> minify(v) }
      else Seq.empty
    // last-wins: fresh replaces existing per key; removeKeys dropped
    val merged = (existing.filterNot { case (k, _) =>
      freshKeys(k) || removeKeys(k)
    } ++ fresh.filterNot { case (k, _) => removeKeys(k) })
      .sortBy(_._1)
    val body = merged
      .map { case (k, v) => escapeKey(k) + ": " + v }
      .mkString("{", ", ", "}")
    atomicWrite(p, pretty(body))
    merged.length.toLong
  }

  /** Scale path: distributed JSON-lines shards keyed by uid hash. Merging
    * a delta = union previous shards + delta, last-wins on uid, rewrite
    * (one shuffle, no driver materialization) — see [[mergeSharded]].
    * `shards` = 0 (the default) sizes the count from the observed bytes of
    * `entries` ([[shardCount]]); a positive `shards` is used as given. */
  def writeSharded(entries: DataFrame, uidCol: String, dir: String,
                   shards: Int = 0): Unit = {
    val m = materialize(entries, uidCol)
    val n = if (shards > 0) shards else shardCount(m.rows.sparkSession, m.bytes)
    try writeShardFiles(m.rows.repartition(n, col("uid")), dir, n)
    finally m.release()
  }

  /** Ceiling of the derived shard count. */
  val MaxShards = 64

  /** Shard count for a state of `bytes` JSON-lines bytes:
    * ceil(bytes / `spark.sql.adaptive.advisoryPartitionSizeInBytes`),
    * clamped to 1..[[MaxShards]]. */
  private[graft] def shardCount(spark: SparkSession, bytes: Long): Int = {
    val target = math.max(1L,
      spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    ((bytes - 1) / target + 1).max(1L).min(MaxShards.toLong).toInt
  }

  /** A sharded write's row count (observed on the write) and shard count. */
  final case class Sharded(rows: Long, shards: Int)

  /** Sidecar file recording the writer's shard count, so readers
    * ([[graft.sources.KeyedJsonSource]]) can prune shards without
    * trusting a caller-supplied `shards` option — a wrong option would
    * otherwise open the wrong files and silently return incomplete
    * results for point lookups. Underscore prefix keeps it invisible to
    * Spark's file listing (and to [[readSharded]]). */
  private[graft] val ShardSidecar = "_graft_shards"

  /** Write (uid, json) rows that are ALREADY hash-partitioned on uid into
    * `shards` partitions: Spark names each file after its task's
    * partition, so part-NNNNN holds exactly the uids with
    * pmod(murmur3(uid), shards) = NNNNN — the layout
    * [[graft.sources.KeyedJsonSource]] prunes by. Returns the number of
    * lines written, observed on the write itself. */
  private def writeShardFiles(partitioned: DataFrame, dir: String,
                              shards: Int): Sharded = {
    val written = Observation()
    partitioned
      .select(concat_ws("\t", col("uid"), col("json")).as("value"))
      .observe(written, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).text(dir)
    val hPath = new org.apache.hadoop.fs.Path(dir, ShardSidecar)
    val fs = hPath.getFileSystem(
      partitioned.sparkSession.sessionState.newHadoopConf())
    val out = fs.create(hPath, true)
    try out.write(shards.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    Sharded(written.get("rows").asInstanceOf[Long], shards)
  }

  /** Read a sharded dir back as (uid, json) rows. `to_json` escapes tabs
    * and newlines inside values, so the FIRST tab of each line is the
    * separator (uids themselves must not contain tabs — they are ids,
    * logins and slugs in every pipeline). */
  def readSharded(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(dir).select(
      substring_index(col("value"), "\t", 1).as("uid"),
      expr("substring(value, instr(value, '\t') + 1)").as("json"))

  /** The distributed analog of [[writeSingle]]'s read-modify-write:
    * merge `delta` into the shards at `dir` with last-wins per uid
    * (delta beats existing; within the delta, ties resolve to the
    * lexicographically-greatest rendered json — deterministic, where
    * [[writeSingle]] keeps an arbitrary collected row), drop
    * `removeKeys` (the remove-on-success contract, applied in the same
    * aggregate instead of a driver-side Set), and rewrite every shard.
    * Returns the merged state's row and shard counts.
    * `shards` = 0 (the default) sizes the count ([[shardCount]]) from the
    * delta's observed bytes plus the existing part files and the absorbed
    * legacy file, so a state written with more shards re-merges into the
    * derived count; a positive `shards` is used as given.
    * One shuffle: existing ∪ delta ∪ removed ids are hash-partitioned on
    * uid to the shard count, and the last-wins aggregate and the file
    * write reuse that partitioning. Nothing materializes on the driver.
    * The swap is write-to-temp + backup-rename — not atomic
    * like [[atomicWrite]]'s file move (no Hadoop FS offers an atomic
    * directory swap), so concurrent readers must tolerate a brief
    * absence; every crash window leaves a recoverable copy (`.old` or
    * `.tmp-*`), never zero. */
  def mergeSharded(delta: DataFrame, uidCol: String, dir: String,
                   shards: Int = 0,
                   removeKeys: Option[DataFrame] = None,
                   legacyFile: Option[String] = None): Sharded = {
    val m = materialize(delta, uidCol)
    try mergeSharded(m, dir, shards, removeKeys, legacyFile)
    finally m.release()
  }

  /** [[mergeSharded]] of an already materialized delta. */
  def mergeSharded(delta: Materialized, dir: String, shards: Int,
                   removeKeys: Option[DataFrame],
                   legacyFile: Option[String]): Sharded = {
    val spark = delta.rows.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val oldPath = new org.apache.hadoop.fs.Path(dir + ".old")
    // self-heal a crash that landed between the two swap renames below:
    // the previous state is parked at .old — restore it BEFORE reading,
    // or this merge would silently rebuild from the delta alone and the
    // later .old cleanup would destroy the only backup.
    if (!fs.exists(hPath) && fs.exists(oldPath) && !fs.rename(oldPath, hPath))
      throw new java.io.IOException(s"recovering $oldPath -> $dir failed")
    val existingParts =
      if (fs.exists(hPath))
        fs.listStatus(hPath).filter(_.getPath.getName.startsWith("part-"))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    // src orders the last-wins aggregate: existing 0 < delta 1 < removed 2
    val fresh = delta.rows.withColumn("src", lit(1))
    // a [[writeSingle]]-format file from earlier small-scale runs is
    // absorbed once (its size is bounded by the small-mode contract that
    // wrote it) and deleted after a successful merge, so crossing the
    // scale threshold loses no state.
    val legacyPath = legacyFile.map(Paths.get(_)).filter(Files.exists(_))
    val legacy = legacyPath.toSeq.flatMap { p =>
      topLevelEntries(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        .map { case (k, v) => (k, minify(v)) }
    }
    val legacyDf =
      if (legacy.isEmpty) None
      else {
        import spark.implicits._
        Some(legacy.toDF("uid", "json").withColumn("src", lit(0)))
      }
    val removed = removeKeys.map { rm =>
      rm.select(col(rm.columns.head).cast("string").as("uid"),
        lit(null).cast("string").as("json"), lit(2).as("src"))
    }
    val n =
      if (shards > 0) shards
      else shardCount(spark, delta.bytes + existingParts.map(_.getLen).sum +
        legacyPath.fold(0L)(Files.size(_)))
    val unioned = (legacyDf.toSeq ++
      (if (existingParts.nonEmpty)
        Seq(readSharded(spark, dir).withColumn("src", lit(0))) else Nil) ++
      removed.toSeq)
      .foldLeft(fresh)(_ unionByName _)
    val kept = unioned
      .repartition(n, col("uid"))
      .groupBy(col("uid"))
      .agg(max(struct(col("src"), col("json"))).as("w"))
      .filter(col("w.src") < 2)
      .select(col("uid"), col("w.json").as("json"))
    // backup-rename swap: the previous state is parked at .old until the
    // new state is in place, so no crash window loses BOTH copies (a
    // crash can leave .old or a .tmp-* behind — recoverable, never
    // empty). Hadoop FS has no atomic directory swap to do better.
    val tmp = new org.apache.hadoop.fs.Path(
      dir + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val written = writeShardFiles(kept, tmp.toString, n)
    fs.delete(oldPath, true)
    val hadPrev = fs.exists(hPath)
    if (hadPrev && !fs.rename(hPath, oldPath))
      throw new java.io.IOException(s"rename $dir -> $oldPath failed")
    if (!fs.rename(tmp, hPath))
      throw new java.io.IOException(s"rename $tmp -> $dir failed")
    if (hadPrev) fs.delete(oldPath, true)
    legacyPath.foreach(Files.delete(_))
    written
  }
}
