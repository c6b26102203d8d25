package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, Paths, StandardCopyOption,
  StandardOpenOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, StringType}
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
  *  - [[mergeSharded]]: the scale path — entries stay distributed, hashed
  *    on uid into shard files of JSON-lines (uid TAB json), mergeable by
  *    re-sharding on uid. Compaction = groupBy shard with last-wins. The
  *    shard count follows the state's size ([[shardCount]]: one shard per
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, 1 to
  *    [[MaxShards]]), because every committed file has a fixed cost that
  *    a small state should not pay 64 times. This object owns the layout
  *    both ways: [[writeShardFiles]] writes it and [[readSharded]] reads
  *    it back, opening only the shard files a uid lookup can hit.
  *
  * Both modes share one remove-on-success contract (the dead-letter heal,
  * reference assets.js:135-137): `removeKeys` names ids whose PRIOR
  * entries are dropped; the delta always lands, so an id in both the
  * delta and `removeKeys` keeps its delta entry.
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

  /** Decode a JSON string literal, quotes included. */
  private[graft] def unquote(raw: String): String = {
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
      val key = unquote(s.substring(kStart, i))
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

  /** Write `bytes` to a temp sibling (dot-prefixed) and rename it into
    * place, so readers never observe a half-written file and a crash
    * can't destroy the previous one. */
  private[graft] def atomicWrite(path: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(
      s".${path.getFileName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try Files.move(tmp, path,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: AtomicMoveNotSupportedException =>
        Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** [[materialize]] `entries`, [[writeSingle]] them, release. */
  def writeSingle(entries: DataFrame, uidCol: String, path: String,
                  removeKeys: Option[DataFrame] = None): Long = {
    val m = materialize(entries, uidCol)
    try writeSingle(m.rows.collect(), path, None, removeKeys)
    finally m.release()
  }

  /** Merge the collected (uid, json) `rows` of a [[materialize]] into the
    * keyed-JSON file at `path` (new rows win; prior entries named by
    * `removeKeys` are dropped — see the class doc), write pretty-printed
    * atomically, return the merged row count.
    * Driver-side by design — see class doc. Entries absent from the delta
    * keep their raw JSON text. `removeKeys` is looked up only among the
    * prior file's keys, in one bounded collect; no job runs when the prior
    * file is empty. The merged keys write the master manifest (S8)
    * {"en-us": {uid: ""}} (reference: authors.js:34,52) in Spark's string
    * order (UTF-8 bytes), not Java's, so an ID-restricted re-export keeps
    * every prior entry in it. */
  def writeSingle(rows: Array[Row], path: String, manifest: Option[String],
                  removeKeys: Option[DataFrame]): Long = {
    val fresh = rows.map(r => r.getString(0) -> r.getString(1))
      .toMap // dedup within the delta: last collected row wins
    val p = Paths.get(path)
    val prior: Seq[(String, String)] =
      if (Files.exists(p) && Files.size(p) > 2)
        topLevelEntries(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
          .map { case (k, v) => k -> minify(v) }
      else Seq.empty
    val removed: Set[String] = removeKeys match {
      case Some(rm) if prior.nonEmpty =>
        val uid = col(rm.columns.head).cast("string")
        rm.select(uid).filter(uid.isin(prior.map(_._1): _*))
          .collect().map(_.getString(0)).toSet
      case _ => Set.empty
    }
    // last-wins: fresh replaces prior per key
    val merged = (prior.filterNot { case (k, _) => fresh.contains(k) || removed(k) } ++
      fresh).sortBy(_._1)
    atomicWrite(p, pretty(merged.map { case (k, v) => escapeKey(k) + ": " + v }
      .mkString("{", ", ", "}")).getBytes(StandardCharsets.UTF_8))
    manifest.foreach(m => atomicWrite(Paths.get(m), pretty(merged.map(_._1)
      .sortBy(UTF8String.fromString).map(escapeKey(_) + ": \"\"")
      .mkString("{\"en-us\": {", ", ", "}}")).getBytes(StandardCharsets.UTF_8)))
    merged.length.toLong
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

  /** Sidecar file recording the writer's shard count, so [[readSharded]]
    * prunes by the count the files were written with, never a guess.
    * Underscore prefix keeps it invisible to Spark's file listing. */
  private[graft] val ShardSidecar = "_graft_shards"

  /** The writer-side shard of a uid: replays exactly what
    * `repartition(shards, col("uid"))` computed — Catalyst's
    * HashPartitioning, pmod(Murmur3Hash(seed=42), shards) — by evaluating
    * that expression rather than re-implementing it. */
  def shardOf(uid: String, shards: Int): Int =
    Pmod(new Murmur3Hash(Seq(Literal(UTF8String.fromString(uid), StringType))),
      Literal(shards, IntegerType)).eval(InternalRow.empty).asInstanceOf[Int]

  /** Write (uid, json) rows that are ALREADY hash-partitioned on uid into
    * `shards` partitions: Spark names each file after its task's
    * partition, so part-NNNNN holds exactly the uids with
    * [[shardOf]](uid, shards) = NNNNN — the layout [[readSharded]] prunes
    * by — and the [[ShardSidecar]] records `shards`. Returns the number of
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

  /** Read a sharded dir back as (uid, json) rows — the one parser of the
    * line format. `to_json` escapes tabs and newlines inside values, so
    * the FIRST tab of each line is the separator (uids themselves must not
    * contain tabs — they are ids, logins and slugs in every pipeline); a
    * line with no tab or an empty uid is skipped.
    *
    * With `uids`, only the rows of those uids come back, read from only
    * the part files they hash to under the [[ShardSidecar]]'s count
    * ([[shardOf]]): a point lookup reads one file at any state size. Part
    * names that don't parse are always read. A missing sidecar, or a part
    * index at or past its count (a stale sidecar over a rewritten dir,
    * which would prune away the rows living in the higher parts), reads
    * every file. */
  def readSharded(spark: SparkSession, dir: String,
                  uids: Option[Set[String]] = None): DataFrame = uids match {
    case None => parse(spark.read.text(dir))
    case Some(wanted) =>
      val files = shardFiles(spark, dir, wanted)
      if (files.isEmpty) {
        import spark.implicits._
        Seq.empty[(String, String)].toDF("uid", "json")
      } else parse(spark.read.text(files: _*))
        .filter(col("uid").isin(wanted.toSeq: _*))
  }

  private def parse(lines: DataFrame): DataFrame =
    lines.filter(instr(col("value"), "\t") > 1).select(
      substring_index(col("value"), "\t", 1).as("uid"),
      expr("substring(value, instr(value, '\t') + 1)").as("json"))

  private val PartIdx = "part-(\\d+)".r

  /** The part files of `dir` that can hold `uids` (see [[readSharded]]),
    * from one Hadoop FS listing. */
  private def shardFiles(spark: SparkSession, dir: String,
                         uids: Set[String]): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("part-")).toSeq
    // toIntOption: an over-long digit run escapes pruning like any other
    // unparseable name
    val idx = files.map(f => PartIdx.findPrefixMatchOf(f.getName)
      .flatMap(_.group(1).toIntOption))
    val sidecar = new org.apache.hadoop.fs.Path(p, ShardSidecar)
    val shards = if (!fs.exists(sidecar)) None else {
      val in = fs.open(sidecar)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toIntOption
      finally in.close()
    }
    shards.filter(n => n > 0 && idx.flatten.forall(_ < n)) match {
      case Some(n) =>
        val wanted = uids.map(shardOf(_, n))
        files.zip(idx).collect { case (f, i) if i.forall(wanted) => f.toString }
      case None => files.map(_.toString)
    }
  }

  /** The distributed analog of [[writeSingle]]'s read-modify-write:
    * merge `delta` into the shards at `dir` with last-wins per uid
    * (delta beats existing; within the delta, ties resolve to the
    * lexicographically-greatest rendered json — deterministic, where
    * [[writeSingle]] keeps an arbitrary collected row), drop the existing
    * entries `removeKeys` names (the remove-on-success contract, applied
    * in the same aggregate), and rewrite every shard into a fresh or
    * existing `dir`. Returns the merged state's row and shard counts.
    * The shard count ([[shardCount]]) follows the delta's observed bytes
    * plus the existing part files and the absorbed legacy file, so a
    * state written with more shards re-merges into the derived count.
    * One shuffle: existing ∪ delta ∪ removed ids are hash-partitioned on
    * uid to the shard count, and the last-wins aggregate and the file
    * write reuse that partitioning. Nothing materializes on the driver.
    * The swap is write-to-temp + backup-rename — not atomic
    * like [[atomicWrite]]'s file move (no Hadoop FS offers an atomic
    * directory swap), so concurrent readers must tolerate a brief
    * absence; every crash window leaves a recoverable copy (`.old` or
    * `.tmp`), never zero. The sink assumes a single writer per `dir`:
    * a merge restores a parked `.old` and deletes `<dir>.tmp`, which
    * would destroy a concurrent writer's work. */
  def mergeSharded(delta: DataFrame, uidCol: String, dir: String,
                   removeKeys: Option[DataFrame] = None,
                   legacyFile: Option[String] = None): Sharded = {
    val m = materialize(delta, uidCol)
    try mergeSharded(m, dir, removeKeys, legacyFile)
    finally m.release()
  }

  /** [[mergeSharded]] of an already materialized delta. */
  def mergeSharded(delta: Materialized, dir: String,
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
    // a `.tmp` sibling is a crashed shard write's partial copy: no reader
    // looks at it, so only the single writer can reclaim it. The name is
    // fixed so reclaiming it is one delete, not a listing of the parent
    // (for assets that parent holds one directory per asset).
    val tmp = new org.apache.hadoop.fs.Path(dir + ".tmp")
    fs.delete(tmp, true)
    val existingParts =
      if (fs.exists(hPath))
        fs.listStatus(hPath).filter(_.getPath.getName.startsWith("part-"))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    // src orders the last-wins aggregate: existing 0 < removed 1 < delta 2
    val fresh = delta.rows.withColumn("src", lit(2))
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
        lit(null).cast("string").as("json"), lit(1).as("src"))
    }
    val n = shardCount(spark, delta.bytes + existingParts.map(_.getLen).sum +
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
      .filter(col("w.src") =!= 1)
      .select(col("uid"), col("w.json").as("json"))
    // backup-rename swap: the previous state is parked at .old until the
    // new state is in place, so no crash window loses BOTH copies (a
    // crash can leave .old or a .tmp behind — recoverable, never
    // empty). Hadoop FS has no atomic directory swap to do better.
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
