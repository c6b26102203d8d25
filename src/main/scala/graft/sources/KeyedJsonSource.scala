package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util


import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal => CatalystLiteral, Murmur3Hash, Pmod}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the engine's own sharded keyed-JSON sink
  * format ([[graft.sinks.KeyedJsonSink.mergeSharded]]: text shards of
  * `uid TAB json`, hash-partitioned on uid by Spark's Murmur3). Closes
  * the loop on the custom sink: state written at scale is a TABLE —
  * `spark.read.format("graft.sources.KeyedJsonSource")
  * .option("path", dir).option("shards", n).load()` — instead of a
  * hand-rolled text parse.
  *
  * Scale behaviors a naive `spark.read.text` wrapper does not give:
  *  - **one input partition per shard file** — reads parallelize to the
  *    shard count with no post-read repartition;
  *  - **shard pruning for point lookups**: `uid = 'x'` / `uid IN (...)`
  *    predicates are pushed down, and because the writer hash-partitioned
  *    on uid, the reader recomputes the same `pmod(murmur3(uid), shards)`
  *    and opens ONLY the shard files those uids can live in — a
  *    1/shards-cost point lookup at any state size. The shard count is
  *    taken from the writer's `_graft_shards` sidecar when present; a
  *    caller-supplied `shards` option is VALIDATED against the on-disk
  *    part indices and ignored (full scan + warn) on mismatch, so a
  *    stale option can cost speed but never correctness;
  *  - **column pruning**: `select(uid)` never materializes the json
  *    payload column.
  *
  * The pushed uid filters are fully applied at the reader (exact string
  * compare per line), so Spark does not re-evaluate them.
  */
class KeyedJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KeyedJsonSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KeyedJsonTable(
      Option(properties.get("path")).getOrElse(
        throw new IllegalArgumentException("path option is required")),
      Option(properties.get("shards")).map(_.toInt))
}

object KeyedJsonSource {
  val schema: StructType = StructType(Seq(
    StructField("uid", StringType, nullable = false),
    StructField("json", StringType, nullable = false)))

  /** The writer-side partition id of a uid: must replay EXACTLY what
    * `DataFrame.repartition(shards, col("uid"))` computed — Catalyst's
    * HashPartitioning, i.e. pmod(Murmur3Hash(seed=42), shards) — so we
    * evaluate that expression itself rather than re-implementing it. */
  def shardOf(uid: String, shards: Int): Int =
    Pmod(
      new Murmur3Hash(Seq(CatalystLiteral(UTF8String.fromString(uid), StringType))),
      CatalystLiteral(shards, IntegerType))
      .eval(InternalRow.empty).asInstanceOf[Int]
}

private[sources] class KeyedJsonTable(path: String, shards: Option[Int])
    extends Table with SupportsRead {
  override def name(): String = s"keyedjson:$path"
  override def schema(): StructType = KeyedJsonSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KeyedJsonScanBuilder(path, shards)
}

private[sources] object HadoopConfs {
  /** The session's Hadoop configuration as a serializable map, captured
    * on the driver at scan-build time and rebuilt wherever the files
    * are listed/opened — a bare `new Configuration()` would drop every
    * spark.hadoop and fs setting (credentials, fs.defaultFS), breaking
    * exactly the non-local filesystems the at-scale state lives on. */
  def capture(): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
      .asScala.map(e => e.getKey -> e.getValue).toMap
  }

  def rebuild(m: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }
}

private[sources] class KeyedJsonScanBuilder(path: String, shards: Option[Int])
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = KeyedJsonSource.schema
  private var pushed: Array[Filter] = Array.empty
  private var uidSet: Option[Set[String]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo("uid", _: String) => true
      case In("uid", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    pushed = supported
    val sets = supported.map {
      case EqualTo("uid", v: String) => Set(v)
      case In("uid", vs) => vs.map(_.asInstanceOf[String]).toSet
      case f => throw new IllegalStateException(s"unreachable: $f")
    }
    if (sets.nonEmpty) uidSet = Some(sets.reduce(_ intersect _))
    rest // Spark re-evaluates only these
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new KeyedJsonScan(path, shards, required, uidSet)
}

private[sources] case class ShardFilePartition(
    file: String, uids: Option[Set[String]]) extends InputPartition

private[sources] class KeyedJsonScan(
    path: String, shards: Option[Int], required: StructType,
    uids: Option[Set[String]]) extends Scan with Batch {

  // captured on the driver while the session is in scope; the reader
  // factory ships it to executors as a plain map
  private val hadoopConf = HadoopConfs.capture()

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Writer partition id from a shard file name (part-00007-<uuid>.txt
    * -> 7); None for any other part-* naming, which then conservatively
    * escapes pruning instead of failing the scan. */
  private val PartIdx = "part-(\\d+)".r

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[KeyedJsonScan])

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(HadoopConfs.rebuild(hadoopConf))
    val files = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    // The shard count used for pruning must MATCH the writer's, or a
    // point lookup silently opens the wrong files and returns empty /
    // incomplete results while claiming the filter fully pushed. Trust
    // order: writer-persisted sidecar > caller option validated against
    // the on-disk part indices > no pruning (full scan, always correct).
    val sidecar: Option[Int] = {
      val sc = new Path(p, graft.sinks.KeyedJsonSink.ShardSidecar)
      if (fs.exists(sc)) {
        val in = fs.open(sc)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        txt.trim.toIntOption.filter(_ > 0)
      } else None
    }
    // all part names parseable -> the writer's shard count is maxIdx+1
    // (the writer emits a file per shard; only trailing EMPTY shards can
    // under-count, which at worst disables pruning — never mis-prunes)
    val onDisk: Option[Int] = {
      val idx = files.flatMap(f => PartIdx.findPrefixMatchOf(f.getName)
        .flatMap(m => m.group(1).toIntOption))
      if (files.nonEmpty && idx.length == files.length) Some(idx.max + 1)
      else None
    }
    // A part index >= the sidecar value is a hard contradiction: the
    // writer that produced those files used MORE shards than the sidecar
    // claims (stale sidecar over a rewritten dir, partial copy, legacy
    // writer), so pruning with the sidecar count would open the wrong
    // files and silently drop rows living in the higher-indexed parts.
    // (onDisk < sidecar is NOT a contradiction — Spark's text writer
    // skips empty partitions, so missing high part indices are expected
    // for sparse data.) maxIdx+1 > sc catches every such index because
    // onDisk is the max over ALL parseable names.
    val effectiveShards: Option[Int] = (sidecar, shards) match {
      case (Some(sc), opt) =>
        if (opt.exists(_ != sc)) log.warn(
          s"keyedjson $path: shards option ${opt.get} contradicts writer " +
            s"sidecar $sc; using the sidecar")
        if (onDisk.exists(_ > sc)) {
          log.warn(s"keyedjson $path: sidecar claims $sc shards but part " +
            s"files index up to ${onDisk.get - 1}; sidecar is stale or the " +
            "dir was rewritten — falling back to a FULL scan to avoid " +
            "silently incomplete point lookups")
          None
        } else Some(sc)
      case (None, Some(n)) =>
        if (onDisk.contains(n)) Some(n)
        else {
          log.warn(s"keyedjson $path: shards option $n does not match " +
            s"on-disk part layout (${onDisk.fold("unparseable")(_.toString)} " +
            "shards inferred); falling back to a FULL scan to avoid " +
            "silently incomplete point lookups")
          None
        }
      case (None, None) => None
    }
    val selected = (uids, effectiveShards) match {
      case (Some(vs), Some(n)) =>
        val wanted = vs.map(KeyedJsonSource.shardOf(_, n))
        files.filter { f =>
          PartIdx.findPrefixMatchOf(f.getName)
            // toIntOption: an over-long digit run (part-9999999999-...)
            // escapes pruning like any other unparseable name
            .flatMap(m => m.group(1).toIntOption)
            .forall(wanted.contains)
        }
      case _ => files
    }
    selected.map(f => ShardFilePartition(f.toString, uids): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KeyedJsonReaderFactory(required, hadoopConf)

  override def description(): String = {
    val pruned = (uids, shards) match {
      case (Some(vs), Some(n)) => s" shardPruned(uids=${vs.size}, shards=$n)"
      case _ => ""
    }
    s"KeyedJsonScan path=$path$pruned"
  }
}

private[sources] class KeyedJsonReaderFactory(
    required: StructType, hadoopConf: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val sp = partition.asInstanceOf[ShardFilePartition]
    new KeyedJsonPartitionReader(sp.file, sp.uids, required, hadoopConf)
  }
}

/** Streams one shard file line by line: split at the FIRST tab (to_json
  * escapes tabs inside values — KeyedJsonSink.readSharded's contract),
  * apply the pushed uid filter, emit only the pruned columns. */
private[sources] class KeyedJsonPartitionReader(
    file: String, uids: Option[Set[String]], required: StructType,
    hadoopConf: Map[String, String])
    extends PartitionReader[InternalRow] {

  private val p = new Path(file)
  private val in = p.getFileSystem(HadoopConfs.rebuild(hadoopConf)).open(p)
  private val reader = new BufferedReader(
    new InputStreamReader(in, StandardCharsets.UTF_8))
  private var row: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      val tab = line.indexOf('\t')
      if (tab > 0) {
        val uid = line.substring(0, tab)
        if (uids.forall(_.contains(uid))) {
          // emit in the PRUNED schema's field order, whatever it is
          val vals: Array[Any] = required.fieldNames.map {
            case "uid" => UTF8String.fromString(uid): Any
            case "json" => UTF8String.fromString(line.substring(tab + 1)): Any
            case other =>
              throw new IllegalStateException(s"unknown column $other")
          }
          row = new GenericInternalRow(vals)
          return true
        }
      }
      line = reader.readLine()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
