package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.KeyedJsonSink

/** Point-lookup bench against a PRODUCTION-SIZED sharded keyed-JSON lake:
  * ties the DSv2 reader's shard pruning (KeyedJsonSourceSpec proves it at
  * 1k entries) to the sharded sink path at the 1M-entry size PipelineBench
  * proved for writes (round-11 verdict stretch item). Generates N entries
  * distributed (no driver loop), writes the sharded lake, then measures:
  *
  *  - point lookup WITH pruning (DSv2): must open exactly 1 shard file —
  *    asserted on `rdd.getNumPartitions`, not argued;
  *  - the same lookup over the naive full-scan path (readSharded +
  *    filter): opens every shard — the contrast that justifies the DSv2
  *    reader at lake sizes;
  *  - a full-lake count (the sanity row count).
  *
  * Usage: runMain graft.tools.LakeLookupBench [nEntries] [advisoryBytes]
  * (`advisoryBytes` sets `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
  * which sizes the shard count like every sharded write; default 1m).
  * Prints ONE JSON line.
  */
object LakeLookupBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        args.lift(1).getOrElse("1m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft_lake").toString

    val t0 = System.nanoTime()
    val entries = spark.range(0, n).select(
      concat(lit("uid"), $"id").as("uid"),
      struct($"id".as("post_id"),
        concat(lit("title-"), $"id").as("title"),
        concat(lit("/posts/"), $"id").as("url")).as("entry"))
      .select($"uid", to_json($"entry").as("json"))
    val shards = KeyedJsonSink.mergeSharded(entries, "uid", dir).shards
    val tWrite = (System.nanoTime() - t0) / 1e9

    val fmt = "graft.sources.KeyedJsonSource"
    val v2 = spark.read.format(fmt).option("path", dir).load()

    // point lookup via DSv2: the reader must prune to ONE shard file
    val probe = s"uid${n / 2}"
    val one = v2.filter($"uid" === probe)
    val pruned = one.rdd.getNumPartitions
    require(pruned == 1,
      s"point lookup opened $pruned of $shards shards — pruning regressed")
    val t1 = System.nanoTime()
    val hit = one.collect()
    val tPoint = (System.nanoTime() - t1) / 1e9
    require(hit.length == 1 && hit.head.getString(0) == probe,
      s"lookup returned ${hit.length} rows")

    // contrast: the same lookup without the DSv2 reader (full scan)
    val t2 = System.nanoTime()
    val brute = KeyedJsonSink.readSharded(spark, dir)
      .filter($"uid" === probe).collect()
    val tScan = (System.nanoTime() - t2) / 1e9
    require(brute.length == 1)

    val t3 = System.nanoTime()
    val total = v2.count()
    val tCount = (System.nanoTime() - t3) / 1e9
    require(total == n, s"lake holds $total of $n entries")

    println(f"""{"metric":"lake_point_lookup","n_entries":$n,"shards":$shards,"pruned_partitions":$pruned,"write_sec":$tWrite%.2f,"point_lookup_sec":$tPoint%.3f,"full_scan_lookup_sec":$tScan%.2f,"count_sec":$tCount%.2f}""")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.stop()
  }
}
