package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.KeyedJsonSink

/** Point-lookup bench against a PRODUCTION-SIZED sharded keyed-JSON lake:
  * ties `readSharded`'s shard pruning (ShardedReadSpec proves it at 1k
  * entries) to the sharded sink path at the 1M-entry size PipelineBench
  * proved for writes. Generates N entries distributed (no driver loop),
  * writes the sharded lake, then measures:
  *
  *  - a point lookup WITH pruning (`readSharded(spark, dir, Some(uids))`):
  *    must read exactly 1 shard file — asserted on `inputFiles`, not
  *    argued;
  *  - the same lookup unpruned (`readSharded(spark, dir)` + filter): reads
  *    every shard file — the contrast that justifies pruning at lake
  *    sizes;
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

    // point lookup: the pruned read must open ONE shard file
    val probe = s"uid${n / 2}"
    val one = KeyedJsonSink.readSharded(spark, dir, Some(Set(probe)))
    val pruned = one.inputFiles.length
    require(pruned == 1,
      s"point lookup read $pruned of $shards shard files — pruning regressed")
    val t1 = System.nanoTime()
    val hit = one.collect()
    val tPoint = (System.nanoTime() - t1) / 1e9
    require(hit.length == 1 && hit.head.getString(0) == probe,
      s"lookup returned ${hit.length} rows")

    // contrast: the same lookup without pruning (full scan)
    val t2 = System.nanoTime()
    val all = KeyedJsonSink.readSharded(spark, dir)
    val brute = all.filter($"uid" === probe).collect()
    val tScan = (System.nanoTime() - t2) / 1e9
    require(brute.length == 1)

    val t3 = System.nanoTime()
    val total = all.count()
    val tCount = (System.nanoTime() - t3) / 1e9
    require(total == n, s"lake holds $total of $n entries")

    println(f"""{"metric":"lake_point_lookup","n_entries":$n,"shards":$shards,"pruned_files":$pruned,"write_sec":$tWrite%.2f,"point_lookup_sec":$tPoint%.3f,"full_scan_lookup_sec":$tScan%.2f,"count_sec":$tCount%.2f}""")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.stop()
  }
}
