package graft.tools

import org.apache.spark.sql.functions._

/** Full-export throughput bench: generates a WordPress-shaped dataset at
  * a configurable post count (all tables built distributed via
  * spark.range — no driver loops), runs the complete Orchestrator export
  * (assets fetch with a stub fetcher, authors/categories/posts entries,
  * master manifests, logs), and prints wall time per module.
  *
  * Why it matters: the reference's own asymptotics (BASELINE.md) are
  * O(n²/batch) OFFSET-paginated reads, O(entries²/batch) whole-file JSON
  * rewrites, and ONE in-flight query — at the default 100k posts the
  * projected reference cost is hours; this engine's export is a few
  * Spark jobs. Past `maxDriverManifest` (10k) the entries sinks
  * automatically take the sharded keyed-JSON lake path, so the run also
  * exercises the scale branch end-to-end.
  *
  * Usage: runMain graft.tools.PipelineBench [nPosts], on the harness
  * session ([[graft.Sessions.local]]: SPARK_GRAFT_CPUS cores, default
  * every core).
  */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val nPosts = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = graft.Sessions.local()
    import spark.implicits._

    val nUsers = math.max(nPosts / 50, 1)
    val nTerms = math.max(nPosts / 100, 2)
    val nAssets = math.max(nPosts / 5, 1)
    val dir = java.nio.file.Files.createTempDirectory("wpbench").toString
    val out = java.nio.file.Files.createTempDirectory("wpbench_out").toString

    val tGen0 = System.nanoTime()
    spark.range(1, nUsers + 1).select($"id".as("ID"),
      concat(lit("user"), $"id").as("user_login"),
      concat(lit("u"), $"id", lit("@example.com")).as("user_email"))
      .write.parquet(s"$dir/wp_users.parquet")
    spark.range(1, nUsers + 1).select($"id".as("user_id"), explode(array(
        struct(lit("first_name").as("meta_key"),
          concat(lit("F"), $"id").as("meta_value")),
        struct(lit("last_name").as("meta_key"),
          concat(lit("L"), $"id").as("meta_value")),
        struct(lit("description").as("meta_key"),
          concat(lit("bio "), $"id").as("meta_value")),
        struct(lit("nickname").as("meta_key"),
          lit("noise").as("meta_value")))).as("kv"))
      .select($"user_id", $"kv.meta_key".as("meta_key"),
        $"kv.meta_value".as("meta_value"))
      .write.parquet(s"$dir/wp_usermeta.parquet")
    spark.range(1, nTerms + 1).select($"id".as("term_id"),
      concat(lit("Term &amp; "), $"id").as("name"),
      concat(lit("term-"), $"id").as("slug"))
      .write.parquet(s"$dir/wp_terms.parquet")
    spark.range(1, nTerms + 1).select(
      ($"id" + 1000000L).as("term_taxonomy_id"), $"id".as("term_id"),
      lit("category").as("taxonomy"),
      concat(lit("desc "), $"id").as("description"),
      when($"id" % 10 === 0, $"id" - 1).otherwise(0L).as("parent"))
      .write.parquet(s"$dir/wp_term_taxonomy.parquet")
    spark.range(1, nPosts + 1).select($"id".as("object_id"),
      explode(array(
        lit(1000000L) + ($"id" % nTerms) + 1,
        lit(1000000L) + (($"id" * 7) % nTerms) + 1)).as("term_taxonomy_id"))
      .distinct()
      .write.parquet(s"$dir/wp_term_relationships.parquet")
    val posts = spark.range(1, nPosts + 1).select(
      $"id".as("ID"), ($"id" % nUsers + 1).as("post_author"),
      concat(lit("Post &amp; "), $"id").as("post_title"),
      concat(lit("post-"), $"id").as("post_name"),
      lit("publish").as("post_status"), lit("post").as("post_type"),
      concat(lit("<p>content "), $"id", lit("</p>")).as("post_content"),
      timestamp_seconds(lit(1577836800L) + $"id" % 31536000L).as("post_date"),
      timestamp_seconds(lit(1577836800L) + $"id" % 31536000L).as("post_date_gmt"),
      concat(lit("https://blog.example.com/?p="), $"id").as("guid"))
    val attachments = spark.range(nPosts + 1L, nPosts + nAssets + 1L).select(
      $"id".as("ID"), lit(1L).as("post_author"),
      concat(lit("img"), $"id").as("post_title"),
      concat(lit("img"), $"id").as("post_name"),
      lit("inherit").as("post_status"), lit("attachment").as("post_type"),
      lit("").as("post_content"),
      timestamp_seconds(lit(1577836800L)).as("post_date"),
      timestamp_seconds(lit(1577836800L)).as("post_date_gmt"),
      concat(lit("https://blog.example.com/wp-content/uploads/img"),
        $"id", lit(".png")).as("guid"))
    posts.unionByName(attachments).write.parquet(s"$dir/wp_posts.parquet")
    spark.range(1, nPosts + 1).filter($"id" % 5 === 0).select(
      $"id".as("post_id"), lit("_thumbnail_id").as("meta_key"),
      (lit(nPosts.toLong) + ($"id" % nAssets) + 1).cast("string").as("meta_value"))
      .write.parquet(s"$dir/wp_postmeta.parquet")
    Seq(("permalink_structure", "/%year%/%monthnum%/%day%/%postname%/"),
        ("siteurl", "https://blog.example.com"))
      .toDF("option_name", "option_value")
      .write.parquet(s"$dir/wp_options.parquet")
    val genSecs = (System.nanoTime() - tGen0) / 1e9

    val fetcher: graft.sinks.HttpFetchSink.Fetcher =
      url => Right(url.getBytes("UTF-8"))
    val orch = new graft.pipelines.Orchestrator(
      spark, new graft.sources.ParquetCatalog(dir), out, fetcher)
    val perModule = orch.modules.map { m =>
      val t0 = System.nanoTime()
      val n = orch.runModule(m)
      m -> (n, (System.nanoTime() - t0) / 1e9)
    }
    val total = perModule.map(_._2._2).sum
    val detail = perModule
      .map { case (m, (n, s)) => f"$m=$n rows/$s%.1fs" }.mkString(", ")
    println(f"[pipelinebench] nPosts=$nPosts nAssets=$nAssets gen=$genSecs%.1fs " +
      f"export=$total%.1fs ($detail) out=$out")
    spark.stop()
  }
}
