package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.{ExportMain, Orchestrator, Pipelines}
import graft.sinks.HttpFetchSink
import graft.sources.ParquetCatalog

/** Stateful fake fetcher shared with executor closures (local mode =
  * same JVM): every URL containing one of `failing` (e.g. "img6") fails
  * until the set changes. */
object FlakyImgs {
  @volatile var failing = Set.empty[String]
  val fetcher: HttpFetchSink.Fetcher = url =>
    if (failing.exists(url.contains)) Left("ECONNREFUSED")
    else Right(url.getBytes("UTF-8"))
}

/** End-to-end WordPress pipeline tests over the FIXTURES.md §2 golden
  * micro-fixture (mirrors the reference's own logged run: assets 5,6,7;
  * author 1; category 1+child; posts 16,18,20). */
class WpPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Writes the fixture WP tables as wp_*.parquet under a temp dir. */
  lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("wpfix").toString
    Seq((1L, "admin", "admin@example.com"))
      .toDF("ID", "user_login", "user_email")
      .write.parquet(s"$dir/wp_users.parquet")
    Seq(
      (1L, "first_name", "Ada"), (1L, "last_name", "Lovelace"),
      (1L, "description", "First programmer"), (1L, "nickname", "noise"))
      .toDF("user_id", "meta_key", "meta_value")
      .write.parquet(s"$dir/wp_usermeta.parquet")
    Seq((10L, "News &amp; Media", "news-media"), (11L, "Tech", "tech"),
        (12L, "Tags &amp; Noise", "tagnoise"))
      .toDF("term_id", "name", "slug")
      .write.parquet(s"$dir/wp_terms.parquet")
    Seq((100L, 10L, "category", "Root cat", 0L),
        (101L, 11L, "category", "Child &amp; co", 10L),
        (102L, 12L, "post_tag", "noise", 0L))
      .toDF("term_taxonomy_id", "term_id", "taxonomy", "description", "parent")
      .write.parquet(s"$dir/wp_term_taxonomy.parquet")
    Seq((16L, 100L), (16L, 101L), (18L, 100L), (16L, 102L))
      .toDF("object_id", "term_taxonomy_id")
      .write.parquet(s"$dir/wp_term_relationships.parquet")
    Seq(
      // published posts 16 (2 cats + tag), 18 (1 cat), 20 (none, orphan author)
      (16L, 1L, "Hello World", "hello-world", "publish", "post", "<p>hi</p>",
        ts("2018-12-17 07:00:00"), ts("2018-12-17 07:00:00"),
        "https://blog.example.com/?p=16"),
      (18L, 1L, "Second Post", "second-post", "publish", "post", "<p>two</p>",
        ts("2019-01-05 10:30:00"), ts("2019-01-05 10:30:00"),
        "https://blog.example.com/?p=18"),
      (20L, 99L, "Orphan Post", "orphan-post", "publish", "post", "<p>three</p>",
        ts("2019-03-09 12:00:00"), ts("2019-03-09 12:00:00"),
        "https://blog.example.com/?p=20"),
      (21L, 1L, "Draft", "draft", "draft", "post", "draft",
        ts("2019-04-01 00:00:00"), ts("2019-04-01 00:00:00"),
        "https://blog.example.com/?p=21"),
      // attachments 5, 6, 7 (7 has a space to exercise encodeURI)
      (5L, 1L, "img5", "img5", "inherit", "attachment", "",
        ts("2018-12-01 00:00:00"), ts("2018-12-01 00:00:00"),
        "https://blog.example.com/wp-content/uploads/img5.png"),
      (6L, 1L, "img6", "img6", "inherit", "attachment", "",
        ts("2018-12-01 00:00:00"), ts("2018-12-01 00:00:00"),
        "https://blog.example.com/wp-content/uploads/img6.jpg"),
      (7L, 1L, "img7", "img7", "inherit", "attachment", "",
        ts("2018-12-01 00:00:00"), ts("2018-12-01 00:00:00"),
        "https://blog.example.com/wp-content/uploads/my img7.gif"))
      .toDF("ID", "post_author", "post_title", "post_name", "post_status",
        "post_type", "post_content", "post_date", "post_date_gmt", "guid")
      .write.parquet(s"$dir/wp_posts.parquet")
    Seq((16L, "_thumbnail_id", "5"), (16L, "noise", "x"))
      .toDF("post_id", "meta_key", "meta_value")
      .write.parquet(s"$dir/wp_postmeta.parquet")
    Seq(("permalink_structure", "/%year%/%monthnum%/%day%/%postname%/"),
        ("siteurl", "https://blog.example.com"))
      .toDF("option_name", "option_value")
      .write.parquet(s"$dir/wp_options.parquet")
    dir
  }

  lazy val cat = new ParquetCatalog(fixtureDir)

  test("authors pipeline widens EAV and builds slug URLs") {
    val rows = Pipelines.authors(spark, cat).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("url") == "/author/admin")
    assert(r.getAs[String]("first_name") == "Ada")
    assert(r.getAs[String]("biographical_info") == "First programmer")
    assert(r.getAs[String]("uid") == "admin")
  }

  test("ci-collation mode: mixed-case discriminators match like utf8_general_ci") {
    // a real WP dump can store 'First_Name' where the reference's
    // utf8_general_ci '=' still matches 'first_name' (authors.js:22-24);
    // Spark's binary equality drops those rows — this test PINS the
    // divergence in default mode and the parity in opt-in ci mode
    val dir = Files.createTempDirectory("wpfix_ci").toString
    Seq((1L, "admin", "a@x.com")).toDF("ID", "user_login", "user_email")
      .write.parquet(s"$dir/wp_users.parquet")
    Seq((1L, "First_Name", "Ada"), (1L, "last_name", "Lovelace"),
        (1L, "DESCRIPTION", "First programmer"))
      .toDF("user_id", "meta_key", "meta_value")
      .write.parquet(s"$dir/wp_usermeta.parquet")
    Seq((16L, "Publish", "Post"), (17L, "publish", "post"))
      .toDF("ID", "post_status", "post_type")
      .write.parquet(s"$dir/wp_posts.parquet")
    Seq((16L, "_Thumbnail_Id", "5"), (17L, "_thumbnail_id", "7"))
      .toDF("post_id", "meta_key", "meta_value")
      .write.parquet(s"$dir/wp_postmeta.parquet")
    for (t <- Seq("wp_terms", "wp_term_taxonomy", "wp_term_relationships",
        "wp_options"))
      spark.read.parquet(s"$fixtureDir/$t.parquet").write.parquet(s"$dir/$t.parquet")
    val ciCat = new ParquetCatalog(dir)
    def featured(): Map[String, String] = Pipelines.posts(spark, ciCat)
      .select("uid", "featured_image").as[(String, String)].collect().toMap

    // default (binary collation): mixed-case rows silently miss
    val plain = Pipelines.authors(spark, ciCat).collect().head
    assert(plain.getAs[String]("first_name") == "")
    assert(plain.getAs[String]("last_name") == "Lovelace")
    assert(featured() == Map("17" -> "7"))

    // opt-in ci mode: reference row counts/content restored
    spark.conf.set("spark.graft.wp.ciCollation", "true")
    try {
      val ci = Pipelines.authors(spark, ciCat).collect().head
      assert(ci.getAs[String]("first_name") == "Ada")
      assert(ci.getAs[String]("biographical_info") == "First programmer")
      assert(featured() == Map("16" -> "5", "17" -> "7"))
    } finally spark.conf.unset("spark.graft.wp.ciCollation")
  }

  test("categories pipeline decodes entities and resolves parent slugs via join") {
    val byUid = Pipelines.categories(spark, cat).collect()
      .map(r => r.getAs[String]("uid") -> r).toMap
    assert(byUid.keySet == Set("news-media", "tech")) // post_tag filtered out
    assert(byUid("news-media").getAs[String]("title") == "News & Media")
    assert(byUid("news-media").getAs[scala.collection.Seq[String]]("parent").toSeq == Seq(""))
    assert(byUid("tech").getAs[scala.collection.Seq[String]]("parent").toSeq == Seq("news-media"))
    assert(byUid("tech").getAs[String]("description") == "Child & co")
  }

  test("posts pipeline: categories sorted, permalink expanded, orphan author safe") {
    val byUid = Pipelines.posts(spark, cat).collect()
      .map(r => r.getAs[String]("uid") -> r).toMap
    assert(byUid.keySet == Set("16", "18", "20")) // draft excluded
    val p16 = byUid("16")
    assert(p16.getAs[scala.collection.Seq[String]]("category").toSeq == Seq("news-media", "tech"))
    assert(p16.getAs[String]("url") == "/2018/12/17/hello-world/")
    assert(p16.getAs[String]("date") == "2018-12-17T07:00:00Z")
    assert(p16.getAs[String]("featured_image") == "5")
    assert(p16.getAs[scala.collection.Seq[String]]("author").toSeq == Seq("admin"))
    val p20 = byUid("20")
    assert(p20.getAs[scala.collection.Seq[String]]("author").toSeq == Seq.empty) // J3 NPE avoided
    assert(p20.getAs[scala.collection.Seq[String]]("category").toSeq == Seq.empty)
    assert(p20.getAs[String]("featured_image") == "")
  }

  test("posts joins featured images onto the published posts, one wp_posts scan") {
    val dir = Files.createTempDirectory("wpthumb").toString
    for (t <- Seq("wp_users", "wp_usermeta", "wp_terms", "wp_term_taxonomy",
        "wp_term_relationships", "wp_posts", "wp_options"))
      spark.read.parquet(s"$fixtureDir/$t.parquet").write.parquet(s"$dir/$t.parquet")
    // 16: two thumbnail rows; 21: a thumbnail on a draft; 18, 20: none
    Seq((16L, "_thumbnail_id", "5"), (16L, "_thumbnail_id", "6"),
        (21L, "_thumbnail_id", "7"), (18L, "noise", "x"))
      .toDF("post_id", "meta_key", "meta_value")
      .write.parquet(s"$dir/wp_postmeta.parquet")
    val posts = Pipelines.posts(spark, new ParquetCatalog(dir))
    // every thumbnail row of a published post joins, as the reference's
    // SQL join does; the sinks keep one entry per uid
    assert(posts.select("uid", "featured_image").as[(String, String)]
      .collect().sorted.toSeq ==
      Seq("16" -> "5", "16" -> "6", "18" -> "", "20" -> ""))
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scans = posts.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location.rootPaths }
      .filter(_.exists(_.getName == "wp_posts.parquet"))
    assert(scans.length == 1, posts.queryExecution.optimizedPlan.toString)
  }

  test("assets pipeline encodes URLs; fetch sink retries, skips, dead-letters") {
    val outDir = Files.createTempDirectory("wpout").toString
    val assets = Pipelines.assets(spark, cat)
    val urls = assets.select("url").as[String].collect().toSet
    assert(urls.contains("https://blog.example.com/wp-content/uploads/my%20img7.gif"))

    // fake fetcher: img6 always fails; others return bytes
    val fetcher: HttpFetchSink.Fetcher = url =>
      if (url.contains("img6")) Left("ECONNREFUSED")
      else Right(url.getBytes("UTF-8"))
    val res1 = HttpFetchSink.fetch(assets, "uid", "url", s"$outDir/assets", fetcher)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(res1(5L).getAs[Boolean]("ok") && !res1(5L).getAs[Boolean]("skipped"))
    assert(!res1(6L).getAs[Boolean]("ok") &&
      res1(6L).getAs[String]("error") == "ECONNREFUSED")
    assert(Files.exists(Paths.get(s"$outDir/assets/7/my%20img7.gif")))

    // idempotent re-run: previously fetched files are skipped
    val res2 = HttpFetchSink.fetch(assets, "uid", "url", s"$outDir/assets", fetcher)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(res2(5L).getAs[Boolean]("skipped"))
    assert(!res2(6L).getAs[Boolean]("ok")) // still failing, still reported
  }

  test("orchestrator runs all modules, writes keyed JSON, merges last-wins") {
    val outDir = Files.createTempDirectory("wporch").toString
    val fetcher: HttpFetchSink.Fetcher = url => Right(Array[Byte](1))
    val orch = new Orchestrator(spark, cat, outDir, fetcher)
    val counts = orch.run()
    assert(counts("authors") == 1 && counts("categories") == 2 &&
      counts("posts") == 3 && counts("assets") == 3)

    val postsJson = new String(Files.readAllBytes(
      Paths.get(s"$outDir/entries/posts/en-us.json")), "UTF-8")
    assert(postsJson.contains("\"16\""))
    assert(postsJson.contains("hello-world"))
    val master = new String(Files.readAllBytes(
      Paths.get(s"$outDir/master/entries/authors.json")), "UTF-8")
    assert(master.contains("en-us") && master.contains("admin"))

    // re-run: read-modify-write merge keeps counts stable (A4 last-wins)
    val counts2 = orch.runModule("posts")
    assert(counts2 == 3)
  }

  /** Spark jobs submitted while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.graft.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("each entry module runs its pipeline once: pinned job counts") {
    // authors: two AQE stage jobs, the checkpoint, and one collect that
    // writes both the entries file and the master manifest. posts adds
    // the wp_options collect and five more stage jobs for its joins. A
    // recount, a second collect or a re-read of written state adds a job.
    // assets: the fetch checkpoint, then the dead letter's and the
    // ok-asset entries' checkpoint + collect each (no failures, so no
    // error-line collect and no heal lookup).
    val orch = new Orchestrator(spark, cat,
      Files.createTempDirectory("wpjobs").toString, _ => Right(Array[Byte](1)))
    for (_ <- 1 to 2) { // a fresh export, then a merge into its state
      assert(jobsOf(orch.runModule("assets")) == 6)
      assert(jobsOf(orch.runModule("authors")) == 4)
      assert(jobsOf(orch.runModule("posts")) == 10)
    }
    // one failing asset on the single path: its error line renders from
    // the dead-letter rows the write already collected, so no extra job;
    // the re-run adds the heal lookup over the prior file's keys.
    FlakyImgs.failing = Set("img6")
    try {
      val failing = new Orchestrator(spark, cat,
        Files.createTempDirectory("wpjobsfail").toString, FlakyImgs.fetcher)
      assert(jobsOf(failing.runModule("assets")) == 6)
      assert(jobsOf(failing.runModule("assets")) == 7)
    } finally FlakyImgs.failing = Set.empty
  }

  test("runModule releases every checkpoint it takes") {
    val sc = spark.sparkContext
    FlakyImgs.failing = Set("img6")
    for (bound <- Seq(10000L, 0L)) {
      val orch = new Orchestrator(spark, cat,
        Files.createTempDirectory("wprelease").toString, FlakyImgs.fetcher,
        maxDriverManifest = bound)
      val before = sc.getPersistentRDDs.keySet
      orch.runModule("assets")
      orch.runModule("posts")
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
        s"resident after export (bound $bound): ${sc.getPersistentRDDs}")
    }
  }

  test("dead-letter remove-on-success: healed asset leaves wp_failed") {
    val outDir = Files.createTempDirectory("wpheal").toString
    FlakyImgs.failing = Set("img6")
    val orch = new Orchestrator(spark, cat, outDir, FlakyImgs.fetcher)
    orch.runModule("assets")
    val failedPath = Paths.get(s"$outDir/master/wp_failed.json")
    val failed1 = new String(Files.readAllBytes(failedPath), "UTF-8")
    assert(failed1.contains("\"6\""), s"expected id 6 dead-lettered in: $failed1")

    // img6's host recovers; the re-run fetches it and the stale failure
    // key must disappear (reference assets.js:135-137).
    FlakyImgs.failing = Set.empty
    orch.runModule("assets")
    val failed2 = new String(Files.readAllBytes(failedPath), "UTF-8")
    assert(!failed2.contains("\"6\""), s"expected id 6 removed from: $failed2")

    // a mixed re-run on both sink paths: the first run (restricted to ids
    // 5 and 6) dead-letters both; the second heals 5, 6 stays failed and
    // 7 fails for the first time. Both paths go through one write.
    val kept = for (bound <- Seq(10000L, 0L)) yield {
      val out = Files.createTempDirectory("wpmixed").toString
      val mixed = new Orchestrator(spark, cat, out, FlakyImgs.fetcher,
        maxDriverManifest = bound)
      Files.write(Paths.get(s"$out/ids.txt"), "5,6".getBytes("UTF-8"))
      FlakyImgs.failing = Set("img5", "img6")
      mixed.runModule("assets", Some(s"$out/ids.txt"))
      FlakyImgs.failing = Set("img6", "img7")
      mixed.runModule("assets")
      val single = Paths.get(s"$out/master/wp_failed.json")
      val sharded = s"$out/master/wp_failed"
      assert(Files.exists(single) == (bound > 0) &&
        Files.exists(Paths.get(sharded)) == (bound == 0), s"bound $bound")
      val exported = Files.readAllLines(Paths.get(s"$out/logs/assets.log"))
        .toArray.map(_.toString).filter(_.contains("Exported wp_failed"))
      assert(exported.length == 2 && exported.last.contains("""\"entries\":2,"""),
        exported.mkString("\n"))
      if (Files.exists(single))
        graft.sinks.KeyedJsonSink.topLevelEntries(
          new String(Files.readAllBytes(single), "UTF-8")).map(_._1).toSet
      else graft.sinks.KeyedJsonSink.readSharded(spark, sharded)
        .collect().map(_.getString(0)).toSet
    }
    assert(kept == Seq(Set("6", "7"), Set("6", "7")))
  }

  /** Fixture variant: empty permalink_structure + subdirectory siteurl
    * (a WP install at example.com/blog) — exercises the guid-split
    * fallback of posts.js:62-77. */
  lazy val subdirFixtureDir: String = {
    val dir = Files.createTempDirectory("wpsubdir").toString
    for (t <- Seq("wp_users", "wp_usermeta", "wp_terms", "wp_term_taxonomy",
        "wp_term_relationships", "wp_postmeta"))
      spark.read.parquet(s"$fixtureDir/$t.parquet")
        .write.parquet(s"$dir/$t.parquet")
    spark.read.parquet(s"$fixtureDir/wp_posts.parquet")
      .withColumn("guid", when(col("ID") === 16L,
          lit("https://example.com/blog/?p=16"))
        .when(col("ID") === 18L,
          // the blog segment reappearing later in the guid: JS
          // url.split(blogname)[1] keeps only the text BETWEEN the 1st
          // and 2nd occurrence — parity pinned below
          lit("https://example.com/blog/blog-post"))
        .when(col("ID") === 20L, // no "blog" substring anywhere → fallback
          lit("https://other.example.com/?p=20"))
        .otherwise(col("guid")))
      .write.parquet(s"$dir/wp_posts.parquet")
    Seq(("permalink_structure", ""), ("siteurl", "https://example.com/blog"))
      .toDF("option_name", "option_value")
      .write.parquet(s"$dir/wp_options.parquet")
    dir
  }

  test("posts empty-structure fallback splits guid at the siteurl blog segment") {
    val byUid = Pipelines.posts(spark, new ParquetCatalog(subdirFixtureDir))
      .collect().map(r => r.getAs[String]("uid") -> r).toMap
    // blogname = "blog"; guid "https://example.com/blog/?p=16" → "/?p=16"
    // (bare relativize would keep "/blog/?p=16")
    assert(byUid("16").getAs[String]("url") == "/?p=16")
    // JS split-by-string [1] quirk parity: ".../blog/blog-post" → "/"
    assert(byUid("18").getAs[String]("url") == "/")
    // guid without the blog segment falls back to relativize (the
    // reference returns undefined here — bug not replicated)
    assert(byUid("20").getAs[String]("url") == "/?p=20")
  }

  test("posts reads wp_options by column name (WordPress order: option_id first)") {
    val dir = Files.createTempDirectory("wpoptid").toString
    for (t <- Seq("wp_users", "wp_usermeta", "wp_terms", "wp_term_taxonomy",
        "wp_term_relationships", "wp_postmeta", "wp_posts"))
      spark.read.parquet(s"$fixtureDir/$t.parquet")
        .write.parquet(s"$dir/$t.parquet")
    Seq((1L, "siteurl", "https://blog.example.com", "yes"),
        (2L, "blogname", "Example", "yes"),
        (3L, "permalink_structure", "/%year%/%monthnum%/%day%/%postname%/", "yes"))
      .toDF("option_id", "option_name", "option_value", "autoload")
      .write.parquet(s"$dir/wp_options.parquet")
    // ParquetCatalog projects WpSchemas' column order; read wp_options as
    // stored, the way JdbcCatalog returns a table's own column order
    val parquet = new ParquetCatalog(dir)
    val storedOrder = new graft.sources.WpCatalog {
      def table(s: org.apache.spark.sql.SparkSession, name: String) =
        if (name == "options") s.read.parquet(s"$dir/wp_options.parquet")
        else parquet.table(s, name)
    }
    val byUid = Pipelines.posts(spark, storedOrder)
      .collect().map(r => r.getAs[String]("uid") -> r).toMap
    assert(byUid.keySet == Set("16", "18", "20"))
    assert(byUid("16").getAs[String]("url") == "/2018/12/17/hello-world/")
  }

  test("lake-scale failure manifest: sharded wp_failed, anti-join heal, no collect") {
    val outDir = Files.createTempDirectory("wplake").toString
    FlakyImgs.failing = Set("img6")
    val orch = new Orchestrator(spark, cat, outDir, FlakyImgs.fetcher,
      maxDriverManifest = 0)
    orch.runModule("assets")
    val shardDir = s"$outDir/master/wp_failed"
    assert(Files.exists(Paths.get(shardDir)))
    assert(!Files.exists(Paths.get(s"$outDir/master/wp_failed.json")))
    val m1 = graft.sinks.KeyedJsonSink.readSharded(spark, shardDir)
      .collect().map(_.getString(0)).toSet
    assert(m1 == Set("6"))
    // ok-asset ENTRIES also went sharded (they are a driver
    // materialization too) — no single assets.json at lake scale
    val okShards = graft.sinks.KeyedJsonSink
      .readSharded(spark, s"$outDir/assets/sharded")
      .collect().map(_.getString(0)).toSet
    assert(okShards == Set("5", "7"))
    assert(!Files.exists(Paths.get(s"$outDir/assets/assets.json")))
    // aggregate-count error log, not per-row lines
    val log1 = Files.readAllLines(Paths.get(s"$outDir/logs/assets.log"))
      .toArray.map(_.toString).filter(_.contains("\"level\":\"error\""))
    assert(log1.exists(_.contains("""\"failed\":1""")),
      s"expected aggregate failed-count log line in: ${log1.mkString("\n")}")

    // img6 heals: the re-run has ZERO fresh failures but the sharded
    // state must still anti-join the healed id out (sharded mode is
    // sticky once entered).
    FlakyImgs.failing = Set.empty
    orch.runModule("assets")
    val m2 = graft.sinks.KeyedJsonSink.readSharded(spark, shardDir)
      .collect().map(_.getString(0)).toSet
    assert(m2.isEmpty, s"expected healed id removed, got $m2")
  }

  test("lake-scale entries sink: sharded entries, no manifest copy, counts stable") {
    val outDir = Files.createTempDirectory("wplakeent").toString
    val orch = new Orchestrator(spark, cat, outDir, _ => Right(Array[Byte](1)),
      maxDriverManifest = 0)
    assert(orch.runModule("posts") == 3)
    assert(Files.exists(Paths.get(s"$outDir/entries/posts/sharded")))
    assert(!Files.exists(Paths.get(s"$outDir/entries/posts/en-us.json")))
    // re-run: distributed last-wins merge keeps the merged count stable
    assert(orch.runModule("posts") == 3)
    val entries = graft.sinks.KeyedJsonSink
      .readSharded(spark, s"$outDir/entries/posts/sharded")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(entries.keySet == Set("16", "18", "20"))
    assert(entries("16").contains("hello-world"))
    // the sharded state's uid column is the manifest: no second copy,
    // and no single-file manifest beside it
    assert(!Files.exists(Paths.get(s"$outDir/master/entries/posts-sharded")))
    assert(!Files.exists(Paths.get(s"$outDir/master/entries/posts.json")))
    val exported = Files.readAllLines(Paths.get(s"$outDir/logs/posts.log"))
      .toArray.map(_.toString).filter(_.contains("Exported posts"))
    assert(exported.length == 2 && exported.forall(l =>
      l.contains("""\"entries\":3,""") &&
        l.contains("""\"path\":\"sharded\",\"shards\":1}""")), exported.mkString("\n"))
  }

  test("contenttypes config drives module order, column order, and S11 logs") {
    val outDir = Files.createTempDirectory("wpcts").toString
    val orch = new Orchestrator(spark, cat, outDir, _ => Right(Array[Byte](1)),
      contentTypesDir = Some(ContentTypeFixture.dir))
    assert(orch.modules == Seq("assets", "categories", "authors", "posts"))
    val counts = orch.run()
    assert(counts("authors") == 1 && counts("posts") == 3)

    // entry columns follow the contenttype's field order (fixture puts
    // first_name/last_name BEFORE email/url, unlike the pipeline output)
    val authorsJson = new String(Files.readAllBytes(
      Paths.get(s"$outDir/entries/authors/en-us.json")), "UTF-8")
    val order = Seq("\"first_name\"", "\"last_name\"", "\"email\"", "\"url\"")
      .map(authorsJson.indexOf)
    assert(order.forall(_ >= 0) && order == order.sorted,
      s"expected contenttype field order in: $authorsJson")

    // S11: winston-parity JSON-lines progress logs per module
    val logLines = Files.readAllLines(
      Paths.get(s"$outDir/logs/authors.log")).toArray.map(_.toString)
    assert(logLines.nonEmpty)
    val entries = logLines.map(l =>
      graft.sinks.KeyedJsonSink.topLevelEntries(l).toMap)
    assert(entries.forall(e =>
      e.contains("level") && e.contains("message") && e.contains("timestamp")))
    val exported = entries.filter(_("message").contains("Exported authors"))
      .map(_("message"))
    assert(entries.exists(e => e("level") == "\"info\"" &&
      e("message").contains("Exported authors")))
    // observed bytes, the sink path taken and its shard count
    assert(exported.length == 1)
    assert(raw"""\\"bytes\\":[1-9][0-9]*,\\"path\\":\\"single\\",\\"shards\\":0\b""".r
      .findFirstIn(exported.head).nonEmpty, exported.head)
  }

  test("asset failures produce S11 error log lines") {
    val outDir = Files.createTempDirectory("wplogs").toString
    FlakyImgs.failing = Set("img6")
    new Orchestrator(spark, cat, outDir, FlakyImgs.fetcher).runModule("assets")
    val lines = Files.readAllLines(
      Paths.get(s"$outDir/logs/assets.log")).toArray.map(_.toString)
    val errs = lines.filter(_.contains("\"level\":\"error\""))
    assert(errs.length == 1)
    assert(raw"""\{"level":"error","message":"Failed to download asset  \{\\"id\\":6,\\"url\\":\\"[^\\"]*img6[^\\"]*\\",\\"error\\":\\"ECONNREFUSED\\"\}","timestamp":"[^"]+"\}""".r
      .pattern.matcher(errs.head).matches(), errs.head)
  }

  test("orchestrator by-ids entry point restricts via semi-join") {
    val outDir = Files.createTempDirectory("wpids").toString
    val idFile = s"$outDir/ids.txt"
    Files.write(Paths.get(idFile), "16,20".getBytes("UTF-8"))
    val orch = new Orchestrator(spark, cat, outDir, _ => Right(Array[Byte](1)))
    assert(orch.runModule("posts", Some(idFile)) == 2)
    intercept[IllegalArgumentException] { orch.runModule("nope") }
  }

  test("an ID-restricted re-export keeps every merged entry in the master manifest") {
    val outDir = Files.createTempDirectory("wpidsman").toString
    val orch = new Orchestrator(spark, cat, outDir, _ => Right(Array[Byte](1)))
    assert(orch.runModule("posts") == 3)
    val idFile = s"$outDir/ids.txt"
    Files.write(Paths.get(idFile), "18".getBytes("UTF-8"))
    assert(orch.runModule("posts", Some(idFile)) == 3)
    def keys(json: String) = graft.sinks.KeyedJsonSink.topLevelEntries(json)
    val entries = keys(new String(Files.readAllBytes(
      Paths.get(s"$outDir/entries/posts/en-us.json")), "UTF-8"))
    assert(entries.map(_._1) == Seq("16", "18", "20"))
    val manifest = keys(new String(Files.readAllBytes(
      Paths.get(s"$outDir/master/entries/posts.json")), "UTF-8"))
    assert(manifest.map(_._1) == Seq("en-us"))
    assert(keys(manifest.head._2).map(_._1) == Seq("16", "18", "20"))
  }

  test("ExportMain CLI arg contract matches app.js:9-39") {
    import ExportMain._
    // app.js:24-33 — no args: every module, reference order
    assert(parse(Seq()) == RunAll)
    // app.js:11-19 — `module [idfile]`
    assert(parse(Seq("posts")) == RunOne("posts", None))
    assert(parse(Seq("authors", "ids.txt")) ==
      RunOne("authors", Some("ids.txt")))
    // app.js:21 — unknown module name, with or without an idfile
    assert(parse(Seq("pages")) == Bad("please provide valid module name."))
    assert(parse(Seq("pages", "ids.txt")) ==
      Bad("please provide valid module name."))
    // app.js:36 — more than module+idfile
    assert(parse(Seq("posts", "authors", "x")) ==
      Bad("only one module can be exported at a time."))
    assert(modulesList == Seq("assets", "authors", "categories", "posts"))
  }
}
