package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Permalink, StringFns}
import graft.operators.EavOps
import graft.sources.WpCatalog

/** The four reference pipelines re-expressed as declarative DataFrame
  * compositions over the operator library. Each returns the entry rows
  * (uid + fields per the contenttypes JSON schemas); sinks are applied by the
  * [[Orchestrator]]. Reference fidelity bugs are intentionally NOT
  * replicated (SURVEY.md §7.4): J3's NPE on authorless posts, J7's
  * cross-batch parent loss, the posts-ctor config race.
  */
object Pipelines {

  private def slugUrl(prefix: String, c: Column): Column =
    StringFns.urlPrefix(prefix, StringFns.slugify(c))

  /** The reference's MySQL discriminator columns (`meta_key`,
    * `post_type`, `post_status`, `taxonomy`, `option_name`) compare
    * under `utf8_general_ci` (libs/export/authors.js:22-24,
    * posts.js:24): `meta_key = 'first_name'` MATCHES a row stored as
    * 'First_Name'. Spark string equality is binary, so a real WP dump
    * with mixed-case keys would silently drop rows the reference keeps.
    * `spark.graft.wp.ciCollation=true` opts in to reference parity:
    * discriminators are lowercased before every compare/pivot (the
    * ASCII-exact core of utf8_general_ci; Spark 4's UTF8_LCASE collation
    * is the native equivalent for plain filters, but pivot column names
    * need the canonical lowercase value anyway, so one mechanism serves
    * both). Default stays case-sensitive Spark semantics. */
  private def ciMode(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.wp.ciCollation").exists(_.toBoolean)

  /** Discriminator column under the session's collation mode. Literals
    * compared against it must already be lowercase (they all are). */
  private def disc(spark: SparkSession, c: Column): Column =
    if (ciMode(spark)) lower(c) else c

  /** Authors (reference: libs/export/authors.js:22-58): EAV widening via
    * one pivot instead of 3 self-joins (J1), slugified author URL (F1/F2).
    * `dropIncomplete=true` reproduces the reference's INNER-join drop of
    * users missing any meta key (README.md:77); default keeps them. */
  def authors(spark: SparkSession, cat: WpCatalog,
              dropIncomplete: Boolean = false): DataFrame = {
    val users = cat.table(spark, "users")
    // ci mode rewrites meta_key itself (not just the compare): the pivot
    // below names its output columns from the VALUES, so 'First_Name'
    // must canonicalize to the 'first_name' column, like MySQL's
    // ci-collated GROUP BY folds both spellings into one group
    val meta = cat.table(spark, "usermeta")
      .withColumn("meta_key", disc(spark, col("meta_key")))
      .filter(col("meta_key").isin("first_name", "last_name", "description"))
    val wide = EavOps.pivot(meta, "user_id", "meta_key", "meta_value",
      Seq("first_name", "last_name", "description"))
    val joined = users.join(wide, users("ID") === wide("user_id"), "left_outer")
    val filtered =
      if (dropIncomplete)
        joined.filter(col("first_name").isNotNull &&
          col("last_name").isNotNull && col("description").isNotNull)
      else joined
    filtered.select(
      col("ID"),
      col("user_login").as("title"),
      slugUrl("/author/", col("user_login")).as("url"),
      col("user_email").as("email"),
      coalesce(col("first_name"), lit("")).as("first_name"),
      coalesce(col("last_name"), lit("")).as("last_name"),
      coalesce(col("description"), lit("")).as("biographical_info"),
      col("user_login").as("uid"))
  }

  /** Categories (reference: categories.js:22-73): terms ⋈ term_taxonomy
    * (J2), taxonomy filter (P7), entity decode (F3), parent slug via a
    * proper self-join (J7 done right — no batch-ordering dependence). */
  def categories(spark: SparkSession, cat: WpCatalog): DataFrame = {
    val terms = cat.table(spark, "terms")
    val tt = cat.table(spark, "term_taxonomy")
      .filter(disc(spark, col("taxonomy")) === "category")
    val cats = terms.join(tt, "term_id")
      .select(col("term_id").as("ID"), col("name"), col("slug"),
        col("description"), col("parent"))
    val parents = cats.select(col("ID").as("p_id"), col("slug").as("parent_slug"))
    cats.join(broadcast(parents), cats("parent") === parents("p_id"), "left_outer")
      .select(
        col("ID").as("id"),
        StringFns.entityDecode(col("name")).as("title"),
        slugUrl("/category/", col("slug")).as("url"),
        coalesce(StringFns.entityDecode(col("description")), lit("")).as("description"),
        // parent array: [parentslug] or [""] for roots (categories.js:60-67)
        when(col("parent") =!= 0 && col("parent_slug").isNotNull,
          array(col("parent_slug"))).otherwise(array(lit(""))).as("parent"),
        col("slug").as("uid"))
  }

  /** Posts (reference: posts.js:24-163): published posts only (P5), left
    * join to authors (J3, null-safe), decorrelated category-list agg
    * (J5/A2 as sorted ArrayType — no pack/unpack round-trip), permalink
    * from config scalars resolved BEFORE the DAG (kills the ctor race),
    * ISO date (F6), guid fallback (F4), featured image join (J8). */
  def posts(spark: SparkSession, cat: WpCatalog): DataFrame = {
    val p = cat.table(spark, "posts")
      .filter(disc(spark, col("post_type")) === "post" &&
        disc(spark, col("post_status")) === "publish")
    val users = cat.table(spark, "users")

    // config scalars resolved before plan construction (§3.4)
    val opts = cat.table(spark, "options")
      .filter(disc(spark, col("option_name"))
        .isin("permalink_structure", "siteurl"))
      // by name: WordPress's wp_options starts with option_id
      .select(col("option_name"), col("option_value"))
      .collect().map { r =>
        val k = if (ciMode(spark)) r.getString(0).toLowerCase else r.getString(0)
        k -> Option(r.getString(1)).getOrElse("")
      }.toMap
    val structure = opts.getOrElse("permalink_structure", "")

    // J5 decorrelated: per-post sorted category slug list
    val rel = cat.table(spark, "term_relationships")
    val tt = cat.table(spark, "term_taxonomy")
      .filter(disc(spark, col("taxonomy")) === "category")
    val terms = cat.table(spark, "terms")
    val postCats = rel.join(tt, "term_taxonomy_id").join(terms, "term_id")
      .groupBy(col("object_id"))
      .agg(sort_array(collect_list(col("slug"))).as("category"))

    // J8: the _thumbnail_id rows (assets.js:49-65, the reference's
    // _featured.json) join the filtered posts; wp_posts is scanned once
    val featured = cat.table(spark, "postmeta")
      .filter(disc(spark, col("meta_key")) === "_thumbnail_id")
      .select(col("post_id"), col("meta_value").cast("long").as("thumbnail_id"))

    val url: Column =
      if (structure.nonEmpty)
        Permalink.expand(structure, col("post_date_gmt"), col("ID"), col("post_name"))
      else {
        // empty structure → derive the path from the guid by splitting at
        // the blog-name segment of siteurl (posts.js:62-77: blogname =
        // last non-empty segment of siteurl.split("/"), then
        // url.split(blogname)[1]). JS split-by-string [1] is the text
        // between the 1st and 2nd occurrence — Spark's get(split(..), 1)
        // with a regex-quoted literal reproduces it exactly. For a WP
        // install at example.com/blog this keeps "/?p=7", where bare
        // relativize would keep "/blog/?p=7". Guids not containing the
        // blog segment fall back to relativize (the reference returns
        // undefined there — an NPE-class bug SURVEY §7.4 says not to
        // replicate).
        val siteurl = opts.getOrElse("siteurl", "")
        val blogname = siteurl.split("/").reverse.find(_.nonEmpty).getOrElse("")
        if (blogname.isEmpty) StringFns.relativize(col("guid"))
        else coalesce(
          get(split(col("guid"),
            java.util.regex.Pattern.quote(blogname)), lit(1)),
          StringFns.relativize(col("guid")))
      }

    p.join(users, p("post_author") === users("ID"), "left_outer")
      .join(postCats, p("ID") === postCats("object_id"), "left_outer")
      .join(broadcast(featured), p("ID") === featured("post_id"), "left_outer")
      .select(
        p("ID").cast("string").as("uid"),
        col("post_title").as("title"),
        url.as("url"),
        // J3 null-safe: authorless posts get [], not an NPE (posts.js:150)
        when(col("user_login").isNotNull, array(col("user_login")))
          .otherwise(array().cast("array<string>")).as("author"),
        StringFns.isoDate(col("post_date_gmt")).as("date"),
        StringFns.relativize(col("guid")).as("guid"),
        col("post_content").as("full_description"),
        coalesce(col("category"), array().cast("array<string>")).as("category"),
        coalesce(col("thumbnail_id").cast("string"), lit("")).as("featured_image"))
  }

  /** Assets (reference: assets.js:26-148): attachment scan (S2/P6),
    * filename from guid (F8/F10), encodeURI (F9) — returns the fetch plan
    * rows; the side-effecting download happens in HttpFetchSink. */
  def assets(spark: SparkSession, cat: WpCatalog): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    cat.table(spark, "posts")
      .filter(disc(spark, col("post_type")) === "attachment")
      .select(
        col("ID").cast("string").as("uid"),
        StringFns.lastSegment(col("guid")).as("filename"),
        call_function("encode_uri", col("guid")).as("url"),
        lit(true).as("status"))
  }
}
