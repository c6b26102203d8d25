package graft.sources

import org.apache.spark.sql.types._

/** Explicit schema-on-read for the 8 WordPress source tables the reference
  * consumes (SURVEY.md §1.1 / FIXTURES.md §1). The reference relies on
  * implicit SQL projections; at scale explicit StructTypes keep JDBC and
  * parquet reads prunable and stable. Table names take a configurable
  * prefix (reference: config/index.json:4, default "wp_").
  */
object WpSchemas {

  val users: StructType = StructType(Seq(
    StructField("ID", LongType, nullable = false),
    StructField("user_login", StringType),
    StructField("user_email", StringType)))

  /** EAV (reference: libs/export/authors.js:22-24). */
  val usermeta: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("meta_key", StringType),
    StructField("meta_value", StringType)))

  val terms: StructType = StructType(Seq(
    StructField("term_id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("slug", StringType)))

  val termTaxonomy: StructType = StructType(Seq(
    StructField("term_taxonomy_id", LongType, nullable = false),
    StructField("term_id", LongType),
    StructField("taxonomy", StringType),
    StructField("description", StringType),
    StructField("parent", LongType)))

  val termRelationships: StructType = StructType(Seq(
    StructField("object_id", LongType),
    StructField("term_taxonomy_id", LongType)))

  /** Posts AND attachments, discriminated by post_type (reference:
    * posts.js:24-26, assets.js:26-29). */
  val posts: StructType = StructType(Seq(
    StructField("ID", LongType, nullable = false),
    StructField("post_author", LongType),
    StructField("post_title", StringType),
    StructField("post_name", StringType),
    StructField("post_status", StringType),
    StructField("post_type", StringType),
    StructField("post_content", StringType),
    StructField("post_date", TimestampType),
    StructField("post_date_gmt", TimestampType),
    StructField("guid", StringType)))

  /** EAV (reference: assets.js:29). */
  val postmeta: StructType = StructType(Seq(
    StructField("post_id", LongType),
    StructField("meta_key", StringType),
    StructField("meta_value", StringType)))

  val options: StructType = StructType(Seq(
    StructField("option_name", StringType),
    StructField("option_value", StringType)))

  val all: Map[String, StructType] = Map(
    "users" -> users, "usermeta" -> usermeta, "terms" -> terms,
    "term_taxonomy" -> termTaxonomy, "term_relationships" -> termRelationships,
    "posts" -> posts, "postmeta" -> postmeta, "options" -> options)
}
