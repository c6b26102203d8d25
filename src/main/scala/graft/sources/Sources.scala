package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A named relational source catalog: where the WordPress tables live.
  * The reference opens one MySQL connection per module and paginates with
  * LIMIT/OFFSET (SURVEY.md S1-S4); here a source is a partitioned Spark
  * read and pagination disappears.
  */
trait WpCatalog {
  def table(spark: SparkSession, name: String): DataFrame
}

/** Parquet-backed catalog (tests, lakehouse staging). */
final class ParquetCatalog(dir: String, prefix: String = "wp_") extends WpCatalog {
  def table(spark: SparkSession, name: String): DataFrame =
    spark.read.schema(WpSchemas.all(name)).parquet(s"$dir/$prefix$name.parquet")
}

/** JDBC catalog — the production path (reference: libs/utils/helper.js:43-51
  * mysql connection). Reads are partitioned on the numeric key so a
  * 1000-executor cluster scans in parallel instead of the reference's
  * serialized 100-row OFFSET pages (SURVEY.md §4.1).
  */
final class JdbcCatalog(url: String, dbProps: java.util.Properties,
                        prefix: String = "wp_",
                        numPartitions: Int = 64) extends WpCatalog {
  /** Partition column per table (the PK the reference pages over). */
  private val partitionKey: Map[String, String] = Map(
    "users" -> "ID", "usermeta" -> "user_id", "terms" -> "term_id",
    "term_taxonomy" -> "term_taxonomy_id", "term_relationships" -> "object_id",
    "posts" -> "ID", "postmeta" -> "post_id", "options" -> "option_id")

  def table(spark: SparkSession, name: String): DataFrame = {
    val t = s"$prefix$name"
    val key = partitionKey(name)
    // bounds probe is one tiny aggregate query (replaces S4 count probes)
    val bounds = spark.read.jdbc(url,
      s"(SELECT min($key) AS lo, max($key) AS hi FROM $t) b", dbProps)
    val row = bounds.head()
    // JDBC drivers type the PK per dialect (MySQL INT -> Integer,
    // BIGINT UNSIGNED -> BigDecimal, Derby INT -> Integer): accept any
    // numeric rather than assuming Long.
    if (row.isNullAt(0)) spark.read.jdbc(url, t, dbProps)
    else spark.read.jdbc(url, t, key,
      row.getAs[java.lang.Number](0).longValue(),
      row.getAs[java.lang.Number](1).longValue(),
      numPartitions, dbProps)
  }
}

/** S5 — ID-list file source (retry/partial export): comma-separated IDs in
  * a user-supplied text file (reference: app.js:12, authors.js:139-141).
  * Built as Column expressions — never string-spliced into SQL (the
  * reference's injection hazard, SURVEY.md §2.9). */
object IdListSource {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("line")
      .select(explode(split(trim(col("line")), ",")).as("id_str"))
      .filter(col("id_str") =!= "")
      .select(col("id_str").cast("long").as("id"))
}
