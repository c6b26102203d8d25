package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query in the engine's public surface.
  *
  * @param name      stable snake_case identifier (drives CORRECTNESS/BENCH keys)
  * @param run       Spark plan builder: (session, scale-factor dir) => result
  * @param oracle    equivalent ANSI SQL for the DuckDB oracle over the same
  *                  parquet tables; None for ops whose semantics aren't
  *                  SQL-expressible (driver then records a rows-only check)
  * @param bench     include in the benchmark run
  * @param oracleDyn scale-adaptive oracle: (session, sf dir) => SQL, for
  *                  queries whose sizing parameters (LSH planes, IVF cell
  *                  counts, PQ anchor strides) derive from the live corpus
  *                  row count. Verify resolves this against the ACTUAL dir
  *                  being verified, so the identical hash-exact check runs
  *                  at any SF; `oracle` stays as the sf0.01-shaped snapshot
  *                  (the two must agree at sf0.01 — pinned in OracleDynSpec).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = true,
    oracleDyn: Option[(SparkSession, String) => String] = None)

/** A group of related queries (one per SURVEY.md §2 operator family). */
trait QueryModule {
  def qs: Seq[Q]
}

/** Parquet table loader for the driver-generated testdata directories. */
object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{LongType, StructField}

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one testdata table. `events.ts` is parquet TIMESTAMP(NANOS),
    * which Spark 4 rejects outright (PARQUET_TYPE_ILLEGAL); we read it as
    * raw nanos (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to a
    * proper microsecond timestamp with integral `div` (a double division
    * would lose precision above 2^53 ns). DuckDB applies the same ns→us
    * truncation when it reads the file, so oracle comparisons line up.
    * The conf is set on the session once per query by
    * [[graft.SparkEntry.queries]] (and once by the test session), not on
    * every table read. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) {
      case (acc, StructField(c, LongType, _, _)) if c == "ts" && name == "events" =>
        acc.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case (acc, _) => acc
    }
  }
}
