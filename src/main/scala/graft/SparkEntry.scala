package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Q
import graft.operators._
import graft.plans.GraftPlanner

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family from SURVEY.md §2 contributes a [[graft.catalog.Q]]
  * (Spark plan + DuckDB oracle SQL) through a [[graft.catalog.QueryModule]].
  */
object SparkEntry {

  /** All registered query modules, in SURVEY.md §2 order. Built once per
    * JVM, like the maps below (a rebuild costs tens of milliseconds): no
    * Q reads session or environment state when it is constructed. */
  lazy val modules: Seq[Q] =
    RelationalQueries.qs ++ ScalarFnQueries.qs ++ TextQueries.qs ++
      DedupQueries.qs ++ CorpusQueries.qs ++ SimilarityQueries.qs ++
      MultimodalQueries.qs ++ ExtensionQueries.qs ++ CleaningQueries.qs ++
      AnalyticsQueries.qs ++ GovernanceQueries.qs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * q100 composes five curation stages (quality gate, duplicated-span
    * gate, fingerprint dedup on TopKPerKeyExec, split filter, sequence
    * packing) in one plan — the most representative single entry point. */
  def entry(spark: SparkSession): DataFrame =
    queries("q100_pipeline_v2")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each run first
    * installs graft ([[GraftPlanner.install]]) and sets the session's
    * parquet conf for [[graft.catalog.Tables.t]], so a query plans the
    * same whichever queries ran before it in the session. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> { (s: SparkSession, d: String) =>
      GraftPlanner.install(s)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      q.run(s, d)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    modules.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap

  /** Like [[oracleSql]], but scale-adaptive: queries with a dynamic
    * oracle (sizing derived from the live corpus row count) resolve
    * check runs at any SF. Only the `names` queries are resolved. */
  def oracleSqlFor(spark: SparkSession, sfDir: String,
                   names: Seq[String]): Map[String, String] =
    modules.filter(q => names.contains(q.name)).flatMap { q =>
      q.oracleDyn.map(f => q.name -> f(spark, sfDir).trim)
        .orElse(q.oracle.map(sql => q.name -> sql.trim))
    }.toMap

  /** Names of queries included in the benchmark run. */
  lazy val benchQueries: Seq[String] = modules.filter(_.bench).map(_.name)

  /** The harnesses' query selection: the catalog names, in catalog order,
    * that contain any of the trimmed, non-empty `filters`; every name
    * when there are none. */
  def select(filters: Seq[String]): Seq[String] = {
    val fs = filters.map(_.trim).filter(_.nonEmpty)
    modules.map(_.name).filter(n => fs.isEmpty || fs.exists(n.contains))
  }

  /** [[select]] for a main's command line: exits 1, naming them, when
    * any filter matches no query, so a typo never runs a partial or
    * empty selection. */
  def selectOrExit(filters: Seq[String]): Seq[String] = {
    val unmatched = filters.map(_.trim)
      .filter(f => f.nonEmpty && select(Seq(f)).isEmpty)
    if (unmatched.nonEmpty) {
      System.err.println(
        s"no catalog query name contains: ${unmatched.mkString(", ")}")
      sys.exit(1)
    }
    select(filters)
  }
}
