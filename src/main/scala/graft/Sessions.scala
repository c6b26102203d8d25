package graft

import org.apache.spark.sql.SparkSession

/** The one session policy of the catalog and export harnesses (Bench,
  * Verify, Explain, LakeLookupBench, PipelineBench), so their numbers are
  * taken under the same engine settings. `ExportMain` builds its own: its
  * master and shuffle partitions are deployment settings. */
object Sessions {

  /** A local session on `SPARK_GRAFT_CPUS` cores (default: every core the
    * JVM sees), one shuffle partition per core, UTC, no UI, WARN logging.
    * `conf` adds caller-specific settings. AQE is Spark 4's default. */
  def local(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the compiled-codegen cache holds 100 classes by default — far
      // fewer than a catalog run generates. Evictions make later runs of
      // an UNCHANGED plan re-pay Janino compilation (~0.1-0.4 s), which
      // reads as position-pinned noise. Static conf, so it must be set
      // before session creation.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
