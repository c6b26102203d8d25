package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LeafNode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The EAV self-join-chain -> pivot optimizer rule: plan shape (one scan,
  * one aggregate, no join) and result equivalence against the unrewritten
  * join, including the inner-join drop semantics.
  *
  * Arms are parquet-backed: over in-memory data the optimizer's
  * ConvertToLocalRelation folds the filter arms into literal relations
  * before any pattern is visible — the scan-shaped plan is the one that
  * exists at any real scale.
  */
class EavPivotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val conf = "spark.graft.eav.pivotJoinChains"
  private val entConf = "spark.graft.eav.entityColumn"

  // wp_usermeta shape: user 3 is missing last_name, user 4 missing both
  private lazy val eavDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("eav").toString
    Seq(
      (1L, "first_name", "ada"), (1L, "last_name", "lovelace"), (1L, "nickname", "al"),
      (2L, "first_name", "grace"), (2L, "last_name", "hopper"),
      (3L, "first_name", "alan"), (3L, "nickname", "turing"),
      (4L, "nickname", "anon"))
      .toDF("user_id", "meta_key", "meta_value")
      .write.mode("overwrite").parquet(dir)
    dir
  }
  private def eav: DataFrame = spark.read.parquet(eavDir)

  /** The naive chain the reference's SQL maps to (authors.js:22-24). */
  private def chain(src: DataFrame): DataFrame = {
    val m1 = src.filter($"meta_key" === "first_name")
      .select($"user_id", $"meta_value".as("first_name"))
    val m2 = src.filter($"meta_key" === "last_name")
      .select($"user_id".as("uid2"), $"meta_value".as("last_name"))
    m1.join(m2, $"user_id" === $"uid2")
      .select($"user_id", $"first_name", $"last_name")
  }

  private def withRule[T](on: Boolean, entity: String = "user_id")(f: => T): T = {
    spark.conf.set(conf, on.toString)
    spark.conf.set(entConf, entity)
    try f finally {
      spark.conf.set(conf, "false")
      spark.conf.unset(entConf)
    }
  }

  private def scanCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case l: LeafNode => l }.size

  private def joinCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  test("rewrites a 2-arm chain to one scan + one aggregate, same result") {
    val want = withRule(on = false)(
      chain(eav).collect().map(_.toString).toSet)
    withRule(on = true) {
      val df = chain(eav)
      assert(joinCount(df) == 0, df.queryExecution.optimizedPlan.toString)
      assert(scanCount(df) == 1)
      assert(df.queryExecution.optimizedPlan.collect {
        case a: Aggregate => a }.nonEmpty)
      assert(df.collect().map(_.toString).toSet == want)
      // inner-join drop semantics: users 3 (no last_name) and 4 excluded
      assert(df.select($"user_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    }
  }

  test("3-arm chain (with pruning Projects between joins) rewrites and matches") {
    def chain3(s: DataFrame): DataFrame = {
      val m1 = s.filter($"meta_key" === "first_name")
        .select($"user_id", $"meta_value".as("first_name"))
      val m2 = s.filter($"meta_key" === "last_name")
        .select($"user_id".as("u2"), $"meta_value".as("last_name"))
      val m3 = s.filter($"meta_key" === "nickname")
        .select($"user_id".as("u3"), $"meta_value".as("nickname"))
      m1.join(m2, $"user_id" === $"u2").join(m3, $"user_id" === $"u3")
        .select($"user_id", $"first_name", $"last_name", $"nickname")
    }
    val want = withRule(on = false)(
      chain3(eav).collect().map(_.toString).toSet)
    withRule(on = true) {
      val df = chain3(eav)
      assert(joinCount(df) == 0, df.queryExecution.optimizedPlan.toString)
      assert(scanCount(df) == 1)
      assert(df.collect().map(_.toString).toSet == want)
      assert(want.nonEmpty) // only user 1 has all three keys
    }
  }

  test("EavOps.selfJoinChain (q71's shape) rewrites to one scan and matches rule-off") {
    import graft.operators.EavOps
    def chain(): DataFrame = EavOps.selfJoinChain(
      eav, "user_id", "meta_key", "meta_value",
      Seq("first_name", "last_name", "nickname"))
    val want = withRule(on = false)(chain().collect().map(_.toString).toSet)
    withRule(on = true) {
      val df = chain()
      assert(joinCount(df) == 0, df.queryExecution.optimizedPlan.toString)
      assert(scanCount(df) == 1)
      assert(df.collect().map(_.toString).toSet == want)
      assert(want.map(_.split(",")(0).drop(1)) == Set("1")) // only user 1 has all 3
    }
  }

  test("rule is off by default and leaves the join intact") {
    assert(spark.conf.getOption(conf).forall(_ == "false"))
    assert(joinCount(chain(eav)) == 1)
  }

  test("does not fire on a chain joined on a non-entity column (meta_value)") {
    withRule(on = true) {
      // structurally identical to the entity chain, but linked on the
      // VALUE column — many-to-many, a pivot would be wrong
      val m1 = eav.filter($"meta_key" === "first_name")
        .select($"meta_value", $"user_id".as("uid1"))
      val m2 = eav.filter($"meta_key" === "last_name")
        .select($"meta_value".as("v2"), $"user_id".as("uid2"))
      val df = m1.join(m2, $"meta_value" === $"v2")
      assert(joinCount(df) == 1, df.queryExecution.optimizedPlan.toString)
    }
  }

  test("does not fire when entityColumn conf is unset") {
    spark.conf.set(conf, "true")
    try {
      spark.conf.unset(entConf)
      assert(joinCount(chain(eav)) == 1)
    } finally spark.conf.set(conf, "false")
  }

  test("does not fire on arms with extra non-key predicates") {
    withRule(on = true) {
      val m1 = eav.filter($"meta_key" === "first_name" && length($"meta_value") > 2)
        .select($"user_id", $"meta_value".as("first_name"))
      val m2 = eav.filter($"meta_key" === "last_name")
        .select($"user_id".as("u2"), $"meta_value".as("last_name"))
      val df = m1.join(m2, $"user_id" === $"u2")
      assert(joinCount(df) == 1)
    }
  }

  test("does not fire across different base tables") {
    withRule(on = true) {
      val dir = java.nio.file.Files.createTempDirectory("eav2").toString
      Seq((1L, "last_name", "x"))
        .toDF("user_id", "meta_key", "meta_value")
        .write.mode("overwrite").parquet(dir)
      val other = spark.read.parquet(dir)
      val m1 = eav.filter($"meta_key" === "first_name")
        .select($"user_id", $"meta_value".as("fn"))
      val m2 = other.filter($"meta_key" === "last_name")
        .select($"user_id".as("u2"), $"meta_value".as("ln"))
      assert(joinCount(m1.join(m2, $"user_id" === $"u2")) == 1)
    }
  }
}
