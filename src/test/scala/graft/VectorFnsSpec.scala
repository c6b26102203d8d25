package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFns
import graft.operators.SimilarityOps

/** The matrix-form vector expressions must be drop-in equivalent to the
  * composable forms they replaced (per-plane dots / sort of scored
  * structs) — these tests pin that equivalence on real embedding data
  * plus constructed tie cases.
  */
class VectorFnsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("dot_product equals the interpreted higher-order fold bit-for-bit") {
    val df = graft.catalog.Tables.t(spark, sf, "embeddings")
      .select(col("embedding").cast("array<double>").as("a"),
        reverse(col("embedding")).cast("array<double>").as("b"))
    val hof = aggregate(zip_with($"a", $"b", (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val bad = df
      .select(VectorFns.dot($"a", $"b").as("fast"), hof.as("slow"))
      .filter($"fast" =!= $"slow")
      .count()
    assert(bad == 0L)
  }

  test("hp_signatures equals the per-plane hyperplaneSignature column") {
    val tables = SimilarityOps.lshTables(planes = 5, tables = 4, dim = 64)
    val flat: Seq[Seq[Double]] = tables.flatten.map(_.toSeq)
    val df = graft.catalog.Tables.t(spark, sf, "embeddings")
    val sigs = df.select(
      call_function("hp_signatures",
        col("embedding").cast("array<double>"),
        typedLit(flat), lit(tables.head.length)).as("m"),
      array(tables.map(pl =>
        SimilarityOps.hyperplaneSignature(col("embedding"), pl)): _*).as("p"))
    assert(sigs.filter($"m" =!= $"p").count() == 0L)
  }

  test("nearest_cells ranks by dot desc with ties to the smaller index") {
    // centroids: index 1 and 2 tie exactly for the query (1,0); index 0 wins.
    val cents: Seq[Seq[Double]] =
      Seq(Seq(2.0, 0.0), Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    val got = Seq(Tuple1(Array(1.0, 0.0))).toDF("v")
      .select(call_function("nearest_cells", $"v", typedLit(cents), lit(3)).as("c"))
      .as[Seq[Int]].head()
    assert(got == Seq(0, 1, 2))
  }

  test("nearest_cells handles nprobe larger than the centroid count") {
    val cents: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val got = Seq(Tuple1(Array(0.0, 2.0))).toDF("v")
      .select(call_function("nearest_cells", $"v", typedLit(cents), lit(5)).as("c"))
      .as[Seq[Int]].head()
    assert(got == Seq(1, 0))
  }
}
