package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions._

/** The one place graft is installed into a session: its codegen'd SQL
  * functions, the [[WindowTopKRule]] and [[EavPivotRule]] optimizer rules
  * and the [[TopKStrategy]] planner strategy. [[graft.SparkEntry.queries]]
  * installs before every catalog query and the
  * [[graft.pipelines.Orchestrator]] constructor before any export, so a
  * query's plan never depends on which query ran before it in a session. */
object GraftPlanner {
  /** Every graft SQL function: `call_function(name, ...)` / SQL `name(...)`. */
  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "encode_uri" -> (e => EncodeUri(e.head)),
    "dot_product" -> (e => DotProduct(e.head, e(1))),
    "hp_signatures" -> (e => HyperplaneSignatures(e.head, e(1), e(2))),
    "hp_probes" -> (e => HyperplaneProbes(e.head, e(1), e(2), e(3))),
    "nearest_cells" -> (e => NearestCells(e.head, e(1), e(2))),
    "nearest_cells_col" -> (e => NearestCellsCol(e.head, e(1), e(2))),
    "nfc_normalize" -> (e => NfcNormalize(e.head)),
    "char_entropy_nano_sum" -> (e => CharEntropyNanoSum(e.head)),
    "char_ngram_distinct" -> (e =>
      CharNgramDistinct(e.head, e(1).eval().asInstanceOf[Int])),
    "char_ngram_max_count" -> (e =>
      CharNgramMaxCount(e.head, e(1).eval().asInstanceOf[Int])),
    "winnow_distinct" -> (e => WinnowDistinct(e.head,
      e(1).eval().asInstanceOf[Int], e(2).eval().asInstanceOf[Int])),
    "jaro_winkler_milli" -> (e => JaroWinklerMilli(e.head, e(1))),
    "damerau_levenshtein" -> (e => DamerauLevenshtein(e.head, e(1))))

  /** Idempotent: skips a function name already registered (no "replaced a
    * previously registered function" warning per query) and a rule or
    * strategy already present. */
  def install(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (reg.lookupFunctionBuilder(FunctionIdentifier(name)).isEmpty)
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(WindowTopKRule))
      exp.extraOptimizations = exp.extraOptimizations :+ WindowTopKRule
    if (!exp.extraOptimizations.contains(EavPivotRule))
      exp.extraOptimizations = exp.extraOptimizations :+ EavPivotRule
    if (!exp.extraStrategies.contains(TopKStrategy))
      exp.extraStrategies = exp.extraStrategies :+ TopKStrategy
  }
}
