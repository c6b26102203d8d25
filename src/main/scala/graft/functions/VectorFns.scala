package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product of two `array<double>` columns.
  *
  * The similarity family (brute-force kNN, LSH/IVF ANN, cosine near-dup)
  * ranks every candidate pair by a 64-dim dot product. The higher-order
  * `aggregate(zip_with(...))` form is interpreted per element — at
  * ~500k candidate pairs that is ~32M lambda invocations per query
  * (measured 28.7 s for q45 at sf0.1). This expression compiles to a
  * tight primitive loop inside whole-stage codegen: no lambda, no
  * boxing, no per-element virtual dispatch.
  *
  * Summation is sequential left-to-right, matching both the HOF form it
  * replaces and DuckDB's `list_sum(list_transform(...))` oracle, so
  * float results stay bit-identical. Array elements must be non-null
  * (embeddings are dense); a null array yields null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points for the vector expressions. Resolution goes
  * through the session function registry (`call_function`), so the
  * session must have had [[graft.plans.GraftPlanner.install]] run on it —
  * every catalog query and the `Orchestrator` do. */
object VectorFns {
  /** Codegen'd dot product; casts both sides to `array<double>` so it
    * accepts the raw `array<float>` embedding column directly. */
  def dot(a: Column, b: Column): Column =
    call_function("dot_product",
      a.cast("array<double>"), b.cast("array<double>"))
}
