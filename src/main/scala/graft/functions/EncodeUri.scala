package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JS `encodeURI` semantics (reference: libs/export/assets.js:77) — the one
  * scalar with no Spark built-in (SURVEY.md F9). Pure JVM implementation,
  * shared by interpreted eval and generated code.
  */
object UriCodec {
  // Characters encodeURI leaves as-is: unreserved + reserved + '#'
  // (ECMA-262 §19.2.6.4 uriUnescaped ∪ uriReserved ∪ {'#'}).
  private val keep: Array[Boolean] = {
    val k = new Array[Boolean](128)
    for (c <- 'A' to 'Z') k(c) = true
    for (c <- 'a' to 'z') k(c) = true
    for (c <- '0' to '9') k(c) = true
    "-_.!~*'();/?:@&=+$,#".foreach(c => k(c) = true)
    k
  }
  private val hex = "0123456789ABCDEF"

  def encode(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b < 128 && keep(b)) sb.append(b.toChar)
      else {
        sb.append('%').append(hex(b >> 4)).append(hex(b & 0xf))
      }
      i += 1
    }
    sb.toString
  }
}

/** Catalyst expression wrapping [[UriCodec.encode]]; stays inside
  * whole-stage codegen via `defineCodeGen` (a static call into UriCodec —
  * no UDF serialization, no interpretation in the hot path). */
case class EncodeUri(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "encode_uri"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(UriCodec.encode(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.UriCodec.encode($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): EncodeUri =
    copy(child = newChild)
}
