package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel shared by interpreted eval and generated code. */
object PolyHashUtil {
  final val Mod = 1000000007L

  /** fold(h*31 + codepoint) mod p over the string's code points — the
    * native equivalent of TextFunctions.polyHash's expression fold
    * (aggregate over split(s,"") with ascii()), bit-identical for any
    * text whose characters are in the BMP (ascii() yields the code point). */
  def hash(s: UTF8String): Long = {
    if (s == null) return 0L
    val str = s.toString
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/**
 * Native Catalyst expression: polynomial rolling hash of a string column.
 *
 * The expression-only formulation (split into 1-char strings, higher-order
 * aggregate with ascii()) allocates an array of single-character
 * UTF8Strings per row and runs an interpreted lambda per character; this
 * expression evaluates the same fold in a tight loop with real codegen —
 * the "custom Expression beats UDF beats anything else" tier of the
 * extension ladder. Semantics (and the DuckDB oracle) are unchanged.
 */
case class PolyHash(child: Expression)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    PolyHashUtil.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyHashUtil.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)

  override def prettyName: String = "poly_hash"
}

object PolyHash {
  /** Column-level entry point. */
  def apply(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      PolyHash(org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Register as SQL function `poly_hash` on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "poly_hash", exprs => PolyHash(exprs.head), "built-in")
}
