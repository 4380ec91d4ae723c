package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Static kernel for the quadratic-kernel MMD second-moment cells: the
  * upper-triangle quantized products of an embedding vector as
  * (cell = i·65 + jj, p = q_i·q_j) structs with q_i = floor(x_i·2^20) —
  * bit-identical to the r05 nested-HOF pipeline
  * `flatten(transform(q, (xi,i) => transform(slice(q, i+1, 64-i),
  * (xj,jj) => struct(i·65+jj, xi·xj))))` including the literal 64
  * clamp and null-element propagation (a null component yields a null
  * product in the same cell slot), without the per-element slice
  * allocation + interpreted lambdas. */
object MmdCellUtil {
  def cells(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val q = new Array[Long](n)
    val qNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) qNull(i) = true
      else q(i) = math.floor(arr.getFloat(i).toDouble * 1048576.0).toLong
      i += 1
    }
    // inner slice(q, i+1, 64-i): elements i .. min(n, 64)-1 (0-based)
    val lim = math.min(n, 64)
    var total = 0
    i = 0
    while (i < n) { if (lim - i > 0) total += lim - i; i += 1 }
    val out = new Array[Any](total)
    var oi = 0
    i = 0
    while (i < n) {
      var j = i
      while (j < lim) {
        val cell = i.toLong * 65L + (j - i)
        val row = new GenericInternalRow(2)
        row.update(0, cell)
        if (qNull(i) || qNull(j)) row.update(1, null)
        else row.update(1, q(i) * q(j))
        out(oi) = row
        oi += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression over [[MmdCellUtil.cells]]. */
case class MmdCellProducts(child: Expression)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cell", LongType, nullable = false),
      StructField("p", LongType, nullable = true))),
    containsNull = false)

  /** The kernel reads elements with `getFloat`: any other element type
    * must fail analysis, not quantize garbage bits. */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "mmd_cell_products needs an array<float> input, got " +
        other.simpleString)
  }

  override def nullSafeEval(input: Any): Any =
    MmdCellUtil.cells(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MmdCellUtil.cells($c)")

  override protected def withNewChildInternal(
      newChild: Expression): MmdCellProducts = copy(child = newChild)

  override def prettyName: String = "mmd_cell_products"
}

object MmdCellProducts {
  def apply(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      MmdCellProducts(org.apache.spark.sql.GraftColumnBridge.expression(c)))
}
