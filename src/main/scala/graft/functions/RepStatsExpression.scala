package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for the repetition / quality-gate counters: one pass
  * over the split words computing
  *   (n_words, distinct_words, n_2grams, distinct_2grams,
  *    n_3grams, distinct_3grams, n_stopwords)
  * with the exact semantics of the r05 expression pipeline —
  * `split(text, " ", -1)` tokenization, n-gram arrays empty below n
  * words (so counts are 0), distincts over the space-joined n-gram
  * STRINGS (concat_ws semantics; words cannot contain the separator, so
  * string-distinct equals tuple-distinct), and the stopword list of
  * [[TextFunctions.enStopwords]] (read from there: one copy). The r05 projections
  * re-evaluated the split up to 12x per row and ran a slice+concat
  * lambda per n-gram position, three times over. */
object RepStatsUtil {
  private val Stop: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.enStopwords.foreach(s.add)
    s
  }

  def stats(s: UTF8String): GenericInternalRow = {
    val words = s.toString.split(" ", -1)
    val nw = words.length
    val dw = new java.util.HashSet[String]()
    var nsw = 0
    var i = 0
    while (i < nw) {
      val w = words(i)
      dw.add(w)
      if (Stop.contains(w)) nsw += 1
      i += 1
    }
    val d2 = new java.util.HashSet[String]()
    i = 0
    while (i < nw - 1) {
      d2.add(words(i) + " " + words(i + 1))
      i += 1
    }
    val d3 = new java.util.HashSet[String]()
    i = 0
    while (i < nw - 2) {
      d3.add(words(i) + " " + words(i + 1) + " " + words(i + 2))
      i += 1
    }
    val row = new GenericInternalRow(7)
    row.update(0, nw)
    row.update(1, dw.size)
    row.update(2, math.max(nw - 1, 0))
    row.update(3, d2.size)
    row.update(4, math.max(nw - 2, 0))
    row.update(5, d3.size)
    row.update(6, nsw)
    row
  }
}

/** Native Catalyst expression over [[RepStatsUtil.stats]]. */
case class RepStats(child: Expression)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = StructType(Seq(
    StructField("nw", IntegerType, nullable = false),
    StructField("dw", IntegerType, nullable = false),
    StructField("n2", IntegerType, nullable = false),
    StructField("d2", IntegerType, nullable = false),
    StructField("n3", IntegerType, nullable = false),
    StructField("d3", IntegerType, nullable = false),
    StructField("nsw", IntegerType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    RepStatsUtil.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RepStatsUtil.stats($c)")

  override protected def withNewChildInternal(
      newChild: Expression): RepStats = copy(child = newChild)

  override def prettyName: String = "rep_stats"
}

object RepStats {
  def apply(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      RepStats(org.apache.spark.sql.GraftColumnBridge.expression(c)))
}
