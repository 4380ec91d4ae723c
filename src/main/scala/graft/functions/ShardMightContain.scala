package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/**
 * Bloom membership of `keyHash` in a per-row `sketch` column: the probe of
 * the sharded cross-run sketches, where each candidate row is joined to
 * the one shard its key routes to. `(part, shard)` names that shard. The
 * deserialized filter is kept until the name changes, and `sketch` is
 * read only then, so a task whose rows arrive grouped by shard (the
 * sort-merge join feeding this condition) deserializes each shard once
 * and never copies the shard bytes per candidate.
 *
 * Interpreted on purpose (CodegenFallback): the cache needs the child
 * evaluation to stay lazy, which generated code would make eager. The
 * operator holding it then runs outside whole-stage codegen and hands
 * this expression the joined row itself.
 */
case class ShardMightContain(
    part: Expression, shard: Expression, sketch: Expression,
    keyHash: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(part, shard, sketch, keyHash)
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType

  @transient private var lastPart: UTF8String = _
  @transient private var lastShard: Int = 0
  @transient private var filter: BloomFilter = _

  override def eval(input: InternalRow): Any = {
    val p = part.eval(input).asInstanceOf[UTF8String]
    val s = shard.eval(input)
    val h = keyHash.eval(input)
    if (p == null || s == null || h == null) false
    else {
      val si = s.asInstanceOf[Int]
      if (filter == null || si != lastShard || p != lastPart) {
        val bytes = sketch.eval(input).asInstanceOf[Array[Byte]]
        if (bytes == null) return false
        filter = BloomFilter.readFrom(new ByteArrayInputStream(bytes))
        lastPart = p.clone()
        lastShard = si
      }
      filter.mightContainLong(h.asInstanceOf[Long])
    }
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ShardMightContain =
    copy(part = c(0), shard = c(1), sketch = c(2), keyHash = c(3))

  override def prettyName: String = "shard_might_contain"
}
