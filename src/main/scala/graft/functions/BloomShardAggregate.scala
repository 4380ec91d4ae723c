package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/**
 * One Bloom sketch shard per group, built from two kinds of input row: a
 * key hash (`keyHash`, xxhash64 of the key, as Spark's own
 * BloomFilterAggregate inserts it) or a carried serialized filter of the
 * same shape (`carried`), which is OR-ed in. A grown partition's shard
 * refresh is then ONE aggregation over its new keys and its old shard
 * rows: no second shuffle to merge, and nothing leaves the executors.
 * The filter is created exactly as BloomFilterAggregate creates it, so a
 * shard built from keys alone is byte-identical to its `sketchAgg` form.
 */
case class BloomShardAggregate(
    keyHash: Expression,
    carried: Expression,
    numItems: Long,
    numBits: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomFilter] {

  override def children: Seq[Expression] = Seq(keyHash, carried)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(numItems, numBits)

  override def update(buf: BloomFilter, row: InternalRow): BloomFilter = {
    val h = keyHash.eval(row)
    if (h != null) buf.putLong(h.asInstanceOf[Long])
    val c = carried.eval(row)
    if (c != null) buf.mergeInPlace(deserialize(c.asInstanceOf[Array[Byte]]))
    else buf
  }

  override def merge(b: BloomFilter, o: BloomFilter): BloomFilter =
    b.mergeInPlace(o)

  override def eval(buf: BloomFilter): Any = serialize(buf)

  override def serialize(buf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    buf.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(o: Int): BloomShardAggregate =
    copy(mutableAggBufferOffset = o)

  override def withNewInputAggBufferOffset(o: Int): BloomShardAggregate =
    copy(inputAggBufferOffset = o)

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): BloomShardAggregate =
    copy(keyHash = c(0), carried = c(1))

  override def prettyName: String = "bloom_shard"
}
