package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/**
 * INCREMENTAL dedup against an accumulated corpus via a Bloom sketch —
 * the reference's "is this ETag already recorded?" gate
 * (manifest_processor.py:283-305, dynamodb.py:22-40) generalized to a
 * form that never rescans the corpus on the fast path.
 *
 * The reference answers membership with a per-key DynamoDB point read;
 * at 10^12 accumulated keys the Spark-native equivalent is an anti-join
 * against the full history table — correct but a full-corpus shuffle per
 * batch. The Bloom sketch splits that cost:
 *
 *  - [[sketch]] aggregates the history's keys into ONE Bloom filter,
 *    distributed (partial filters merge map-side via
 *    [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]],
 *    the same machinery AQE's runtime row-filtering uses) — a single
 *    bounded binary the driver can hold, persist, and [[merge]] with the
 *    next batch's sketch so NO run ever rescans old history.
 *  - [[newKeys]] keeps the EXACT anti-join semantics: bloom-negative
 *    rows are definitely-new (no false negatives) and bypass the join
 *    entirely; only bloom-positive candidates — true dups + an `fpp`
 *    fraction of false positives — shuffle into the exact anti-join. At
 *    a 1% batch-vs-history overlap, ~99% of the batch never shuffles.
 *
 * Determinism: the sketch hashes `xxhash64(key)` with Spark's fixed seed,
 * so a sketch is a pure function of (keys, expectedItems, fpp) and
 * specs/resumed runs reproduce it bit-for-bit.
 */
object BloomDedup {

  /** Bloom sketch of `keyCol` over `history`, computed distributed and
    * returned as the filter's serialized bytes (bounded:
    * `optimalNumOfBits(expectedItems, fpp)/8` — e.g. ~1.2 GB per 10^12
    * keys at fpp=0.01, a driver-scale artifact like the IVF codebook). */
  def sketch(history: DataFrame, keyCol: String, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    val row = history
      .select(sketchAgg(col(keyCol), expectedItems, fpp).as("bloom")).head()
    if (row.isNullAt(0)) serialize(BloomFilter.create(expectedItems, fpp))
    else row.getAs[Array[Byte]](0)
  }

  /** The sketch as an aggregate Column — the groupBy form (e.g. one
    * sketch per table partition in one narrow scan). */
  def sketchAgg(key: Column, expectedItems: Long,
      fpp: Double = 0.01): Column = {
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    GraftColumnBridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(GraftColumnBridge.expression(key))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
  }

  /** `might_contain(sketch, xxhash64(key))` as a codegen'd predicate —
    * false means DEFINITELY absent from the sketched key set. */
  def mightContain(sketchBytes: Array[Byte], key: Column): Column =
    GraftColumnBridge.column(BloomFilterMightContain(
      Literal(sketchBytes),
      new XxHash64(Seq(GraftColumnBridge.expression(key)))))

  /** Union of two same-shape sketches (same expectedItems/fpp lineage):
    * the cross-run accumulator — sketch(A ∪ B) answers like
    * merge(sketch(A), sketch(B)). */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = BloomFilter.readFrom(new ByteArrayInputStream(a))
    fa.mergeInPlace(BloomFilter.readFrom(new ByteArrayInputStream(b)))
    serialize(fa)
  }

  private def serialize(f: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }

  /** EXACTLY the rows of `batch` whose `keyCol` does not occur in
    * `history` — semantics of a plain left-anti join, cost of one. The
    * bloom-negative branch (scan + codegen'd predicate, zero shuffles)
    * passes the overwhelming majority straight through; only sketch
    * positives shuffle into the confirming anti-join. */
  def newKeys(batch: DataFrame, history: DataFrame, keyCol: String,
      sketchBytes: Array[Byte]): DataFrame = {
    val definitelyNew = batch.filter(!mightContain(sketchBytes, col(keyCol)))
    val confirmed = batch.filter(mightContain(sketchBytes, col(keyCol)))
      .join(history.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    definitelyNew.unionByName(confirmed)
  }
}
