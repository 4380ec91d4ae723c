package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.functions.{BloomShardAggregate, ShardMightContain}

/**
 * Cross-run key sketches as key-hash SHARDS of one fixed size: a
 * partition's keys split over `nshards` Bloom filters, each sized for
 * [[ShardKeys]] keys, so the false-positive rate stays at its design value
 * however large a partition grows (one filter per partition saturates: at
 * fpp 10^-3 a 10^6-key filter holding 4M keys answers "maybe" half the
 * time). A key lives in exactly one shard, `pmod(hash(key), nshards)`;
 * Murmur3 `hash` is independent of the filters' own `xxhash64`.
 *
 * Everything here is a DataFrame transformation: shards are built,
 * OR-merged and probed by executors, and no filter bytes reach the driver
 * or a plan literal. Frames carry the string key as `xk` and the
 * partition value as `part_value`.
 */
object ShardedBloom {

  /** Design capacity of one shard: ~115 KiB of filter at fpp 10^-3. */
  val ShardKeys = 65536L

  /** Shards for a partition of `nDocs` rows: the next power of two
    * >= ceil(nDocs / ShardKeys), at least one. */
  def shardsFor(nDocs: Long): Int = {
    val need = math.max(1L, (nDocs + ShardKeys - 1) / ShardKeys)
    val p = java.lang.Long.highestOneBit(need)
    (if (p == need) p else p << 1).toInt
  }

  /** Whether `nDocs` keys stay within `nshards` shards' design capacity. */
  def fits(nDocs: Long, nshards: Int): Boolean = nDocs <= nshards * ShardKeys

  /** The shard a string key routes to. */
  def shardOf(key: Column, nshards: Column): Column = pmod(hash(key), nshards)

  /** Shard rows `(part_value, shard, sketch)` of `(part_value, xk)` keys,
    * `nshards` per partition value, in one aggregation. `carried` shard
    * rows `(part_value, shard, sketch)` of the same shape OR into the
    * matching fresh shard (a grown partition's old keys), or stand alone
    * where no fresh key routes. */
  def build(keys: DataFrame, nshards: Map[String, Int], fpp: Double,
      carried: Option[DataFrame] = None): DataFrame = {
    val fresh = keys.select(col("part_value"),
      shardOf(col("xk"), element_at(typedLit(nshards), col("part_value")))
        .as("shard"),
      xxhash64(col("xk")).as("kh"), lit(null).cast("binary").as("old"))
    val agg = BloomShardAggregate(GraftColumnBridge.expression(col("kh")),
      GraftColumnBridge.expression(col("old")), ShardKeys,
      BloomFilter.optimalNumOfBits(ShardKeys, fpp))
    carried.fold(fresh)(c => fresh.unionByName(c.select(col("part_value"),
        col("shard"), lit(null).cast("long").as("kh"), col("sketch").as("old"))))
      .groupBy(col("part_value"), col("shard"))
      .agg(GraftColumnBridge.column(agg.toAggregateExpression()).as("sketch"))
  }

  /** The `keys` rows (any columns, among them `xk`) whose key may occur in
    * a history partition, one row per (key row, partition) that fires,
    * with the partition as `hist_part`. `meta` holds one
    * `(part_value, snapshot_id, nshards)` row per history partition; it is
    * broadcast to route each key to its shard in every partition. `shards`
    * holds `(part_value, snapshot_id, shard, sketch)`; only lineage-
    * matching rows join. The sketch side is shuffled, never broadcast. */
  def probe(keys: DataFrame, meta: DataFrame, shards: DataFrame): DataFrame = {
    val targets = keys
      .crossJoin(broadcast(meta.select(col("part_value").as("hist_part"),
        col("snapshot_id").as("hist_snap"), col("nshards").as("hist_n"))))
      .withColumn("hist_shard", shardOf(col("xk"), col("hist_n")))
    val side = shards.select(col("part_value").as("s_part"),
        col("snapshot_id").as("s_snap"), col("shard").as("s_shard"),
        col("sketch"))
      .hint("merge")
    val member = GraftColumnBridge.column(ShardMightContain(
      GraftColumnBridge.expression(col("s_part")),
      GraftColumnBridge.expression(col("s_shard")),
      GraftColumnBridge.expression(col("sketch")),
      GraftColumnBridge.expression(xxhash64(col("xk")))))
    targets
      .join(side, col("hist_part") === col("s_part") &&
        col("hist_snap") === col("s_snap") &&
        col("hist_shard") === col("s_shard") && member)
      .select((keys.columns.toSeq :+ "hist_part").map(col): _*)
  }
}
