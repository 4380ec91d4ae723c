package graft.operators

import graft.SparkSpec
import graft.checkpoint.Checkpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sharded cross-run sketch helpers on hand-built tables: routing,
  * refresh (OR-merge of carried shards) and the probe join, including
  * rows of the unsharded layout. */
class ShardedBloomSpec extends SparkSpec {
  import spark.implicits._

  private def keys(part: String, ids: Range): DataFrame =
    ids.map(i => (part, f"K$i%06d")).toDF("part_value", "xk")

  /** Fired (xk, hist_part) pairs of `probeKeys` against `shards`. */
  private def fired(probeKeys: Seq[String], meta: Seq[(String, String, Int)],
      shards: DataFrame): Set[(String, String)] =
    ShardedBloom.probe(probeKeys.toDF("xk"),
        meta.toDF("part_value", "snapshot_id", "nshards"), shards)
      .select("xk", "hist_part").as[(String, String)].collect().toSet

  test("shard counts are the next power of two of the rows over capacity") {
    import ShardedBloom.{ShardKeys, fits, shardsFor}
    assert(Seq(0L, 1L, ShardKeys, ShardKeys + 1, 3 * ShardKeys,
      4 * ShardKeys + 1).map(shardsFor) === Seq(1, 1, 1, 2, 4, 8))
    assert(fits(ShardKeys, 1) && !fits(ShardKeys + 1, 1) &&
      fits(ShardKeys + 1, shardsFor(ShardKeys + 1)))
  }

  test("a 4-shard table: every key routes to one shard, its own shard " +
      "holds it, and the probe fires it once through a shuffle join") {
    val ks = keys("p", 0 until 2000)
    val shards = ShardedBloom.build(ks, Map("p" -> 4), 0.001)
      .withColumn("snapshot_id", lit("s1"))
    val rows = shards.select("shard", "sketch").as[(Int, Array[Byte])]
      .collect().toMap
    assert(rows.keySet === Set(0, 1, 2, 3))
    val routed = ks.select(col("xk"),
        ShardedBloom.shardOf(col("xk"), lit(4)).as("shard"),
        xxhash64(col("xk")).as("kh"))
      .as[(String, Int, Long)].collect()
    // all four shards get keys, and a key is in exactly its own shard
    // (up to the shards' false-positive rate elsewhere)
    assert(routed.map(_._2).toSet === Set(0, 1, 2, 3))
    val filters = rows.map { case (s, b) => s -> org.apache.spark.util.sketch
      .BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)) }
    routed.foreach { case (k, s, h) =>
      assert(filters(s).mightContainLong(h), s"$k missing from shard $s")
    }
    // a shard built from keys alone is byte-identical to its sketchAgg form
    assert(ks.filter(ShardedBloom.shardOf(col("xk"), lit(4)) === 0)
      .agg(BloomDedup.sketchAgg(col("xk"), ShardedBloom.ShardKeys, 0.001))
      .as[Array[Byte]].head().sameElements(rows(0)))
    val strays = routed.map { case (_, s, h) =>
      filters.count { case (o, f) => o != s && f.mightContainLong(h) } }
    assert(strays.sum <= 10, "keys show up in shards they do not route to")

    val probe = ShardedBloom.probe(ks.select("xk"),
      Seq(("p", "s1", 4)).toDF("part_value", "snapshot_id", "nshards"), shards)
    // one fired row per key, none missed
    assert(probe.collect().length === 2000)
    val plan = probe.queryExecution.executedPlan.toString // the final plan
    assert(plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastHashJoin"), plan)
    // unknown keys mostly stay out; a stale lineage never joins
    assert(fired((5000 until 5100).map(i => f"K$i%06d"),
      Seq(("p", "s1", 4)), shards).size <= 2)
    assert(fired(Seq("K000001"), Seq(("p", "s0", 4)), shards).isEmpty)
  }

  test("an OR-merged delta shard still answers for the old keys") {
    val old = ShardedBloom.build(keys("p", 0 until 500), Map("p" -> 4), 0.001)
    val merged = ShardedBloom.build(keys("p", 500 until 600), Map("p" -> 4),
        0.001, carried = Some(old))
      .withColumn("snapshot_id", lit("s2"))
    assert(merged.count() === 4)
    val all = (0 until 600).map(i => f"K$i%06d")
    assert(fired(all, Seq(("p", "s2", 4)), merged) ===
      all.map(_ -> "p").toSet)
  }

  test("rows of the unsharded layout are probed as one shard") {
    val dir = tmpDir("legacy_sketch")
    // the layout before sharding: one filter per (partition, rule) and
    // no shard/nshards columns
    val legacy = Seq("a", "b").map { p =>
      val sk = BloomDedup.sketch(keys(p, 0 until 300)
        .withColumn("xk", concat(lit(p), col("xk"))), "xk", 1000, 0.001)
      (p, s"snap_$p", "R_X", "doc_id", sk, p)
    }.toDF("part_value", "snapshot_id", "rule_id", "key_col", "sketch",
      "partition")
    legacy.write.partitionBy("partition").parquet(Checkpoint.sketchesPath(dir))

    val meta = Checkpoint.readSketchMeta(spark, dir)("R_X")
    assert(meta.keySet === Set("a", "b"))
    assert(meta.values.forall(m => m.nshards.isEmpty && m.shardRows == 1))
    val shards = Checkpoint.readShards(spark, dir, "R_X", Seq("a", "b"))
    val probeKeys = Seq("aK000007", "bK000299", "bK000300", "cK000001")
    assert(fired(probeKeys, Seq(("a", "snap_a", 1), ("b", "snap_b", 1)),
      shards) === Set("aK000007" -> "a", "bK000299" -> "b"))
    // the diagnostic per-partition view reads the same filters
    assert(Checkpoint.readSketches(spark, dir, "R_X").keySet === Set("a", "b"))
  }
}
