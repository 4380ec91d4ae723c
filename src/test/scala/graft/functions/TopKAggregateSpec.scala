package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TopKByScoreAggregate ≡ row_number window, including ties and
  * duplicated scores — the bounded sorted-insert buffer is the fiddly
  * part, so it is pinned against the reference window form on adversarial
  * data (few distinct scores ⇒ many ties). */
class TopKAggregateSpec extends SparkSpec {
  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id").asc)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("g"), col("rank"), col("id"), col("score"))
  }

  private def aggTopK(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy(col("g"))
      .agg(TopKByScoreAggregate.topK(col("score"), col("id"), k).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("r0", "e")))
      .select(col("g"), (col("r0") + 1).cast("int").as("rank"),
        col("e.neighbor_id").as("id"), col("e.cos").as("score"))

  test("matches the window form on tie-heavy pseudorandom data") {
    // 5 groups x 400 rows, scores drawn from only 7 distinct values so
    // nearly every rank decision is an id tie-break
    val df = spark.range(2000).select(
      (col("id") % 5).cast("int").as("g"),
      col("id").as("id"),
      (pmod(xxhash64(col("id")), lit(7)) / lit(2.0)).as("score"))
    for (k <- Seq(1, 3, 17, 500)) {
      val expected = windowTopK(df, k).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2))
      val got = aggTopK(df, k).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2))
      assert(got.length === expected.length, s"k=$k")
      assert(got.sameElements(expected), s"k=$k")
    }
  }

  test("partial aggregation across many partitions preserves the result") {
    val df = spark.range(3000).repartition(13).select(
      lit(0).as("g"),
      col("id").as("id"),
      (pmod(xxhash64(col("id")), lit(5)) / lit(1.0)).as("score"))
    val expected = windowTopK(df, 10).collect()
      .map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
    val got = aggTopK(df, 10).collect()
      .map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(got.sameElements(expected))
  }
}
