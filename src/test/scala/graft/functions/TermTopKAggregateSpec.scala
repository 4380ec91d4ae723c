package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TermTopKAggregate ≡ row_number window over (score desc, word asc) —
  * pinned against the reference window form on tie-heavy data (few
  * distinct scores ⇒ nearly every rank decision is a binary-UTF8 word
  * tie-break), carried attributes included. */
class TermTopKAggregateSpec extends SparkSpec {
  private def mk = spark.range(3000).select(
    (col("id") % 4).cast("int").as("g"),
    concat(lit("w"), pmod(xxhash64(col("id") * 7), lit(900)).cast("string"))
      .as("word"),
    pmod(xxhash64(col("id")), lit(5)).as("score"),
    (col("id") * 2).as("tf"),
    (col("id") * 3).as("df"))
    // distinct words per group (the tfidf shape: one score row per
    // (source, word))
    .groupBy("g", "word")
    .agg(max("score").as("score"), max("tf").as("tf"), max("df").as("df"))

  test("matches the window form on tie-heavy data, attributes carried") {
    val df = mk
    for (k <- Seq(1, 5, 23)) {
      val w = Window.partitionBy(col("g"))
        .orderBy(col("score").desc, col("word").asc)
      val expected = df
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("g", "rank", "word", "tf", "df", "score")
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .sortBy(x => (x._1, x._2))
      val got = df.groupBy("g")
        .agg(TermTopKAggregate.topK(
          col("score"), col("word"), col("tf"), col("df"), k).as("top"))
        .select(col("g"), posexplode(col("top")).as(Seq("i", "t")))
        .select(col("g"), (col("i") + 1).cast("int").as("rank"),
          col("t.word"), col("t.a"), col("t.b"), col("t.score_q"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .sortBy(x => (x._1, x._2))
      assert(got.toSeq === expected.toSeq, s"k=$k")
    }
  }

  test("partitioning invariance") {
    val df = mk
    def run(d: org.apache.spark.sql.DataFrame) = d.groupBy("g")
      .agg(TermTopKAggregate.topK(
        col("score"), col("word"), col("tf"), col("df"), 5).as("top"))
      .select(col("g"), col("top").cast("string").as("s"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(run(df.repartition(13)) === run(df.coalesce(1)))
  }
}
