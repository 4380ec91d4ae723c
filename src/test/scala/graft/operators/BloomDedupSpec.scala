package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private def df(ids: (Long, String)*) =
    ids.toDF("id", "key")

  test("newKeys is exactly batch ANTI history, false positives confirmed " +
      "away by the exact join") {
    val history = df((1L, "a"), (2L, "b"), (3L, "c"), (4L, "b"))
    val batch = df((10L, "b"), (11L, "x"), (12L, "y"), (13L, "c"), (14L, "z"))
    // tiny sketch: high fpp forces false positives through the confirm join
    for (fpp <- Seq(0.5, 0.01)) {
      val sk = BloomDedup.sketch(history, "key", expectedItems = 4, fpp = fpp)
      val got = BloomDedup.newKeys(batch, history, "key", sk)
        .select("id").as[Long].collect().sorted
      assert(got.toSeq === Seq(11L, 12L, 14L), s"fpp=$fpp")
    }
  }

  test("newKeysApprox never passes a true duplicate (no false negatives)") {
    val history = df((1 to 200).map(i => (i.toLong, s"k$i")): _*)
    val batch = df((150 to 260).map(i => (1000L + i, s"k$i")): _*)
    val sk = BloomDedup.sketch(history, "key", expectedItems = 200, fpp = 0.1)
    val got = BloomDedupSpec.newKeysApprox(batch, "key", sk)
      .select("key").as[String].collect().toSet
    // every survivor is genuinely new...
    assert(got.forall(k => k.drop(1).toInt > 200))
    // ...and no true dup survived (keys k150..k200 all caught)
    assert(!(150 to 200).exists(i => got.contains(s"k$i")))
  }

  test("merged sketches answer like the union's sketch: membership of " +
      "both halves, mergeable across runs") {
    val h1 = df((1 to 50).map(i => (i.toLong, s"a$i")): _*)
    val h2 = df((1 to 50).map(i => (i.toLong, s"b$i")): _*)
    val sk = BloomDedup.merge(
      BloomDedup.sketch(h1, "key", 100, 0.01),
      BloomDedup.sketch(h2, "key", 100, 0.01))
    val all = df(((1 to 50).map(i => (i.toLong, s"a$i")) ++
      (1 to 50).map(i => (i.toLong, s"b$i"))): _*)
    val caught = all.filter(BloomDedup.mightContain(sk, col("key"))).count()
    assert(caught === 100) // no false negatives across the merge
  }

  test("empty history: sketch is well-formed and everything is new") {
    val history = df().filter(lit(false))
    val batch = df((1L, "a"), (2L, "b"))
    val sk = BloomDedup.sketch(history, "key", expectedItems = 10)
    assert(BloomDedup.newKeys(batch, history, "key", sk).count() === 2)
  }

  test("plan shape: the definitely-new branch is scan+predicate with no " +
      "join; only bloom positives reach the anti-join") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), md5(col("text")).as("key"))
    val history = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
    val sk = BloomDedup.sketch(history, "key", 300, 0.01)
    val out = BloomDedup.newKeys(batch, history, "key", sk)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("might_contain"), plan.take(3000))
    // exactly one join in the whole plan (the confirm branch's anti);
    // the definitely-new branch is scan + codegen'd predicate only
    assert("(?i)join".r.findAllIn(plan).size === 1, plan.take(3000))
    assert("Anti".r.findAllIn(plan).size === 1, plan.take(3000))
  }
}

object BloomDedupSpec {
  import org.apache.spark.sql.DataFrame

  /** Sketch-only form of [[BloomDedup.newKeys]]: no history access at
    * all. Never passes a true duplicate; loses an `fpp` fraction of
    * genuinely-new rows. */
  def newKeysApprox(batch: DataFrame, keyCol: String,
      sketchBytes: Array[Byte]): DataFrame =
    batch.filter(!BloomDedup.mightContain(sketchBytes, col(keyCol)))
}
