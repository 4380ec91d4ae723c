package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PolyHashSpec extends SparkSpec {
  import spark.implicits._

  test("native expression matches the higher-order-fold specification") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val diff = docs.select(
        TextFunctions.polyHash(col("text")).as("native"),
        PolyHashSpec.polyHashHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() === 0)
    // known value + edge cases
    val r = spark.range(1).select(
      TextFunctions.polyHash(lit("hello")).as("h"),
      TextFunctions.polyHash(lit("")).as("e"),
      TextFunctions.polyHash(lit("ünïcödé")).as("u"),
      PolyHashSpec.polyHashHof(lit("ünïcödé")).as("u2")).collect().head
    assert(r.getLong(0) === 99162322L)
    assert(r.getLong(1) === 0L)
    assert(r.getLong(2) === r.getLong(3)) // BMP code points agree with ascii()
  }

  test("shingle_hashes native expression matches the expression-pipeline " +
      "specification on real data and edge cases") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edge = Seq(
      "",                       // no words
      "one two",                // fewer than n
      "a b c",                  // exactly n
      "a b c d e",              // sliding
      "a  b c d",               // double space -> empty word kept by split
      "a b c a b c a b c",      // repeated shingles -> distinct collapses
      "tail space a b c ",      // trailing space -> trailing empty word
      "ünï cödé wörds hërë"     // BMP code points
    ).toDF("text")
    Seq(docs, edge).foreach { df =>
      val diff = df.select(
          TextFunctions.shingleHashes(col("text"), 3).as("native"),
          PolyHashSpec.shingleHashesHof(col("text"), 3).as("hof"),
          TextFunctions.wordHashes(col("text")).as("wnative"),
          PolyHashSpec.wordHashesHof(col("text")).as("whof"))
        .filter(col("native") =!= col("hof") ||
          col("wnative") =!= col("whof"))
      assert(diff.count() === 0, df.columns.mkString)
    }
  }

  test("poly_hash registers and runs as a SQL function with codegen") {
    PolyHash.register(spark)
    val got = spark.sql("SELECT poly_hash('hello') AS h").collect().head.getLong(0)
    assert(got === 99162322L)
    // works inside higher-order lambdas (minhash path)
    val arr = spark.sql(
      "SELECT transform(array('a','b'), x -> poly_hash(x)) AS hs")
      .collect().head.getSeq[Long](0)
    assert(arr === Seq(97L, 98L))
  }
}

/** Executable specifications of the native text kernels: the
  * expression-only formulations the tests above cross-check
  * [[PolyHash]] and [[ShingleHashes]] against, bit for bit. */
object PolyHashSpec {
  import org.apache.spark.sql.Column
  import TextFunctions.{HashMod, polyHash, shingles, words}

  /** Reference formulation via higher-order fold (slow: allocates 1-char
    * strings and interprets a lambda per character). */
  def polyHashHof(s: Column): Column =
    aggregate(
      split(s, ""),
      lit(0L),
      (h, c) => pmod(h * lit(31L) + ascii(c), lit(HashMod)))

  /** Specification form: per-shingle string materialization + interpreted
    * transform (slow; tests assert bit-equality with the native expr). */
  def shingleHashesHof(text: Column, n: Int): Column =
    array_distinct(transform(shingles(words(text), n), s => polyHash(s)))

  /** Specification form of [[TextFunctions.wordHashes]]. */
  def wordHashesHof(text: Column): Column =
    transform(words(text), w => polyHash(w))
}
