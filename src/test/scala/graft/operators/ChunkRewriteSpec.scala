package graft.operators

import graft.SparkSpec

/** chunkRewrite semantics on a hand-built corpus: keep-first passage
  * dedup at df <= maxDf, boilerplate drop at df > maxDf, position-order
  * reassembly, '' when nothing survives. */
class ChunkRewriteSpec extends SparkSpec {
  import spark.implicits._

  // chunkWords = 2 for readability; chunks of doc k are its consecutive
  // 2-word windows: "a b", "c d", ...
  private def rewrite(rows: Seq[(Long, String)], maxDf: Long = 2L) =
    Dedup.chunkRewrite(rows.toDF("doc_id", "text"), "doc_id", "text",
        chunkWords = 2, maxDf = maxDf)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)

  test("keep-first: the corpus-wide first occurrence of a repeated chunk " +
      "survives, later copies are dropped, docs reassemble in pos order") {
    val out = rewrite(Seq(
      1L -> "shared pair unique one",
      2L -> "other words shared pair", // "shared pair" repeats: df=2 <= maxDf
      3L -> "fully distinct content here"))
    assert(out === Seq(
      (1L, 2L, 2L, "shared pair unique one"), // doc 1 holds the first copy
      (2L, 2L, 1L, "other words"), // later copy dropped
      (3L, 2L, 2L, "fully distinct content here")))
  }

  test("boilerplate: a chunk with df > maxDf is dropped EVERYWHERE, " +
      "including its first occurrence; all-boilerplate docs become ''") {
    val out = rewrite(Seq(
      1L -> "hot pair",
      2L -> "hot pair",
      3L -> "hot pair own tail"), maxDf = 2L) // "hot pair" df=3 > 2
    assert(out === Seq(
      (1L, 1L, 0L, ""),
      (2L, 1L, 0L, ""),
      (3L, 2L, 1L, "own tail")))
  }

  test("within-doc repetition counts toward df and keeps only the first " +
      "(lowest-pos) copy") {
    val out = rewrite(Seq(1L -> "echo echo echo echo unique end"))
    // chunks: "echo echo" (pos 0), "echo echo" (pos 1... no: consecutive
    // non-overlapping windows: ["echo echo", "echo echo", "unique end"]
    assert(out === Seq((1L, 3L, 2L, "echo echo unique end")))
  }

  test("ragged tail chunk participates like any other") {
    val out = rewrite(Seq(1L -> "a b c", 2L -> "x y c"))
    // doc1 chunks: "a b", "c"; doc2: "x y", "c" — "c" df=2, doc1 keeps it
    assert(out === Seq(
      (1L, 2L, 2L, "a b c"),
      (2L, 2L, 1L, "x y")))
  }
}
