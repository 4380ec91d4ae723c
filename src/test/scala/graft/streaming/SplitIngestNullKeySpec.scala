package graft.streaming

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.model.Sequence

/** startSplitIngest's door holds for an unkeyable row: a null doc_id
  * fails R_SCHEMA, so the row must quarantine and never reach the main
  * table, although null matches nothing in an equi-join on doc_id. */
class SplitIngestNullKeySpec extends SparkSpec {
  import spark.implicits._

  test("a row rejected for its null doc_id quarantines and never lands") {
    val dir = tmpDir("splitingest_null")
    val manifest = SequenceGen.manifest(spark, 200)
      .as[graft.model.ManifestEntry]
    val clean = SequenceGen.sequences(spark, 200).as[Sequence]
      .collect().toSeq
    val nullId = Sequence(null, Array(1, 2), 2, "mito")
    (clean :+ nullId).toDS().write.mode("overwrite").parquet(s"$dir/in")

    assert(StreamingValidation.startSplitIngest(
        spark, s"$dir/in", manifest, s"$dir/table", s"$dir/quarantine",
        s"$dir/ckpt")
      .awaitTermination(300000), "split ingest did not finish")

    val landed = spark.read.parquet(s"$dir/table").as[Sequence].collect()
    assert(landed.count(_.doc_id == null) === 0)
    assert(landed.map(_.doc_id).sorted.toSeq ===
      clean.map(_.doc_id).sorted.toSeq)
    val quar = spark.read.parquet(s"$dir/quarantine")
      .select("doc_id", "rule_ids").collect()
      .map(r => Option(r.getString(0)) -> r.getString(1))
    assert(quar.map(_._1).toSeq === Seq(None))
    assert(quar.head._2.split(",").contains("R_SCHEMA"))
  }
}
