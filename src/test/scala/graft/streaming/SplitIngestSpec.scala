package graft.streaming

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.model.Sequence
import graft.sources.ManifestTable

/** startSplitIngest: validate-at-the-door streaming ingestion — clean
  * rows land exactly-once in the manifested main table, rule-condemned
  * rows divert to the quarantine table with their rule ids. */
class SplitIngestSpec extends SparkSpec {
  import spark.implicits._

  test("clean rows commit, condemned rows quarantine with rule ids, " +
      "replays and restarts land nothing twice") {
    val dir = tmpDir("splitingest")
    val manifest = SequenceGen.manifest(spark, 400)
      .as[graft.model.ManifestEntry]

    // phase 1: clean rows + one bad-ntok + one token outside [0, 50k)
    val clean = SequenceGen.sequences(spark, 400).as[Sequence]
      .collect().toSeq
    val badNtok = Sequence("D000000000800", Array(1, 2, 3), 99, "mito")
    val badRange = Sequence("D000000000801", Array(1, -5), 2, "mito")
    (clean ++ Seq(badNtok, badRange)).toDS()
      .write.mode("overwrite").parquet(s"$dir/in")

    def run(): Unit = {
      val q = StreamingValidation.startSplitIngest(
        spark, s"$dir/in", manifest, s"$dir/table", s"$dir/quarantine",
        s"$dir/ckpt")
      assert(q.awaitTermination(300000), "split ingest did not finish")
    }
    run()

    val landed = spark.read.parquet(s"$dir/table").as[Sequence]
      .collect()
    assert(landed.map(_.doc_id).sorted.toSeq ===
      clean.map(_.doc_id).sorted.toSeq)
    // per-row invariant on what landed: token arrays survive intact
    val byId = clean.map(s => s.doc_id -> s).toMap
    landed.foreach(s => assert(s.tokens.toSeq === byId(s.doc_id).tokens.toSeq))

    val quar = spark.read.parquet(s"$dir/quarantine")
      .select("doc_id", "rule_ids").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(quar.keySet === Set("D000000000800", "D000000000801"))
    assert(quar("D000000000800").contains("R_CONSISTENT_NTOK"))
    assert(quar("D000000000801").contains("R_TOKEN_RANGE"))

    // the manifest inventory agrees with a fresh listing
    assert(ManifestTable.verifyAgainstListing(
      spark, s"$dir/table", "source").isEmpty)

    // restart with nothing new: the checkpoint admits no batch
    run()
    assert(spark.read.parquet(s"$dir/table").count() ===
      clean.size.toLong)

    // phase 2: append one clean + one bad row -> only the clean one lands
    Seq(
      Sequence("D000000000900", Array(1, 2), 2, "mito"),
      Sequence("D000000000901", Array(9), 5, "mito"))
      .toDS().write.mode("append").parquet(s"$dir/in")
    run()
    val after = spark.read.parquet(s"$dir/table").as[Sequence]
      .collect().map(_.doc_id).toSet
    assert(after === clean.map(_.doc_id).toSet + "D000000000900")
    val quar2 = spark.read.parquet(s"$dir/quarantine")
      .select("doc_id").as[String].collect().toSet
    assert(quar2 ===
      Set("D000000000800", "D000000000801", "D000000000901"))
  }
}
