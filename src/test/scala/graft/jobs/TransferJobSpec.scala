package graft.jobs

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.model._
import graft.drift.Drift
import graft.checkpoint.Checkpoint

/** E3 tail: verdict-gated promotion into the store + manifest.txt
  * regeneration (reference data_transfer_manager), plus the folder-lock
  * analog. */
class TransferJobSpec extends SparkSpec {
  import spark.implicits._

  private val N = 1500L

  test("only fully-passing sources are promoted; manifest.txt reflects " +
      "the store; re-run is idempotent") {
    val dir = tmpDir("transfer")
    val clean = SequenceGen.sequences(spark, N)
    // one poisoned source: inconsistent n_tok rows in cardiac only
    val bad = Seq(
      Sequence("D000000900001", Array(1, 2), 5, "cardiac"),
      Sequence("D000000900002", Array(3), 4, "cardiac")).toDS()
    clean.union(bad)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, N)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    Drift.histograms(clean.toDF(), SequenceGen.vocabSize, "b")
      .write.mode("overwrite").parquet(s"$dir/baseline")

    ValidationJob.run(spark, ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out",
      baselinePath = Some(s"$dir/baseline")))

    val cfg = TransferJob.Config(
      s"$dir/input", s"$dir/out", s"$dir/store", s"$dir/manifest_txt")
    val r1 = TransferJob.run(spark, cfg)
    assert(r1.blocked.contains("cardiac"), r1.toString)
    assert(r1.promoted.nonEmpty && !r1.promoted.contains("cardiac"))

    // store holds exactly the promoted sources' rows
    val store = spark.read.parquet(s"$dir/store")
    val storeSrcs = store.select("source").distinct().as[String]
      .collect().toSet
    assert(storeSrcs === r1.promoted.toSet)

    // regenerated manifest matches the store aggregate
    val m = graft.sources.TableIO.readManifestTsv(spark, s"$dir/manifest_txt")
    assert(m.select("source").as[String].collect().toSet === storeSrcs)
    val exp = m.filter($"source" === r1.promoted.head)
      .select("expected_docs").as[Long].head()
    assert(exp ===
      store.filter($"source" === r1.promoted.head).count())

    // idempotent: re-run rewrites the same partitions, same contents
    val before = store.orderBy("source", "doc_id").collect()
    val r2 = TransferJob.run(spark, cfg)
    assert(r2.promoted === r1.promoted)
    val after = spark.read.parquet(s"$dir/store")
      .orderBy("source", "doc_id").collect()
    assert(after.sameElements(before))
  }

  test("default no-baseline flow fails fast naming the NOT_COMPLETED " +
      "rules instead of silently promoting nothing (ADVICE r02)") {
    val dir = tmpDir("transfer-nb")
    SequenceGen.sequences(spark, N)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, N)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    // the CLI default: validate without baselinePath -> both drift rules
    // NOT_COMPLETED for every source
    ValidationJob.run(spark, ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out"))

    val e = intercept[IllegalStateException] {
      TransferJob.run(spark, TransferJob.Config(
        s"$dir/input", s"$dir/out", s"$dir/store", s"$dir/manifest_txt"))
    }
    assert(e.getMessage.contains(graft.rules.Rules.RDriftNtokKs))
    assert(e.getMessage.contains(graft.rules.Rules.RDriftTokenChi2))
  }

  test("changed-but-unvalidated input is blocked as STALE_LINEAGE " +
      "(VERDICT r02 #8: the gate is re-checked against current lineage)") {
    val dir = tmpDir("transfer-stale")
    val clean = SequenceGen.sequences(spark, N)
    clean.write.mode("overwrite").partitionBy("source")
      .parquet(s"$dir/input")
    SequenceGen.manifest(spark, N)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    Drift.histograms(clean.toDF(), SequenceGen.vocabSize, "b")
      .write.mode("overwrite").parquet(s"$dir/baseline")
    ValidationJob.run(spark, ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out",
      baselinePath = Some(s"$dir/baseline")))

    // input changes AFTER validation: a new (invalid!) row lands in mito
    Seq(Sequence("D000000900009", Array(1, 2), 99, "mito")).toDS()
      .write.mode("append").partitionBy("source").parquet(s"$dir/input")

    val cfg = TransferJob.Config(
      s"$dir/input", s"$dir/out", s"$dir/store", s"$dir/manifest_txt")
    val r = TransferJob.run(spark, cfg)
    // PER-PARTITION lineage (r04): only mito — the partition whose files
    // changed — is stale; every untouched source promotes on its
    // existing verdict instead of the whole table blocking
    assert(!r.promoted.contains("mito"), r.toString)
    assert(r.promoted.nonEmpty, r.toString)
    assert(r.blockReasons("mito").contains("STALE_LINEAGE"))

    // re-validation under per-partition lineage touches ONLY mito...
    val v2 = ValidationJob.run(spark, ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out",
      baselinePath = Some(s"$dir/baseline")))
    assert(v2.validatedPartitions === Seq("mito"), v2.toString)
    // ...which now carries an invalid row, so it FAILs instead of STALE
    val r2 = TransferJob.run(spark, cfg)
    assert(r2.promoted.nonEmpty)
    assert(!r2.promoted.contains("mito"))
    assert(r2.blockReasons("mito")
      .exists(_.startsWith(graft.model.Status.Fail)))
  }

  test("run lock: a held lock blocks a second run; released lock admits") {
    val dir = tmpDir("lock")
    SequenceGen.sequences(spark, 100)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, 100)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest", s"$dir/out")

    // ValidationJob locks at PARTITION granularity: holding ANY source's
    // lock blocks an unrestricted run (its scope covers every source)
    val held = spark.read.parquet(s"$dir/input")
      .select("source").distinct().collect().map(_.getString(0)).take(1).toSeq
    assert(Checkpoint.acquirePartitionLocks(spark, cfg.outDir, held))
    val e = intercept[IllegalArgumentException] {
      ValidationJob.run(spark, cfg)
    }
    assert(e.getMessage.contains("lock"))
    Checkpoint.releasePartitionLocks(spark, cfg.outDir, held)

    val r = ValidationJob.run(spark, cfg) // acquires + releases internally
    assert(r.validatedPartitions.nonEmpty)
    // every partition lock released after the run
    assert(Checkpoint.acquirePartitionLocks(
      spark, cfg.outDir, r.validatedPartitions))
    Checkpoint.releasePartitionLocks(spark, cfg.outDir, r.validatedPartitions)
  }
}
