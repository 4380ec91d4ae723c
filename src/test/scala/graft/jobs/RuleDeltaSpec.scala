package graft.jobs

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import graft.model._
import graft.drift.Drift
import graft.rules.{RowRule, RuleSet, Rules}
import org.apache.spark.sql.functions._

/** Rule-delta revalidation: unchanged-data partitions whose RULE SET
  * changed re-evaluate only the changed rules; unchanged rules' verdicts
  * carry forward and their violations survive the partition rewrite —
  * and the resulting tables equal a from-scratch full run byte-for-byte
  * on the comparable columns. */
class RuleDeltaSpec extends SparkSpec {
  import spark.implicits._

  private val N = 1500L

  private def writeInput(dir: String, knobs: Knobs): Unit = {
    SequenceGen.sequences(spark, N, knobs = knobs)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, N)
      .write.mode("overwrite").parquet(s"$dir/manifest")
  }

  private def cfg(dir: String, out: String, rules: RuleSet,
      ruleDelta: Boolean = false,
      baseline: String = "baseline") = ValidationJob.Config(
    s"$dir/input", s"$dir/manifest", s"$dir/$out",
    baselinePath = Some(s"$dir/$baseline"), rules = rules,
    ruleDelta = ruleDelta)

  private val capRule = RowRule(
    "R_NTOK_CAP", Severity.Warning,
    valid = col("n_tok") <= 40,
    observed = to_json(struct(col("n_tok"))))

  private def vioSet(out: String): Set[(String, String, String)] = {
    // a run with zero violations leaves the table dir file-less
    val hasData = new java.io.File(s"$out/violations").exists() && {
      val it = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$out/violations"))
      try it.anyMatch(p => p.toString.endsWith(".parquet"))
      finally it.close()
    }
    if (!hasData) Set.empty
    else spark.read.parquet(s"$out/violations")
      .select("doc_id", "rule_id", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
  }

  private def verdictSet(out: String): Set[(String, String, String)] =
    spark.read.parquet(s"$out/verdicts")
      .select("source", "rule_id", "status")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet

  test("adding one rule re-evaluates ONLY it; carried verdicts keep their " +
      "original metrics; tables equal a from-scratch full run; the next " +
      "run skips everything") {
    val dir = tmpDir("rdelta")
    Drift.histograms(
        SequenceGen.sequences(spark, N).toDF(), SequenceGen.vocabSize, "base")
      .write.mode("overwrite").parquet(s"$dir/baseline")
    writeInput(dir, Knobs(badNtokRate = 0.04, dupDocIdRate = 0.01))

    val r1 = ValidationJob.run(spark, cfg(dir, "out", Rules.standard))
    assert(r1.validatedPartitions.nonEmpty && r1.violations > 0)
    val vio1 = vioSet(s"$dir/out")
    val metrics1 = spark.read.parquet(s"$dir/out/verdicts")
      .select("source", "rule_id", "metrics").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

    // edit: ADD one row rule, touch nothing else
    val extended = RuleSet(Rules.standard.rules :+ capRule)
    val r2 = ValidationJob.run(spark,
      cfg(dir, "out", extended, ruleDelta = true))
    assert(r2.ruleDeltaPartitions === r1.validatedPartitions.sorted,
      "every unchanged-data partition must take the rule-delta path")
    assert(r2.rulesEvaluated === Seq("R_NTOK_CAP"),
      s"only the added rule should evaluate, got ${r2.rulesEvaluated}")

    // the new rule fired (generator spans the cap)
    val vio2 = vioSet(s"$dir/out")
    assert(vio2.exists(_._2 == "R_NTOK_CAP"))
    // every old violation survived the partition rewrite
    assert(vio1.subsetOf(vio2))
    assert(vio2.filterNot(_._2 == "R_NTOK_CAP") === vio1)

    // carried verdicts keep the prior run's metrics payload verbatim
    val metrics2 = spark.read.parquet(s"$dir/out/verdicts")
      .select("source", "rule_id", "metrics").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    metrics1.foreach { case (k, m) =>
      assert(metrics2(k) === m, s"carried verdict $k lost its metrics")
    }

    // equivalence: a FULL from-scratch run under the extended rules lands
    // on identical violation keys and verdict statuses
    val rFull = ValidationJob.run(spark, cfg(dir, "out_full", extended))
    assert(rFull.ruleDeltaPartitions.isEmpty)
    assert(vioSet(s"$dir/out_full") === vio2)
    assert(verdictSet(s"$dir/out_full") === verdictSet(s"$dir/out"))

    // lineage: the rule-delta run checkpointed under the FULL new hash
    val r3 = ValidationJob.run(spark,
      cfg(dir, "out", extended, ruleDelta = true))
    assert(r3.validatedPartitions.isEmpty &&
      r3.skippedPartitions === r1.validatedPartitions ++
        r1.skippedPartitions)
  }

  test("a baseline refresh re-evaluates exactly the drift family") {
    val dir = tmpDir("rdelta_base")
    Drift.histograms(
        SequenceGen.sequences(spark, N).toDF(), SequenceGen.vocabSize, "base")
      .write.mode("overwrite").parquet(s"$dir/baseline")
    writeInput(dir, Knobs.clean)
    val r1 = ValidationJob.run(spark, cfg(dir, "out", Rules.standard))
    assert(r1.validatedPartitions.nonEmpty)

    // refresh the baseline (different generation seed → different content)
    Drift.histograms(
        SequenceGen.sequences(spark, N, seed = 7L).toDF(),
        SequenceGen.vocabSize, "base7")
      .write.mode("overwrite").parquet(s"$dir/baseline2")
    val r2 = ValidationJob.run(spark,
      cfg(dir, "out", Rules.standard, ruleDelta = true,
        baseline = "baseline2"))
    val driftIds = Rules.standard.driftRules.map(_.id).sorted
    assert(r2.ruleDeltaPartitions.nonEmpty)
    assert(r2.rulesEvaluated === driftIds,
      s"a baseline swap must re-run only drift rules, got " +
        s"${r2.rulesEvaluated}")
    // drift verdicts are FRESH (ran against the new baseline), the rest
    // carried — and the table still covers the full rule domain
    val verdicts = spark.read.parquet(s"$dir/out/verdicts")
      .select("rule_id").distinct().as[String].collect().toSet
    assert(verdicts === Rules.standard.ruleIds.toSet)
  }

  test("changed data falls back to a full evaluation (no carried rows " +
      "against different rows)") {
    val dir = tmpDir("rdelta_data")
    Drift.histograms(
        SequenceGen.sequences(spark, N).toDF(), SequenceGen.vocabSize, "base")
      .write.mode("overwrite").parquet(s"$dir/baseline")
    writeInput(dir, Knobs.clean)
    val r1 = ValidationJob.run(spark, cfg(dir, "out", Rules.standard))
    assert(r1.validatedPartitions.nonEmpty)

    // REWRITE the input (different knobs → different snapshot ids)
    writeInput(dir, Knobs(badNtokRate = 0.05))
    val extended = RuleSet(Rules.standard.rules :+ capRule)
    val r2 = ValidationJob.run(spark,
      cfg(dir, "out", extended, ruleDelta = true))
    assert(r2.ruleDeltaPartitions.isEmpty,
      "changed-data partitions must not take the rule-delta path")
    assert(r2.rulesEvaluated === extended.ruleIds.sorted)
    assert(r2.validatedPartitions.nonEmpty && r2.violations > 0)
  }

  test("a removed rule's violations and verdicts vanish from the current " +
      "tables (removal-only edits fall back to full evaluation)") {
    val dir = tmpDir("rdelta_rm")
    Drift.histograms(
        SequenceGen.sequences(spark, N).toDF(), SequenceGen.vocabSize, "base")
      .write.mode("overwrite").parquet(s"$dir/baseline")
    writeInput(dir, Knobs(badNtokRate = 0.04))
    ValidationJob.run(spark, cfg(dir, "out", Rules.standard))
    assert(vioSet(s"$dir/out").exists(_._2 == Rules.RConsistentNtok))

    val without = RuleSet(Rules.standard.rules.filterNot(
      _.id == Rules.RConsistentNtok))
    val r2 = ValidationJob.run(spark,
      cfg(dir, "out", without, ruleDelta = true))
    // removal-only: changed set is empty → full evaluation, documented
    assert(r2.ruleDeltaPartitions.isEmpty)
    assert(r2.rulesEvaluated === without.ruleIds.sorted)
    assert(!vioSet(s"$dir/out").exists(_._2 == Rules.RConsistentNtok))
    assert(!verdictSet(s"$dir/out").exists(_._2 == Rules.RConsistentNtok))
  }

  test("rule-delta after a run with ZERO violations: nothing to preserve, " +
      "the added rule's violations land, tables equal a full run") {
    val dir = tmpDir("rdelta_zero")
    writeInput(dir, Knobs.clean)
    val nonNeg = RuleSet(Seq(RowRule(
      "R_NTOK_NONNEG", Severity.Error,
      valid = col("n_tok") >= 0,
      observed = to_json(struct(col("n_tok"))))))
    def cfgOf(out: String, rules: RuleSet, ruleDelta: Boolean = false) =
      ValidationJob.Config(s"$dir/input", s"$dir/manifest", s"$dir/$out",
        rules = rules, ruleDelta = ruleDelta)

    val r1 = ValidationJob.run(spark, cfgOf("out", nonNeg))
    assert(r1.validatedPartitions.nonEmpty && r1.violations === 0L)
    assert(vioSet(s"$dir/out").isEmpty)

    val extended = RuleSet(nonNeg.rules :+ capRule)
    val r2 = ValidationJob.run(spark, cfgOf("out", extended, ruleDelta = true))
    assert(r2.ruleDeltaPartitions === r1.validatedPartitions.sorted)
    assert(r2.rulesEvaluated === Seq("R_NTOK_CAP"))
    val vio2 = vioSet(s"$dir/out")
    assert(vio2.nonEmpty && vio2.forall(_._2 == "R_NTOK_CAP"))

    ValidationJob.run(spark, cfgOf("out_full", extended))
    assert(vioSet(s"$dir/out_full") === vio2)
    assert(verdictSet(s"$dir/out_full") === verdictSet(s"$dir/out"))
  }

  test("adding the storage row-count rule by rule-delta evaluates only it " +
      "and lands the same verdicts as a full run") {
    import graft.sources.ManifestTable
    val dir = tmpDir("rdelta_storage")
    Drift.histograms(
        SequenceGen.sequences(spark, N).toDF(), SequenceGen.vocabSize, "base")
      .write.mode("overwrite").parquet(s"$dir/baseline")
    writeInput(dir, Knobs.clean)
    ManifestTable.commit(spark, s"$dir/input", statsCols = Seq("n_tok"))
    val r1 = ValidationJob.run(spark, cfg(dir, "out", Rules.standard))
    assert(r1.validatedPartitions.nonEmpty)

    val withCount = Rules.withStorageCount(Rules.standard)
    val r2 = ValidationJob.run(spark,
      cfg(dir, "out", withCount, ruleDelta = true))
    assert(r2.ruleDeltaPartitions === r1.validatedPartitions.sorted)
    assert(r2.rulesEvaluated === Seq(Rules.RStorageCount))

    ValidationJob.run(spark, cfg(dir, "out_full", withCount))
    assert(verdictSet(s"$dir/out").filter(_._2 == Rules.RStorageCount)
      .map(_._3) === Set(Status.Pass))
    assert(verdictSet(s"$dir/out_full") === verdictSet(s"$dir/out"))
    assert(vioSet(s"$dir/out_full") === vioSet(s"$dir/out"))
  }
}
