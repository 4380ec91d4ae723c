package graft.rules

import org.apache.spark.sql.Dataset
import graft.model._

/** Specs evaluate a rule set through the one production entry point,
  * [[RuleEngine.planStaged]], composed the way ValidationJob composes it:
  * materialize the scan violations (the action `finish()` requires), add
  * the driver-derived families, roll up verdicts over the staged facts.
  * No partition scoping, checkpoints or cross-run rules — those are the
  * job's, and its own specs cover them. */
object Evaluate {

  final case class Result(
      violations: Dataset[Violation],
      verdicts: Dataset[Verdict],
      fin: RuleEngine.StagedResult)

  def apply(
      seqs: Dataset[Sequence],
      manifest: Dataset[ManifestEntry],
      rules: RuleSet,
      baseline: Option[Dataset[BaselineBin]] = None,
      refSnapshot: Option[Dataset[Sequence]] = None): Result = {
    val spark = seqs.sparkSession
    import spark.implicits._
    val staged = RuleEngine.planStaged(
      seqs, manifest, rules, baseline, refSnapshot = refSnapshot)
    val scan = staged.scanViolations.collect().toSeq
    val fin = staged.finish()
    val violations = spark.createDataset(scan ++ fin.driverViolations)
    val verdicts = RuleEngine.rollUpVerdicts(
      spark, fin.sources, rules, violations, fin.stats, fin.notCompleted)
    Result(violations, verdicts, fin)
  }
}
