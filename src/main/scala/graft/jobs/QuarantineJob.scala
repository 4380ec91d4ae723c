package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.rules.{CrossRunUniqueRule, RowRule, RuleSet, Rules, UniqueRule}
import graft.sources.TableIO

/**
 * Row-level salvage of FAILING sources — the fix-forward complement of
 * [[TransferJob]]'s all-or-nothing promotion gate: transfer blocks a whole
 * source on any FAIL verdict (the reference holds the full submission,
 * folder_lock.py + batch.py:191-229), while quarantine splits a source
 * whose failures are ROW-ATTRIBUTABLE into a salvaged table (rows named by
 * no violation) and a quarantine table (the named rows, each carrying the
 * rule ids that named it) — so the clean 99.9% of a submission with a few
 * bad rows can re-validate and promote instead of waiting on a fix.
 *
 * Split policy — exactly what the violations table names, nothing
 * heuristic:
 *  - A source is splittable iff EVERY rule with a FAIL verdict for it is
 *    doc-attributable (row / uniqueness / cross-run-uniqueness rules). A
 *    partition-level failure (drift, referential integrity, row-count
 *    reconciliation, manifest) cannot be fixed by dropping rows — those
 *    sources are reported `skipped` with the blocking rule ids.
 *  - Quarantined rows = rows whose (source, doc_id) a current
 *    error-severity violation names, plus — when a row-rule violation with
 *    a NULL doc id exists for the source (an unkeyable schema-failing
 *    row) — every null-id row of that source.
 *  - Duplicates quarantine ALL named copies (the violations table names
 *    every member, mirroring the reference's all-locations duplicate
 *    evidence, manifest_processor.py:293-305); keep-one survivor selection
 *    is a curation choice that belongs to the dedup operators, not a
 *    validation gate.
 *
 * Scale shape: verdicts and violations are the SMALL failing slice —
 * the bad-id set broadcasts; the fact table is scanned with the failing
 * sources pruned at the partition level, once per output side (each side's
 * join/anti-join then filters it map-side; no fact-table shuffle). Writes
 * are idempotent dynamic-partition overwrites.
 */
object QuarantineJob {

  final case class Report(
      /** source → rows written to the salvage table */
      salvaged: Map[String, Long],
      /** source → rows written to the quarantine table */
      quarantined: Map[String, Long],
      /** source → FAIL rule ids that are not row-attributable (source left
        * untouched for a real fix) */
      skipped: Map[String, Seq[String]],
      dryRun: Boolean)

  /** Rule ids whose violations name individual rows. */
  private def docAttributableIds(rules: RuleSet): Set[String] =
    rules.rules.collect {
      case r: RowRule => r.id
      case r: UniqueRule => r.id
      case r: CrossRunUniqueRule => r.id
    }.toSet

  private def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  def run(
      spark: SparkSession,
      inputPath: String,
      validationOutDir: String,
      salvageDir: String,
      quarantineDir: String,
      rules: RuleSet = Rules.standard,
      dryRun: Boolean = false): Report = {
    import spark.implicits._

    val verdictsPath = ValidationJob.verdictsPath(validationOutDir)
    require(hasDataFiles(spark, verdictsPath),
      s"no verdicts under $validationOutDir — run validate first")
    val verdicts = spark.read.parquet(verdictsPath)
      .select("source", "rule_id", "status").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

    val failBySource: Map[String, Seq[String]] = verdicts
      .filter(_._3 == Status.Fail)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val rowIds = docAttributableIds(rules)
    val (splittable, skipped) = failBySource.partition {
      case (_, ruleIds) => ruleIds.forall(rowIds)
    }
    if (splittable.isEmpty)
      return Report(Map.empty, Map.empty,
        skipped.view.mapValues(_.filterNot(rowIds)).toMap, dryRun)
    val srcs = splittable.keys.toSeq.sorted

    // the failing slice: every error-severity row-attributed violation of
    // the splittable sources, keyed (source, doc_id) with the naming rules
    // as evidence — SMALL by construction, broadcast into both joins
    val vioPath = ValidationJob.violationsPath(validationOutDir)
    require(hasDataFiles(spark, vioPath),
      s"FAIL verdicts but no violations table under $validationOutDir")
    val vio = spark.read.parquet(vioPath)
      .filter(col("source").isin(srcs.map(x => x: Any): _*) &&
        col("severity") === Severity.Error &&
        col("rule_id").isin(rowIds.toSeq.map(x => x: Any): _*))
    val badIds = broadcast(vio
      .filter(col("doc_id").isNotNull)
      .groupBy(col("source"), col("doc_id"))
      .agg(sort_array(collect_set(col("rule_id"))).as("rule_ids")))
    // sources holding an UNKEYABLE failing row (null doc id booked by a
    // row rule): every null-id row of that source quarantines too
    val nullRowSrcs = vio.filter(col("doc_id").isNull)
      .select("source").distinct().as[String].collect().toSet

    val input = graft.operators.SchemaCheck.readTyped[Sequence](
      spark, inputPath, s"input table $inputPath")
    def scoped: DataFrame = input.toDF()
      .filter(col("source").isin(srcs.map(x => x: Any): _*))
    val isNullQuarantined = col("doc_id").isNull &&
      col("source").isin(nullRowSrcs.toSeq.map(x => x: Any): _*)

    val quarantined = scoped
      .join(badIds, Seq("source", "doc_id"))
      .unionByName(scoped.filter(isNullQuarantined)
        .withColumn("rule_ids", array().cast("array<string>")))
    val salvaged = scoped
      .filter(!isNullQuarantined)
      .join(badIds.select("source", "doc_id"), Seq("source", "doc_id"),
        "left_anti")

    def counts(df: DataFrame): Map[String, Long] = {
      val m = df.groupBy("source").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      srcs.map(s => s -> m.getOrElse(s, 0L)).toMap
    }
    val qCounts = counts(quarantined)
    val sCounts = counts(salvaged)

    if (!dryRun) {
      TableIO.writePartitioned(
        salvaged.select("doc_id", "tokens", "n_tok", "source"),
        salvageDir)
      TableIO.writePartitioned(
        quarantined.select("doc_id", "tokens", "n_tok", "rule_ids",
          "source"),
        quarantineDir)
    }
    Report(sCounts, qCounts,
      skipped.view.mapValues(_.filterNot(rowIds)).toMap, dryRun)
  }
}
