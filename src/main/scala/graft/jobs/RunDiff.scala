package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{CompletedAt, Status}

/**
 * Cross-run verdict REGRESSION diff: "what changed since the last run"
 * over the append-only `run_log` (one generation per run_id). The
 * reference's operators answer this by eyeballing consecutive
 * `STATUS:{check}` records in the results table (dynamodb.py:89-119,
 * results queried per submission in batch.py); here it is one query.
 *
 * Transitions are ranked on the severity ladder PASS <
 * PASS_WITH_WARNINGS < NOT_COMPLETED < FAIL:
 *  - `regressed`  — rank increased (e.g. PASS -> FAIL): the signal a
 *    gate should page on;
 *  - `recovered`  — rank decreased;
 *  - `appeared` — the (source, rule) exists only in the after run (new
 *    source or new rule — visibility, not severity);
 *  - `not_revalidated` — it exists only in the before run. Run logs are
 *    RUN-scoped, so a resume/submission-scoped run simply does not
 *    cover sources it skipped; absence means "no fresh verdict", never
 *    "the source vanished" (the checkpoint still carries its lineage);
 *  - `unchanged`  — everything else (dropped unless `all = true`).
 *
 * Scale shape: the run_log is partitioned by run_id, so each side of the
 * diff is a partition-pruned scan of ONE generation (|sources| × |rules|
 * rows — dimension-sized, never corpus-sized); the diff itself is a
 * single full-outer join on (source, rule_id).
 */
object RunDiff {

  private val rank = typedLit(Status.rank)

  /** run_ids ordered oldest -> newest by their recorded completion time,
    * run_id breaking ties (the distinct (run_id, completed_at) pairs of
    * the run_log, ordered on the driver by [[CompletedAt]]). */
  def runIdsByTime(spark: SparkSession, outDir: String): Seq[String] =
    CompletedAt.byTime(spark.read.parquet(ValidationJob.runLogPath(outDir))
      .select("run_id", "completed_at").distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)))

  /** Verdict transitions from `beforeRun` to `afterRun`. */
  def diff(
      spark: SparkSession, outDir: String,
      beforeRun: String, afterRun: String,
      all: Boolean = false): DataFrame = {
    val log = spark.read.parquet(ValidationJob.runLogPath(outDir))
    def side(run: String, as: String) =
      log.filter(col("run_id") === run) // partition-pruned scan
        .select(col("source"), col("rule_id"),
          col("status").as(s"status_$as"), col("severity").as(s"sev_$as"))
    val joined = side(beforeRun, "before")
      .join(side(afterRun, "after"), Seq("source", "rule_id"), "full_outer")
    val rb = rank(col("status_before"))
    val ra = rank(col("status_after"))
    val out = joined.withColumn("kind",
      when(col("status_before").isNull, lit("appeared"))
        .when(col("status_after").isNull, lit("not_revalidated"))
        .when(ra > rb, lit("regressed"))
        .when(ra < rb, lit("recovered"))
        .otherwise(lit("unchanged")))
      .select("source", "rule_id", "status_before", "status_after", "kind")
    if (all) out else out.filter(col("kind") =!= "unchanged")
  }

  /** Latest-two convenience: (before, after, transitions). */
  def diffLatest(spark: SparkSession, outDir: String)
      : Option[(String, String, DataFrame)] = {
    val ids = runIdsByTime(spark, outDir)
    if (ids.size < 2) None
    else Some((ids(ids.size - 2), ids.last,
      diff(spark, outDir, ids(ids.size - 2), ids.last)))
  }

  /** Cross-run verdict TREND over the last `lastK` runs — the "is this
    * source getting better or worse" view the two-run diff can't give
    * (a flapping rule looks like a regression or a recovery depending on
    * which two runs you compare; over k runs it reads `volatile`).
    * Per (source, rule_id) covered by ≥ 2 of those runs:
    *   - `trajectory` — the run-ordered status path ("PASS>FAIL>PASS"),
    *   - `n_fail` — how many of the covered runs failed,
    *   - `direction` — `degrading` (first→last rank rose), `improving`
    *     (fell), `volatile` (equal ends but both up- and down-steps in
    *     between), `flat` otherwise.
    * A resume-skipped run simply doesn't appear in a pair's path (run
    * logs are run-scoped) — coverage is reported, never guessed.
    *
    * Scale shape: the run_log read partition-prunes to k generations
    * (|sources| × |rules| × k rows — dimension-sized); one groupBy over
    * (source, rule) with an in-row sorted fold; the run-time lookup is a
    * broadcast of k rows. */
  def trend(spark: SparkSession, outDir: String, lastK: Int = 5)
      : DataFrame = {
    val ids = runIdsByTime(spark, outDir).takeRight(lastK)
    val log = spark.read.parquet(ValidationJob.runLogPath(outDir))
      .filter(col("run_id").isin(ids.map(x => x: Any): _*))
    val order = typedLit(ids.zipWithIndex.toMap)
    val paths = log
      .select(col("source"), col("rule_id"),
        order(col("run_id")).as("ord"), col("status"))
      .groupBy("source", "rule_id")
      .agg(sort_array(collect_list(struct(col("ord"), col("status"))))
        .as("path"))
      .filter(size(col("path")) >= 2)
      .select(col("source"), col("rule_id"),
        transform(col("path"), _.getField("status")).as("statuses"))
    val ranks = transform(col("statuses"), s => rank(s))
    val steps = zip_with(
      slice(ranks, lit(1), size(col("statuses")) - 1),
      slice(ranks, lit(2), size(col("statuses")) - 1),
      (a, b) => b - a)
    paths.select(
        col("source"), col("rule_id"),
        size(col("statuses")).as("n_runs"),
        aggregate(col("statuses"), lit(0L),
          (acc, s) => acc + when(s === Status.Fail, 1L).otherwise(0L))
          .as("n_fail"),
        array_join(col("statuses"), ">").as("trajectory"),
        element_at(ranks, 1).as("r_first"),
        element_at(ranks, -1).as("r_last"),
        exists(steps, _ > 0).as("rose"),
        exists(steps, _ < 0).as("fell"))
      .withColumn("direction",
        when(col("r_last") > col("r_first"), lit("degrading"))
          .when(col("r_last") < col("r_first"), lit("improving"))
          .when(col("rose") && col("fell"), lit("volatile"))
          .otherwise(lit("flat")))
      .select("source", "rule_id", "n_runs", "n_fail", "trajectory",
        "direction")
  }
}
