package graft.jobs

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.model.{Status, Violation}

/**
 * Submitter-facing TEXT report for one validation run — the human-readable
 * closing loop the machine outputs (verdicts/violations tables, `diff`,
 * `trend`) don't give. Reference analog: the rendered per-submission
 * pass/fail view (lambdas/functions/report/report.py:149-166) plus the
 * line-oriented notification body mailed to the submitter on every
 * validation (lambdas/layers/util/util/notification.py:64-96 — summary
 * line per check family, counts up front, details below).
 *
 * Scale shape — everything that reaches the driver is dimension-bounded:
 *  - the verdict generation is a partition-pruned run_log scan of ONE
 *    run_id (|sources| x |rules| rows);
 *  - per-(source, rule) violation counts are one groupBy over the same
 *    pruned violations_log generation (same bound);
 *  - the example rows come from orderBy().limit(k), which Spark plans as
 *    TakeOrderedAndProject — per-partition top-k, driver merges k rows;
 *    never a full sort, never a full collect.
 */
object ReportJob {

  final case class Rendered(runId: String, text: String)

  /** violations_log on-disk schema: the Violation columns plus run
    * lineage. Declared explicitly so a file-less generation (a run with
    * zero violations) reads as empty instead of aborting inference
    * (the same discipline ValidationJob applies to its own re-reads). */
  private val vioLogSchema: StructType = StructType(
    Encoders.product[Violation].schema.fields ++ Seq(
      StructField("run_id", StringType),
      StructField("snapshot_id", StringType),
      StructField("ruleset_hash", StringType),
      StructField("completed_at", StringType)))

  /** Render the report for `runId` (default: the latest run by completion
    * time). Throws IllegalArgumentException when the run log is empty or
    * the id is unknown — a report over nothing is a caller error, not an
    * empty artifact. */
  def render(
      spark: SparkSession, valOut: String,
      runId: Option[String] = None, topK: Int = 10): Rendered = {
    val ids = RunDiff.runIdsByTime(spark, valOut)
    require(ids.nonEmpty, s"run_log at $valOut holds no runs")
    val run = runId.getOrElse(ids.last)
    require(ids.contains(run),
      s"run_id $run not in run_log (known: ${ids.mkString(", ")})")

    // ONE pruned generation of verdicts: |sources| x |rules| rows.
    val verdicts = spark.read
      .parquet(ValidationJob.runLogPath(valOut))
      .filter(col("run_id") === run)
      .select("source", "rule_id", "status", "severity", "metrics",
        "snapshot_id", "ruleset_hash", "completed_at")
      .collect()
    val snapshotId = verdicts.head.getString(5)
    val rulesetHash = verdicts.head.getString(6)
    val completedAt = verdicts.head.getString(7)

    val vioLog: DataFrame = {
      val p = new org.apache.hadoop.fs.Path(
        ValidationJob.violationsLogPath(valOut))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p))
        spark.read.schema(vioLogSchema)
          .parquet(p.toString).filter(col("run_id") === run)
      else spark.emptyDataFrame.select() // no run ever violated anything
    }
    val hasVio = vioLog.columns.nonEmpty

    // Per-(source, rule) violation counts — dimension-bounded collect.
    val vioCounts: Map[(String, String), Long] =
      if (!hasVio) Map.empty
      else vioLog.groupBy("source", "rule_id").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totalVio = vioCounts.values.sum

    // Bounded example rows: TakeOrderedAndProject, k rows to the driver.
    val examples: Seq[(String, String, String, String)] =
      if (!hasVio || topK <= 0) Nil
      else vioLog
        .filter(col("doc_id").isNotNull) // partition-level rows have no doc
        .orderBy("rule_id", "source", "doc_id")
        .select("rule_id", "source", "doc_id", "observed")
        .limit(topK).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          Option(r.getString(3)).getOrElse(""))).toSeq

    // Per-source roll-up on the severity ladder.
    val bySource = verdicts.groupBy(_.getString(0)).toSeq.sortBy(_._1)
    val statusCounts = verdicts.groupBy(_.getString(2)).view
      .mapValues(_.length).toMap
    def n(s: String) = statusCounts.getOrElse(s, 0)
    val cleanSources = bySource.count { case (_, rows) =>
      rows.forall(r => Status.rank(r.getString(2)) == 0) }
    val promotable = bySource.count { case (_, rows) =>
      rows.forall(r => Status.rank(r.getString(2)) <= 1) }

    val sb = new StringBuilder
    def line(s: String = ""): Unit = { sb.append(s).append('\n'); () }
    def pad(s: String, w: Int): String =
      if (s.length >= w) s else s + (" " * (w - s.length))
    def sect(title: String): String = {
      val head = s"-- $title "
      head + ("-" * math.max(0, 78 - head.length))
    }

    line("== VALIDATION REPORT " + "=" * 57)
    line(f"run       : $run")
    line(f"snapshot  : $snapshotId")
    line(f"ruleset   : $rulesetHash")
    line(f"completed : $completedAt")
    line()
    line(sect("summary"))
    line(s"sources checked : ${bySource.size}     " +
      s"checks evaluated : ${verdicts.length}")
    line(s"PASS : ${n(Status.Pass)}   " +
      s"PASS_WITH_WARNINGS : ${n(Status.PassWithWarnings)}   " +
      s"NOT_COMPLETED : ${n(Status.NotCompleted)}   " +
      s"FAIL : ${n(Status.Fail)}")
    line(s"clean sources : $cleanSources/${bySource.size}     " +
      s"promotable (no FAIL/NOT_COMPLETED) : $promotable/${bySource.size}")
    line(s"violations recorded : $totalVio")
    line()
    line(sect("per-source verdicts"))
    val srcW = math.max(6, bySource.map(_._1.length).max) + 2
    line(pad("source", srcW) + pad("status", 20) + "blocking / warning rules")
    bySource.foreach { case (src, rows) =>
      val worst = rows.maxBy(r => Status.rank(r.getString(2))).getString(2)
      // blocking first (FAIL then NOT_COMPLETED), then warnings; each
      // with its violation count when one exists
      def fmt(r: org.apache.spark.sql.Row): String = {
        val rid = r.getString(1)
        val c = vioCounts.get((src, rid)).map(c => s"($c)").getOrElse("")
        s"${r.getString(2)}:$rid$c"
      }
      val noteworthy = rows
        .filter(r => Status.rank(r.getString(2)) > 0)
        .sortBy(r => (-Status.rank(r.getString(2)), r.getString(1)))
        .map(fmt)
      line(pad(src, srcW) + pad(worst, 20) +
        (if (noteworthy.isEmpty) "-" else noteworthy.mkString("  ")))
    }
    if (examples.nonEmpty) {
      line()
      line(sect(s"example violations (${examples.size} of $totalVio)"))
      val rw = math.max(4, examples.map(_._1.length).max) + 2
      val sw = math.max(6, examples.map(_._2.length).max) + 2
      val dw = math.max(6, examples.map(_._3.length).max) + 2
      line(pad("rule", rw) + pad("source", sw) + pad("doc_id", dw) +
        "observed")
      examples.foreach { case (rid, src, doc, obs) =>
        line(pad(rid, rw) + pad(src, sw) + pad(doc, dw) + obs)
      }
    }
    Rendered(run, sb.result())
  }
}
