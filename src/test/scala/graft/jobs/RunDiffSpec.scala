package graft.jobs

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.model._
import org.apache.spark.sql.functions._

/** Cross-run verdict regression diff over the run_log. */
class RunDiffSpec extends SparkSpec {
  import spark.implicits._

  private def validate(dir: String): Unit =
    ValidationJob.run(spark, ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out"))

  test("fix -> recovered, break -> regressed, new source -> appeared; " +
      "unchanged pairs are dropped unless asked for") {
    val dir = tmpDir("rundiff")
    // run 1: mito carries a bad-ntok row, cardiac is clean
    val base = SequenceGen.sequences(spark, 400).toDF().as[Sequence]
      .collect().toSeq
    val bad = Sequence("DBAD000000001", Array(1, 2, 3), 99, "mito")
    (base :+ bad).toDS().write.mode("overwrite")
      .partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, 400)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    validate(dir)

    // run 2: mito fixed; cardiac broken; brand-new source appears
    val broken = base.map(s =>
      if (s.source == "cardiac" && s.doc_id == base
        .find(_.source == "cardiac").get.doc_id)
        s.copy(n_tok = s.n_tok + 7)
      else s)
    val extra = Sequence("DNEW000000001", Array(1), 1, "novel_source")
    (broken :+ extra).toDS().write.mode("overwrite")
      .partitionBy("source").parquet(s"$dir/input")
    validate(dir)

    val ids = RunDiff.runIdsByTime(spark, s"$dir/out")
    assert(ids.size === 2)
    val d = RunDiff.diff(spark, s"$dir/out", ids.head, ids.last)
      .as[(String, String, String, String, String)].collect()

    val mito = d.filter(r => r._1 == "mito" && r._2 == "R_CONSISTENT_NTOK")
    assert(mito.map(_._5).toSeq === Seq("recovered"), d.mkString("\n"))
    assert(mito.head._3 === Status.Fail && mito.head._4 === Status.Pass)

    val card = d.filter(r => r._1 == "cardiac" && r._2 == "R_CONSISTENT_NTOK")
    assert(card.map(_._5).toSeq === Seq("regressed"))

    assert(d.filter(_._1 == "novel_source").map(_._5).toSet === Set("appeared"))
    assert(!d.map(_._5).contains("unchanged"))
    // both runs were full rescans, so nothing reads as not_revalidated
    assert(!d.map(_._5).contains("not_revalidated"))

    // run 3: only mito's content changes, so resume re-validates mito
    // alone — every other source has no fresh verdict and must read as
    // not_revalidated, NOT as removed/regressed
    (Seq(Sequence("DNEW000000002", Array(2, 3), 2, "mito")))
      .toDS().write.mode("append").partitionBy("source")
      .parquet(s"$dir/input")
    validate(dir)
    val ids3 = RunDiff.runIdsByTime(spark, s"$dir/out")
    assert(ids3.size === 3)
    val d3 = RunDiff.diff(spark, s"$dir/out", ids3(1), ids3(2))
      .as[(String, String, String, String, String)].collect()
    assert(d3.filter(_._1 != "mito").map(_._5).toSet ===
      Set("not_revalidated"), d3.mkString("\n"))

    // all = true keeps the unchanged grid too
    val all = RunDiff.diff(spark, s"$dir/out", ids.head, ids.last, all = true)
    assert(all.filter(col("kind") === "unchanged").count() > 0)
    // and the two-sided rows dominate: every (source, rule) appears once
    assert(all.groupBy("source", "rule_id").count()
      .filter(col("count") > 1).count() === 0)
  }

  test("diffLatest needs two runs") {
    val dir = tmpDir("rundiff1")
    SequenceGen.sequences(spark, 200).toDF().as[Sequence]
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, 200)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    validate(dir)
    assert(RunDiff.diffLatest(spark, s"$dir/out").isEmpty)
  }

  test("trend reads break-then-flap as degrading/volatile and fix as " +
      "improving over three runs; flat pairs stay flat") {
    val dir = tmpDir("runtrend")
    val base = SequenceGen.sequences(spark, 300).toDF().as[Sequence]
      .collect().toSeq
    def write(rows: Seq[Sequence]): Unit =
      rows.toDS().write.mode("overwrite")
        .partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, 300)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    val badMito = Sequence("DBAD000000001", Array(1, 2), 77, "mito")
    val badCard = Sequence("DBAD000000002", Array(3), 55, "cardiac")
    // run 1: mito bad, cardiac clean | run 2: mito fixed, cardiac broken
    // | run 3: mito bad AGAIN (flap), cardiac still broken
    write(base :+ badMito); validate(dir)
    write(base :+ badCard); validate(dir)
    write(base ++ Seq(badMito, badCard)); validate(dir)

    val t = RunDiff.trend(spark, s"$dir/out", lastK = 3)
      .as[(String, String, Long, Long, String, String)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val mito = t(("mito", "R_CONSISTENT_NTOK"))
    // equal ends, but a fall AND a rise in between: the flap signature
    assert(mito._5 === "FAIL>PASS>FAIL" && mito._6 === "volatile",
      mito.toString)
    val card = t(("cardiac", "R_CONSISTENT_NTOK"))
    assert(card._5 === "PASS>FAIL>FAIL" && card._6 === "degrading",
      card.toString)
    assert(card._4 === 2L) // n_fail counts covered-run failures
    // an always-passing pair is flat with zero failures
    val flat = t.values.find(v => v._5 == "PASS>PASS>PASS")
    assert(flat.isDefined && flat.get._6 === "flat" && flat.get._4 === 0L)
  }

  test("runs order by completion instant, not by the stamp's text: " +
      ":01Z precedes :01.500Z") {
    val dir = tmpDir("rundiff_order")
    // Instant.toString trims trailing zero digits, so the earlier stamp
    // is the lexically LARGER one ('Z' > '.')
    def rec(run: String, at: String) = RunLogRecord(run, "snap", "hash",
      "mito", "R_CONSISTENT_NTOK", Status.Pass, Severity.Error, "{}", at)
    Seq(rec("run_early", "2026-01-01T00:00:01Z"),
        rec("run_late", "2026-01-01T00:00:01.500Z")).toDS()
      .write.partitionBy("run_id").parquet(ValidationJob.runLogPath(s"$dir/out"))
    assert(RunDiff.runIdsByTime(spark, s"$dir/out") ===
      Seq("run_early", "run_late"))
    assert(RunDiff.diffLatest(spark, s"$dir/out").map(d => (d._1, d._2)) ===
      Some(("run_early", "run_late")))
    // audit-log retention keeps the later run
    assert(CleanupJob.pruneRunLogs(spark, s"$dir/out", keepRuns = 1,
      dryRun = true) === Seq("run_early"))
  }
}
