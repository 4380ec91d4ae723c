package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.drift.Drift
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import graft.jobs.ValidationJob
import graft.rules.Rules

/** Shared pieces of the two validation workloads. */
object Validation {
  /** The scaling protocol's injection rates: every rule family has work. */
  val knobs: Knobs = Knobs(badNtokRate = 0.01, dupDocIdRate = 0.002)

  /** Write the generated table (partitioned by source), its manifest and
    * a clean drift baseline under `dir`. */
  def generate(spark: SparkSession, dir: Path, rows: Long, seed: Long): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    SequenceGen.sequences(spark, rows, seed, knobs, numPartitions = parts)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, rows, seed)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    Drift.histograms(
        SequenceGen.sequences(spark, rows, seed, numPartitions = parts).toDF(),
        SequenceGen.vocabSize, s"perfbench-$seed")
      .write.mode("overwrite").parquet(s"$dir/baseline")
  }

  def config(dir: Path, out: Path, appendDelta: Boolean): ValidationJob.Config =
    ValidationJob.Config(
      inputPath = s"$dir/input",
      manifestPath = s"$dir/manifest",
      outDir = out.toString,
      baselinePath = Some(s"$dir/baseline"),
      appendDelta = appendDelta)

  /** Violation counts per rule id in a run's output. */
  def violationCounts(spark: SparkSession, out: Path): Map[String, Long] =
    spark.read.parquet(ValidationJob.violationsPath(out.toString))
      .groupBy("rule_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  /** The resume contract: an immediate re-run validates nothing. */
  def checkResume(r: ValidationJob.RunReport): Option[String] =
    mismatch("resume validated partitions", r.validatedPartitions, Nil)
      .orElse(mismatch("resume rows", r.rowsValidated, 0L))

  /** Direct calls into the modules a run reads history through, each timed
    * as a span under `rep`, on the state a run would start from. */
  def directCalls(t: Tracer, rep: Int, spark: SparkSession, dir: Path, out: Path,
      rulesetHash: String): Unit = {
    import graft.checkpoint.Checkpoint
    import graft.sources.{ManifestTable, TableIO}
    val input = s"$dir/input"
    val files = t.call("sources.list_s", rep) {
      ManifestTable.partitionFiles(spark, input)
        .orElse(TableIO.partitionFiles(spark, input, "source")).getOrElse(Map.empty)
    }
    val snaps = files.map { case (p, fs) => p -> TableIO.snapshotIdOfFiles(fs) }
    t.call("checkpoint.classify_s", rep) {
      Checkpoint.completedPartitionsBySnapshot(
        spark, ValidationJob.checkpointPath(out.toString), rulesetHash, snaps)
    }
    val sketches = t.call("checkpoint.read_sketches_s", rep) {
      Rules.standard.crossRunRules.flatMap(r =>
        Checkpoint.readSketches(spark, out.toString, r.id).values.map(_._2))
    }
    t.value("checkpoint.sketch_kib", rep, sketches.map(_.length.toLong).sum / 1024.0)
    t.call("checkpoint.read_inventory_s", rep) { Checkpoint.readInventory(spark, out.toString) }
    t.call("checkpoint.read_state_s", rep) { Checkpoint.readStatsState(spark, out.toString) }
    t.call("operators.bloom_merge_s", rep) {
      sketches.reduceOption(graft.operators.BloomDedup.merge)
    }
  }

  /** The end-to-end set of the validation workloads: `kind` is the op,
    * `reps` the windows of its successful timed ops at local[nproc]. A
    * figure with no successful sample is left out; the run is then
    * already marked incorrect. */
  def endToEnd(ctx: Ctx, setups: Seq[Double], kind: String, reps: Seq[Rep]): Map[String, Double] =
    Map("setup_s" -> Stats.median(setups)) ++
      Stats.medianOpt(ctx.log.times(o => o.kind == kind && o.cpus == ctx.nproc)).map("op_s" -> _) ++
      Stats.medianOpt(reps.map(_.heapMiB)).map("heap_peak_mb" -> _)
}

/**
 * `full_scan`: a rules-complete validation of a freshly generated table
 * into an empty output directory — the scaling protocol's shape. Reps run
 * at local[nproc], then one at local[1] in a fresh session for the scaling
 * figures. Each rep is followed by an immediate re-run, which must skip
 * every partition.
 */
object FullScan {
  val Rows = 25000L

  def run(ctx: Ctx): Outcome = {
    import Validation._
    val dir = ctx.dir("full_scan")
    val out = dir.resolve("out")
    var expect = Map.empty[String, Long]
    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    def rep(spark: SparkSession, cpus: Int, warm: Boolean = false): Unit = {
      org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
      val cfg = config(dir, out, appendDelta = false)
      var report: ValidationJob.RunReport = null
      val (op, window) = ctx.timedRep("validate", cpus, warm) {
        report = ValidationJob.run(spark, cfg); report
      } { r =>
        val got = violationCounts(spark, out)
        mismatch("rows validated", r.rowsValidated, Rows)
          .orElse(expect.collectFirst(Function.unlift { case (rule, n) =>
            mismatch(s"$rule violations", got.getOrElse(rule, 0L), n)
          }))
      }
      if (!warm && op.ok && cpus == ctx.nproc) reps += window
      ctx.log("resume", cpus, warm)(ValidationJob.run(spark, cfg))(checkResume)
      for (t <- ctx.tracer if !warm && op.ok && cpus == ctx.nproc)
        directCalls(t, window.id, spark, dir, out, report.rulesetHash)
    }
    val setups = ctx.withSession(ctx.nproc) { spark =>
      val s = ctx.timeSetups(() => generate(spark, dir, Rows, ctx.seed))
      // the counts the engine must report, from plain DataFrame ops
      val in = spark.read.parquet(s"$dir/input")
      val badNtok = in.filter(col("n_tok") =!= size(col("tokens"))).count()
      val dupPairs = in.filter(col("doc_id").isNotNull)
        .groupBy("doc_id").agg(count(lit(1)).as("n"), collect_set("source").as("srcs"))
        .filter(col("n") > 1).select(explode(col("srcs"))).count()
      expect = Map(Rules.RConsistentNtok -> badNtok, Rules.RUniqueDocId -> dupPairs)
      rep(spark, ctx.nproc, warm = true)
      ctx.loop(nominalS = 6)(() => rep(spark, ctx.nproc))
      s
    }
    // one single-thread rep, for the scaling figures in the detail
    ctx.withSession(1)(rep(_, 1))

    val opN = Stats.medianOpt(ctx.log.times(o => o.kind == "validate" && o.cpus == ctx.nproc))
    val op1 = Stats.medianOpt(ctx.log.times(o => o.kind == "validate" && o.cpus == 1))
    val e2e = endToEnd(ctx, setups, "validate", reps.toSeq)
    val detail = Map("rows" -> Rows.toDouble, "timed_reps" -> reps.size.toDouble) ++
      opN.map(t => "rows_per_s" -> Rows / t) ++
      op1.map(t => "rows_per_s_1t" -> Rows / t) ++
      (for (n <- opN; one <- op1) yield "scaling_eff" -> one / (ctx.nproc * n)) ++
      Stats.medianOpt(ctx.log.times(o => o.kind == "resume" && o.cpus == ctx.nproc))
        .map("resume_s" -> _)
    Outcome(e2e, ctx.tracer.map(_.layerMetrics(reps.toSeq)).getOrElse(Map.empty), detail,
      reps.toSeq)
  }
}
