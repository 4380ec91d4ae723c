package perfbench

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import graft.jobs.ValidationJob
import graft.rules.Rules
import scala.jdk.CollectionConverters._

/**
 * `append_delta`: incremental validation of a grown table. Set-up
 * validates a history table with `appendDelta = true` and keeps that
 * output as the pristine state. Each rep restores it, appends one batch of
 * new files to three partitions (`cardiac` plus two chosen by the seed),
 * with old↔new duplicate doc ids planted, and times the delta run; then it
 * times an immediate re-run, which must skip every partition.
 */
object AppendDelta {
  val HistoryRows = 12000L
  val AppendRows = 120L
  val Planted = 16

  def run(ctx: Ctx): Outcome = {
    import Validation._
    val dir = ctx.dir("append_delta")
    val pristine = dir.resolve("pristine_out")
    val out = dir.resolve("out")
    val batch = dir.resolve("batch")
    val rnd = new scala.util.Random(ctx.seed)
    val grown = ("cardiac" +: rnd.shuffle(SequenceGen.sources.tail).take(2)).sorted
    var rulesetHash = ""
    var planted = Seq.empty[String]

    val added = scala.collection.mutable.ArrayBuffer.empty[Path]
    def restore(): Unit = {
      FileUtils.deleteQuietly(out.toFile)
      FileUtils.copyDirectory(pristine.toFile, out.toFile)
      added.foreach(Files.deleteIfExists)
      added.clear()
      for {
        part <- Files.list(batch).iterator.asScala if Files.isDirectory(part)
        f <- Files.list(part).iterator.asScala if f.getFileName.toString.endsWith(".parquet")
      } {
        val target = dir.resolve("input").resolve(part.getFileName).resolve("delta-" + f.getFileName)
        Files.copy(f, target)
        added += target
      }
    }

    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    def rep(spark: SparkSession, warm: Boolean = false): Unit = {
      restore()
      val cfg = config(dir, out, appendDelta = true)
      val (op, window) = ctx.timedRep("delta", ctx.nproc, warm)(ValidationJob.run(spark, cfg)) { r =>
        val crossRun = spark.read.parquet(ValidationJob.violationsPath(out.toString))
          .filter(col("rule_id") === Rules.RCrossRunUnique)
          .select("doc_id").distinct().collect().map(_.getString(0)).toSeq.sorted
        mismatch("delta partitions", r.deltaPartitions, grown)
          .orElse(mismatch("rows validated", r.rowsValidated, AppendRows))
          .orElse(mismatch("cross-run duplicate doc ids", crossRun, planted))
      }
      if (!warm && op.ok) reps += window
      ctx.log("resume", ctx.nproc, warm)(ValidationJob.run(spark, cfg))(checkResume)
      // direct calls on a second restore of the state the delta run started
      // from, after the timed ops: traced and untraced runs then time the
      // same ops from the same state
      for (t <- ctx.tracer if !warm) {
        restore()
        directCalls(t, window.id, spark, dir, out, rulesetHash)
      }
    }
    val historyRuns = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setups = ctx.withSession(ctx.nproc) { spark =>
      val s = ctx.timeSetups { () =>
        FileUtils.deleteQuietly(pristine.toFile)
        generate(spark, dir, HistoryRows, ctx.seed)
        val t0 = System.nanoTime()
        val r = ValidationJob.run(spark, config(dir, pristine, appendDelta = true))
        historyRuns += (System.nanoTime() - t0) / 1e9
        mismatch("history rows validated", r.rowsValidated, HistoryRows)
          .foreach(m => throw new IllegalStateException(m))
        rulesetHash = r.rulesetHash
        planted = writeBatch(spark, dir, batch, grown, ctx.seed)
      }
      rep(spark, warm = true)
      ctx.loop(nominalS = 4)(() => rep(spark))
      s
    }

    val e2e = endToEnd(ctx, setups, "delta", reps.toSeq)
    val detail = Map(
      "history_rows" -> HistoryRows.toDouble,
      // the set-up's full validation of the history table
      "history_validate_s" -> Stats.median(historyRuns.toSeq),
      "appended_rows" -> AppendRows.toDouble,
      "timed_reps" -> reps.size.toDouble) ++
      e2e.get("op_s").map("delta_wall_s" -> _) ++
      Stats.medianOpt(ctx.log.times(o => o.kind == "resume" && o.cpus == ctx.nproc))
        .map("resume_s" -> _)
    Outcome(e2e, ctx.tracer.map(_.layerMetrics(reps.toSeq)).getOrElse(Map.empty), detail,
      reps.toSeq)
  }

  /** Write the append batch under `batch` (partitioned by source): new doc
    * ids for `grown`, except that the first `Planted` rows reuse doc ids
    * drawn from history. Returns the planted ids, sorted. */
  def writeBatch(spark: SparkSession, dir: Path, batch: Path, grown: Seq[String],
      seed: Long): Seq[String] = {
    import spark.implicits._
    val planted = spark.read.parquet(s"$dir/input").select("doc_id").distinct()
      .orderBy(xxhash64(lit(seed), col("doc_id")), col("doc_id"))
      .limit(Planted).as[String].collect().toSeq.sorted
    val i = substring(col("doc_id"), 2, 12).cast("long")
    SequenceGen.sequences(spark, AppendRows, seed + 1, Knobs.clean, numPartitions = 1).toDF()
      .withColumn("source", element_at(typedLit(grown),
        (pmod(xxhash64(lit(seed), i), lit(grown.size.toLong)) + 1).cast("int")))
      .withColumn("doc_id",
        when(i < Planted, element_at(typedLit(planted), (i + 1).cast("int")))
          .otherwise(concat(lit("D"), lpad((i + lit(900000000000L)).cast("string"), 12, "0"))))
      .write.mode("overwrite").partitionBy("source").parquet(batch.toString)
    planted
  }
}
