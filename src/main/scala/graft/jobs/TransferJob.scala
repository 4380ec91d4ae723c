package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.checkpoint.Checkpoint
import graft.model._
import graft.sources.{ManifestTable, TableIO}

/**
 * Post-validation promotion — the reference's E3 tail
 * (data_transfer_manager.py:36-344): re-check the verdict gate, move only
 * fully-passing submissions into the store, and regenerate manifest.txt
 * from what was actually stored (K4, data_transfer_manager.py:311-342).
 *
 * Spark-native shape: "move" = idempotent dynamic-partition overwrite of
 * the passing partitions into the store table (re-running after a crash
 * rewrites the same partitions); the manifest TSV is rebuilt from a
 * per-source aggregate of the STORED rows, so it always reflects store
 * contents, never intent.
 */
object TransferJob {

  final case class Config(
      inputPath: String,
      /** ValidationJob output dir (verdicts are the gate). */
      validationOutDir: String,
      storeDir: String,
      /** Directory for the regenerated manifest TSV. */
      manifestTsvDir: String)

  final case class Report(
      promoted: Seq[String],
      blocked: Seq[String],
      /** Per-blocked-source reasons: "FAIL:<rule>", "NOT_COMPLETED:<rule>",
        * "STALE_LINEAGE" (input snapshot changed since validation),
        * "NO_LINEAGE" (never checkpointed) or "NO_VERDICT" — so an empty
        * promotion is always explainable (ADVICE r02). */
      blockReasons: Map[String, Seq[String]] = Map.empty)

  /** The gate (reference re-runs J9+A9 before any move,
    * data_transfer_manager.py:79-110): a source is promotable iff NO rule
    * verdict is FAIL or NOT_COMPLETED — warnings (e.g. surplus docs) do
    * not block, matching the reference's warn-only extra-file semantics
    * (submission_data.py:189-207). */
  def promotableSources(spark: SparkSession, validationOutDir: String): Seq[String] = {
    val verSchema = org.apache.spark.sql.Encoders.product[Verdict].schema
    val verdicts = spark.read.schema(verSchema)
      .parquet(ValidationJob.verdictsPath(validationOutDir))
    verdicts
      .groupBy(col("source"))
      .agg(max(
        when(col("status") === Status.Fail, 2)
          .when(col("status") === Status.NotCompleted, 1)
          .otherwise(0)).as("blockLvl"))
      .filter(col("blockLvl") === 0)
      .select("source")
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Per-source block reasons from the verdict table (tiny:
    * |sources| × |rules| rows): every FAIL / NOT_COMPLETED pair as
    * "STATUS:rule_id". */
  def blockReasonsFromVerdicts(
      spark: SparkSession, validationOutDir: String): Map[String, Seq[String]] = {
    val verSchema = org.apache.spark.sql.Encoders.product[Verdict].schema
    spark.read.schema(verSchema)
      .parquet(ValidationJob.verdictsPath(validationOutDir))
      .filter(col("status").isin(Status.Fail, Status.NotCompleted))
      .select("source", "status", "rule_id")
      .collect()
      .groupBy(_.getString(0))
      .map { case (s, rows) =>
        s -> rows.map(r => s"${r.getString(1)}:${r.getString(2)}")
          .toSeq.sorted
      }
  }

  /** Current lineage id per source: the partition's OWN snapshot id for
    * hive layouts (so an unrelated new submission does not stale-block
    * every other source), the whole-table id otherwise. */
  private[jobs] def currentSnapOf(
      spark: SparkSession, inputPath: String): String => String = {
    val partSnaps = TableIO.partitionSnapshotIds(spark, inputPath, "source")
    lazy val global = partSnaps
      .map(TableIO.snapshotIdFromPartitions)
      .getOrElse(TableIO.snapshotId(spark, inputPath))
    s => partSnaps.flatMap(_.get(s)).getOrElse(global)
  }

  /** Per-source lineage block reason: each source's latest checkpoint
    * snapshot id (under any rule set) against its CURRENT one. THE single
    * implementation of the lineage half of the promotion gate, shared by
    * [[run]] and [[promotableWithLineage]] so the transfer gate and the
    * cleanup authorization cannot drift apart (they authorize destructive
    * actions). `currentSnapOf` walks the input listing: it is forced at
    * most once, and only when the checkpoint has entries. */
  private[jobs] def lineageBlocks(lineage: Checkpoint.Lineage,
      currentSnapOf: => String => String): String => Option[String] = {
    val latest = lineage.latest
    lazy val snapOf = currentSnapOf
    if (latest.isEmpty) _ => None // no checkpoint manifest: verdict gate only
    else s => latest.get(s).map(_.snapshotId) match {
      case Some(sid) if sid == snapOf(s) => None
      case Some(_) => Some("STALE_LINEAGE")
      case None => Some("NO_LINEAGE")
    }
  }

  /** The full promotion gate WITHOUT the move — verdict-passing sources
    * whose latest checkpoint lineage matches the CURRENT input snapshot.
    * Callers that act on "what was promoted" (e.g. CleanupJob via the CLI)
    * must use this, not [[promotableSources]] alone: stale verdicts over a
    * re-uploaded input would otherwise authorize destructive actions the
    * transfer itself refuses (STALE_LINEAGE). */
  def promotableWithLineage(
      spark: SparkSession,
      inputPath: String,
      validationOutDir: String): Seq[String] = {
    val block = lineageBlocks(Checkpoint.lineage(spark,
      ValidationJob.checkpointPath(validationOutDir)), currentSnapOf(spark, inputPath))
    promotableSources(spark, validationOutDir).filter(block(_).isEmpty)
  }

  /** Hidden promotions log under the store (underscore prefix: invisible
    * to parquet scans of the store itself): one row per promoted source,
    * source-partitioned dynamic overwrite, so it always holds the LATEST
    * promotion's (snapshot_id, promoted_at) per source. CleanupJob's
    * authorization reads it — a row-count comparison alone cannot tell a
    * stale larger store generation from a promoted current one. */
  def promotionsPath(storeDir: String) = s"$storeDir/_promotions"

  def run(spark: SparkSession, cfg: Config): Report = {
    import spark.implicits._
    val all = TableIO.partitionValues(spark, cfg.inputPath, "source")
      .getOrElse(spark.read.parquet(cfg.inputPath)
        .select("source").distinct().as[String].collect().toSeq.sorted)
    val verdictPass = promotableSources(spark, cfg.validationOutDir)
    val vioReasons = blockReasonsFromVerdicts(spark, cfg.validationOutDir)

    // Lineage gate (VERDICT r02 #8; the reference re-checks the full gate
    // at transfer time, data_transfer_manager.py:79-110): a verdict only
    // promotes the input snapshot it validated. The latest checkpoint entry
    // per partition must carry the CURRENT input's snapshot id — a
    // changed-but-not-revalidated input stays blocked as STALE_LINEAGE.
    // The input listing is walked at most once, for the gate and the
    // promotions log alike.
    lazy val snapOf = currentSnapOf(spark, cfg.inputPath)
    val lineageBlock = lineageBlocks(Checkpoint.lineage(spark,
      ValidationJob.checkpointPath(cfg.validationOutDir)), snapOf)

    val pass = verdictPass.filter(lineageBlock(_).isEmpty)
    val passSet = pass.toSet
    val blocked = all.filterNot(passSet)
    val reasons: Map[String, Seq[String]] = blocked.map { s =>
      s -> (vioReasons.getOrElse(s,
        if (verdictPass.contains(s)) Seq.empty[String] else Seq("NO_VERDICT"))
        ++ lineageBlock(s).toSeq)
    }.toMap

    // Configuration dead end (ADVICE r02): with Rules.standard and no
    // baseline, EVERY source is NOT_COMPLETED on both drift rules, so the
    // default validate-then-transfer flow would promote nothing, forever,
    // silently. Fail with the rule names instead of returning empty.
    if (pass.isEmpty && blocked.nonEmpty) {
      val flat = reasons.values.flatten.toSeq
      if (flat.nonEmpty && flat.forall(_.startsWith(Status.NotCompleted))) {
        val rules = flat.map(_.stripPrefix(Status.NotCompleted + ":"))
          .distinct.sorted
        throw new IllegalStateException(
          "transfer blocked: every source is NOT_COMPLETED on rule(s) " +
            s"${rules.mkString(", ")} — these checks never ran (e.g. drift " +
            "rules with no baseline configured). Re-validate with the " +
            "required inputs or drop the rules from the rule set.")
      }
    }

    if (pass.nonEmpty) {
      // partition-pruned scan of exactly the passing sources; idempotent
      // per-partition overwrite into the store
      val rows = spark.read.parquet(cfg.inputPath)
        .filter(col("source").isin(pass.map(x => x: Any): _*))
      TableIO.writePartitioned(rows, cfg.storeDir)
      // commit the store's file manifest for exactly the partitions this
      // promotion rewrote — downstream snapshot-lineage reads become one
      // pruned parquet read instead of a full store listing. n_tok zone
      // maps ride the commit so range-scoped store reads can skip files.
      ManifestTable.commit(spark, cfg.storeDir, "source", Some(pass),
        statsCols = Seq("n_tok"))

      // record WHICH input snapshot each source's store generation came
      // from — the content-lineage fact CleanupJob needs before deleting
      // staging (a count comparison cannot distinguish generations).
      // Per-SOURCE ids: a later unrelated upload must not make this
      // promotion look stale to cleanup.
      val promotedAt = java.time.Instant.now().toString
      TableIO.writePartitioned(
        pass.map(s => (s, snapOf(s), promotedAt))
          .toDF("source", "snapshot_id", "promoted_at"),
        promotionsPath(cfg.storeDir))

      // K4: regenerate the manifest TSV from the STORE (one tiny agg)
      val manifest = spark.read.parquet(cfg.storeDir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("expected_docs"),
          min(col("n_tok")).as("min_tok"),
          max(col("n_tok")).as("max_tok"))
        .orderBy("source")
      TableIO.writeManifestTsv(manifest, cfg.manifestTsvDir)
    }
    Report(pass, blocked, reasons)
  }
}
