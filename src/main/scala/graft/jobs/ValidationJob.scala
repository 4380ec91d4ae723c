package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model._
import graft.rules.{RuleEngine, RuleSet, Rules}
import graft.checkpoint.Checkpoint
import graft.operators.{SchemaCheck, ShardedBloom}
import graft.sources.{ManifestTable, TableIO}

/**
 * The end-to-end resumable validation run — one spark-submit replaces the
 * reference's E1→E3 Lambda/Batch choreography (SURVEY.md §3): scan the
 * sequences table, skip checkpointed partitions, evaluate the rule set,
 * write violations + verdicts (idempotent dynamic-partition overwrite),
 * then append checkpoint entries LAST so a crash replays safely.
 *
 * `run` is a fixed list of eight named phases — snapshot, classify, plan,
 * scan, finish, cross_run, write, checkpoint — each a method below that
 * takes its inputs as parameters and returns a small immutable result.
 * Each phase's wall time lands in [[RunReport.phaseMs]] and in the
 * `phase_ms` object of every checkpoint entry's metrics.
 */
object ValidationJob {

  final case class Config(
      inputPath: String,
      manifestPath: String,
      outDir: String,
      baselinePath: Option[String] = None,
      /** Reference snapshot for the cross-snapshot token-equality rule
        * (J10); the rule rolls up NOT_COMPLETED when absent. */
      refSnapshotPath: Option[String] = None,
      rules: RuleSet = Rules.standard,
      vocab: Int = graft.gen.SequenceGen.vocabSize,
      /** Restrict the run to this subset of source partitions — the
        * reference's SUBMISSION unit (one validation processes one
        * submission prefix, folder_lock.py:44-164). A restricted run
        * locks, validates, reports and checkpoints ONLY these sources, so
        * two runs over disjoint subsets of the same table proceed
        * concurrently (per-partition locks, VERDICT r03 #4). None = the
        * whole table (every non-checkpointed partition). Cross-partition
        * rules (uniqueness) evaluate WITHIN the run's scope — the same
        * contract a resumed run already has (it rescans only non-
        * checkpointed partitions), and the reference's, whose duplicate
        * gate is submission-local (manifest_processor.py:283-305); run
        * unrestricted on a fresh checkpoint for global uniqueness. */
      partitions: Option[Seq[String]] = None,
      /** False-positive rate of each cross-run uniqueness sketch shard
        * (CrossRunUniqueRule). A partition's sketch is as many shards of
        * [[graft.operators.ShardedBloom.ShardKeys]] keys as its row count
        * needs (~115 KiB each at 0.001), so the rate holds at any size.
        * A false positive costs confirm-scan traffic only: the confirm
        * join keeps the reported violations exact. */
      sketchFpp: Double = 0.001,
      /** APPEND-DELTA mode: a changed partition whose current file set is
        * a strict superset of the inventory in its partition-state row
        * (same paths, same lengths) re-validates by scanning ONLY the new
        * files — the Iceberg-snapshot-diff shape of incremental
        * ingestion, where partitions grow by appended files run over run.
        * Stats / drift / RI / completeness evaluate over the WHOLE
        * partition by folding
        * the persisted mergeable stats state into the delta scan's
        * aggregates (field-exactly what a full rescan computes);
        * within-delta duplicates surface through the normal uniqueness
        * pass, old↔new duplicates through the cross-run sketch gate
        * (booked as R_CROSS_RUN_UNIQUE with prior-copy evidence — a full
        * rescan books the same docs under R_UNIQUE_DOC_ID; the partition
        * verdict is identical), and old-files row/uniqueness violations
        * are preserved from the current violations table. The row must
        * carry the lineage of the partition's latest checkpoint entry and
        * this run's ruleset hash, so the preserved rows come from this
        * rule set's last completed run. Partitions ineligible for delta
        * (rewritten/removed files, a row from another rule set or from a
        * run that did not complete, missing state or sketch, first
        * sight) fall back to a full rescan automatically. Incompatible
        * with refSnapshotPath (the equality join needs both sides
        * complete). */
      appendDelta: Boolean = false,
      /** RULE-DELTA mode: a partition whose data is UNCHANGED (same
        * per-partition snapshot id as its latest completed checkpoint
        * entry) but whose rule set changed re-validates only the CHANGED
        * rules — the per-rule fingerprints in its partition-state row say
        * which — carrying forward verdicts of unchanged rules and
        * preserving their violations. With declarative rule configs this
        * makes "add one rule to a 10^12-row table" cost one scan
        * evaluating one rule, not |rules| of them; a baseline refresh
        * re-runs only the drift family (each drift rule's fingerprint
        * folds the baseline snapshot id). All-or-nothing per run: if ANY
        * to-validate partition is ineligible (data changed, or no state
        * row matching its latest entry), the whole run falls back to full
        * evaluation — partitions needing different rule subsets in one run
        * would need one scan per subset, which is the full rescan it was
        * avoiding. Incompatible with appendDelta (changed data vs
        * changed rules — a partition is one or the other). */
      ruleDelta: Boolean = false)

  final case class RunReport(
      snapshotId: String,
      rulesetHash: String,
      validatedPartitions: Seq[String],
      skippedPartitions: Seq[String],
      rowsValidated: Long,
      violations: Long,
      wallMs: Long,
      /** Subset of validatedPartitions that ran as append-delta (only
        * their new files were scanned). */
      deltaPartitions: Seq[String] = Nil,
      /** Subset of validatedPartitions that ran as rule-delta (same data,
        * only changed rules evaluated). */
      ruleDeltaPartitions: Seq[String] = Nil,
      /** Rule ids actually evaluated this run (the changed subset under
        * rule-delta; the full set otherwise). */
      rulesEvaluated: Seq[String] = Nil,
      /** Wall ms per phase, in run order. A resume run that finds nothing
        * to validate stops after snapshot and classify. */
      phaseMs: Seq[(String, Long)] = Nil,
      /** What the cross-run gate probed and found. */
      xrun: CrossRunStats = CrossRunStats())

  /** The cross-run gate's figures: `candidates` = (key row, history
    * partition) pairs its sketch shards let through to the confirm join,
    * `confirmed` = the duplicates that join booked, and the shard rows and
    * KiB of the history sketches probed (from the sketch metadata read). */
  final case class CrossRunStats(candidates: Long = 0L, confirmed: Long = 0L,
      shardRows: Long = 0L, sketchKib: Long = 0L) {
    def json: String = s"""{"candidates":$candidates,"confirmed":$confirmed,""" +
      s""""shard_rows":$shardRows,"sketch_kib":$sketchKib}"""
  }

  /** Everything an eligible append-delta partition carries into the run. */
  private final case class DeltaPart(
      oldSnapshotId: String,
      oldFiles: Seq[String],
      newFiles: Seq[String],
      oldState: Array[Byte],
      /** shard count of the partition's persisted sketch, kept on refresh */
      nshards: Int)

  /** rule id → partition → its persisted cross-run sketch's metadata */
  private type Sketches = Map[String, Map[String, Checkpoint.SketchMeta]]

  /** snapshot: the run's lineage and the typed reads of its inputs. */
  private final case class Snap(
      filesByPart: Option[Map[String, Seq[String]]],
      partSnaps: Map[String, String],
      snapshotId: String,
      rulesetHash: String,
      ruleFps: Map[String, String],
      all: Dataset[Sequence],
      manifest: Dataset[ManifestEntry],
      baseline: Option[Dataset[BaselineBin]]) {
    def snapOf(src: String): String = partSnaps.getOrElse(src, snapshotId)
  }

  /** classify, first half: the resume set. */
  private final case class Scope(
      done: Set[String],
      allParts: Seq[String],
      requested: Option[Set[String]]) {
    // submission scope: a restricted run sees only its requested sources
    def inScope(src: String): Boolean = requested.forall(_(src))
    val todo: Seq[String] = allParts.filterNot(done).filter(inScope)
    /** The sources this run will write: todo, plus — for a restricted
      * run — any requested manifest-only source its RI reporting covers. */
    def lockParts: Seq[String] =
      requested.fold(todo)(ps => (ps -- done).toSeq.sorted)
  }

  /** classify, second half: which rules run, which partitions scan only
    * their new files. */
  private final case class Classified(
      evalRules: RuleSet,
      ruleDeltaActive: Boolean,
      /** rules whose verdicts/violations carry forward untouched */
      carriedIds: Set[String],
      deltaInfo: Map[String, DeltaPart],
      /** rule-delta: the stats state a partition's new state row keeps
        * when this run evaluates no stats-family rule (same data) */
      carriedState: Map[String, Array[Byte]]) {
    def deltaParts: Set[String] = deltaInfo.keySet
  }

  private final case class Planned(
      seqs: Dataset[Sequence], staged: RuleEngine.StagedPlan)
  private final case class Scanned(vio: Dataset[Violation], count: Long)
  private final case class Finished(fin: RuleEngine.StagedResult,
      rowsValidated: Long, storageVios: Seq[Violation],
      storageNotCompleted: Set[(String, String)])
  private final case class CrossRun(vio: Option[DataFrame],
      notCompleted: Set[(String, String)], stats: CrossRunStats)
  private final case class Written(verdicts: Seq[Verdict], violations: Long,
      runId: String, completedAt: String)

  /** The frames a run persists, released together when the run ends —
    * on failure too, so a failed run leaves nothing cached. */
  private final class Persisted {
    private val frames =
      scala.collection.mutable.ListBuffer.empty[Dataset[_]]
    def apply[T](ds: Dataset[T]): Dataset[T] =
      track(ds.persist(StorageLevel.MEMORY_AND_DISK))
    /** Track a frame persisted elsewhere. */
    def track[T](ds: Dataset[T]): Dataset[T] = { frames += ds; ds }
    def release(): Unit = frames.foreach(_.unpersist(blocking = false))
  }

  private def inSources(sources: Iterable[String]) =
    col("source").isin(sources.toSeq: _*)

  /** Clustered by source into the session's shuffle partitions: one tiny
    * shuffle of a small frame, so the partitioned writes need none. */
  private def bySource[T](ds: Dataset[T]): Dataset[T] = ds.repartition(
    ds.sparkSession.sessionState.conf.numShufflePartitions, col("source"))

  def violationsPath(outDir: String) = s"$outDir/violations"
  def verdictsPath(outDir: String) = s"$outDir/verdicts"
  def checkpointPath(outDir: String) = s"$outDir/checkpoint"
  def runLogPath(outDir: String) = s"$outDir/run_log"
  def violationsLogPath(outDir: String) = s"$outDir/violations_log"

  def run(spark: SparkSession, cfg: Config): RunReport = {
    val t0 = System.nanoTime()
    // Wall ms per phase, by System.nanoTime alone: no Spark job, no
    // listener. classify runs in two calls either side of the partition
    // lock, so a repeated name adds to its entry.
    val phaseMs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def timed[A](name: String)(body: => A): A = {
      val t = System.nanoTime()
      try body finally phaseMs(name) =
        phaseMs.getOrElse(name, 0L) + (System.nanoTime() - t) / 1000000
    }

    val snap = timed("snapshot")(snapshot(spark, cfg))
    val scope = timed("classify")(resumeScope(spark, cfg, snap))
    if (scope.todo.isEmpty)
      return RunReport(snap.snapshotId, snap.rulesetHash, Nil,
        scope.allParts.filter(scope.inScope), 0L, 0L,
        (System.nanoTime() - t0) / 1000000, phaseMs = phaseMs.toSeq)

    // PER-PARTITION locks (folder_lock.py:44-164): disjoint submission
    // scopes proceed concurrently, overlapping scopes refuse each other.
    // classify's delta reads come AFTER the lock: a concurrent run over
    // the same partitions rewrites what they read.
    val lockParts = scope.lockParts
    require(
      Checkpoint.acquirePartitionLocks(spark, cfg.outDir, lockParts),
      s"another validation run holds a partition lock under ${cfg.outDir} " +
        s"overlapping ${lockParts.mkString(",")} (stale locks under " +
        "_locks/ reclaim automatically)")
    val persisted = new Persisted
    try {
      // read at most once: by classify in an append-delta run, else by
      // cross_run when there is history
      lazy val sketches: Sketches = {
        val meta = Checkpoint.readSketchMeta(spark, cfg.outDir)
        cfg.rules.crossRunRules.map(r =>
          r.id -> meta.getOrElse(r.id, Map.empty)).toMap
      }
      val cls = timed("classify")(classify(spark, cfg, snap, scope, sketches))
      val planned = timed("plan")(
        plan(spark, cfg, snap, scope, cls, persisted))
      val scanned = timed("scan")(scan(spark, scope, planned, persisted))
      val finished = timed("finish")(finish(spark, cfg, scope, cls, planned))
      val xrun = timed("cross_run")(crossRun(
        spark, cfg, snap, scope, cls, planned, sketches, persisted))
      val written = timed("write")(write(spark, cfg, snap, scope, cls,
        planned, scanned, finished, xrun, persisted))
      val wallMs = timed("checkpoint")(checkpoint(
        spark, cfg, snap, scope, written, t0, phaseMs.toSeq, xrun.stats))
      RunReport(snap.snapshotId, snap.rulesetHash, scope.todo,
        scope.done.toSeq.filter(scope.inScope).sorted,
        finished.rowsValidated, written.violations, wallMs,
        deltaPartitions = cls.deltaParts.toSeq.sorted,
        ruleDeltaPartitions =
          if (cls.ruleDeltaActive) scope.todo.sorted else Nil,
        rulesEvaluated = cls.evalRules.ruleIds.sorted,
        phaseMs = phaseMs.toSeq, xrun = xrun.stats)
    } finally
      try persisted.release()
      finally Checkpoint.releasePartitionLocks(spark, cfg.outDir, lockParts)
  }

  /** snapshot: per-partition lineage ids, the ruleset hash, and the
    * schema-gated reads of input, manifest and baseline. Spark jobs: the
    * table listing (or manifest read), the baseline/reference listings
    * and one footer read per gated table. */
  private def snapshot(spark: SparkSession, cfg: Config): Snap = {
    // PER-PARTITION snapshot lineage (BASELINE: "per-Iceberg-partition
    // lineage (snapshot-id, ...)"): each source partition carries its OWN
    // content id, so resume re-validates exactly the partitions whose
    // files changed — a new submission neither re-validates nor blocks
    // the untouched ones. The whole-table id derives from the same single
    // directory walk. Non-hive layouts fall back to table-granular ids.
    // Manifest-first (the Iceberg read path): a committed file manifest
    // replaces the recursive listing with one pruned parquet read;
    // unmanifested tables (every test fixture) fall back to the listing.
    val filesByPart: Option[Map[String, Seq[String]]] =
      ManifestTable.partitionFiles(spark, cfg.inputPath)
        .orElse(TableIO.partitionFiles(spark, cfg.inputPath, "source"))
    val partSnaps: Map[String, String] = filesByPart
      .map(_.map { case (v, fls) => v -> TableIO.snapshotIdOfFiles(fls) })
      .getOrElse(Map.empty)
    val snapshotId =
      if (partSnaps.nonEmpty) TableIO.snapshotIdFromPartitions(partSnaps)
      else TableIO.snapshotId(spark, cfg.inputPath)
    // Checkpoint lineage = rule set + rule-INPUT configuration (ADVICE r02):
    // a drift rule with no baseline rolls up NOT_COMPLETED, which does not
    // block the partition verdict — so a PASS checkpoint written
    // without a baseline must NOT satisfy a later run that adds one (or
    // changes its content; same for the reference snapshot). Folding the
    // baseline/refSnapshot snapshot ids into the hash re-validates exactly
    // when those inputs change.
    val baselineFp = cfg.baselinePath
      .map(TableIO.snapshotId(spark, _)).getOrElse("none")
    val refSnapshotFp = cfg.refSnapshotPath
      .map(TableIO.snapshotId(spark, _)).getOrElse("none")
    val rulesetHash = TableIO.md5Hex(cfg.rules.rulesetHash +
      s"|baseline=$baselineFp|refSnapshot=$refSnapshotFp")
    // PER-RULE lineage fingerprints (kept in the partition-state rows):
    // descriptor plus the rule's OWN input snapshot, so rule-delta re-runs
    // exactly what a change touches — a baseline refresh changes only the
    // drift rules' fingerprints, a refSnapshot swap only the equality
    // rule's.
    val ruleFps: Map[String, String] = cfg.rules.rules.map { r =>
      val inputFp = r match {
        case _: graft.rules.DriftRule => s"|baseline=$baselineFp"
        case _: graft.rules.SnapshotEqualityRule =>
          s"|refSnapshot=$refSnapshotFp"
        case _ => ""
      }
      r.id -> TableIO.md5Hex(r.descriptor + inputFp)
    }.toMap
    Snap(filesByPart, partSnaps, snapshotId, rulesetHash, ruleFps,
      all = SchemaCheck.readTyped[Sequence](
        spark, cfg.inputPath, s"input table ${cfg.inputPath}"),
      manifest = SchemaCheck.readTyped[ManifestEntry](
        spark, cfg.manifestPath, s"manifest table ${cfg.manifestPath}"),
      baseline = cfg.baselinePath.map(p =>
        SchemaCheck.readTyped[BaselineBin](spark, p, s"baseline table $p")))
  }

  /** classify, before the lock: the resume set. Spark jobs: the
    * checkpoint lineage read (and a distinct-source scan for a table with
    * no hive partition dirs). */
  private def resumeScope(
      spark: SparkSession, cfg: Config, snap: Snap): Scope = {
    import spark.implicits._
    // Resume: drop partitions whose latest entry is this exact
    // (snapshot, rule set) lineage. Entries carry snap.snapOf(partition),
    // the whole-table id on a flat layout, so one lookup serves both.
    // The later filter is on the partition column, so Catalyst prunes
    // the done partitions' files from the scan entirely.
    val done = Checkpoint.resumable(
      Checkpoint.lineage(spark, checkpointPath(cfg.outDir)),
      snap.rulesetHash, snap.snapOf)
    val allParts = TableIO.partitionValues(spark, cfg.inputPath, "source")
      .getOrElse(
        snap.all.select("source").distinct().as[String].collect().toSeq.sorted)
    Scope(done, allParts, cfg.partitions.map(_.toSet))
  }

  /** classify, under the lock: rule-delta and append-delta classification
    * and the delta files' footer gate. Spark jobs: the checkpoint lineage
    * and partition-state reads (either delta mode), the sketch metadata
    * read (append-delta), and the merged footer read of the new files. */
  private def classify(spark: SparkSession, cfg: Config, snap: Snap,
      scope: Scope, sketches: => Sketches): Classified = {
    import scope.todo
    require(!(cfg.ruleDelta && cfg.appendDelta),
      "ruleDelta and appendDelta are mutually exclusive: a partition " +
        "re-validates for changed DATA or changed RULES, never both ways")
    // Read again under the lock, and only by a delta mode: a run that
    // finished after resumeScope's read may have rewritten the verdicts
    // and state rows whose lineage this read must match.
    lazy val lineage = Checkpoint.lineage(spark, checkpointPath(cfg.outDir))
    lazy val rows = Checkpoint.readPartitionState(spark, cfg.outDir)
    // THE one eligibility rule of both delta modes: a partition's state
    // row is usable only if it carries the (snapshot, ruleset) of the
    // partition's latest completed checkpoint entry — the run whose
    // violations and verdicts the tables now hold. A row written by a run
    // that failed before its checkpoint (rows are written first), or an
    // entry of a later run under another rule set, breaks the match.
    def matched(p: String): Option[Checkpoint.PartitionState] = for {
      row <- rows.get(p)
      last <- lineage.latest.get(p)
      if row.snapshotId == last.snapshotId && row.rulesetHash == last.rulesetHash
    } yield row

    // RULE-DELTA classification: every to-validate partition must have a
    // matched row for its CURRENT data — then the changed set is the union
    // over partitions (re-running an unchanged rule for one partition is
    // harmless; one engine pass beats one per distinct subset). A strict
    // subset is required twice over: changed == all rules means delta buys
    // nothing, and changed == ∅ (a config-input edit touching no rule that
    // exists, e.g. baseline swap with no drift rules) still needs the new
    // lineage hash stamped, which the full path does trivially.
    val allIds = cfg.rules.ruleIds.toSet
    val ruleBase: Map[String, Checkpoint.PartitionState] =
      if (!cfg.ruleDelta || snap.partSnaps.isEmpty) Map.empty
      else todo.flatMap(p => matched(p).filter(r =>
        r.snapshotId == snap.snapOf(p) && r.ruleFps.nonEmpty).map(p -> _)).toMap
    val ruleDeltaChanged: Set[String] =
      if (ruleBase.size < todo.size) allIds // some partition ineligible
      else ruleBase.values.flatMap(r =>
        allIds.filter(id => !r.ruleFps.get(id).contains(snap.ruleFps(id)))).toSet
    val ruleDeltaActive = cfg.ruleDelta &&
      ruleDeltaChanged.nonEmpty && ruleDeltaChanged != allIds
    val evalRules =
      if (ruleDeltaActive)
        RuleSet(cfg.rules.rules.filter(r => ruleDeltaChanged(r.id)))
      else cfg.rules

    // APPEND-DELTA classification: a todo partition is delta-eligible iff
    // its matched row was written under THIS rule set and holds a stats
    // state, its sharded cross-run sketch carries the row's snapshot id,
    // the current file set strictly extends the row's (same paths, same
    // lengths), and old + new rows still fit the sketch's shards. The
    // row's snapshot id is itself the md5 of its inventory, so the
    // artifacts cannot desync silently. A partition that outgrew its
    // shards (or still has an unsharded sketch) takes the full rescan,
    // which re-shards it; capacity at least doubles each time, so those
    // rescans amortize.
    val deltaInfo: Map[String, DeltaPart] =
      if (!cfg.appendDelta || cfg.rules.crossRunRules.isEmpty) Map.empty
      else {
        require(cfg.refSnapshotPath.isEmpty,
          "appendDelta cannot run with a reference snapshot: the " +
            "cross-snapshot equality join needs both sides complete")
        val bySketch = sketches
        todo.flatMap { part =>
          for {
            files <- snap.filesByPart.flatMap(_.get(part))
            row <- matched(part)
            if row.rulesetHash == snap.rulesetHash
            oldState <- row.state
            metas = cfg.rules.crossRunRules.flatMap(r =>
              bySketch(r.id).get(part).filter(_.snapshotId == row.snapshotId))
            if metas.size == cfg.rules.crossRunRules.size
            nshards <- metas.map(_.nshards).distinct match {
              case Seq(Some(n)) => Some(n)
              case _ => None
            }
            oldSet = row.files.toSet
            if oldSet.nonEmpty && oldSet.subsetOf(files.toSet) &&
              files.size > row.files.size
            newFiles = files.filterNot(oldSet).sorted
            if ShardedBloom.fits(stateDocs(oldState) + TableIO.parquetRowCount(
              spark, newFiles.map(TableIO.inventoryEntryPath)), nshards)
          } yield part -> DeltaPart(
            row.snapshotId, row.files, newFiles, oldState, nshards)
        }.toMap
      }
    // Delta files come from whatever writer appended them — re-gate their
    // OWN footers (merged, all of them) against the contract. The
    // table-level gate reads one footer, which the old files dominate, so
    // a retyped new file would otherwise pass the gate and kill the scan
    // with a raw executor error.
    if (deltaInfo.nonEmpty) {
      val newPaths = deltaInfo.values.flatMap(_.newFiles).toSeq.sorted
        .map(TableIO.inventoryEntryPath)
      SchemaCheck.requireCompatible(
        SchemaCheck.parquetSchemaOfFiles(spark, cfg.inputPath, newPaths,
          s"delta files of ${cfg.inputPath}"),
        Encoders.product[Sequence].schema,
        s"delta files of ${cfg.inputPath}")
    }
    Classified(evalRules, ruleDeltaActive,
      if (ruleDeltaActive) allIds -- evalRules.ruleIds else Set.empty,
      deltaInfo,
      if (ruleDeltaActive)
        ruleBase.flatMap { case (p, r) => r.state.map(p -> _) }
      else Map.empty)
  }

  /** Rows a persisted stats state covers. */
  private def stateDocs(state: Array[Byte]): Long =
    graft.drift.SourceStatsAggregate
      .mergeStateBytes(Seq(state), graft.drift.Drift.tokenBins)
      .values.map(_.nDocs).sum

  /** A typed read of exactly these inventory files of the input table. */
  private def readFiles(spark: SparkSession, cfg: Config,
      entries: Seq[String]): Dataset[Sequence] =
    spark.read.schema(Encoders.product[Sequence].schema)
      .option("basePath", cfg.inputPath)
      .parquet(entries.map(TableIO.inventoryEntryPath): _*)
      .as[Sequence](Encoders.product[Sequence])

  /** plan: the scan scope (whole partitions, or only the new files of a
    * delta partition) and the fused staged plan over it. Spark jobs: the
    * reference snapshot's footer read, and uniqueness pass 1 inside
    * `planStaged`. */
  private def plan(spark: SparkSession, cfg: Config, snap: Snap,
      scope: Scope, cls: Classified, persisted: Persisted): Planned = {
    import scope.todo
    val fullTodo = todo.filterNot(cls.deltaParts)
    // Never cached: the only repeat reads are narrow column scans (the
    // uniqueness passes), ~4% of the bytes full rows would pin.
    val seqs =
      if (cls.deltaInfo.isEmpty)
        if (scope.done.isEmpty && scope.requested.isEmpty) snap.all
        else snap.all.filter(inSources(todo))
      else {
        // full partitions read whole; delta partitions read NEW files only
        val deltaSeqs = readFiles(spark, cfg,
          cls.deltaInfo.values.flatMap(_.newFiles).toSeq)
        if (fullTodo.isEmpty) deltaSeqs
        else snap.all.filter(inSources(fullTodo)).unionByName(deltaSeqs)
      }
    val refSnapshot = cfg.refSnapshotPath.map(p =>
      SchemaCheck.readTyped[Sequence](spark, p, s"reference snapshot $p"))
    // FUSED evaluation (VERDICT r02 #1): the tokens array — ~96% of the
    // table's bytes — is decoded exactly once. The row-rule scan carries
    // the per-source token stats via observe(); the narrow aggregation
    // pass reads only (source, doc_id, n_tok).
    val staged = RuleEngine.planStaged(
      seqs, snap.manifest, cls.evalRules, snap.baseline, cfg.vocab,
      refSnapshot,
      mergeStates = cls.deltaInfo.map { case (p, d) => p -> d.oldState })
    staged.persisted.foreach(persisted.track(_))
    Planned(seqs, staged)
  }

  /** scan: materializes the scan violations — row rules + observed token
    * stats, uniqueness pass 2 and snapshot equality — as one persisted
    * frame. Spark jobs: the `count` that runs them all. */
  private def scan(spark: SparkSession, scope: Scope, planned: Planned,
      persisted: Persisted): Scanned = {
    // Output is restricted to the partitions being validated, plus
    // manifest-only sources (RI reporting on sources with no data) for an
    // unrestricted run or one that REQUESTED them — a submission-scoped
    // run must not write outside its locked scope. The violations are the
    // failing slice, so they are persisted: the heavy scans behind them
    // run ONCE, and the writes, the roll-up and the count reuse the rows
    // (VERDICT r01 #1). Clustered by source BEFORE the persist, so the
    // cache holds |shuffle.partitions| partitions rather than one per
    // input split, which every consumer would pay again.
    val manifestOnly = !inSources(scope.allParts) &&
      scope.requested.fold(lit(true))(inSources)
    val vio = persisted(bySource(planned.staged.scanViolations
      .filter(inSources(scope.todo) || manifestOnly)))
    // runs the row-rule (+ observed token stats), unique and snapshot
    // passes — the materialization planStaged.finish() requires
    Scanned(vio, vio.count())
  }

  /** finish: the staged plan's driver tail and the storage-manifest
    * row-count check. Spark jobs: `finish()` (narrow aggregation pass, or
    * one per-source count when no stats-family rule runs), and the table
    * manifest's row-count read. */
  private def finish(spark: SparkSession, cfg: Config, scope: Scope,
      cls: Classified, planned: Planned): Finished = {
    val fin = planned.staged.finish() // observed stats + driver rules
    // in an append-delta run the per-source counts are MERGED (whole-
    // partition) counts, so the rows actually scanned = merged total −
    // persisted old totals (both known driver-side, no extra job)
    val oldStateDocs = cls.deltaInfo.values.map(d => stateDocs(d.oldState)).sum
    val rowsValidated = fin.counts.values.sum - oldStateDocs

    // Storage-manifest ROW-COUNT reconciliation (StorageCountRule): the
    // per-partition counts (whole-partition in append-delta, so
    // with or without a stats-family rule) against the table manifest's
    // metadata counts (one |files|-row read). Rows lost or added between
    // ingest-commit and validation (file truncation, debris a bypassing
    // writer dropped in) FAIL the partition; one whose metadata can't
    // answer (no manifest, unstatted files) rolls up NOT_COMPLETED, never
    // PASS.
    lazy val manifestRows: Map[String, Option[Long]] =
      ManifestTable.readFull(spark, cfg.inputPath) match {
        case Some(mf) if mf.columns.contains("row_count") =>
          mf.groupBy(col("partition"))
            .agg(sum(col("row_count")).as("rows"),
              count(lit(1)).as("files"),
              count(col("row_count")).as("statted"))
            .collect()
            .map(r => r.getString(0) ->
              (if (r.getLong(3) == r.getLong(2)) Some(r.getLong(1))
               else None))
            .toMap
        case _ => Map.empty
      }
    val checks = for {
      rule <- cls.evalRules.storageCountRules
      src <- scope.todo.sorted
    } yield (rule, src, manifestRows.get(src).flatten)
    val storageVios = checks.flatMap {
      case (rule, src, Some(exp)) =>
        val act = fin.counts.getOrElse(src, 0L)
        Option.when(exp != act)(Violation(doc_id = null, rule_id = rule.id,
          observed = s"""{"scanned_rows":$act,"manifest_rows":$exp}""",
          source = src, severity = rule.severity))
      case _ => None
    }
    val notCompleted =
      checks.collect { case (rule, src, None) => (src, rule.id) }.toSet
    Finished(fin, rowsValidated, storageVios, notCompleted)
  }

  /** cross_run: routes the new scope's keys through the persisted sketch
    * shards of history and confirms the positives against history's keys.
    * Spark jobs: the sketch metadata read (unless classify did it), the
    * probe join's count per rule, and the confirm join's count. */
  private def crossRun(spark: SparkSession, cfg: Config, snap: Snap,
      scope: Scope, cls: Classified, planned: Planned,
      sketches: => Sketches, persisted: Persisted): CrossRun = {
    import spark.implicits._
    // CROSS-RUN uniqueness (CrossRunUniqueRule): the reference's duplicate
    // gate is store-GLOBAL (manifest_processor.py:283-305,
    // dynamodb.py:22-40); the uniqueness passes cover only this run's
    // scope. Each key is joined to the one shard it routes to in every
    // history partition, so Bloom-negative keys (the overwhelming
    // majority) never touch history's keys; positives are CONFIRMED
    // against a partition-pruned NARROW scan of history's key column, so
    // violations are exact at any fpp. No history → no work (vacuous
    // PASS); a history partition with no lineage-matching sketch →
    // NOT_COMPLETED, never a silent partial PASS. Delta partitions' OLD
    // files are history too (sketch lineage = the OLD snapshot id):
    // new↔old duplicates in a growing partition surface here.
    val hist = (scope.done.toSeq ++ cls.deltaParts).sorted
    def histSnapOf(src: String): String =
      cls.deltaInfo.get(src).map(_.oldSnapshotId).getOrElse(snap.snapOf(src))
    val rules = if (hist.isEmpty) Nil else cls.evalRules.crossRunRules
    val (complete, incomplete) = rules.partition(r => hist.forall(s =>
      sketches(r.id).get(s).exists(_.snapshotId == histSnapOf(s))))
    val probed = complete.map { rule =>
      val metas = hist.map(s => s -> sketches(rule.id)(s))
      val meta = metas.map { case (s, m) =>
          (s, m.snapshotId, m.nshards.getOrElse(1)) }
        .toDF("part_value", "snapshot_id", "nshards")
      // one (source, key, history partition) row per shard that fires:
      // its lineage-matching history partitions all have shard rows
      val cands = persisted(ShardedBloom.probe(
        planned.seqs.select(col("source"),
            col(rule.key).cast("string").as("xk"))
          .filter(col("xk").isNotNull),
        meta, Checkpoint.readShards(spark, cfg.outDir, rule.id, hist)))
      val nCands = cands.count()
      // short-circuit: when no shard fired (the common incremental case),
      // history is never scanned
      if (nCands == 0) (None, nCands, metas.map(_._2))
      else {
        val (histDelta, histDone) = hist.partition(cls.deltaParts)
        // delta history = the partition's OLD files only: the current
        // directory also holds the new files this run is scanning,
        // which must not self-match
        val histKeys = (Option.when(histDone.nonEmpty)(
            snap.all.filter(inSources(histDone)).toDF()) ++
          Option.when(histDelta.nonEmpty)(readFiles(spark, cfg,
            histDelta.flatMap(s => cls.deltaInfo(s).oldFiles)).toDF()))
          .reduce(_ unionByName _)
          .select(col(rule.key).cast("string").as("xk"),
            col("source").as("dup_in"))
          .filter(col("xk").isNotNull)
        // a candidate meets only its fired partition's copies; every
        // partition holding a copy fires, so the counts are exact
        (Some(cands.join(histKeys, cands("xk") === histKeys("xk") &&
            cands("hist_part") === histKeys("dup_in"))
          .groupBy(cands("xk"), col("source"))
          .agg(count(lit(1)).as("n_prior_copies"),
            slice(sort_array(collect_set(col("dup_in"))), 1,
              RuleEngine.DupEvidenceCap).as("dup_in_sources"))
          .select(
            col("xk").as("doc_id"),
            lit(rule.id).as("rule_id"),
            to_json(struct(col("n_prior_copies"),
              col("dup_in_sources"))).as("observed"),
            col("source"),
            lit(rule.severity).as("severity"))), nCands, metas.map(_._2))
      }
    }
    // cross-run duplicates: a small distributed frame (the duplicated
    // slice of the NEW scope only), persisted so the two write chains and
    // the count reuse one materialization of the confirm join
    val vio = probed.flatMap(_._1).reduceOption(_ unionByName _)
      .map(f => persisted(bySource(f)))
    val probedShards = probed.flatMap(_._3)
    CrossRun(vio,
      (for (r <- incomplete; s <- scope.todo) yield (s, r.id)).toSet,
      CrossRunStats(probed.map(_._2).sum, vio.map(_.count()).getOrElse(0L),
        probedShards.map(_.shardRows).sum,
        probedShards.map(_.bytes).sum / 1024))
  }

  /** Violations a partial re-validation keeps from the current table,
    * persisted EAGERLY — the violations chain deletes these partitions
    * before rewriting them:
    *  · append-delta: OLD files' per-doc violations (row rules,
    *    uniqueness, prior cross-run hits) remain true for the delta
    *    partitions — only the driver-rule families (stats / RI / drift /
    *    manifest) are dropped, since they re-derive from the merged
    *    aggregates.
    *  · rule-delta: every violation of a CARRIED (unchanged) rule remains
    *    true — the data did not change — across the whole rewrite scope
    *    (runSources, so a carried RI violation on a manifest-only source
    *    survives the partition rewrite too); changed rules' old rows drop
    *    and re-derive, removed rules' rows drop for good.
    * A prior run with zero violations leaves no data file: nothing to
    * keep. */
  private def preservedViolations(spark: SparkSession, cfg: Config,
      cls: Classified, runSources: Seq[String],
      persisted: Persisted): Option[DataFrame] = {
    val rules = cls.evalRules
    val (sources, ids): (Seq[String], Seq[String]) =
      if (cls.ruleDeltaActive) (runSources, cls.carriedIds.toSeq.sorted)
      else if (cls.deltaParts.nonEmpty)
        (cls.deltaParts.toSeq.sorted,
          rules.rowRules.map(_.id) ++ rules.uniqueRules.map(_.id) ++
            rules.crossRunRules.map(_.id))
      else (Nil, Nil)
    if (sources.isEmpty || ids.isEmpty) None
    else TableIO.readIfExists(spark, violationsPath(cfg.outDir)).map(v =>
      persisted(bySource(v
        .filter(inSources(sources) && col("rule_id").isin(ids: _*))
        .select("doc_id", "rule_id", "observed", "source", "severity"))))
  }

  /** Rule-delta carried verdicts, collected driver-side BEFORE the write
    * chains run (the verdict chain overwrites the table they come from).
    * The domain is runSources × carriedIds; pairs the prior run never
    * produced (a source newly in the manifest) synthesize NOT_COMPLETED,
    * never a silent PASS. */
  private def carriedVerdicts(spark: SparkSession, cfg: Config,
      cls: Classified, runSources: Seq[String]): Seq[Verdict] = {
    import spark.implicits._
    if (!cls.ruleDeltaActive || cls.carriedIds.isEmpty) Nil
    else {
      val carried = cls.carriedIds.toSeq.sorted
      val prior: Map[(String, String), Verdict] =
        TableIO.readIfExists(spark, verdictsPath(cfg.outDir)).fold(
          Map.empty[(String, String), Verdict])(_
          .filter(inSources(runSources) && col("rule_id").isin(carried: _*))
          .select("source", "rule_id", "status", "severity", "metrics")
          .as[Verdict]
          .collect()
          .map(v => (v.source, v.rule_id) -> v)
          .toMap)
      val sevOf = cfg.rules.rules.map(r => r.id -> r.severity).toMap
      for (src <- runSources; id <- carried)
        yield prior.getOrElse((src, id), Verdict(
          source = src, rule_id = id, status = Status.NotCompleted,
          severity = sevOf(id), metrics = """{"carried":"no_prior_row"}"""))
    }
  }

  /** Per-partition key sketch shards for FUTURE runs' cross-run gate,
    * built and written by executors: one narrow (source, key) scan of the
    * new scope, one row per (partition, rule, shard). A full partition
    * gets the shards its row count needs; a delta partition keeps its
    * shard count, and its carried shards OR into the fresh ones — Bloom
    * filters OR together, so the refreshed sketch covers old + new keys
    * (and the carried shards stand alone if the delta files held no
    * non-null keys: the snapshot id still advanced). */
  private def refreshedSketches(spark: SparkSession, cfg: Config, snap: Snap,
      cls: Classified, seqs: Dataset[Sequence],
      nDocs: Map[String, Long]): Option[DataFrame] = {
    val deltaParts = cls.deltaParts.toSeq.sorted
    val nshards = nDocs.map { case (s, n) => s -> ShardedBloom.shardsFor(n) } ++
      cls.deltaInfo.map { case (s, d) => s -> d.nshards }
    val snapOf = typedLit(nshards.keys.map(s => s -> snap.snapOf(s)).toMap)
    val nOf = typedLit(nshards)
    cls.evalRules.crossRunRules.map { rule =>
      val carried = Option.when(deltaParts.nonEmpty)(
        Checkpoint.readShards(spark, cfg.outDir, rule.id, deltaParts)
          .filter(deltaParts.map(s => col("part_value") === s &&
              col("snapshot_id") === cls.deltaInfo(s).oldSnapshotId)
            .reduce(_ || _)))
      ShardedBloom.build(seqs
          .select(col("source").as("part_value"),
            col(rule.key).cast("string").as("xk"))
          .filter(col("xk").isNotNull),
        nshards, cfg.sketchFpp, carried)
        .select(col("part_value"),
          element_at(snapOf, col("part_value")).as("snapshot_id"),
          lit(rule.id).as("rule_id"), lit(rule.key).as("key_col"),
          col("shard"), element_at(nOf, col("part_value")).as("nshards"),
          col("sketch"))
    }.reduceOption(_ unionByName _)
  }

  /** write: every output table but the checkpoint — the partition-state
    * rows first, then three concurrent chains: violations + violations
    * log, verdicts + run log, cross-run sketches. Spark jobs: the
    * preserved-violations read and count, the carried-verdicts collect,
    * the verdict roll-up, the sketch-refresh scan and every write. */
  private def write(spark: SparkSession, cfg: Config, snap: Snap,
      scope: Scope, cls: Classified, planned: Planned, scanned: Scanned,
      finished: Finished, xrun: CrossRun, persisted: Persisted): Written = {
    import spark.implicits._
    import finished.fin
    import snap.{rulesetHash, snapshotId}
    val todoSet = scope.todo.toSet
    val allPartsSet = scope.allParts.toSet
    // driver-derived violations (RI / drift / manifest) obey the same
    // partition restriction; coalesced to ONE slice below, so each source
    // dir gets at most one more file than the clustered scan side writes.
    val driverVios = fin.driverViolations.filter(v => todoSet(v.source) ||
      (!allPartsSet(v.source) && scope.inScope(v.source))) ++
      finished.storageVios
    // fin.sources = data sources (todo) ∪ ALL manifest sources; a
    // restricted run reports (and deletes stale partitions!) only inside
    // its locked scope, never under a CONCURRENT run over other sources.
    val runSources = fin.sources.filterNot(scope.done).filter(scope.inScope)
    val preserved =
      preservedViolations(spark, cfg, cls, runSources, persisted)
    val preservedCount = preserved.map(_.count()).getOrElse(0L)
    val vio = Seq(
        Some(scanned.vio.toDF()), xrun.vio, preserved,
        Some(spark.createDataset(driverVios).coalesce(1).toDF()))
      .flatten
      .reduce(_ unionByName _)
      .as[Violation]
    // NOTE (ADVICE r02): `violations` counts EVERY violation attributable
    // to this run — including manifest-only sources that never appear in
    // the data — not just rows from `todo` partitions.
    val vioCount =
      scanned.count + xrun.stats.confirmed + preservedCount + driverVios.size

    val completedAt = java.time.Instant.now().toString
    // run lineage id: restricted runs fold their scope in, so two
    // concurrent disjoint-scope runs write DISTINCT run_id generations of
    // the violations/run logs (and distinct checkpoint segments) while a
    // crash replay of either still overwrites exactly its own generation.
    val scopeSuffix = scope.requested.fold("")(ps =>
      "-" + TableIO.md5Hex(ps.toSeq.sorted.mkString(",")).take(8))
    val runId = s"${snapshotId.take(12)}-${rulesetHash.take(12)}$scopeSuffix"
    val carried = carriedVerdicts(spark, cfg, cls, runSources)

    // Each validated partition's state row — its files, merged stats
    // state and rule fingerprints under this run's lineage: what the NEXT
    // delta run starts from. Written BEFORE any chain rewrites the
    // partition's violations or verdicts, so a crash from here on leaves
    // a row that no checkpoint entry matches, and the next delta run
    // rescans the partition in full. A rule-delta run that evaluates no
    // stats-family rule keeps the old state (the data is unchanged).
    val stateOf = cls.carriedState ++ fin.aggregates
      .filter(_.stateBytes.nonEmpty).map(a => a.source -> a.stateBytes)
    Checkpoint.writePartitionState(spark, cfg.outDir, scope.todo.map(p =>
      Checkpoint.PartitionState(p, snap.snapOf(p), rulesetHash,
        snap.filesByPart.flatMap(_.get(p)).getOrElse(Nil), stateOf.get(p),
        snap.ruleFps)))

    // The chains read only the materialized violations and driver facts,
    // so they run CONCURRENTLY (the serial write tail taxes the 4N scaling
    // level 4x harder). Crash replay needs only the CHECKPOINT after ALL
    // of them; their mutual order is free.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val vioChain = Future {
      // Dynamic overwrite only replaces partitions PRESENT in the output:
      // a re-validated source that is now clean writes zero rows, so its
      // stale violations must be dropped explicitly (ADVICE r01).
      TableIO.deletePartitions(
        spark, violationsPath(cfg.outDir), "source", runSources)
      // already clustered by source — no re-shuffle on the way out
      TableIO.writePartitioned(vio.toDF(), violationsPath(cfg.outDir),
        recluster = false)
      // K2 completion (VERDICT r02 #5): the audit log keeps EVERY
      // generation, keyed by run lineage (the reference mirrors every
      // record type into archive tables, dynamodb.py:518-532). A run_id-
      // partitioned dynamic overwrite, NOT a blind append: a crash replay
      // derives the same run_id and must overwrite its own generation
      // (the crash-replay idempotence contract, Checkpoint.scala doc).
      TableIO.writePartitioned(
        vio.toDF()
          .withColumn("run_id", lit(runId))
          .withColumn("snapshot_id", lit(snapshotId))
          .withColumn("ruleset_hash", lit(rulesetHash))
          .withColumn("completed_at", lit(completedAt)),
        violationsLogPath(cfg.outDir),
        partitionCol = "run_id",
        recluster = false)
    }
    val verdictChain = Future {
      // Verdicts are |sources| x |rules| rows: roll up from the cached
      // violations, collect once, and reuse the rows for the write, the
      // run log AND the checkpoint. Rule-delta: CARRIED rules' verdicts
      // copy forward (the data is unchanged, so they still hold).
      val rows = RuleEngine.rollUpVerdicts(
          spark, runSources, cls.evalRules, vio, fin.stats,
          fin.notCompleted ++ xrun.notCompleted ++
            finished.storageNotCompleted)
        .collect().toSeq ++ carried
      TableIO.writePartitioned(
        spark.createDataset(rows).coalesce(1).toDF(),
        verdictsPath(cfg.outDir), recluster = false)
      // K2 audit trail: every run appends its verdict generation to the
      // run log (reference archive-table semantics, dynamodb.py:518-532).
      TableIO.writePartitioned(
        spark.createDataset(rows.map(v =>
          RunLogRecord(runId, snapshotId, rulesetHash, v.source, v.rule_id,
            v.status, v.severity, v.metrics, completedAt)))
          .coalesce(1).toDF(),
        runLogPath(cfg.outDir), partitionCol = "run_id", recluster = false)
      rows
    }
    // Written before the checkpoint like every other output — a crash
    // replay overwrites its own partitions (dynamic overwrite), and each
    // row travels with its partition's snapshot id so staleness is
    // detectable.
    val sketchChain = Future(
      refreshedSketches(spark, cfg, snap, cls, planned.seqs, fin.counts)
        .foreach(Checkpoint.writeSketches(_, cfg.outDir)))
    // Join ALL chains before anything can unwind: if one chain fails
    // while another is mid-write, bailing out immediately would abandon
    // the in-flight write after its stale partitions were already deleted
    // (and swallow its error). All outcomes are observed; the violations
    // chain's error wins (table integrity first).
    Seq(vioChain, verdictChain, sketchChain)
      .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      .foreach(_.get)
    Written(Await.result(verdictChain, Duration.Inf), vioCount, runId,
      completedAt)
  }

  /** checkpoint: one entry per validated partition, appended LAST so a
    * crash before it replays the run. Returns the run's wall ms at the
    * point the entries are built. Spark jobs: the checkpoint append. */
  private def checkpoint(spark: SparkSession, cfg: Config, snap: Snap,
      scope: Scope, written: Written, t0: Long,
      phasesBefore: Seq[(String, Long)], xrun: CrossRunStats): Long = {
    import spark.implicits._
    val start = System.nanoTime()
    val todoSet = scope.todo.toSet
    val perPart = written.verdicts.filter(v => todoSet(v.source))
      .groupBy(_.source).toSeq
    // An entry cannot time the append that writes it: its checkpoint
    // figure, like wall_ms, stops where the entries are built.
    val now = System.nanoTime()
    val wallMs = (now - t0) / 1000000
    val phaseJson = (phasesBefore :+ ("checkpoint" -> (now - start) / 1000000))
      .map { case (name, ms) => s""""$name":$ms""" }.mkString("{", ",", "}")
    val entries = perPart.map { case (src, vs) =>
      // NOT_COMPLETED rules (e.g. drift with no baseline configured)
      // record their status per rule but do not block the partition
      // verdict — they would otherwise block resume forever on a
      // permanent configuration.
      val verdict = vs.map(_.status).filterNot(_ == Status.NotCompleted)
        .maxByOption(Status.rank).getOrElse(Status.Pass)
      // the partition's OWN snapshot id: resume and the transfer
      // lineage gate both compare per partition
      CheckpointEntry(src, snap.snapOf(src), snap.rulesetHash, verdict,
        s"""{"n_rules":${vs.size},"wall_ms":$wallMs,"phase_ms":$phaseJson,""" +
          s""""xrun":${xrun.json}}""",
        written.completedAt)
    }
    Checkpoint.appendRun(spark.createDataset(entries),
      checkpointPath(cfg.outDir), written.runId)
    wallMs
  }
}
