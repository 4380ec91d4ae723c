package graft.checkpoint

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{CheckpointEntry, CompletedAt}
import graft.sources.TableIO

/**
 * Checkpoint manifest: per-partition lineage (snapshot_id, ruleset_hash,
 * verdict, metrics) enabling resumable runs — the Spark-native replacement
 * for the reference's RUNNING/PASS/FAIL state machine + README sentinel
 * (reference validation_manager.py:209-253, cleanup_manager.py:114-128,
 * batch_notification.py:206-218). A restarted job skips partitions whose
 * latest entry already carries the current (snapshot_id, ruleset_hash);
 * any change to input data or rule set re-validates exactly the affected
 * partitions.
 *
 * Every lineage decision reads the table once, through [[lineage]]: a
 * collected view of (partition, snapshot_id, ruleset_hash, completed_at)
 * whose one lookup is each partition's latest entry, completed_at
 * ordered as an Instant (see [[graft.model.CompletedAt]]). [[compact]]
 * keeps its own segment read. What a delta run starts from is one
 * [[PartitionState]] row per partition, usable only while it matches
 * that partition's latest entry.
 *
 * Crash safety: jobs write the partition-state rows FIRST, then
 * violations, verdicts and sketches, and the checkpoint LAST; every data
 * write is an idempotent dynamic-partition overwrite, so a replay after a
 * crash reproduces identical output (SURVEY.md §7.5 risk 3). A crash
 * anywhere after the state write leaves rows whose (snapshot_id,
 * ruleset_hash) the checkpoint's latest entries do not carry, so the next
 * delta run rescans those partitions in full instead of trusting
 * half-rewritten violations or verdicts.
 */
object Checkpoint {

  /** One checkpoint entry's lineage: which data (`snapshotId`) of which
    * partition completed under which rule set, and when. */
  final case class LineageEntry(partition: String, snapshotId: String,
      rulesetHash: String, completedAt: java.time.Instant)

  /** The checkpoint's LINEAGE VIEW, the one answer to "which entry is
    * latest?": resume, rule-delta, append-delta and the transfer and
    * cleanup gates all look up here, so they share one definition of
    * latest — the greatest (completed_at as an Instant, snapshot_id,
    * ruleset_hash). Duplicate entries (a compaction that crashed before
    * its deletes) change no answer. */
  final case class Lineage(entries: Seq[LineageEntry]) {
    /** Each partition's latest entry: the lineage its last completed run
      * left — whose output the tables hold. Resume skips a partition only
      * while this entry carries the current (snapshot, rule set); a delta
      * run's [[PartitionState]] row must carry it, and the transfer gate
      * compares it with the current data. */
    lazy val latest: Map[String, LineageEntry] =
      entries.groupBy(_.partition).map { case (p, es) =>
        p -> es.maxBy(e => (e.completedAt, (e.snapshotId, e.rulesetHash)))(
          CompletedAt.ordering[(String, String)])
      }
  }

  private val lineageSchema = StructType(
    Seq("partition", "snapshot_id", "ruleset_hash", "completed_at")
      .map(StructField(_, StringType)))

  /** Read the [[Lineage]] view: the four lineage columns of every entry,
    * with an explicit schema (no inference job), collected in one Spark
    * job — |runs × partitions| small rows, bounded by [[compact]]. */
  def lineage(spark: SparkSession, path: String): Lineage =
    Lineage(
      if (!TableIO.hasData(spark, path)) Nil
      else spark.read.schema(lineageSchema).parquet(path)
        .select(lineageSchema.fieldNames.toIndexedSeq.map(col): _*)
        .collect().toSeq
        .map(r => LineageEntry(r.getString(0), r.getString(1),
          r.getString(2), java.time.Instant.parse(r.getString(3)))))

  /** Write one run's checkpoint entries as that run's OWN generation
    * (`run_seg=<runId>` hive partition, dynamic overwrite). Two properties
    * a plain parquet append lacks: (1) CONCURRENT-safe — each writing job
    * stages under its own unique `.spark-staging-*` dir and commits only
    * its own partition, so two runs over disjoint partition sets can
    * finish simultaneously (a shared FileOutputCommitter `_temporary`
    * would let one run's commit delete the other's in-flight staging);
    * (2) replay-idempotent — a crashed run replays with the same derived
    * runId and overwrites its own generation instead of appending a
    * duplicate. runId is deterministic per (snapshot, ruleset, scope), so
    * distinct concurrent scopes land in distinct generations. */
  def appendRun(
      entries: Dataset[CheckpointEntry], path: String, runId: String): Unit =
    entries.toDF()
      .withColumn("run_seg", org.apache.spark.sql.functions.lit(runId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_seg")
      .parquet(path)

  /** COMPACT the checkpoint's per-run generations (VERDICT r03 #7 spirit,
    * applied to the checkpoint itself): every run appends its own
    * `run_seg` partition, so a long-lived table accumulates one tiny
    * file per run and resume pays O(runs) open costs. Folds every
    * current generation into ONE consolidated `base-<hash>` generation
    * (exact duplicate rows collapsed — reruns overwrite their own segment
    * but distinct lineages all survive), then deletes exactly the
    * segments that were read. Crash-safe without atomic directory swaps:
    * base is written FIRST, so a crash between write and deletes leaves
    * duplicate entries — harmless to every [[Lineage]] lookup — and the
    * next compaction collapses them. Concurrent appendRun is safe: a new
    * run writes a fresh run_seg this call never read and never deletes.
    * Returns the number of segments folded (0 = nothing to do; with
    * dryRun: the count that WOULD fold, nothing touched). */
  def compact(
      spark: SparkSession, path: String, dryRun: Boolean = false): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val segs = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("run_seg="))
      .map(n => TableIO.unescapePathName(
        n.stripPrefix("run_seg=")))
    if (segs.size <= 1) return 0
    if (dryRun) return segs.size
    // checkpoint entries are metadata (|runs × partitions| small rows):
    // collected so the base write never reads the path it overwrites
    import spark.implicits._
    val entries = spark.read.parquet(path)
      .where(org.apache.spark.sql.functions.col("run_seg")
        .isin(segs.map(x => x: Any): _*))
      .drop("run_seg")
      .distinct()
      .as[CheckpointEntry]
      .collect()
    val baseId = "base-" + java.util.UUID.randomUUID().toString.take(8)
    appendRun(spark.createDataset(entries.toSeq).coalesce(1), path, baseId)
    TableIO.deletePartitions(spark, path, "run_seg", segs)
    segs.size
  }

  /** Atomic create-if-absent on a single lock file, with stale reclaim:
    * the body of [[acquirePartitionLocks]], one call per partition. */
  private def tryLockFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      staleMs: Long,
      attempts: Int): Boolean = {
    if (attempts <= 0) return false
    def retry() = tryLockFile(fs, p, staleMs, attempts - 1)
    try {
      // createNewFile semantics: atomic create-if-absent
      val out = fs.create(p, false)
      out.writeBytes(java.time.Instant.now().toString)
      out.close()
      true
    } catch {
      case _: java.io.IOException =>
        // the lock may vanish between the failed create and the stat
        // (another run just released/reclaimed it) — that's a retry, not
        // an escaping IOException (ADVICE r02)
        val age =
          try System.currentTimeMillis() -
            fs.getFileStatus(p).getModificationTime
          catch { case _: java.io.FileNotFoundException => return retry() }
        if (age > staleMs) {
          // Reclaim via RENAME-then-delete: rename is atomic, so of N runs
          // observing the same stale lock exactly ONE wins the rename (and
          // deletes the tombstone); losers fail the rename and retry —
          // where they contend on create-if-absent against the winner's
          // fresh lock. The delete-then-create race (both delete, each
          // creates, B deletes A's fresh lock, both proceed) is gone.
          val tomb = new org.apache.hadoop.fs.Path(
            p.getParent, s"${p.getName}.reclaim.${java.util.UUID.randomUUID()}")
          if (fs.rename(p, tomb)) fs.delete(tomb, false)
          retry()
        } else false
    }
  }

  /** Lock-file path for one partition value (URL-encoded so any partition
    * string maps to a distinct, filesystem-safe name). */
  def partitionLockPath(
      outDir: String, partition: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$outDir/_locks/" +
      java.net.URLEncoder.encode(partition, "UTF-8") + ".lock")

  /** PER-PARTITION run locks (VERDICT r03 #4) — the reference's
    * concurrency unit is the submission PREFIX, not the whole results
    * area (folder_lock.py:44-164 denies writes to one submission folder
    * while it is processed). Locking the partition SET a run will write
    * lets two runs over disjoint partition sets of the same table proceed
    * concurrently, while overlapping sets still refuse each other.
    *
    * All-or-nothing: partitions are locked in sorted order; on the first
    * conflict every lock this call took is released and the call returns
    * false — no partial hold, so two overlapping runs cannot deadlock
    * (one of them wins every contended lock or backs out fully). Stale
    * locks from crashed runs reclaim after `staleMs`, per lock file. */
  def acquirePartitionLocks(
      spark: SparkSession, outDir: String, partitions: Seq[String],
      staleMs: Long = 6 * 3600 * 1000L,
      attempts: Int = 5): Boolean = {
    val sorted = partitions.distinct.sorted
    if (sorted.isEmpty) return true
    val root = new org.apache.hadoop.fs.Path(s"$outDir/_locks")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val acquired = scala.collection.mutable.ListBuffer
      .empty[org.apache.hadoop.fs.Path]
    sorted.foreach { part =>
      val lp = partitionLockPath(outDir, part)
      if (tryLockFile(fs, lp, staleMs, attempts)) acquired += lp
      else {
        acquired.foreach(fs.delete(_, false))
        return false
      }
    }
    true
  }

  def releasePartitionLocks(
      spark: SparkSession, outDir: String, partitions: Seq[String]): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$outDir/_locks")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    partitions.distinct.foreach { part =>
      val lp = partitionLockPath(outDir, part)
      if (fs.exists(lp)) fs.delete(lp, false)
    }
  }

  def sketchesPath(outDir: String): String = s"$outDir/_sketches"

  /** Persist per-partition key sketches as key-hash shards (one row per
    * (partition, rule, shard); see [[graft.operators.ShardedBloom]]): the
    * membership side of the CROSS-RUN uniqueness gate — the Spark-native
    * stand-in for the reference's global ETag table (dynamodb.py:22-40).
    * `shards` holds `part_value, snapshot_id, rule_id, key_col, shard,
    * nshards, sketch` and is written straight from the executors that
    * built it. Dynamic overwrite per partition: a re-validated partition
    * replaces exactly its own shards (content lineage travels in
    * snapshot_id, so stale sketches are detectable), and two concurrent
    * disjoint-scope runs commit disjoint partitions safely. `part_value`
    * carries the exact partition string — the hive partition column is
    * only the directory key (partition columns are TYPE-INFERRED on read;
    * a numeric-looking source name would come back as a long). */
  def writeSketches(shards: DataFrame, outDir: String): Unit =
    TableIO.writePartitioned(
      shards.withColumn("partition", col("part_value")),
      sketchesPath(outDir), partitionCol = "partition", recluster = false)

  /** Read schema of `_sketches`: tables written before sharding lack
    * `shard` and `nshards`, which then read as null. */
  private val sketchSchema = StructType(Seq(
    StructField("part_value", StringType), StructField("snapshot_id", StringType),
    StructField("rule_id", StringType), StructField("key_col", StringType),
    StructField("shard", IntegerType), StructField("nshards", IntegerType),
    StructField("sketch", BinaryType), StructField("partition", StringType)))

  /** One rule's shard rows `(part_value, snapshot_id, shard, nshards,
    * sketch)` in `partitions`, read by executors only; the caller knows
    * from [[readSketchMeta]] that the table exists. A row of the
    * unsharded layout reads as shard 0 with a null `nshards`. */
  def readShards(spark: SparkSession, outDir: String, ruleId: String,
      partitions: Seq[String]): DataFrame =
    spark.read.schema(sketchSchema).parquet(sketchesPath(outDir))
      .filter(col("partition").isin(partitions: _*) &&
        col("rule_id") === ruleId)
      .select(col("part_value"), col("snapshot_id"),
        coalesce(col("shard"), lit(0)).as("shard"), col("nshards"),
        col("sketch"))

  /** What a run needs to know of one partition's sketch for one rule:
    * its lineage, its shard count (None = the unsharded layout), and how
    * many shard rows and bytes it holds. */
  final case class SketchMeta(snapshotId: String, nshards: Option[Int],
      shardRows: Long, bytes: Long)

  /** rule id → partition → [[SketchMeta]]: one aggregation over the
    * shard rows' lineage columns and byte lengths, collected once — no
    * sketch bytes reach the driver, only one row per (rule, partition). */
  def readSketchMeta(spark: SparkSession,
      outDir: String): Map[String, Map[String, SketchMeta]] =
    if (!TableIO.hasData(spark, sketchesPath(outDir))) Map.empty
    else
      spark.read.schema(sketchSchema).parquet(sketchesPath(outDir))
        .groupBy(col("rule_id"), col("part_value"), col("snapshot_id"),
          col("nshards"))
        .agg(count(lit(1)), sum(octet_length(col("sketch"))))
        .collect().toSeq
        .groupBy(_.getString(0))
        .map { case (rule, rs) => rule -> rs.map(r => r.getString(1) ->
          SketchMeta(r.getString(2), Option.when(!r.isNullAt(3))(r.getInt(3)),
            r.getLong(4), r.getLong(5))).toMap }

  /** Diagnostic view the job does not use: one rule's sketch per
    * partition as (snapshot id, the OR of the partition's shards). Every
    * shard has the same size, so the values merge with
    * [[graft.operators.BloomDedup.merge]]. */
  def readSketches(
      spark: SparkSession, outDir: String,
      ruleId: String): Map[String, (String, Array[Byte])] = {
    import spark.implicits._
    if (!TableIO.hasData(spark, sketchesPath(outDir))) Map.empty
    else
      spark.read.schema(sketchSchema).parquet(sketchesPath(outDir))
        .filter(col("rule_id") === ruleId)
        .select("part_value", "snapshot_id", "sketch")
        .as[(String, String, Array[Byte])]
        .groupByKey(_._1)
        .reduceGroups((a, b) =>
          (a._1, a._2, graft.operators.BloomDedup.merge(a._3, b._3)))
        .collect()
        .map { case (p, (_, snap, sk)) => p -> ((snap, sk)) }
        .toMap
  }

  def partitionStatePath(outDir: String): String = s"$outDir/_partition_state"

  /** One validated partition's run state, as its last run left it: the
    * data (`snapshotId`, the md5 of `files`, its `path:length` inventory)
    * and rule set (`rulesetHash`, with `ruleFps` its per-rule
    * fingerprints) it ran under, and its mergeable per-source stats state
    * (see [[graft.drift.SourceStatsAggregate.serializeStates]]; None when
    * no stats-family rule ran). Everything a later run needs to validate
    * the partition incrementally: append-delta scans the files beyond
    * `files` and folds `state` in, rule-delta re-runs the rules whose
    * fingerprint moved. The row is usable only while its (snapshotId,
    * rulesetHash) is the partition's latest checkpoint entry. */
  final case class PartitionState(partValue: String, snapshotId: String,
      rulesetHash: String, files: Seq[String], state: Option[Array[Byte]],
      ruleFps: Map[String, String])

  private val partitionStateSchema = StructType(Seq(
    StructField("part_value", StringType),
    StructField("snapshot_id", StringType),
    StructField("ruleset_hash", StringType),
    StructField("files", ArrayType(StringType)),
    StructField("state", BinaryType),
    StructField("rule_fps", MapType(StringType, StringType))))

  /** Replace the state rows of exactly the partitions in `rows`: hive-
    * partitioned by `partition` = `part_value` (the partition column is
    * type-inferred on read, so readers key on `part_value`), one file per
    * partition dir, dynamic overwrite. */
  def writePartitionState(spark: SparkSession, outDir: String,
      rows: Seq[PartitionState]): Unit = {
    import spark.implicits._
    if (rows.nonEmpty)
      TableIO.writePartitioned(
        rows.toDF(partitionStateSchema.fieldNames.toIndexedSeq: _*)
          .withColumn("partition", col("part_value"))
          .coalesce(1),
        partitionStatePath(outDir), partitionCol = "partition",
        recluster = false)
  }

  /** partition → its [[PartitionState]] row, read with an explicit schema
    * (no inference job) and collected: one small row per partition. */
  def readPartitionState(
      spark: SparkSession, outDir: String): Map[String, PartitionState] =
    if (!TableIO.hasData(spark, partitionStatePath(outDir))) Map.empty
    else spark.read.schema(partitionStateSchema)
      .parquet(partitionStatePath(outDir))
      .select(partitionStateSchema.fieldNames.toIndexedSeq.map(col): _*)
      .collect()
      .map(r => r.getString(0) -> PartitionState(r.getString(0),
        r.getString(1), r.getString(2), r.getSeq[String](3),
        Option(r.getAs[Array[Byte]](4)), r.getMap[String, String](5).toMap))
      .toMap

  /** partition → (snapshot_id, file entries): a projection of
    * [[readPartitionState]], kept because `perfbench`'s
    * `FullScan.directCalls` times it. */
  def readInventory(
      spark: SparkSession, outDir: String): Map[String, (String, Seq[String])] =
    readPartitionState(spark, outDir).collect {
      case (p, s) if s.files.nonEmpty => p -> ((s.snapshotId, s.files)) }

  /** partition → (snapshot_id, serialized stats state): a projection of
    * [[readPartitionState]], kept for the same timing. */
  def readStatsState(
      spark: SparkSession, outDir: String): Map[String, (String, Array[Byte])] =
    readPartitionState(spark, outDir).flatMap { case (p, s) =>
      s.state.map(b => p -> ((s.snapshotId, b))) }

  /** The resume set: partitions whose LATEST entry completed under `hash`
    * for their current snapshot id `snapOf(partition)`. An older entry
    * under `hash` does not count — after a rule-set flip-flop over the
    * same data the tables hold the later rule set's output. */
  def resumable(lineage: Lineage, hash: String,
      snapOf: String => String): Set[String] =
    lineage.latest.collect { case (p, e)
      if e.rulesetHash == hash && e.snapshotId == snapOf(p) => p }.toSet

  /** [[resumable]] for a partition → snapshot id map (a partition missing
    * from the map matches no entry): a one-line delegate, kept because
    * `perfbench`'s `FullScan.directCalls` times it. */
  def completedPartitionsBySnapshot(spark: SparkSession, path: String,
      rulesetHash: String, partitionSnapshots: Map[String, String]): Set[String] =
    resumable(lineage(spark, path), rulesetHash,
      partitionSnapshots.getOrElse(_, ""))
}
