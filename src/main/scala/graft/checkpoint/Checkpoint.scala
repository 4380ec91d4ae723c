package graft.checkpoint

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag
import graft.model.CheckpointEntry
import graft.sources.TableIO

/**
 * Checkpoint manifest: per-partition lineage (snapshot_id, ruleset_hash,
 * verdict, metrics) enabling resumable runs — the Spark-native replacement
 * for the reference's RUNNING/PASS/FAIL state machine + README sentinel
 * (reference validation_manager.py:209-253, cleanup_manager.py:114-128,
 * batch_notification.py:206-218). A restarted job skips partitions whose
 * (snapshot_id, ruleset_hash) already completed; any change to input data
 * or rule set re-validates exactly the affected partitions.
 *
 * Crash safety: jobs write violations → verdicts → checkpoint LAST, and
 * every data write is an idempotent dynamic-partition overwrite, so a replay
 * after a crash reproduces identical output (SURVEY.md §7.5 risk 3).
 */
object Checkpoint {

  def read(spark: SparkSession, path: String): Dataset[CheckpointEntry] = {
    import spark.implicits._
    TableIO.readIfExists(spark, path)
      .fold(spark.emptyDataset[CheckpointEntry])(_.as[CheckpointEntry])
  }

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
    * duplicate entries — harmless to every reader (completedPartitions*
    * are distinct/filter lookups) — and the next compaction collapses
    * them. Concurrent appendRun is safe: a new run writes a fresh
    * run_seg this call never read and never deletes.
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

  /** Atomic create-if-absent on a single lock file, with stale reclaim.
    * Shared by the whole-dir run lock and the per-partition locks. */
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

  /** Whole-dir run lock — an atomically-created marker file under the
    * output dir. A second concurrent run on the same outDir fails to
    * create it and aborts instead of double-writing. Stale locks (crashed
    * runs) are reclaimed after `staleMs`. Jobs whose write unit is the
    * whole output dir (TransferJob's store+manifest regeneration) use
    * this; ValidationJob locks at PARTITION granularity below. */
  def acquireRunLock(
      spark: SparkSession, outDir: String,
      staleMs: Long = 6 * 3600 * 1000L,
      attempts: Int = 5): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$outDir/_running")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    tryLockFile(fs, p, staleMs, attempts)
  }

  def releaseRunLock(spark: SparkSession, outDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$outDir/_running")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
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

  /** Shared body of the side-table writers: `rows` as columns `cols`,
    * hive-partitioned by `partitionCol` = the exact value `valueCol`
    * carries (partition columns are TYPE-INFERRED on read, so readers key
    * on `valueCol`), one file per partition dir, dynamic overwrite. */
  private def writeKeyed[T <: Product : TypeTag](
      spark: SparkSession, rows: Seq[T], cols: Seq[String], path: String,
      partitionCol: String, valueCol: String): Unit = {
    import spark.implicits._
    if (rows.nonEmpty)
      TableIO.writePartitioned(
        rows.toDF(cols: _*).withColumn(partitionCol, col(valueCol))
          .coalesce(1),
        path, partitionCol = partitionCol, recluster = false)
  }

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

  /** rule id → partition → [[SketchMeta]]. Each task sums its own shard
    * rows per (rule, partition) and the driver adds up those partial
    * rows: one job with no shuffle, no sketch bytes collected, and at most
    * (tasks × partitions) rows reaching the driver. */
  def readSketchMeta(spark: SparkSession,
      outDir: String): Map[String, Map[String, SketchMeta]] =
    if (!TableIO.hasData(spark, sketchesPath(outDir))) Map.empty
    else {
      type Key = (String, String, String, Option[Int])
      def add(m: Map[Key, (Long, Long)], k: Key, n: Long, b: Long) =
        m.updated(k, m.get(k).fold((n, b)) { case (n0, b0) => (n0 + n, b0 + b) })
      spark.read.schema(sketchSchema).parquet(sketchesPath(outDir))
        .select(col("rule_id"), col("part_value"), col("snapshot_id"),
          col("nshards"), octet_length(col("sketch")))
        .rdd
        .mapPartitions(rows => rows.foldLeft(Map.empty[Key, (Long, Long)])(
          (m, r) => add(m, (r.getString(0), r.getString(1), r.getString(2),
            Option.when(!r.isNullAt(3))(r.getInt(3))), 1L, r.getInt(4)))
          .iterator)
        .collect()
        .foldLeft(Map.empty[Key, (Long, Long)]) { case (m, (k, (n, b))) =>
          add(m, k, n, b) }
        .toSeq
        .groupBy(_._1._1)
        .map { case (rule, rs) => rule -> rs.map {
          case ((_, part, snap, n), (rows, bytes)) =>
            part -> SketchMeta(snap, n, rows, bytes) }.toMap }
    }

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

  def statsStatePath(outDir: String): String = s"$outDir/_stats_state"
  def inventoryPath(outDir: String): String = s"$outDir/_inventory"
  def rulesetsPath(outDir: String): String = s"$outDir/_rulesets"

  /** Persist the PER-RULE fingerprint map of one ruleset hash — the
    * lookup table rule-delta revalidation diffs against: a later run whose
    * ruleset hash differs finds out WHICH rules changed (vs. today's
    * all-or-nothing hash compare) and re-evaluates only those. One row per
    * rule; dynamic overwrite of the hash's own partition (idempotent
    * across replays). `hash_value` carries the exact hash — the hive
    * partition column is only the directory key (type-inferred on read). */
  def writeRulesetMap(
      spark: SparkSession, outDir: String, rulesetHash: String,
      fps: Map[String, String]): Unit =
    writeKeyed(spark,
      fps.toSeq.map { case (id, fp) => (id, fp, rulesetHash) },
      Seq("rule_id", "rule_fp", "hash_value"),
      rulesetsPath(outDir), "ruleset", "hash_value")

  /** rule_id → per-rule fingerprint for one persisted ruleset hash; empty
    * when that hash never ran with map-writing code (pre-feature runs →
    * rule-delta falls back to a full revalidation). */
  def readRulesetMap(
      spark: SparkSession, outDir: String,
      rulesetHash: String): Map[String, String] =
    TableIO.readIfExists(spark, rulesetsPath(outDir)).map(
      _.filter(col("hash_value") === rulesetHash)
        .select("rule_id", "rule_fp")
        .collect()
        .map(r => r.getString(0) -> r.getString(1))
        .toMap).getOrElse(Map.empty)

  /** For each partition whose CURRENT snapshot id matches some completed
    * checkpoint entry (under ANY ruleset hash): the ruleset hash of the
    * latest such entry — i.e. "this exact data was last fully validated
    * under THAT rule set". The rule-delta classifier starts here. */
  def latestRulesetForSnapshots(
      spark: SparkSession, path: String,
      partitionSnapshots: Map[String, String]): Map[String, String] = {
    read(spark, path)
      .collect()
      .filter(e => partitionSnapshots.get(e.partition).contains(e.snapshot_id))
      .groupBy(_.partition)
      .map { case (p, es) => p -> es.maxBy(_.completed_at).ruleset_hash }
  }

  /** Persist each validated partition's mergeable per-source stats state
    * (see [[graft.drift.SourceStatsAggregate.serializeStates]]) — the
    * material an APPEND-DELTA run folds a new-files-only scan into, so
    * stats/drift/RI re-evaluate over the WHOLE partition without
    * rescanning old files. Dynamic overwrite per partition, lineage in
    * snapshot_id — the same contract as the key sketches. */
  def writeStatsState(
      spark: SparkSession, outDir: String,
      rows: Seq[(String, String, Array[Byte])]): Unit =
    writeKeyed(spark, rows, Seq("part_value", "snapshot_id", "state"),
      statsStatePath(outDir), "partition", "part_value")

  /** partition → (snapshot_id, serialized stats state). */
  def readStatsState(
      spark: SparkSession, outDir: String): Map[String, (String, Array[Byte])] =
    TableIO.readIfExists(spark, statsStatePath(outDir)).map(
      _.select("part_value", "snapshot_id", "state")
        .collect()
        .map(r => r.getString(0) ->
          ((r.getString(1), r.getAs[Array[Byte]]("state"))))
        .toMap).getOrElse(Map.empty)

  /** Persist each validated partition's `path:length` file inventory —
    * the list a later append-delta run subtracts from the current listing
    * to find exactly the NEW files. One row per file; dynamic overwrite
    * per partition, lineage in snapshot_id (which is itself the md5 of
    * this sorted list, so inventory and checkpoint cannot desync
    * silently). */
  def writeInventory(
      spark: SparkSession, outDir: String,
      rows: Seq[(String, String, String)]): Unit =
    writeKeyed(spark, rows, Seq("part_value", "snapshot_id", "file"),
      inventoryPath(outDir), "partition", "part_value")

  /** partition → (snapshot_id, file entries). */
  def readInventory(
      spark: SparkSession, outDir: String): Map[String, (String, Seq[String])] =
    TableIO.readIfExists(spark, inventoryPath(outDir)).map(
      _.select("part_value", "snapshot_id", "file")
        .collect()
        .groupBy(_.getString(0))
        .map { case (part, rs) =>
          part -> ((rs.head.getString(1), rs.map(_.getString(2)).toSeq))
        }).getOrElse(Map.empty)

  /** Latest checkpointed snapshot id per partition under `rulesetHash` —
    * the "what did the last completed run see" map append-delta
    * classification starts from. */
  def latestSnapshotByPartition(
      spark: SparkSession,
      path: String,
      rulesetHash: String): Map[String, String] = {
    read(spark, path)
      .filter(col("ruleset_hash") === rulesetHash)
      .collect()
      .groupBy(_.partition)
      .map { case (part, es) =>
        part -> es.maxBy(_.completed_at).snapshot_id
      }
  }

  /** Partitions already validated for (snapshotId, rulesetHash) — the skip
    * set for a resumed run. Latest entry wins per partition. */
  def completedPartitions(
      spark: SparkSession,
      path: String,
      snapshotId: String,
      rulesetHash: String): Set[String] = {
    val cp = read(spark, path)
    cp.filter(
        col("snapshot_id") === snapshotId &&
          col("ruleset_hash") === rulesetHash)
      .select("partition")
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSet
  }

  /** PER-PARTITION-lineage skip set: a partition is done iff some
    * checkpoint entry under `rulesetHash` carries that partition's OWN
    * current snapshot id (BASELINE's "per-partition lineage" taken
    * literally — a new or re-uploaded partition re-validates exactly
    * itself; every untouched partition keeps its checkpoint). */
  def completedPartitionsBySnapshot(
      spark: SparkSession,
      path: String,
      rulesetHash: String,
      partitionSnapshots: Map[String, String]): Set[String] = {
    val cp = read(spark, path)
    cp.filter(col("ruleset_hash") === rulesetHash)
      .select("partition", "snapshot_id")
      .distinct()
      .collect()
      .filter(r => partitionSnapshots.get(r.getString(0))
        .contains(r.getString(1)))
      .map(_.getString(0))
      .toSet
  }
}
