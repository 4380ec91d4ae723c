package graft.jobs

import org.apache.spark.sql.SparkSession
import graft.sources.TableIO

/**
 * Post-transfer staging cleanup — the reference's E3 tail
 * (cleanup_manager.py:20-128): after a submission is promoted to the
 * store, its staging copy and processing leftovers are deleted, and the
 * processed sentinel is dropped so the prefix can be reused. Blocked
 * submissions are NEVER cleaned — their staging data is the evidence a
 * human investigates.
 *
 * Spark-native shape: "staging" = the input table's source partitions;
 * cleanup drops exactly the partitions the TransferJob report says were
 * promoted (they now live in the store, verified by a count check), plus
 * processing leftovers (_temporary dirs, stale _running locks) under the
 * validation out dir. Everything is driver-side metadata work.
 */
object CleanupJob {

  final case class Report(
      cleaned: Seq[String],
      kept: Seq[String],
      leftoversRemoved: Seq[String])

  /** A `_running` lock younger than this is a LIVE run, never swept. */
  val lockStaleMs: Long = 6 * 3600 * 1000L

  /** Audit-log RETENTION (VERDICT r03 #7): `violations_log` and `run_log`
    * keep one generation per run forever — the archive-table spirit
    * (dynamodb.py:518-532) without its unbounded growth. This keeps, per
    * SOURCE, the `keepRuns` most recent runs that covered it (by
    * completed_at, run_id tie-break), then drops every run_id generation
    * no surviving source needs, from BOTH logs. Per-source — not
    * per-table — retention matters under submission-scoped runs: a global
    * latest-k would silently drop the only generation covering a rarely
    * re-validated source. Driver-side metadata work over the tiny run_log
    * (|runs| × |sources| × |rules| rows); generations present in
    * violations_log but absent from run_log (a crashed run's partial
    * write) are left for the replay that overwrites them.
    * Returns the dropped run_ids (with dryRun: the ids that WOULD drop,
    * nothing touched). */
  def pruneRunLogs(
      spark: SparkSession,
      validationOutDir: String,
      keepRuns: Int,
      dryRun: Boolean = false): Seq[String] = {
    require(keepRuns >= 1, "keepRuns must be >= 1")
    val runLogPath = ValidationJob.runLogPath(validationOutDir)
    val p = new org.apache.hadoop.fs.Path(runLogPath)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return Nil
    val rows = spark.read.parquet(runLogPath)
      .select("run_id", "source", "completed_at")
      .distinct()
      .collect()
      // parse, don't string-sort: Instant.toString trims trailing zeros,
      // so "…:00Z" would sort AFTER "…:00.5Z" lexicographically
      .map(r => (r.getString(0), r.getString(1),
        java.time.Instant.parse(r.getString(2)).toEpochMilli))
    val keep: Set[String] = rows
      .groupBy(_._2)
      .valuesIterator
      .flatMap(_.map(r => (r._3, r._1)).distinct.toSeq
        .sorted(Ordering[(Long, String)].reverse)
        .take(keepRuns)
        .map(_._2))
      .toSet
    val drop = rows.map(_._1).distinct.filterNot(keep).toSeq.sorted
    if (drop.nonEmpty && !dryRun) {
      TableIO.deletePartitions(
        spark, ValidationJob.violationsLogPath(validationOutDir),
        "run_id", drop)
      TableIO.deletePartitions(spark, runLogPath, "run_id", drop)
    }
    drop
  }

  /** Remove the staging partitions of `promoted` sources from `inputPath`.
    *
    * Safety contract (the reference deletes staging only after the move
    * succeeded, cleanup_manager.py:63-87): a partition is dropped ONLY if
    *  (a) the store's promotions log says that source's CURRENT store
    *      generation came from exactly the CURRENT staging snapshot — a
    *      row-count comparison alone cannot tell a stale larger store
    *      generation from a promoted current one (a corrected re-upload
    *      that SHRANK the partition, validated but not yet re-transferred,
    *      must be kept even though store >= staging), AND
    *  (b) the store actually holds at least as many rows for that source
    *      as staging does (guards a partial/failed move within the right
    *      generation).
    * No promotions log (store written outside TransferJob, or pre-r03)
    * means nothing is verifiably promoted: everything is kept. With
    * `dryRun` the report lists what WOULD be cleaned, touching nothing. */
  def run(
      spark: SparkSession,
      inputPath: String,
      storeDir: String,
      promoted: Seq[String],
      validationOutDir: Option[String] = None,
      dryRun: Boolean = false): Report = {
    import org.apache.spark.sql.functions._

    def exists(path: String) = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val storeExists = exists(storeDir)

    // (a) content lineage: latest promoted snapshot per source vs the
    // CURRENT staging snapshot — per SOURCE partition, so an unrelated
    // later upload does not un-verify this source's promotion
    val promotionsOk: String => Boolean = {
      val promoPath = TransferJob.promotionsPath(storeDir)
      if (promoted.isEmpty || !exists(promoPath)) _ => false
      else {
        val latest = spark.read.parquet(promoPath)
          .select("source", "snapshot_id")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val snapOf = TransferJob.currentSnapOf(spark, inputPath)
        s => latest.get(s).contains(snapOf(s))
      }
    }

    val storeCounts: Map[String, Long] =
      // no store at all (cleanup before any transfer) => nothing is
      // verifiably promoted => everything is kept
      if (promoted.isEmpty || !storeExists) Map.empty
      else spark.read.parquet(storeDir)
        .filter(col("source").isin(promoted.map(x => x: Any): _*))
        .groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val stagingCounts: Map[String, Long] =
      if (promoted.isEmpty) Map.empty
      else spark.read.parquet(inputPath)
        .filter(col("source").isin(promoted.map(x => x: Any): _*))
        .groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val (cleanable, kept) = promoted.partition { s =>
      promotionsOk(s) &&
        storeCounts.getOrElse(s, 0L) >=
          stagingCounts.getOrElse(s, Long.MaxValue)
    }

    if (!dryRun && cleanable.nonEmpty)
      TableIO.deletePartitions(spark, inputPath, "source", cleanable)

    // processing leftovers: Spark _temporary dirs from crashed writes,
    // orphaned _running.reclaim.* tombstones (acquireRunLock crash between
    // rename and delete), and STALE _running locks (the processed-sentinel
    // analog). The live lock of a running validation is NOT touched —
    // deleting it would re-admit a concurrent double-writer, the exact
    // thing the lock prevents; only locks older than `lockStaleMs` (same
    // default as Checkpoint.acquireRunLock's reclaim) are swept.
    val leftovers = scala.collection.mutable.ArrayBuffer.empty[String]
    validationOutDir.foreach { outDir =>
      val root = new org.apache.hadoop.fs.Path(outDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) {
        val now = System.currentTimeMillis()
        def sweep(p: org.apache.hadoop.fs.Path): Unit =
          fs.listStatus(p).foreach { st =>
            if (st.isDirectory) {
              // a YOUNG _temporary dir may be a LIVE run's in-flight
              // committer staging — deleting it would fail that run's
              // commit; only crash leftovers past the stale window go
              if (st.getPath.getName == "_temporary" &&
                  now - st.getModificationTime > lockStaleMs) {
                leftovers += st.getPath.toString
                if (!dryRun) fs.delete(st.getPath, true)
              } else if (st.getPath.getName != "_temporary") sweep(st.getPath)
            } else if (st.getPath.getName.contains(".reclaim.")) {
              // orphaned reclaim tombstones from ANY lock (whole-dir
              // `_running` or per-partition `_locks/*.lock`)
              leftovers += st.getPath.toString
              if (!dryRun) fs.delete(st.getPath, false)
            } else if (st.getPath.getName.endsWith(".lock") &&
                now - st.getModificationTime > lockStaleMs) {
              // stale per-partition locks (crashed partition-scoped runs);
              // live ones are younger than the stale window and stay
              leftovers += st.getPath.toString
              if (!dryRun) fs.delete(st.getPath, false)
            }
          }
        sweep(root)
        val lock = new org.apache.hadoop.fs.Path(s"$outDir/_running")
        if (fs.exists(lock) &&
            System.currentTimeMillis() -
              fs.getFileStatus(lock).getModificationTime > lockStaleMs) {
          leftovers += lock.toString
          if (!dryRun) fs.delete(lock, false)
        }
      }
    }

    Report(cleanable.sorted, kept.sorted, leftovers.toSeq.sorted)
  }

  /** Small-file COMPACTION for a hive-partitioned parquet table — the
    * maintenance pass that keeps scan parallelism healthy after many
    * append-delta generations have accumulated tiny files (the Iceberg
    * `rewrite_data_files` analog, expressed over plain parquet layout).
    *
    * A partition is rewritten when it holds more than `maxFiles` data
    * files AND rewriting would actually reduce the count; the rewrite
    * targets ceil(bytes / targetBytes) output files (≥ 1), sized so a
    * 100 TB table's scan tasks stay near `targetBytes` each. Rows are
    * untouched — only file layout changes. The new layout is written to a
    * `_compact_tmp` staging dir FIRST (underscore-prefixed: invisible to
    * readers), then swapped in with the checkpoint module's
    * rename-old-aside / rename-new-in / delete-old sequence, so a crash
    * leaves either the old or the new complete layout, never a mix.
    *
    * Lineage note: compaction changes the partition's file inventory, so
    * its snapshot id changes and the next append-delta run correctly
    * treats the partition as rewritten (full re-validation) — run
    * compaction BETWEEN validation cycles, not mid-stream.
    *
    * Returns (partitionDirName, filesBefore, filesAfter) for each
    * compacted partition; with `dryRun`, the same report and no writes. */
  def compactPartitions(
      spark: SparkSession,
      tablePath: String,
      partitionCol: String,
      maxFiles: Int,
      targetBytes: Long,
      dryRun: Boolean = false): Seq[(String, Int, Int)] = {
    require(maxFiles >= 1, "maxFiles must be >= 1")
    require(targetBytes >= 1L, "targetBytes must be >= 1")
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val prefix = partitionCol + "="
    def dataFiles(d: org.apache.hadoop.fs.Path) =
      fs.listStatus(d).toSeq.filter(_.isFile).filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
    val plans = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .sortBy(_.getName)
      .flatMap { dir =>
        val files = dataFiles(dir)
        if (files.size <= maxFiles) None
        else {
          val bytes = files.map(_.getLen).sum
          val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
          if (nOut >= files.size) None
          else Some((dir, files.size, nOut.toInt))
        }
      }
    if (!dryRun) plans.foreach { case (dir, _, nOut) =>
      val tmp = new org.apache.hadoop.fs.Path(
        s"$tablePath/_compact_tmp/${dir.getName}")
      val old = new org.apache.hadoop.fs.Path(
        s"$tablePath/_compact_old/${dir.getName}")
      fs.delete(tmp, true)
      // reading the partition DIR directly sidesteps Spark's (correct)
      // refusal to overwrite a path being read, and writes files without
      // the partition column — exactly the hive-layout file shape
      spark.read.parquet(dir.toString)
        .repartition(nOut)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(tmp.toString)
      fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
      fs.mkdirs(old.getParent)
      fs.delete(old, true)
      if (!fs.rename(dir, old))
        throw new java.io.IOException(s"compaction: cannot move $dir aside")
      if (!fs.rename(tmp, dir)) {
        fs.rename(old, dir) // restore — the old layout is still complete
        throw new java.io.IOException(s"compaction: cannot move $tmp in")
      }
      fs.delete(old, true)
    }
    if (!dryRun) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/_compact_tmp"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/_compact_old"), true)
    }
    plans.map { case (dir, before, after) => (dir.getName, before, after) }
  }

  /** CLUSTERED rewrite — [[compactPartitions]]'s sibling for SCAN
    * LOCALITY (the Iceberg `rewrite_data_files` with a sort order /
    * OPTIMIZE ... ZORDER-lite, over plain parquet layout). Each
    * partition's rows are range-repartitioned and sorted on `clusterCol`
    * before rewriting, so every output file covers a DISJOINT value
    * range: after the manifest recommit, [[graft.sources.ManifestTable
    * .prunedFiles]] answers a narrow range predicate with ~1 file
    * instead of all of them (ingestion order scatters every value range
    * across every file, making zone maps useless — min≈global-min,
    * max≈global-max in each file). At 100 TB this is the difference
    * between a range query scanning the table and scanning
    * range-fraction × table.
    *
    * Mechanics shared with compaction: per-partition independent rewrite
    * (restartable — a crash loses at most one partition's progress, and
    * each swap leaves the old or the new complete layout, never a mix),
    * ceil(bytes / targetBytes) output files, `_cluster_tmp` staging +
    * rename swap. `repartitionByRange` samples the partition to pick
    * balanced, disjoint bounds — no driver-side data, skewed cluster
    * keys get more files, not bigger ones.
    *
    * If the table is MANIFESTED, the touched partitions are re-committed
    * with zone maps on `statsCols` (default: `clusterCol`) — the rewrite
    * and the manifest contract stay in lockstep; an unmanifested table
    * just gets the clustered layout (parquet row-group stats still
    * benefit). Same lineage note as compaction: snapshot ids change, run
    * it between validation cycles. Returns (partitionDirName,
    * filesBefore, filesAfter). */
  def clusterPartitions(
      spark: SparkSession,
      tablePath: String,
      partitionCol: String,
      clusterCol: String,
      targetBytes: Long,
      statsCols: Seq[String] = Nil,
      dryRun: Boolean = false): Seq[(String, Int, Int)] = {
    require(targetBytes >= 1L, "targetBytes must be >= 1")
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val prefix = partitionCol + "="
    def dataFiles(d: org.apache.hadoop.fs.Path) =
      fs.listStatus(d).toSeq.filter(_.isFile).filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
    val plans = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .sortBy(_.getName)
      .flatMap { dir =>
        val files = dataFiles(dir)
        if (files.isEmpty) None
        else {
          val bytes = files.map(_.getLen).sum
          val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
          Some((dir, files.size, nOut.toInt))
        }
      }
    if (!dryRun) {
      plans.foreach { case (dir, _, nOut) =>
        val tmp = new org.apache.hadoop.fs.Path(
          s"$tablePath/_cluster_tmp/${dir.getName}")
        val old = new org.apache.hadoop.fs.Path(
          s"$tablePath/_cluster_old/${dir.getName}")
        fs.delete(tmp, true)
        spark.read.parquet(dir.toString)
          .repartitionByRange(nOut, org.apache.spark.sql.functions.col(clusterCol))
          .sortWithinPartitions(clusterCol)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(tmp.toString)
        fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
        fs.mkdirs(old.getParent)
        fs.delete(old, true)
        if (!fs.rename(dir, old))
          throw new java.io.IOException(s"clustering: cannot move $dir aside")
        if (!fs.rename(tmp, dir)) {
          fs.rename(old, dir) // restore — the old layout is still complete
          throw new java.io.IOException(s"clustering: cannot move $tmp in")
        }
        fs.delete(old, true)
      }
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/_cluster_tmp"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/_cluster_old"), true)
      if (plans.nonEmpty &&
          graft.sources.ManifestTable.exists(spark, tablePath)) {
        val touched = plans.map { case (dir, _, _) =>
          graft.sources.TableIO.unescapePathName(
            dir.getName.stripPrefix(prefix))
        }
        graft.sources.ManifestTable.commit(
          spark, tablePath, partitionCol, touched = Some(touched),
          statsCols = if (statsCols.isEmpty) Seq(clusterCol) else statsCols)
      }
    }
    plans.map { case (dir, before, after) => (dir.getName, before, after) }
  }
}
