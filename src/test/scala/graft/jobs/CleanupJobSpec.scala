package graft.jobs

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.model.Sequence
import org.apache.spark.sql.functions._

/** E3 tail cleanup: staging partitions are dropped only when the store's
  * promotions log proves the current staging snapshot was promoted AND the
  * store holds the rows; blocked/stale staging stays; leftovers swept with
  * liveness guards. */
class CleanupJobSpec extends SparkSpec {
  import spark.implicits._

  private def writePromotion(storeDir: String, source: String,
      snapshotId: String): Unit =
    graft.sources.TableIO.writePartitioned(
      Seq(source).toDF("source")
        .withColumn("snapshot_id", lit(snapshotId))
        .withColumn("promoted_at", lit("2026-08-16T00:00:00Z")),
      TransferJob.promotionsPath(storeDir))

  test("cleanup drops only lineage-verified promoted partitions and " +
      "sweeps stale leftovers; dry-run touches nothing") {
    val dir = tmpDir("cleanup")
    SequenceGen.sequences(spark, 600)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    val parts = graft.sources.TableIO
      .partitionValues(spark, s"$dir/input", "source").get
    val promoted = parts.take(2)
    // per-partition lineage (r04): the promotion row must carry the
    // SOURCE's own partition snapshot id
    def partSnap(src: String) = graft.sources.TableIO
      .partitionSnapshotIds(spark, s"$dir/input", "source").get(src)

    // store holds ONLY the first promoted source's full rows, and the
    // promotions log records it against the CURRENT staging snapshot; the
    // second "promoted" source is missing from the store (failed move)
    spark.read.parquet(s"$dir/input")
      .filter(col("source") === promoted.head)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/store")
    writePromotion(s"$dir/store", promoted.head, partSnap(promoted.head))

    // leftovers under the validation outDir: a STALE _temporary dir, an
    // orphaned reclaim tombstone, and a STALE lock
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val past = System.currentTimeMillis() - CleanupJob.lockStaleMs - 60000L
    val tmpDirPath =
      new org.apache.hadoop.fs.Path(s"$dir/out/violations/_temporary")
    fs.mkdirs(tmpDirPath)
    fs.setTimes(tmpDirPath, past, past)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/out/_locks/mito.lock.reclaim.dead-uuid"), true).close()
    val lockPath = new org.apache.hadoop.fs.Path(s"$dir/out/_locks/mito.lock")
    fs.create(lockPath, true).close()
    fs.setTimes(lockPath, past, past)

    val dry = CleanupJob.run(spark, s"$dir/input", s"$dir/store", promoted,
      Some(s"$dir/out"), dryRun = true)
    assert(dry.cleaned === Seq(promoted.head))
    assert(dry.kept === promoted.tail.sorted)
    assert(dry.leftoversRemoved.size === 3)
    // dry run: everything still present
    assert(graft.sources.TableIO
      .partitionValues(spark, s"$dir/input", "source").get === parts)
    assert(fs.exists(lockPath))

    val r = CleanupJob.run(spark, s"$dir/input", s"$dir/store", promoted,
      Some(s"$dir/out"))
    assert(r.cleaned === Seq(promoted.head))
    val after = graft.sources.TableIO
      .partitionValues(spark, s"$dir/input", "source").get
    assert(after.toSet === parts.toSet - promoted.head)
    assert(!fs.exists(tmpDirPath))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/out/_locks/mito.lock.reclaim.dead-uuid")))
    assert(!fs.exists(lockPath))

    // LIVE (fresh) lock and FRESH _temporary are NEVER swept — they may
    // belong to a running validation
    fs.create(lockPath, true).close()
    fs.mkdirs(tmpDirPath)
    val r2 = CleanupJob.run(spark, s"$dir/input", s"$dir/store", Nil,
      Some(s"$dir/out"))
    assert(r2.leftoversRemoved.isEmpty)
    assert(fs.exists(lockPath) && fs.exists(tmpDirPath))
  }

  test("a stale store generation never authorizes deleting corrected " +
      "staging, even when store rows >= staging rows") {
    val dir = tmpDir("cleanup-stale")
    // original 6-row generation was promoted (store holds it)...
    val orig = (1 to 6).map(i =>
      Sequence(f"D$i%012d", Array(1, 2), 2, "mito"))
    orig.toDS().write.mode("overwrite").partitionBy("source")
      .parquet(s"$dir/store")
    // ...then staging was corrected to a SMALLER 4-row generation
    orig.take(4).toDS().write.mode("overwrite").partitionBy("source")
      .parquet(s"$dir/input")
    // the promotions log records the OLD snapshot, not the current one
    writePromotion(s"$dir/store", "mito", "stale-snapshot-id")

    val r = CleanupJob.run(spark, s"$dir/input", s"$dir/store", Seq("mito"))
    assert(r.cleaned.isEmpty)
    assert(r.kept === Seq("mito"))
    assert(graft.sources.TableIO
      .partitionValues(spark, s"$dir/input", "source").get === Seq("mito"))

    // re-promoting the corrected snapshot unblocks cleanup (store
    // rewritten first — a full overwrite wipes _promotions with it)
    orig.take(4).toDS().write.mode("overwrite").partitionBy("source")
      .parquet(s"$dir/store") // store now holds the corrected generation
    writePromotion(s"$dir/store",
      "mito", graft.sources.TableIO
        .partitionSnapshotIds(spark, s"$dir/input", "source").get("mito"))
    val r2 = CleanupJob.run(spark, s"$dir/input", s"$dir/store", Seq("mito"))
    assert(r2.cleaned === Seq("mito"))
  }

  test("cleanup before any transfer keeps everything (no store, no log)") {
    val dir = tmpDir("cleanup2")
    SequenceGen.sequences(spark, 200)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    val parts = graft.sources.TableIO
      .partitionValues(spark, s"$dir/input", "source").get
    val r = CleanupJob.run(spark, s"$dir/input", s"$dir/nonexistent-store",
      parts)
    assert(r.cleaned.isEmpty)
    assert(r.kept === parts)
    assert(graft.sources.TableIO
      .partitionValues(spark, s"$dir/input", "source").get === parts)
  }

  test("audit-log retention keeps the latest k generations per source " +
      "and drops the rest from both logs (VERDICT r03 #7)") {
    val dir = tmpDir("cleanup_prune")
    def writeInput(seed: Long): Unit = {
      SequenceGen.sequences(spark, 800, seed,
          SequenceGen.Knobs(badNtokRate = 0.05))
        .write.mode("overwrite").partitionBy("source")
        .parquet(s"$dir/input")
      SequenceGen.manifest(spark, 800, seed)
        .write.mode("overwrite").parquet(s"$dir/manifest")
    }
    val cfg = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out")
    // three full runs over three snapshots -> three run_id generations
    (1L to 3L).foreach { seed => writeInput(seed); ValidationJob.run(spark, cfg) }
    val logPath = ValidationJob.runLogPath(s"$dir/out")
    val vlogPath = ValidationJob.violationsLogPath(s"$dir/out")
    def runIds(p: String) = spark.read.parquet(p)
      .select("run_id").distinct().as[String].collect().toSet
    assert(runIds(logPath).size === 3)
    assert(runIds(vlogPath).size === 3)
    val byTime = spark.read.parquet(logPath)
      .select("run_id", "completed_at").distinct()
      .as[(String, String)].collect()
      .map { case (id, ts) =>
        (java.time.Instant.parse(ts).toEpochMilli, id) }
      .distinct.sorted(Ordering[(Long, String)].reverse).map(_._2)

    val dropped = CleanupJob.pruneRunLogs(spark, s"$dir/out", keepRuns = 2)
    assert(dropped === Seq(byTime.last))
    assert(runIds(logPath) === byTime.take(2).toSet)
    assert(runIds(vlogPath) === byTime.take(2).toSet)
    // idempotent: nothing more to drop at the same k
    assert(CleanupJob.pruneRunLogs(spark, s"$dir/out", keepRuns = 2).isEmpty)
  }

  test("per-source retention survives submission-scoped runs: the only " +
      "generation covering a source is kept even when globally old") {
    val dir = tmpDir("cleanup_prune_scoped")
    def writeInput(seed: Long): Unit = {
      SequenceGen.sequences(spark, 800, seed,
          SequenceGen.Knobs(badNtokRate = 0.05))
        .write.mode("overwrite").partitionBy("source")
        .parquet(s"$dir/input")
      SequenceGen.manifest(spark, 800, seed)
        .write.mode("overwrite").parquet(s"$dir/manifest")
    }
    def cfg(scope: Seq[String]) = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out",
      partitions = Some(scope))
    // oldest run is the ONLY one covering cardiac; mito gets two runs
    writeInput(1L)
    ValidationJob.run(spark, cfg(Seq("cardiac")))
    ValidationJob.run(spark, cfg(Seq("mito")))
    writeInput(2L) // new snapshot -> mito re-validates under a new run_id
    ValidationJob.run(spark, cfg(Seq("mito")))

    val logPath = ValidationJob.runLogPath(s"$dir/out")
    assert(spark.read.parquet(logPath)
      .select("run_id").distinct().count() === 3)
    val dropped = CleanupJob.pruneRunLogs(spark, s"$dir/out", keepRuns = 1)
    assert(dropped.size === 1)
    val left = spark.read.parquet(logPath)
    // cardiac's lone (oldest) generation survived; mito kept only latest
    assert(left.filter($"source" === "cardiac").count() > 0)
    assert(left.filter($"source" === "mito")
      .select("run_id").distinct().count() === 1)
  }

  test("small-file compaction rewrites only oversized partitions, " +
    "preserves rows, and dry-run touches nothing") {
    val dir = tmpDir("compact")
    // srcA: 8 tiny files; srcB: 1 file (healthy, must be untouched)
    (1 to 80).map(i => ("srcA", i.toLong, s"payload_$i"))
      .toDF("source", "id", "body")
      .repartition(8)
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    (1 to 10).map(i => ("srcB", i.toLong, s"b_$i"))
      .toDF("source", "id", "body")
      .coalesce(1)
      .write.mode("append").partitionBy("source").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles(part: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$part")).toSeq
        .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
    val bFilesBefore = nFiles("source=srcB")
    val before = spark.read.parquet(dir)
      .orderBy("source", "id").collect().toSeq

    // dry run: report only, layout unchanged
    val planned = CleanupJob.compactPartitions(
      spark, dir, "source", maxFiles = 4, targetBytes = 1L << 30,
      dryRun = true)
    assert(planned.map(_._1) === Seq("source=srcA"))
    assert(nFiles("source=srcA") === 8)

    val done = CleanupJob.compactPartitions(
      spark, dir, "source", maxFiles = 4, targetBytes = 1L << 30)
    assert(done === Seq(("source=srcA", 8, 1)))
    assert(nFiles("source=srcA") === 1)
    assert(nFiles("source=srcB") === bFilesBefore)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_compact_tmp")))
    val after = spark.read.parquet(dir)
      .orderBy("source", "id").collect().toSeq
    assert(after === before)

    // already-compacted table: idempotent no-op
    assert(CleanupJob.compactPartitions(
      spark, dir, "source", maxFiles = 4, targetBytes = 1L << 30).isEmpty)
  }

  test("clustered rewrite sorts partitions on the cluster column, " +
      "preserves rows, and makes manifest zone maps prune") {
    import graft.sources.ManifestTable
    val dir = tmpDir("cluster")
    // ingestion order: round-robin scatter, so every file spans nearly
    // the full n_tok range and zone maps can prune nothing
    SequenceGen.sequences(spark, 2000).toDF()
      .repartition(6)
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    ManifestTable.commit(spark, dir, statsCols = Seq("n_tok"))
    val before = spark.read.parquet(dir)
      .orderBy("source", "doc_id").collect().toSeq
    val allFiles = ManifestTable.read(spark, dir).get.count()
    val med = spark.read.parquet(dir)
      .selectExpr("percentile_approx(n_tok, 0.5)").head().getInt(0).toLong
    val prunedBefore =
      ManifestTable.prunedFiles(spark, dir, "n_tok", med, med).get.size
    assert(prunedBefore.toLong === allFiles) // scatter defeats zone maps

    // dry run: report only, nothing moves
    val planned = CleanupJob.clusterPartitions(
      spark, dir, "source", "n_tok", targetBytes = 16L << 10, dryRun = true)
    assert(planned.nonEmpty)
    assert(ManifestTable.prunedFiles(spark, dir, "n_tok", med, med)
      .get.size === prunedBefore)

    val done = CleanupJob.clusterPartitions(
      spark, dir, "source", "n_tok", targetBytes = 16L << 10)
    assert(done.map(_._1) === planned.map(_._1))
    // rows are untouched, the manifest was re-committed in lockstep
    val after = spark.read.parquet(dir)
      .orderBy("source", "doc_id").collect().toSeq
    assert(after === before)
    assert(ManifestTable.verifyAgainstListing(spark, dir).isEmpty)
    // disjoint per-file ranges: the point query now touches ~1 file per
    // partition instead of every file
    val afterAll = ManifestTable.read(spark, dir).get.count()
    val prunedAfter =
      ManifestTable.prunedFiles(spark, dir, "n_tok", med, med).get.size
    assert(prunedAfter.toLong < afterAll)
    assert(prunedAfter <= done.size) // <= 1 overlapping file per partition
    // pruned read + row filter ≡ full scan + row filter
    val viaPruned = ManifestTable.readPruned(spark, dir, "n_tok", med, med)
      .get.filter(col("n_tok") === med).count()
    val viaFull = spark.read.parquet(dir)
      .filter(col("n_tok") === med).count()
    assert(viaPruned === viaFull && viaFull > 0L)
  }
}
