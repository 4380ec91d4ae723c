package graft.sources

import graft.SparkSpec
import graft.gen.SequenceGen
import org.apache.spark.sql.functions._

class ManifestTableSpec extends SparkSpec {
  private def writeTable(dir: String, n: Int = 300): String = {
    val t = s"$dir/t"
    SequenceGen.sequences(spark, n).toDF()
      .write.partitionBy("source").parquet(t)
    t
  }

  test("full commit reproduces the listing inventory byte-identically") {
    val t = writeTable(tmpDir("man_full"))
    val gen = ManifestTable.commit(spark, t)
    assert(gen === 0L)
    val man = ManifestTable.partitionFiles(spark, t).get
    val listed = TableIO.partitionFiles(spark, t, "source").get
    assert(man.keySet === listed.keySet)
    for (p <- man.keySet) {
      assert(man(p).sorted === listed(p).sorted, s"partition $p")
      assert(TableIO.snapshotIdOfFiles(man(p)) ===
        TableIO.snapshotIdOfFiles(listed(p)))
    }
    assert(ManifestTable.verifyAgainstListing(spark, t).isEmpty)
  }

  test("incremental commit walks only touched partitions and carries " +
      "the rest over") {
    val t = writeTable(tmpDir("man_incr"))
    ManifestTable.commit(spark, t)
    val before = ManifestTable.partitionFiles(spark, t).get
    val victim = before.keySet.min
    // rewrite ONE partition's data (dynamic overwrite semantics)
    TableIO.deletePartitions(spark, t, "source", Seq(victim))
    SequenceGen.sequences(spark, 80).toDF()
      .filter(col("source") === victim)
      .withColumn("n_tok", col("n_tok") + lit(1))
      .write.mode("append").partitionBy("source").parquet(t)
    val gen = ManifestTable.commit(spark, t, "source", Some(Seq(victim)))
    assert(gen === 1L)
    val after = ManifestTable.partitionFiles(spark, t).get
    // untouched partitions: rows carried over unchanged
    for (p <- before.keySet - victim)
      assert(after(p).sorted === before(p).sorted, s"carried $p")
    // touched partition: agrees with a fresh listing
    assert(ManifestTable.verifyAgainstListing(spark, t).isEmpty)
    assert(after(victim).sorted !== before(victim).sorted)
    // superseded generation reclaimed — exactly one gen dir remains
    assert(ManifestTable.latestGen(spark, t) === Some(1L))
    val genDirs = new java.io.File(s"$t/_graft_manifest").listFiles()
      .filter(_.getName.startsWith("gen=")).map(_.getName).toSeq
    assert(genDirs === Seq("gen=1"))
  }

  test("readers ignore a crash-orphaned marker-less generation") {
    val t = writeTable(tmpDir("man_crash"))
    ManifestTable.commit(spark, t)
    val good = ManifestTable.partitionFiles(spark, t).get
    // simulate a commit that died mid-write: gen dir, files, no _SUCCESS
    val orphan = new java.io.File(s"$t/_graft_manifest/gen=7")
    orphan.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$orphan/part-garbage.parquet"), "junk")
    assert(ManifestTable.latestGen(spark, t) === Some(0L))
    assert(ManifestTable.partitionFiles(spark, t).get === good)
  }

  test("verifyAgainstListing flags a write that bypassed the manifest") {
    val t = writeTable(tmpDir("man_audit"))
    ManifestTable.commit(spark, t)
    val victim = ManifestTable.partitionFiles(spark, t).get.keySet.min
    // file dropped behind the manifest's back
    SequenceGen.sequences(spark, 40).toDF()
      .filter(col("source") === victim)
      .write.mode("append").partitionBy("source").parquet(t)
    val diff = ManifestTable.verifyAgainstListing(spark, t)
    assert(diff.keySet === Set(victim))
    val (manId, listId) = diff(victim)
    assert(manId.nonEmpty && listId.nonEmpty && manId != listId)
  }

  test("zone-map commit: pruned range read skips files yet matches the " +
      "full filtered scan exactly") {
    val dir = tmpDir("man_zone")
    val t = s"$dir/t"
    // range-cluster by n_tok inside each partition so files carry
    // disjoint zone maps worth pruning on
    SequenceGen.sequences(spark, 600).toDF()
      .repartitionByRange(6, col("n_tok"))
      .write.partitionBy("source").parquet(t)
    ManifestTable.commit(spark, t, statsCols = Seq("n_tok"))
    val man = ManifestTable.readFull(spark, t).get
    assert(man.columns.toSet.contains("min_n_tok"))
    assert(man.filter(col("row_count").isNull).count() === 0)
    // per-file row counts reconcile with the table
    assert(man.agg(sum(col("row_count"))).head().getLong(0) ===
      spark.read.parquet(t).count())
    val full = spark.read.parquet(t)
    // a band inside the lowest range bucket — n_tok's heavy tail means a
    // fraction-of-max band would span every bucket
    val lo = full.agg(min(col("n_tok"))).head().getInt(0).toLong
    val hi = lo + 30
    val allFiles = ManifestTable.partitionFiles(spark, t).get.values.flatten.size
    val kept = ManifestTable.prunedFiles(spark, t, "n_tok", lo, hi).get
    assert(kept.size < allFiles, s"pruning kept ${kept.size}/$allFiles")
    val pruned = ManifestTable.readPruned(spark, t, "n_tok", lo, hi).get
      .filter(col("n_tok").between(lo, hi))
    val exact = full.filter(col("n_tok").between(lo, hi))
    assert(pruned.count() === exact.count())
    assert(pruned.select("doc_id").except(exact.select("doc_id")).isEmpty)
    assert(exact.select("doc_id").except(pruned.select("doc_id")).isEmpty)
  }

  test("incremental commit carries untouched partitions' zone maps over") {
    val dir = tmpDir("man_zone_incr")
    val t = s"$dir/t"
    SequenceGen.sequences(spark, 400).toDF()
      .write.partitionBy("source").parquet(t)
    ManifestTable.commit(spark, t, statsCols = Seq("n_tok"))
    val before = ManifestTable.readFull(spark, t).get
      .select("partition", "path", "min_n_tok", "max_n_tok")
      .collect().map(r => r.getString(1) -> r).toMap
    val victim = ManifestTable.partitionFiles(spark, t).get.keySet.min
    TableIO.deletePartitions(spark, t, "source", Seq(victim))
    SequenceGen.sequences(spark, 60).toDF()
      .filter(col("source") === victim)
      .write.mode("append").partitionBy("source").parquet(t)
    ManifestTable.commit(spark, t, "source", Some(Seq(victim)),
      statsCols = Seq("n_tok"))
    val after = ManifestTable.readFull(spark, t).get.collect()
    for (r <- after if r.getAs[String]("partition") != victim) {
      val b = before(r.getAs[String]("path"))
      assert(r.getAs[Long]("min_n_tok") === b.getAs[Long]("min_n_tok"))
      assert(r.getAs[Long]("max_n_tok") === b.getAs[Long]("max_n_tok"))
    }
    assert(ManifestTable.verifyAgainstListing(spark, t).isEmpty)
  }

  test("commitAppend: keyed append applies once; a replayed key no-ops") {
    val dir = tmpDir("man_capp")
    val t = s"$dir/t"
    val b0 = SequenceGen.sequences(spark, 120).toDF()
    assert(ManifestTable.commitAppend(spark, t, b0, "batch-0"))
    val n0 = spark.read.parquet(t).count()
    assert(n0 === 120L)
    assert(ManifestTable.lastCommitKey(spark, t) === Some("batch-0"))
    assert(ManifestTable.verifyAgainstListing(spark, t).isEmpty)
    // replay of the committed batch: no-op, no double copy
    assert(!ManifestTable.commitAppend(spark, t, b0, "batch-0"))
    assert(spark.read.parquet(t).count() === n0)
    // the NEXT batch applies and the inventory stays consistent
    val b1 = SequenceGen.sequences(spark, 80, seed = 7L).toDF()
    assert(ManifestTable.commitAppend(spark, t, b1, "batch-1"))
    assert(spark.read.parquet(t).count() === n0 + 80L)
    assert(ManifestTable.lastCommitKey(spark, t) === Some("batch-1"))
    assert(ManifestTable.verifyAgainstListing(spark, t).isEmpty)
  }

  test("commitAppend: a replay sweeps the crashed attempt's debris " +
      "before re-writing") {
    val dir = tmpDir("man_debris")
    val t = s"$dir/t"
    ManifestTable.commitAppend(spark, t,
      SequenceGen.sequences(spark, 100).toDF(), "batch-0")
    val n0 = spark.read.parquet(t).count()
    val b1 = SequenceGen.sequences(spark, 60, seed = 9L).toDF()
    // simulate batch-1 crashing between its parquet append and its
    // manifest commit: the rows land but no generation records them
    b1.write.mode("append").partitionBy("source").parquet(t)
    assert(spark.read.parquet(t).count() === n0 + 60L)
    assert(ManifestTable.verifyAgainstListing(spark, t).nonEmpty)
    // the replayed attempt sweeps its own debris and lands ONE copy
    assert(ManifestTable.commitAppend(spark, t, b1, "batch-1"))
    assert(spark.read.parquet(t).count() === n0 + 60L)
    assert(ManifestTable.verifyAgainstListing(spark, t).isEmpty)
    // row-level: the table is exactly batch-0 ∪ batch-1, nothing else
    val expect = SequenceGen.sequences(spark, 100).toDF().unionByName(b1)
    val got = spark.read.parquet(t)
      .select(expect.columns.toIndexedSeq.map(col): _*)
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty)
  }

  test("metadata-only count and column range answer from the manifest " +
      "alone and refuse when any file lacks stats") {
    val dir = tmpDir("man_meta")
    val t = s"$dir/t"
    SequenceGen.sequences(spark, 300).toDF()
      .write.mode("overwrite").partitionBy("source").parquet(t)
    ManifestTable.commit(spark, t, statsCols = Seq("n_tok"))
    assert(ManifestTable.tableCount(spark, t) === Some(300L))
    val full = spark.read.parquet(t)
      .selectExpr("cast(min(n_tok) as long)", "cast(max(n_tok) as long)")
      .head()
    assert(ManifestTable.columnRange(spark, t, "n_tok")
      === Some((full.getLong(0), full.getLong(1))))
    // a column never zone-mapped: unavailable, not wrong
    assert(ManifestTable.columnRange(spark, t, "n_chars") === None)
    // a stats-less commit of ONE partition leaves unstatted files in the
    // inventory: both answers degrade to None rather than undercount
    val p = spark.read.parquet(t).select("source").distinct()
      .orderBy("source").head().getString(0)
    ManifestTable.commit(spark, t, touched = Some(Seq(p)))
    assert(ManifestTable.tableCount(spark, t) === None)
    assert(ManifestTable.columnRange(spark, t, "n_tok") === None)
  }

  test("validation's snapshot lineage is identical through the manifest " +
      "and the listing") {
    import graft.jobs.ValidationJob
    val dir = tmpDir("man_vjob")
    val t = writeTable(dir, 250)
    SequenceGen.manifest(spark, 250)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    val outA = s"$dir/outA"
    val outB = s"$dir/outB"
    val cfgA = ValidationJob.Config(t, manifestPath = s"$dir/manifest",
      outDir = outA, rules = graft.rules.Rules.rowOnly)
    val repA = ValidationJob.run(spark, cfgA) // listing path (no manifest)
    ManifestTable.commit(spark, t)
    val cfgB = cfgA.copy(outDir = outB)
    val repB = ValidationJob.run(spark, cfgB) // manifest path
    assert(repA.snapshotId === repB.snapshotId)
  }
}
