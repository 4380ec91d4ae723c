package graft.jobs

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import graft.model._
import graft.drift.Drift

/** The SURVEY.md §7.2 milestone slice: scan → rule eval → violation sink →
  * verdict roll-up → checkpoint, plus resume semantics. */
class ValidationJobSpec extends SparkSpec {
  import spark.implicits._

  private val N = 1500L

  private def writeInput(dir: String, knobs: Knobs = Knobs.clean): Unit = {
    SequenceGen.sequences(spark, N, knobs = knobs)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, N)
      .write.mode("overwrite").parquet(s"$dir/manifest")
  }

  test("end-to-end: violations + verdicts + checkpoint; resume skips all") {
    val dir = tmpDir("vjob")
    writeInput(dir, Knobs(badNtokRate = 0.04))
    val cfg = ValidationJob.Config(
      inputPath = s"$dir/input",
      manifestPath = s"$dir/manifest",
      outDir = s"$dir/out")

    val r1 = ValidationJob.run(spark, cfg)
    assert(r1.validatedPartitions.nonEmpty)
    assert(r1.skippedPartitions.isEmpty)
    assert(r1.rowsValidated === N)
    assert(r1.violations > 0)

    val vio = spark.read.parquet(ValidationJob.violationsPath(cfg.outDir))
    val expectedBad = spark.read.parquet(s"$dir/input").as[Sequence]
      .collect().count(s => s.n_tok != s.tokens.length)
    assert(vio.filter($"rule_id" === "R_CONSISTENT_NTOK").count() === expectedBad)

    val ver = spark.read.parquet(ValidationJob.verdictsPath(cfg.outDir))
    assert(ver.filter($"rule_id" === "R_CONSISTENT_NTOK" &&
      $"status" === Status.Fail).count() > 0)

    val vioSnapshot = vio.orderBy("source", "rule_id", "doc_id").collect()

    // Second run: same snapshot + ruleset -> all partitions skipped,
    // outputs untouched (byte-identical resume semantics).
    val r2 = ValidationJob.run(spark, cfg)
    assert(r2.validatedPartitions.isEmpty)
    assert(r2.skippedPartitions.toSet === r1.validatedPartitions.toSet)
    val vio2 = spark.read.parquet(ValidationJob.violationsPath(cfg.outDir))
      .orderBy("source", "rule_id", "doc_id").collect()
    assert(vio2.sameElements(vioSnapshot))
  }

  test("storage row-count rule: manifested clean table passes, a file " +
      "dropped behind the manifest fails exactly its partition, and an " +
      "unmanifested table rolls up NOT_COMPLETED") {
    import graft.sources.ManifestTable
    import graft.rules.Rules
    val dir = tmpDir("vjob_sc")
    writeInput(dir)
    val rules = Rules.withStorageCount()
    ManifestTable.commit(spark, s"$dir/input", statsCols = Seq("n_tok"))
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest",
      s"$dir/out", rules = rules)
    ValidationJob.run(spark, cfg)
    val ver = spark.read.parquet(ValidationJob.verdictsPath(cfg.outDir))
    assert(ver.filter($"rule_id" === Rules.RStorageCount).count() > 0)
    assert(ver.filter($"rule_id" === Rules.RStorageCount &&
      $"status" =!= Status.Pass).count() === 0)

    // a bypassing writer drops an extra file into ONE partition: the scan
    // sees more rows than the manifest's metadata count. NOTE the write is
    // also invisible to the manifest-first snapshot lineage (as in
    // Iceberg), so the check fires whenever the partition next validates —
    // here, a fresh run over a new outDir.
    val extra = SequenceGen.sequences(spark, 25, seed = 11L)
      .filter($"source" === "mito").drop("source")
    assert(extra.count() > 0)
    extra.write.mode("append").parquet(s"$dir/input/source=mito")
    val cfgB = cfg.copy(outDir = s"$dir/out2")
    ValidationJob.run(spark, cfgB)
    val vio = spark.read.parquet(ValidationJob.violationsPath(cfgB.outDir))
      .filter($"rule_id" === Rules.RStorageCount)
    assert(vio.select("source").as[String].collect().toSeq === Seq("mito"))
    val ver2 = spark.read.parquet(ValidationJob.verdictsPath(cfgB.outDir))
    assert(ver2.filter($"rule_id" === Rules.RStorageCount &&
      $"source" === "mito" && $"status" === Status.Fail).count() === 1)

    // unmanifested table: the rule cannot run -> NOT_COMPLETED, no block
    val dir2 = tmpDir("vjob_sc2")
    writeInput(dir2)
    val cfg2 = ValidationJob.Config(s"$dir2/input", s"$dir2/manifest",
      s"$dir2/out", rules = rules)
    val r2 = ValidationJob.run(spark, cfg2)
    val ver3 = spark.read.parquet(ValidationJob.verdictsPath(cfg2.outDir))
    assert(ver3.filter($"rule_id" === Rules.RStorageCount &&
      $"status" === Status.NotCompleted).count() ===
      r2.validatedPartitions.size.toLong)
  }

  test("changing the rule set invalidates the checkpoint") {
    val dir = tmpDir("vjob2")
    writeInput(dir)
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest", s"$dir/out")
    val r1 = ValidationJob.run(spark, cfg)
    assert(r1.validatedPartitions.nonEmpty)

    val fewer = ValidationJob.Config(s"$dir/input", s"$dir/manifest",
      s"$dir/out", rules = graft.rules.Rules.rowOnly)
    val r2 = ValidationJob.run(spark, fewer)
    assert(r2.validatedPartitions.nonEmpty) // re-validated under new hash
  }

  test("drift rules fire only on the drifted partition") {
    val dir = tmpDir("vjob3")
    // Baseline from clean data; current has one shifted source.
    val clean = SequenceGen.sequences(spark, N)
    Drift.histograms(clean.toDF(), SequenceGen.vocabSize, "base1")
      .write.mode("overwrite").parquet(s"$dir/baseline")
    val drifted = SequenceGen.sequences(spark, N,
      knobs = Knobs(driftShiftSources = Seq("mito"), driftShift = 300))
    drifted.write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, N)
      .write.mode("overwrite").parquet(s"$dir/manifest")

    val cfg = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out",
      baselinePath = Some(s"$dir/baseline"))
    ValidationJob.run(spark, cfg)

    val driftVios = spark.read
      .parquet(ValidationJob.violationsPath(cfg.outDir))
      .filter($"rule_id".startsWith("R_DRIFT"))
      .select("source").distinct().as[String].collect().toSet
    assert(driftVios === Set("mito"), s"got $driftVios")
  }

  test("re-validation of a now-clean source clears its stale violations " +
      "and flips the verdict to PASS (no dynamic-overwrite leftovers)") {
    val dir = tmpDir("vjob5")
    writeInput(dir, Knobs(badNtokRate = 0.05))
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest", s"$dir/out")
    ValidationJob.run(spark, cfg)
    val vio1 = spark.read.parquet(ValidationJob.violationsPath(cfg.outDir))
      .filter($"rule_id" === "R_CONSISTENT_NTOK")
    assert(vio1.count() > 0)

    // fix the data: same layout, clean rows -> new snapshot, full re-run
    writeInput(dir, Knobs.clean)
    val r2 = ValidationJob.run(spark, cfg)
    assert(r2.validatedPartitions.nonEmpty)
    // explicit schema: a fully-clean run leaves ZERO violation files
    val vio2 = spark.read
      .schema(org.apache.spark.sql.Encoders.product[Violation].schema)
      .parquet(ValidationJob.violationsPath(cfg.outDir))
    assert(vio2.count() === 0,
      s"stale violations survived: ${vio2.collect().mkString(", ")}")
    val ver = spark.read.parquet(ValidationJob.verdictsPath(cfg.outDir))
      .filter($"rule_id" === "R_CONSISTENT_NTOK").as[Verdict].collect()
    assert(ver.nonEmpty && ver.forall(_.status == Status.Pass))
  }

  test("run log accumulates one verdict generation per run (K2 archive)") {
    val dir = tmpDir("vjob6")
    writeInput(dir)
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest", s"$dir/out")
    ValidationJob.run(spark, cfg)
    // different rule set -> different lineage -> second generation
    val cfg2 = cfg.copy(rules = graft.rules.Rules.rowOnly)
    ValidationJob.run(spark, cfg2)

    val log = spark.read.parquet(ValidationJob.runLogPath(cfg.outDir))
      .as[RunLogRecord].collect()
    val gens = log.map(r => (r.run_id, r.ruleset_hash)).distinct
    assert(gens.length === 2, s"expected 2 generations, got ${gens.toSeq}")
    // both generations fully preserved (append-only, never overwritten)
    val perGen = log.groupBy(_.ruleset_hash).view.mapValues(_.length).toMap
    assert(perGen.values.forall(_ > 0) && perGen.size === 2)
  }

  test("violations audit log preserves every generation while the main " +
      "table holds only the current one (K2 complete; VERDICT r02 #5)") {
    val dir = tmpDir("vjob8")
    writeInput(dir, Knobs(badNtokRate = 0.05))
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest", s"$dir/out")
    ValidationJob.run(spark, cfg)
    val gen1 = spark.read
      .parquet(ValidationJob.violationsLogPath(cfg.outDir))
    val n1 = gen1.filter($"rule_id" === "R_CONSISTENT_NTOK").count()
    assert(n1 > 0)

    // the data is fixed: the main violations table is wiped by the re-run,
    // but the audit log must still hold run 1's evidence
    writeInput(dir, Knobs.clean)
    ValidationJob.run(spark, cfg)
    val main = spark.read
      .schema(org.apache.spark.sql.Encoders.product[Violation].schema)
      .parquet(ValidationJob.violationsPath(cfg.outDir))
    assert(main.count() === 0)

    val log = spark.read
      .parquet(ValidationJob.violationsLogPath(cfg.outDir))
    assert(log.filter($"rule_id" === "R_CONSISTENT_NTOK").count() === n1)
    assert(log.select("run_id").distinct().count() >= 1)
    // the log rows carry full lineage keys
    assert(log.columns.toSet.intersect(
      Set("run_id", "snapshot_id", "ruleset_hash", "completed_at")).size === 4)
  }

  test("cross-snapshot token-equality rule end-to-end: a doc present in " +
      "the reference snapshot but missing now is a per-row violation") {
    val dir = tmpDir("vjob7")
    writeInput(dir)
    // reference snapshot = current input + one doc the current LACKS
    spark.read.parquet(s"$dir/input").as[Sequence]
      .union(Seq(Sequence("D000000777777", Array(1, 2), 2, "cardiac")).toDS())
      .write.mode("overwrite").parquet(s"$dir/refsnap")
    val cfg = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out",
      refSnapshotPath = Some(s"$dir/refsnap"),
      rules = graft.rules.Rules.withSnapshotEquality)
    val r = ValidationJob.run(spark, cfg)
    assert(r.violations > 0)
    val vios = spark.read.parquet(ValidationJob.violationsPath(cfg.outDir))
      .filter($"rule_id" === graft.rules.Rules.RSnapshotEquality)
      .as[Violation].collect()
    assert(vios.map(_.doc_id).toSet === Set("D000000777777"))
    assert(vios.head.observed.contains("missing_in_new"))
    assert(vios.head.source === "cardiac")
    val ver = spark.read.parquet(ValidationJob.verdictsPath(cfg.outDir))
      .filter($"rule_id" === graft.rules.Rules.RSnapshotEquality)
      .as[Verdict].collect()
    assert(ver.find(_.source == "cardiac").get.status === Status.Fail)
    assert(ver.filter(_.source != "cardiac")
      .forall(_.status === Status.Pass))
  }

  test("incremental input: only new partitions are validated on resume") {
    val dir = tmpDir("vjob4")
    writeInput(dir)
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest", s"$dir/out")
    val r1 = ValidationJob.run(spark, cfg)

    // new partition arrives (simulates a new submission prefix)
    Seq(Sequence("D999999999999", Array(1, 2, 3), 3, "newsrc"))
      .toDS().write.mode("append").partitionBy("source").parquet(s"$dir/input")
    val r2 = ValidationJob.run(spark, cfg)
    // PER-PARTITION lineage (r04): exactly the new partition validates;
    // every untouched partition keeps its checkpoint
    assert(r2.validatedPartitions === Seq("newsrc"), r2.toString)
    assert(r2.skippedPartitions.toSet === r1.validatedPartitions.toSet)
    val ver = spark.read.parquet(ValidationJob.verdictsPath(cfg.outDir))
    assert(ver.filter($"source" === "newsrc").count() > 0)
    assert(r1.validatedPartitions.nonEmpty)

    // a re-UPLOADED partition (same name, new files) re-validates exactly
    // itself
    spark.read.parquet(s"$dir/input").as[Sequence]
      .filter($"source" === "cardiac")
      .write.mode("overwrite").parquet(s"$dir/tmp_cardiac")
    graft.sources.TableIO.deletePartitions(
      spark, s"$dir/input", "source", Seq("cardiac"))
    spark.read.parquet(s"$dir/tmp_cardiac").as[Sequence]
      .repartition(2) // different file layout -> different partition id
      .write.mode("append").partitionBy("source").parquet(s"$dir/input")
    val r3 = ValidationJob.run(spark, cfg)
    assert(r3.validatedPartitions === Seq("cardiac"), r3.toString)
  }

  test("cross-run uniqueness: a new partition duplicating history keys " +
      "fails R_CROSS_RUN_UNIQUE with exact evidence; all-new keys pass") {
    val dir = tmpDir("vjob_xrun")
    writeInput(dir)
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest",
      s"$dir/out")
    val r1 = ValidationJob.run(spark, cfg)
    assert(r1.validatedPartitions.nonEmpty)
    // fresh full run: no history -> vacuous PASS, never NOT_COMPLETED
    val ver1 = spark.read.parquet(ValidationJob.verdictsPath(cfg.outDir))
    assert(ver1.filter($"rule_id" === "R_CROSS_RUN_UNIQUE" &&
      $"status" =!= Status.Pass).count() === 0)

    // two ids that exist in history (from two different sources), one new
    val hist = spark.read.parquet(s"$dir/input").as[Sequence].collect()
    val dupA = hist.head
    val dupB = hist.find(_.source != dupA.source).get
    Seq(
      Sequence(dupA.doc_id, Array(1, 2), 2, "newsrc"),
      Sequence(dupB.doc_id, Array(3), 1, "newsrc"),
      Sequence("D999999999998", Array(4), 1, "newsrc"))
      .toDS().write.mode("append").partitionBy("source").parquet(s"$dir/input")

    val r2 = ValidationJob.run(spark, cfg)
    assert(r2.validatedPartitions === Seq("newsrc"), r2.toString)

    val xv = spark.read.parquet(ValidationJob.violationsPath(cfg.outDir))
      .filter($"rule_id" === "R_CROSS_RUN_UNIQUE")
    val rows = xv.select("doc_id", "source", "observed").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // EXACTLY the two history duplicates, attributed to the new source,
    // with the prior partition named in the evidence — no false positives
    // from the sketch (the confirm join is exact)
    assert(rows.map(_._1).sorted.toSeq ===
      Seq(dupA.doc_id, dupB.doc_id).sorted)
    assert(rows.forall(_._2 === "newsrc"))
    assert(rows.find(_._1 == dupA.doc_id).get._3.contains(dupA.source))
    val ver2 = spark.read.parquet(ValidationJob.verdictsPath(cfg.outDir))
    assert(ver2.filter($"source" === "newsrc" &&
      $"rule_id" === "R_CROSS_RUN_UNIQUE" &&
      $"status" === Status.Fail).count() === 1)

    // a second new partition with ALL-new keys: cross-run check passes
    // (and history now includes newsrc via its own sketch)
    Seq(Sequence("D999999999997", Array(5), 1, "newsrc2"))
      .toDS().write.mode("append").partitionBy("source").parquet(s"$dir/input")
    val r3 = ValidationJob.run(spark, cfg)
    assert(r3.validatedPartitions === Seq("newsrc2"), r3.toString)
    val ver3 = spark.read.parquet(ValidationJob.verdictsPath(cfg.outDir))
    assert(ver3.filter($"source" === "newsrc2" &&
      $"rule_id" === "R_CROSS_RUN_UNIQUE" &&
      $"status" === Status.Pass).count() === 1)

    // and a key duplicating the FIRST new partition's key now fires
    // against newsrc (sketch accumulated across runs)
    Seq(Sequence("D999999999998", Array(6), 1, "newsrc3"))
      .toDS().write.mode("append").partitionBy("source").parquet(s"$dir/input")
    val r4 = ValidationJob.run(spark, cfg)
    assert(r4.validatedPartitions === Seq("newsrc3"), r4.toString)
    val xv4 = spark.read.parquet(ValidationJob.violationsPath(cfg.outDir))
      .filter($"rule_id" === "R_CROSS_RUN_UNIQUE" &&
        $"source" === "newsrc3")
    assert(xv4.count() === 1)
    assert(xv4.head().getAs[String]("observed").contains("newsrc"))
  }

  test("checkpoint compaction folds per-run generations into one base " +
      "segment; resume and later appends are unaffected") {
    import graft.checkpoint.Checkpoint
    val dir = tmpDir("vjob_compact")
    writeInput(dir)
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest",
      s"$dir/out")
    ValidationJob.run(spark, cfg)
    // two incremental runs -> three run_seg generations
    for (i <- 1 to 2) {
      Seq(Sequence(s"D99999999999$i", Array(i), 1, s"inc$i"))
        .toDS().write.mode("append").partitionBy("source")
        .parquet(s"$dir/input")
      ValidationJob.run(spark, cfg)
    }
    val cpPath = ValidationJob.checkpointPath(cfg.outDir)
    def segs() = new java.io.File(cpPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("run_seg="))
      .map(_.getName).sorted.toSeq
    assert(segs().size === 3)
    val before = Checkpoint.read(spark, cpPath)
      .collect().sortBy(e => (e.partition, e.snapshot_id)).toSeq

    // dry run reports the would-fold count without touching anything
    assert(Checkpoint.compact(spark, cpPath, dryRun = true) === 3)
    assert(segs().size === 3)

    assert(Checkpoint.compact(spark, cpPath) === 3)
    assert(segs().size === 1)
    assert(segs().head.startsWith("run_seg=base-"))
    val after = Checkpoint.read(spark, cpPath)
      .collect().sortBy(e => (e.partition, e.snapshot_id)).toSeq
    assert(after === before)

    // resume still skips everything, and the NEXT run appends cleanly
    val r = ValidationJob.run(spark, cfg)
    assert(r.validatedPartitions.isEmpty)
    assert(Checkpoint.compact(spark, cpPath) === 0) // single seg: no-op
    Seq(Sequence("D999999999909", Array(9), 1, "inc3"))
      .toDS().write.mode("append").partitionBy("source")
      .parquet(s"$dir/input")
    val r2 = ValidationJob.run(spark, cfg)
    assert(r2.validatedPartitions === Seq("inc3"))
    assert(segs().size === 2) // base + the new run's own segment
  }

  test("per-partition locks: disjoint submission scopes proceed, " +
      "overlapping scopes are refused (VERDICT r03 #4)") {
    import graft.checkpoint.Checkpoint
    val dir = tmpDir("vjob_locks")
    writeInput(dir, Knobs(badNtokRate = 0.04))
    val allSources = spark.read.parquet(s"$dir/input")
      .select("source").distinct().as[String].collect().toSeq.sorted
    assert(allSources.size >= 4)
    val (setA, setB) = allSources.splitAt(allSources.size / 2)
    def cfgFor(ps: Seq[String]) = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out",
      partitions = Some(ps))

    // an in-flight run holds setA's locks...
    assert(Checkpoint.acquirePartitionLocks(spark, s"$dir/out", setA))
    // ...an overlapping scope is refused (and must not hold partial locks)
    intercept[IllegalArgumentException] {
      ValidationJob.run(spark, cfgFor(Seq(setA.head, setB.head)))
    }
    // ...while a disjoint scope validates to completion
    val rB = ValidationJob.run(spark, cfgFor(setB))
    assert(rB.validatedPartitions.toSet === setB.toSet)
    Checkpoint.releasePartitionLocks(spark, s"$dir/out", setA)

    // the refused run left no lock behind: setA's scope now runs fully
    // (its own locks acquire + release cleanly)
    val rA = ValidationJob.run(spark, cfgFor(setA))
    assert(rA.validatedPartitions.toSet === setA.toSet)

    // scoped outputs: each run wrote only inside its scope, and together
    // they checkpointed the whole table — the final unrestricted run
    // skips everything
    val ver = spark.read.parquet(ValidationJob.verdictsPath(s"$dir/out"))
      .select("source").distinct().as[String].collect().toSet
    assert(ver === allSources.toSet)
    val rAll = ValidationJob.run(spark,
      ValidationJob.Config(s"$dir/input", s"$dir/manifest", s"$dir/out"))
    assert(rAll.validatedPartitions.isEmpty)
    assert(rAll.skippedPartitions.toSet === allSources.toSet)
  }

  test("two CONCURRENT disjoint-scope runs both complete with disjoint " +
      "run lineage (submission-prefix concurrency, folder_lock analog)") {
    val dir = tmpDir("vjob_conc")
    writeInput(dir, Knobs(badNtokRate = 0.04))
    val allSources = spark.read.parquet(s"$dir/input")
      .select("source").distinct().as[String].collect().toSeq.sorted
    val (setA, setB) = allSources.splitAt(allSources.size / 2)
    def cfgFor(ps: Seq[String]) = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out",
      partitions = Some(ps))

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fA = Future(ValidationJob.run(spark, cfgFor(setA)))
    val fB = Future(ValidationJob.run(spark, cfgFor(setB)))
    val rA = Await.result(fA, Duration.Inf)
    val rB = Await.result(fB, Duration.Inf)
    assert(rA.validatedPartitions.toSet === setA.toSet)
    assert(rB.validatedPartitions.toSet === setB.toSet)

    // neither run clobbered the other: every source has its verdicts and
    // the checkpoint covers the whole table under two distinct segments
    val ver = spark.read.parquet(ValidationJob.verdictsPath(s"$dir/out"))
      .select("source").distinct().as[String].collect().toSet
    assert(ver === allSources.toSet)
    val cp = spark.read
      .parquet(ValidationJob.checkpointPath(s"$dir/out"))
    assert(cp.select("partition").distinct().as[String].collect().toSet
      === allSources.toSet)
    assert(cp.select("run_seg").distinct().count() === 2)
    val vioLog = spark.read
      .parquet(ValidationJob.violationsLogPath(s"$dir/out"))
    assert(vioLog.select("run_id").distinct().count() === 2)
  }

  private val Phases = Seq("snapshot", "classify", "plan", "scan", "finish",
    "cross_run", "write", "checkpoint")

  test("phaseMs names a full run's eight phases in order (also in every " +
      "checkpoint entry, summing to at most wall_ms); a resume run " +
      "reports only snapshot and classify") {
    val dir = tmpDir("vjob_phases")
    writeInput(dir, Knobs(badNtokRate = 0.04))
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest", s"$dir/out")
    val r1 = ValidationJob.run(spark, cfg)
    assert(r1.phaseMs.map(_._1) === Phases)
    assert(r1.phaseMs.forall(_._2 >= 0))

    val PhaseMs = """"phase_ms":\{([^}]*)\}""".r.unanchored
    val WallMs = """"wall_ms":(\d+)""".r.unanchored
    val Entry = """"([a-z_]+)":(\d+)""".r
    val metrics = spark.read.parquet(ValidationJob.checkpointPath(cfg.outDir))
      .select("metrics").as[String].collect()
    assert(metrics.length === r1.validatedPartitions.size)
    metrics.foreach { m =>
      val PhaseMs(body) = m: @unchecked
      val WallMs(wall) = m: @unchecked
      val entries = Entry.findAllMatchIn(body)
        .map(e => e.group(1) -> e.group(2).toLong).toSeq
      assert(entries.map(_._1) === Phases, m)
      assert(entries.map(_._2).sum <= wall.toLong, m)
    }

    val r2 = ValidationJob.run(spark, cfg)
    assert(r2.validatedPartitions.isEmpty)
    assert(r2.phaseMs.map(_._1) === Seq("snapshot", "classify"))
  }

  test("a run that fails after persisting its violations releases them " +
      "(and its locks)") {
    val dir = tmpDir("vjob_fail")
    writeInput(dir, Knobs(badNtokRate = 0.04))
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest", s"$dir/out")
    // a regular file where the verdicts table goes: the verdict write
    // throws after the scan violations are persisted
    val verdicts = new java.io.File(ValidationJob.verdictsPath(cfg.outDir))
    verdicts.getParentFile.mkdirs()
    java.nio.file.Files.write(verdicts.toPath, "not a table".getBytes)
    def cached = org.apache.spark.sql.execution.CachedPlans.count(spark)
    val before = cached
    intercept[Exception](ValidationJob.run(spark, cfg))
    assert(cached === before)

    // the failed run left no lock behind: once the path is clear, the
    // same run validates everything
    verdicts.delete()
    val r = ValidationJob.run(spark, cfg)
    assert(r.rowsValidated === N)
    assert(cached === before)
  }

  test("xrun metrics: a planted cross-run duplicate run reports its " +
      "candidates, confirmed duplicates and the shards it probed, in the " +
      "report and in every checkpoint entry") {
    val dir = tmpDir("vjob_xrun_metrics")
    writeInput(dir)
    val cfg = ValidationJob.Config(s"$dir/input", s"$dir/manifest",
      s"$dir/out")
    // no history: nothing probed, no sketch read
    assert(ValidationJob.run(spark, cfg).xrun === ValidationJob.CrossRunStats())

    val hist = spark.read.parquet(s"$dir/input").as[Sequence].collect()
    val dupA = hist.head
    val dupB = hist.find(_.source != dupA.source).get
    Seq(
      Sequence(dupA.doc_id, Array(1, 2), 2, "newsrc"),
      Sequence(dupB.doc_id, Array(3), 1, "newsrc"),
      Sequence("D999999999998", Array(4), 1, "newsrc"))
      .toDS().write.mode("append").partitionBy("source").parquet(s"$dir/input")
    val r2 = ValidationJob.run(spark, cfg)
    // eight one-shard history partitions of 117,800 bytes each (65,536
    // keys at fpp 0.001); each planted key fires in its own partition only
    assert(r2.xrun === ValidationJob.CrossRunStats(candidates = 2,
      confirmed = 2, shardRows = 8, sketchKib = 8 * 117800 / 1024))
    assert(r2.xrun.json ===
      """{"candidates":2,"confirmed":2,"shard_rows":8,"sketch_kib":920}""")
    val metrics = graft.checkpoint.Checkpoint
      .read(spark, ValidationJob.checkpointPath(cfg.outDir))
      .filter($"partition" === "newsrc").select("metrics").as[String].collect()
    assert(metrics.length === 1)
    assert(metrics.head.endsWith(s""","xrun":${r2.xrun.json}}"""), metrics.head)
  }
}
