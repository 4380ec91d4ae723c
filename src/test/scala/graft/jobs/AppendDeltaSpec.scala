package graft.jobs

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import graft.model._
import graft.drift.Drift
import graft.rules.RuleEngine
import org.apache.spark.sql.functions._

/** Append-delta validation: a partition that only GREW re-validates by
  * scanning its new files, with stats / drift / RI folding the persisted
  * mergeable state in — field-exactly what a full rescan computes. */
class AppendDeltaSpec extends SparkSpec {
  import spark.implicits._

  private val N = 1500L

  private def writeInput(dir: String, knobs: Knobs = Knobs.clean): Unit = {
    SequenceGen.sequences(spark, N, knobs = knobs)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, N)
      .write.mode("overwrite").parquet(s"$dir/manifest")
  }

  test("merged state bytes reproduce a full-scan aggregate field-exactly " +
      "(incl. HLL estimate and exact percentiles)") {
    val seqs = SequenceGen.sequences(spark, 800,
      knobs = Knobs(badNtokRate = 0.05)).toDF()
    val a = seqs.filter(xxhash64(col("doc_id")) % 2 === 0)
    val b = seqs.filter(xxhash64(col("doc_id")) % 2 =!= 0)
    val full = RuleEngine.aggregateBySource(seqs, SequenceGen.vocabSize)
    val merged = RuleEngine.aggregatesFromStateBytes(
      RuleEngine.aggregateBySource(a, SequenceGen.vocabSize).map(_.stateBytes) ++
        RuleEngine.aggregateBySource(b, SequenceGen.vocabSize).map(_.stateBytes))
    assert(full.map(_.source) === merged.map(_.source))
    full.zip(merged).foreach { case (f, m) =>
      assert(f.nDocs == m.nDocs && f.minNtok == m.minNtok &&
        f.maxNtok == m.maxNtok && f.avgNtok == m.avgNtok &&
        f.totalTokens == m.totalTokens &&
        f.nullFracDocId == m.nullFracDocId &&
        f.approxDistinctDocId == m.approxDistinctDocId &&
        f.minTokenId == m.minTokenId && f.maxTokenId == m.maxTokenId &&
        f.p50Ntok == m.p50Ntok && f.p95Ntok == m.p95Ntok &&
        f.ntokHist.sameElements(m.ntokHist) &&
        f.tokenHist.sameElements(m.tokenHist) &&
        f.stateBytes.sameElements(m.stateBytes),
        s"merged aggregate differs for ${f.source}")
    }
  }

  test("append-delta run scans only new files and matches a full rescan") {
    val dir = tmpDir("adelta")
    // baseline so the drift rules RUN (their merged histograms are part
    // of the equivalence claim)
    Drift.histograms(
        SequenceGen.sequences(spark, N).toDF(), SequenceGen.vocabSize, "base")
      .write.mode("overwrite").parquet(s"$dir/baseline")
    writeInput(dir, Knobs(badNtokRate = 0.03))
    def cfg(out: String, delta: Boolean) = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out_$out",
      baselinePath = Some(s"$dir/baseline"), appendDelta = delta)

    val r1 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r1.deltaPartitions.isEmpty) // first sight: nothing to delta
    val hist = spark.read.parquet(s"$dir/input").as[Sequence]
      .filter($"source" === "cardiac").collect()
    val oldDup = hist.head

    // grow ONE partition: a bad-ntok row, an old↔new duplicate, a
    // new↔new duplicate pair, and a clean row
    val appended = Seq(
      Sequence("D999999999990", Array(1, 2, 3), 99, "cardiac"), // bad n_tok
      Sequence(oldDup.doc_id, Array(1, 2), 2, "cardiac"), // dup of history
      Sequence("D999999999991", Array(5), 1, "cardiac"), // new-new dup pair
      Sequence("D999999999991", Array(6), 1, "cardiac"),
      Sequence("D999999999992", Array(7, 8), 2, "cardiac"))
    appended.toDS().write.mode("append").partitionBy("source")
      .parquet(s"$dir/input")

    val r2 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r2.deltaPartitions === Seq("cardiac"), r2.toString)
    assert(r2.validatedPartitions === Seq("cardiac"))
    // ONLY the appended rows were scanned
    assert(r2.rowsValidated === appended.size.toLong, r2.toString)

    // control: full rescan of the identical input in a fresh outDir
    ValidationJob.run(spark, cfg("full", delta = false))

    val dv = spark.read.parquet(
      ValidationJob.violationsPath(s"$dir/out_d"))
    val fv = spark.read.parquet(
      ValidationJob.violationsPath(s"$dir/out_full"))
    def docs(df: org.apache.spark.sql.DataFrame, rule: String) =
      df.filter($"rule_id" === rule).select("doc_id").as[String]
        .collect().toSet

    // row rules agree exactly (old violations preserved + new ones found)
    assert(docs(dv, "R_CONSISTENT_NTOK") === docs(fv, "R_CONSISTENT_NTOK"))
    assert(docs(dv, "R_CONSISTENT_NTOK").contains("D999999999990"))
    // new↔new duplicates agree under R_UNIQUE_DOC_ID
    assert(docs(dv, "R_UNIQUE_DOC_ID").contains("D999999999991"))
    assert(docs(fv, "R_UNIQUE_DOC_ID").contains("D999999999991"))
    // old↔new duplicate: the full rescan books BOTH copies under
    // R_UNIQUE_DOC_ID; the delta run books the INCOMING copy under
    // R_CROSS_RUN_UNIQUE (the reference's semantics: a new upload is
    // checked against the accepted record, which is not retro-flagged)
    assert(docs(fv, "R_UNIQUE_DOC_ID").contains(oldDup.doc_id))
    assert(docs(dv, "R_CROSS_RUN_UNIQUE") === Set(oldDup.doc_id))

    // verdict parity: every per-source FAIL/PASS matches, except the two
    // uniqueness labels whose split is documented above
    def verdicts(out: String) = spark.read
      .parquet(ValidationJob.verdictsPath(s"$dir/out_$out"))
      .filter(!$"rule_id".isin("R_UNIQUE_DOC_ID", "R_CROSS_RUN_UNIQUE"))
      .select("source", "rule_id", "status").as[(String, String, String)]
      .collect().toSet
    assert(verdicts("d") === verdicts("full"))
    def uniqVerdict(out: String) = spark.read
      .parquet(ValidationJob.verdictsPath(s"$dir/out_$out"))
      .filter($"source" === "cardiac" &&
        $"rule_id".isin("R_UNIQUE_DOC_ID", "R_CROSS_RUN_UNIQUE") &&
        $"status" === Status.Fail)
      .count()
    assert(uniqVerdict("d") > 0 && uniqVerdict("full") > 0)

    // the STRONGEST check: the delta run's persisted per-partition stats
    // state is BYTE-IDENTICAL to the full rescan's — every downstream
    // stats/drift/RI evaluation and every future delta merge see exactly
    // the same thing
    val ds = graft.checkpoint.Checkpoint.readStatsState(spark, s"$dir/out_d")
    val fs = graft.checkpoint.Checkpoint.readStatsState(spark, s"$dir/out_full")
    assert(ds.keySet === fs.keySet)
    ds.foreach { case (part, (_, bytes)) =>
      assert(bytes.sameElements(fs(part)._2), s"stats state differs: $part")
    }

    // resume: nothing left to validate
    val r3 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r3.validatedPartitions.isEmpty)
  }

  test("two consecutive appends chain: each delta folds the PREVIOUS " +
      "merged state and still matches a from-scratch full rescan") {
    val dir = tmpDir("adelta2")
    writeInput(dir)
    def cfg(out: String, delta: Boolean) = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out_$out", appendDelta = delta)
    ValidationJob.run(spark, cfg("d", delta = true))

    Seq(Sequence("D999999999980", Array(1, 2), 2, "mito"))
      .toDS().write.mode("append").partitionBy("source").parquet(s"$dir/input")
    val r2 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r2.deltaPartitions === Seq("mito") && r2.rowsValidated === 1L)

    Seq(
      Sequence("D999999999981", Array(3, 4, 5), 3, "mito"),
      Sequence("D999999999980", Array(9), 1, "mito")) // dup of append #1
      .toDS().write.mode("append").partitionBy("source").parquet(s"$dir/input")
    val r3 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r3.deltaPartitions === Seq("mito") && r3.rowsValidated === 2L)

    // the second delta's duplicate-of-a-previous-delta-row is caught
    val dv = spark.read.parquet(ValidationJob.violationsPath(s"$dir/out_d"))
    assert(dv.filter($"rule_id" === "R_CROSS_RUN_UNIQUE")
      .select("doc_id").as[String].collect().toSet === Set("D999999999980"))

    // from-scratch full rescan of the final table: stats state identical
    ValidationJob.run(spark, cfg("full", delta = false))
    val ds = graft.checkpoint.Checkpoint.readStatsState(spark, s"$dir/out_d")
    val fs = graft.checkpoint.Checkpoint.readStatsState(spark, s"$dir/out_full")
    assert(ds.keySet === fs.keySet)
    ds.foreach { case (part, (_, bytes)) =>
      assert(bytes.sameElements(fs(part)._2), s"stats state differs: $part")
    }
  }

  test("a RETYPED delta file aborts at the schema gate with the column " +
      "diff, not mid-scan as an executor read error") {
    val dir = tmpDir("adelta_schema")
    writeInput(dir)
    val cfg = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out", appendDelta = true)
    ValidationJob.run(spark, cfg)

    // a foreign writer appends a file whose tokens are int64, not int32
    Seq(("D999999999970", Array(1L, 2L), 2)).toDF("doc_id", "tokens", "n_tok")
      .write.mode("append").parquet(s"$dir/input/source=mito")
    val e = intercept[IllegalStateException](ValidationJob.run(spark, cfg))
    assert(e.getMessage.contains("schema drift") &&
      e.getMessage.contains("tokens"), e.getMessage)
  }

  test("a REWRITTEN partition is not delta-eligible and falls back to a " +
      "full rescan") {
    val dir = tmpDir("adelta_rw")
    writeInput(dir)
    val cfg = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out", appendDelta = true)
    ValidationJob.run(spark, cfg)

    // rewrite cardiac with a different file layout (not a superset)
    spark.read.parquet(s"$dir/input").as[Sequence]
      .filter($"source" === "cardiac")
      .write.mode("overwrite").parquet(s"$dir/tmp")
    graft.sources.TableIO.deletePartitions(
      spark, s"$dir/input", "source", Seq("cardiac"))
    spark.read.parquet(s"$dir/tmp").as[Sequence].repartition(3)
      .write.mode("append").partitionBy("source").parquet(s"$dir/input")

    val r2 = ValidationJob.run(spark, cfg)
    assert(r2.validatedPartitions === Seq("cardiac"))
    assert(r2.deltaPartitions.isEmpty, r2.toString)
    assert(r2.rowsValidated > 0)
  }

  test("a full run then an append-delta run with planted old-new " +
      "duplicates ship no oversized task") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val big = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "task-size-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("very large size")) big.add(m)
      }
    }
    appender.start()
    val logger = "org.apache.spark.scheduler.TaskSetManager"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val prior = Option(conf.getLoggers.get(logger))
    val lc = new LoggerConfig(logger, Level.WARN, true)
    lc.addAppender(appender, Level.WARN, null)
    conf.removeLogger(logger)
    conf.addLogger(logger, lc)
    ctx.updateLoggers()
    try {
      val dir = tmpDir("adelta_tasks")
      writeInput(dir)
      val cfg = ValidationJob.Config(
        s"$dir/input", s"$dir/manifest", s"$dir/out", appendDelta = true)
      ValidationJob.run(spark, cfg)
      val old = spark.read.parquet(s"$dir/input").as[Sequence].collect()
      val dups = Seq(old.head, old.find(_.source != "mito").get).map(_.doc_id)
      (dups.map(d => Sequence(d, Array(1), 1, "mito")) :+
        Sequence("D999999999960", Array(2), 1, "mito"))
        .toDS().write.mode("append").partitionBy("source")
        .parquet(s"$dir/input")
      val r2 = ValidationJob.run(spark, cfg)
      assert(r2.deltaPartitions === Seq("mito"), r2.toString)
      assert(spark.read.parquet(ValidationJob.violationsPath(cfg.outDir))
        .filter($"rule_id" === "R_CROSS_RUN_UNIQUE")
        .select("doc_id").as[String].collect().toSet === dups.toSet)
    } finally {
      conf.removeLogger(logger)
      prior.foreach(conf.addLogger(logger, _))
      ctx.updateLoggers()
      appender.stop()
    }
    assert(big.isEmpty, big.toString)
  }

  test("a partition that outgrows its sketch shards falls back to a full " +
      "rescan that re-shards it, with a full run's violations") {
    import graft.operators.ShardedBloom.{ShardKeys, fits, shardsFor}
    val dir = tmpDir("adelta_grow")
    SequenceGen.manifest(spark, N).write.parquet(s"$dir/manifest")
    // one partition at exactly one shard's capacity
    def big(ids: Seq[Long]) = ids.map(i =>
      Sequence(f"B$i%012d", Array(1, 2), 2, "big")).toDS()
    spark.range(ShardKeys).as[Long].map(i =>
        Sequence(f"B$i%012d", Array(1, 2), 2, "big"))
      .write.partitionBy("source").parquet(s"$dir/input")
    def cfg(out: String, delta: Boolean) = ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out_$out", appendDelta = delta)
    def nshards(out: String) = graft.checkpoint.Checkpoint
      .readSketchMeta(spark, s"$dir/out_$out")("R_CROSS_RUN_UNIQUE")("big")
      .nshards
    ValidationJob.run(spark, cfg("d", delta = true))
    assert(nshards("d") === Some(1))

    // two more rows, one a copy of an old key: past capacity
    big(Seq(ShardKeys, 7L)).write.mode("append").partitionBy("source")
      .parquet(s"$dir/input")
    assert(!fits(ShardKeys + 2, 1) && shardsFor(ShardKeys + 2) === 2)
    val r2 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r2.validatedPartitions === Seq("big"))
    assert(r2.deltaPartitions.isEmpty, r2.toString)
    assert(r2.rowsValidated === ShardKeys + 2)
    assert(nshards("d") === Some(2))

    // control: a full run of the same table in a fresh outDir
    ValidationJob.run(spark, cfg("full", delta = false))
    def table(out: String, path: String => String, cols: String*) =
      spark.read.parquet(path(s"$dir/out_$out")).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(table("d", ValidationJob.violationsPath, "doc_id", "rule_id",
      "source", "severity", "observed") === table("full",
      ValidationJob.violationsPath, "doc_id", "rule_id", "source",
      "severity", "observed"))
    assert(table("d", ValidationJob.verdictsPath, "source", "rule_id",
      "status") === table("full", ValidationJob.verdictsPath, "source",
      "rule_id", "status"))
    assert(table("d", ValidationJob.violationsPath, "doc_id", "rule_id")
      .contains(Seq(f"B${7}%012d", "R_UNIQUE_DOC_ID")))

    // re-sharded, the partition takes the delta path again
    big(Seq(ShardKeys + 1)).write.mode("append").partitionBy("source")
      .parquet(s"$dir/input")
    val r3 = ValidationJob.run(spark, cfg("d", delta = true))
    assert(r3.deltaPartitions === Seq("big") && r3.rowsValidated === 1L)
  }
}
