package graft.rules

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import graft.drift.Drift
import graft.jobs.ValidationJob
import graft.model._
import org.apache.spark.sql.functions._

/**
 * Observe-vs-fallback equivalence: [[RuleEngine.planStaged]] carries the
 * per-source stats on the row-rule scan via observe() (one tokens
 * decode); with no row rule to ride it falls back to the standalone
 * [[RuleEngine.aggregateBySource]] pass, as a rule-delta run does. Both
 * paths must produce field-exact identical results on the same input:
 * same violations, same roll-up facts, same per-source aggregates. This
 * is the proof obligation for the r03 scan fusion (VERDICT r02
 * "Next round" #1).
 */
class FusedEngineSpec extends SparkSpec {
  import spark.implicits._

  private val N = 4000L
  // every rule family has work: bad n_tok, duplicate doc_ids, an
  // undeclared source, and drift in two sources vs a clean baseline
  private val knobs = Knobs(
    badNtokRate = 0.02, dupDocIdRate = 0.005, unknownSourceRate = 0.01,
    driftShiftSources = Seq("mito", "renal"), driftShift = 300)

  private lazy val seqs = {
    val dir = tmpDir("fused-in")
    SequenceGen.sequences(spark, N, knobs = knobs)
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    spark.read.parquet(dir).as[Sequence]
  }
  private lazy val manifest = SequenceGen.manifest(spark, N)
  private lazy val baseline = {
    val clean = SequenceGen.sequences(spark, N).toDF()
    Drift.histograms(clean, SequenceGen.vocabSize, "base").as[BaselineBin]
  }

  private def key(v: Violation) =
    (Option(v.doc_id).getOrElse(""), v.rule_id, v.source, v.severity,
      v.observed)

  /** Every [[RuleEngine.SourceAggregate]] field except the serialized
    * state, arrays compared by content. */
  private def fields(aggs: Seq[RuleEngine.SourceAggregate]) =
    aggs.sortBy(_.source).map(a => (a.source, a.nDocs, a.minNtok, a.maxNtok, a.avgNtok, a.totalTokens,
      a.nullFracDocId, a.approxDistinctDocId, a.minTokenId, a.maxTokenId,
      a.p50Ntok, a.p95Ntok, a.ntokHist.toSeq, a.tokenHist.toSeq))

  test("observe path reproduces the aggregateBySource fallback exactly") {
    val rules = Rules.standard
    val observed = RuleEngine.planStaged(
      seqs, manifest, rules, Some(baseline))
    val obsScan = observed.scanViolations.collect() // action => metrics ready
    val obsFin = observed.finish()

    // the same rule set minus its row rules: nothing to ride, so finish()
    // runs the standalone aggregation pass
    val fallback = RuleEngine.planStaged(
      seqs, manifest,
      RuleSet(rules.rules.filterNot(_.isInstanceOf[RowRule])),
      Some(baseline))
    val fbScan = fallback.scanViolations.collect()
    val fbFin = fallback.finish()

    // violations: observed scan ∪ driver-derived vs the fallback's, with
    // the row rules evaluated without an observation attached
    val fbRow = RuleEngine.rowViolations(
      RuleEngine.withManifest(seqs.toDF(), manifest), rules.rowRules)
      .collect()
    val fusedSet = (obsScan ++ obsFin.driverViolations).map(key).sorted
    val fallbackSet =
      (fbRow ++ fbScan ++ fbFin.driverViolations).map(key).sorted
    assert(fusedSet.length === fallbackSet.length)
    assert(fusedSet.sameElements(fallbackSet))
    assert(obsFin.driverViolations.map(key).sorted ===
      fbFin.driverViolations.map(key).sorted)

    // roll-up facts
    assert(obsFin.sources === fbFin.sources)
    assert(obsFin.rowCount === fbFin.rowCount)
    assert(obsFin.notCompleted === fbFin.notCompleted)
    assert(obsFin.stats === fbFin.stats) // field-exact incl. HLL + pcts JSON
    assert(fields(obsFin.aggregates) === fields(fbFin.aggregates))
  }

  test("observed token stats are field-exact vs the classic aggregation") {
    val classicAggs = RuleEngine.aggregateBySource(
      seqs.toDF(), SequenceGen.vocabSize)

    val rules = Rules.standard
    val staged = RuleEngine.planStaged(seqs, manifest, rules, Some(baseline))
    staged.scanViolations.count()
    val fin = staged.finish()

    // stats metrics JSON embeds min/max token id (observed side) alongside
    // the narrow stats — equality here means every SourceAggregate field
    // matched, including the token histogram feeding drift
    val classicStats = RuleEngine.statsMetricsFromAgg(classicAggs)
    assert(fin.stats.map(_._2) === Some(classicStats))
    assert(fields(fin.aggregates) === fields(classicAggs))
  }

  test("fused ValidationJob matches the staged evaluation helper") {
    val dir = tmpDir("fused-job")
    seqs.write.mode("overwrite").partitionBy("source")
      .parquet(s"$dir/input")
    manifest.write.mode("overwrite").parquet(s"$dir/manifest")
    baseline.write.mode("overwrite").parquet(s"$dir/baseline")

    val cfg = ValidationJob.Config(
      inputPath = s"$dir/input",
      manifestPath = s"$dir/manifest",
      outDir = s"$dir/out",
      baselinePath = Some(s"$dir/baseline"))
    val rep = ValidationJob.run(spark, cfg)
    assert(rep.rowsValidated === N)

    val input = spark.read.parquet(s"$dir/input").as[Sequence]
    val expected = Evaluate(
      input, manifest, Rules.standard,
      Some(spark.read.parquet(s"$dir/baseline").as[BaselineBin]))

    val wroteVio = spark.read
      .parquet(ValidationJob.violationsPath(cfg.outDir)).as[Violation]
      .collect().map(key).sorted
    val expectedVio = expected.violations.collect().map(key).sorted
    assert(wroteVio.sameElements(expectedVio))
    assert(rep.violations === expectedVio.length)

    val wroteVer = spark.read
      .parquet(ValidationJob.verdictsPath(cfg.outDir)).as[Verdict]
      .collect().map(v => (v.source, v.rule_id, v.status, v.severity,
        v.metrics)).sorted
    val expectedVer = expected.verdicts
      .collect().map(v => (v.source, v.rule_id, v.status, v.severity,
        v.metrics)).sorted
    assert(wroteVer.sameElements(expectedVer))

    // drift must actually FIRE for the shifted sources (not vacuous)
    assert(wroteVer.exists(v =>
      v._2 == Rules.RDriftNtokKs && v._1 == "mito" && v._3 == Status.Fail))
  }

  test("empty input: the observation resolves (no hang) and manifest-only " +
      "sources still get verdicts") {
    val dir = tmpDir("fused-empty")
    // a partitioned table with ZERO rows (schema-only write)
    SequenceGen.sequences(spark, 0L)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    val empty = spark.read
      .schema(org.apache.spark.sql.Encoders.product[Sequence].schema)
      .parquet(s"$dir/input").as[Sequence]

    val staged = RuleEngine.planStaged(empty, manifest, Rules.standard)
    assert(staged.scanViolations.count() === 0L)
    val fin = staged.finish() // must not block on the observation
    assert(fin.rowCount === Some(0L))
    // the manifest's declared sources surface as missing-docs RI errors
    assert(fin.driverViolations.exists(_.rule_id == Rules.RRefIntegrity))
    assert(fin.sources.nonEmpty)
  }

  test("observed metrics cover every row despite downstream filters") {
    // the partition filter ValidationJob applies ABOVE the observe node
    // must not be pushed below it (CollectMetrics is a pushdown barrier) —
    // otherwise the aggregates would silently cover a subset
    val rules = Rules.standard
    val staged = RuleEngine.planStaged(seqs, manifest, rules, Some(baseline))
    staged.scanViolations
      .filter(col("source").isin("cardiac", "mito")) // aggressive filter
      .count()
    val fin = staged.finish()
    // rowCount comes from the narrow aggregation over the FULL seqs; the
    // observed token stats must align with it for every source
    assert(fin.rowCount === Some(N))
    val statsJson = fin.stats.get._2
    assert(statsJson.keySet ===
      seqs.select("source").distinct().as[String].collect().toSet)
  }
}
