package graft.rules

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._
import graft.drift.Drift

/**
 * The evaluation core: one validation pass over the sequences fact table
 * produces the violations table and per-(partition, rule) verdicts —
 * compressing the reference's E1+E3 lifecycle (manifest validation →
 * results ingestion → verdict roll-up, SURVEY.md §3) into ONE entry point,
 * [[RuleEngine.planStaged]], the fused staged plan the job runs.
 *
 * Scale design (local[32] now, 1000 executors later):
 *  - Row rules: ONE narrow scan, all predicates fused into a single
 *    codegen'd projection; zero shuffles before the sink.
 *  - Uniqueness: two-stage — a cheap partial-aggregated count pass finds
 *    duplicate keys (tiny set); evidence (collect of ALL group members,
 *    as the reference reports all duplicate locations,
 *    manifest_processor.py:293-305) is gathered only for rows that join the
 *    duplicate-key set, so no unbounded collect_list over clean data.
 *  - Referential integrity: evaluated on the driver from the fused
 *    scan's per-source counts against the collected manifest — no join,
 *    no extra pass over |rows|.
 *  - Stats/verdicts: low-cardinality groupBy(source) with constant-size
 *    aggregation state — map-side partial aggregation absorbs hot-source
 *    skew (the 40%-cardiac partition) without salting; salting is reserved
 *    for large-state aggregations (see Dedup.saltedMembers).
 */
object RuleEngine {

  def emptyViolations(spark: SparkSession): Dataset[Violation] = {
    import spark.implicits._
    spark.emptyDataset[Violation]
  }

  /** Everything the single per-source aggregation pass yields: column
    * stats, both drift histograms, exact row counts. A handful of rows
    * (|sources|), so downstream RI / drift / stats-metric work is
    * driver-side arithmetic, not more table scans. */
  final case class SourceAggregate(
      source: String,
      nDocs: Long,
      minNtok: Int,
      maxNtok: Int,
      avgNtok: Double,
      totalTokens: Long,
      nullFracDocId: Double,
      approxDistinctDocId: Long,
      minTokenId: Int,
      maxTokenId: Int,
      p50Ntok: Int,
      p95Ntok: Int,
      ntokHist: Array[Long],
      tokenHist: Array[Long],
      /** Serialized mergeable aggregate state for THIS source (see
        * [[graft.drift.SourceStatsAggregate.serializeStates]]) —
        * persisted per partition so append-delta runs fold new files'
        * stats into it instead of rescanning old files. */
      stateBytes: Array[Byte] = Array.empty)

  /** The one stats computation (see
    * [[graft.drift.SourceStatsAggregate]]): every [[SourceAggregate]]
    * field, per source, in a single imperative aggregate whose state is
    * |sources| fixed-size arrays. */
  private def sourceStatsColumn(vocab: Int): Column =
    graft.drift.SourceStatsAggregate.agg(
      col("source"), col("doc_id"), col("n_tok"), col("tokens"),
      Drift.tokenBins, vocab, Drift.ntokBins, Drift.ntokBinWidth)

  private def parseSourceStats(rows: Seq[org.apache.spark.sql.Row]): Seq[SourceAggregate] =
    rows.map { r =>
      SourceAggregate(
        r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6), r.getLong(7),
        r.getInt(8), r.getInt(9), r.getInt(10), r.getInt(11),
        r.getSeq[Long](12).toArray, r.getSeq[Long](13).toArray,
        r.getAs[Array[Byte]](14))
    }

  /** Rebuild per-source aggregates from serialized state blobs (one or
    * more per source — old persisted state plus a delta run's fresh
    * state), merged with the aggregate's own arithmetic and summarized
    * through the SAME code path as a distributed eval, so a delta-merged
    * aggregate is field-exactly what a full rescan would produce. */
  def aggregatesFromStateBytes(parts: Seq[Array[Byte]]): Seq[SourceAggregate] = {
    import graft.drift.SourceStatsAggregate
    val merged = SourceStatsAggregate.mergeStateBytes(parts, Drift.tokenBins)
    merged.toSeq.sortBy(_._1).map { case (src, st) =>
      val s = SourceStatsAggregate.summarize(
        st, Drift.ntokBins, Drift.ntokBinWidth)
      SourceAggregate(
        src.toString, s.nDocs, s.minNtok, s.maxNtok, s.avgNtok,
        s.totalTokens, s.nullFracDocId, s.approxDistinctDocId,
        s.minTokenId, s.maxTokenId, s.p50Ntok, s.p95Ntok,
        s.ntokHist, s.tokenHist,
        SourceStatsAggregate.serializeStates(Seq(src -> st), Drift.tokenBins))
    }
  }

  /** THE aggregation pass (standalone form): one GLOBAL aggregation of the
    * per-source stats state — the by-source grouping lives inside the
    * aggregate's hash-map state, so the shuffle carries one ~|sources|-entry
    * partial per task instead of grouping rows by source; one scan serves
    * the stats rule, both drift rules, AND the completeness side of
    * referential integrity (SURVEY.md A1-A3, A7, R_STATS, R_DRIFT_*).
    * [[planStaged]] runs it only as its fallback when there is no row-rule
    * scan to ride; otherwise the observed scan computes the exact same
    * values without any dedicated pass. */
  def aggregateBySource(seqs: DataFrame, vocab: Int): Seq[SourceAggregate] = {
    val row = seqs.select(sourceStatsColumn(vocab).as("stats")).head()
    parseSourceStats(row.getSeq[org.apache.spark.sql.Row](0))
  }

  /** The driver-side tail of a staged plan, available only after the scan
    * violations have been materialized (see [[planStaged]]). */
  final case class StagedResult(
      driverViolations: Seq[Violation],
      sources: Seq[String],
      stats: Option[(String, Map[String, String])],
      /** Rows per data source: the aggregates' nDocs (post-merge in an
        * append-delta run) or, with no stats-family rule, one count. */
      counts: Map[String, Long],
      /** (source, rule_id) pairs whose check could not run (a drift rule
        * with no baseline bins for that source, snapshot equality with no
        * reference snapshot): the roll-up reports them as NOT_COMPLETED,
        * never a silent PASS (reference analog: ManifestStatusCheckRecord's
        * NOT_COMPLETED status, dynamodb.py:89-95). */
      notCompleted: Set[(String, String)],
      /** The per-source aggregates the driver rules evaluated over —
        * post-merge in an append-delta run. Each carries its mergeable
        * stateBytes for persistence. */
      aggregates: Seq[SourceAggregate] = Nil)

  /** A two-stage evaluation plan: `scanViolations` holds every distributed
    * pass (row rules ∪ uniqueness ∪ snapshot equality); `finish()` — legal
    * ONLY after an action has materialized `scanViolations` — collects the
    * observed token stats, runs the narrow aggregation pass, and returns
    * the driver-derived violations (RI / drift / manifest) + roll-up
    * facts. `persisted` lists the frames the plan persisted (uniqueness
    * candidate hashes); the caller unpersists them when it is done with
    * the plan. */
  final case class StagedPlan(
      scanViolations: Dataset[Violation],
      finish: () => StagedResult,
      persisted: Seq[Dataset[_]] = Nil)

  /** The FUSED evaluation plan (the 100 TB shape) and the engine's one
    * entry point: the ENTIRE stats pass — both drift histograms,
    * token-id min/max, n_tok stats, exact percentiles, distinct estimate —
    * rides the row-rule scan via `Dataset.observe` +
    * [[graft.drift.SourceStatsAggregate]], so the `tokens` array column
    * (~96% of the table's bytes) is decoded exactly ONCE and no dedicated
    * stats job runs at all. Running the row rules and a stats pass as
    * independent full scans duplicated that decode; on a
    * memory-bandwidth-bound host it was the measured N→4N scaling ceiling
    * (VERDICT r02), and the residual narrow stats job's fixed
    * task-dispatch cost was the next non-scaling phase (r03 probe).
    *
    * Contract: callers MUST run an action on `scanViolations` (e.g. the
    * persist + count ValidationJob does anyway) before calling `finish()`,
    * which blocks on the observed metrics otherwise. Falls back to the
    * eager [[aggregateBySource]] pass when there is no row-rule scan to
    * ride (e.g. a rule-delta run that re-evaluates no row rule). */
  def planStaged(
      seqs: Dataset[Sequence],
      manifest: Dataset[ManifestEntry],
      rules: RuleSet,
      baseline: Option[Dataset[BaselineBin]] = None,
      vocab: Int = graft.gen.SequenceGen.vocabSize,
      refSnapshot: Option[Dataset[Sequence]] = None,
      /** Append-delta hook: source → persisted old-files stats state.
        * The scan observes the NEW files' stats only; finish() folds the
        * persisted state in through the aggregate's own merge arithmetic,
        * so every driver rule (stats / drift / RI / completeness)
        * evaluates over the WHOLE partition, field-exactly what a full
        * rescan would produce. */
      mergeStates: Map[String, Array[Byte]] = Map.empty): StagedPlan = {
    val spark = seqs.sparkSession

    val needAgg = rules.statsRules.nonEmpty || rules.refRules.nonEmpty ||
      rules.driftRules.nonEmpty || rules.entropyRules.nonEmpty
    val rideRowScan = needAgg && rules.rowRules.nonEmpty

    val obs = if (rideRowScan) Some(org.apache.spark.sql.Observation()) else None
    val enriched0 = withManifest(seqs.toDF(), manifest)
    val enriched = obs match {
      case Some(o) =>
        enriched0.observe(o, sourceStatsColumn(vocab).as("source_stats"))
      case None => enriched0
    }

    val unique = rules.uniqueRules.map(r => uniquePasses(seqs.toDF(), r))
    val scanParts: Seq[Dataset[Violation]] =
      Seq(rowViolations(enriched, rules.rowRules)) ++ unique.map(_._1) ++
        refSnapshot.toSeq.flatMap(ref =>
          rules.snapshotRules.map(r =>
            snapshotViolations(seqs.toDF(), ref.toDF(), r)))

    val finish = () => {
      val aggs0: Seq[SourceAggregate] =
        if (!needAgg) Nil
        else obs match {
          case Some(o) =>
            parseSourceStats(o.get("source_stats").asInstanceOf[Seq[_]]
              .map(_.asInstanceOf[org.apache.spark.sql.Row]))
          case None => aggregateBySource(seqs.toDF(), vocab)
        }
      // fold persisted old-files state into the delta sources' fresh
      // aggregates (append-delta); non-delta sources pass through
      val aggs =
        if (mergeStates.isEmpty || !needAgg) aggs0
        else {
          val fresh = aggs0.map(a => a.source -> a).toMap
          val blobs = mergeStates.toSeq.flatMap { case (s, old) =>
            old +: fresh.get(s).map(_.stateBytes).toSeq
          }
          (aggs0.filterNot(a => mergeStates.contains(a.source)) ++
            aggregatesFromStateBytes(blobs)).sortBy(_.source)
        }
      driverSide(spark, seqs, aggs, manifest, rules, baseline, refSnapshot,
        needAgg)
    }

    StagedPlan(scanParts.reduce(_ unionByName _), finish, unique.map(_._2))
  }

  /** Driver-side tail of [[planStaged]]'s `finish()`: RI /
    * drift / manifest violations from the collected aggregates, the source
    * domain, NOT_COMPLETED bookkeeping, stats metrics and exact per-source
    * row counts. */
  private def driverSide(
      spark: SparkSession,
      seqs: Dataset[Sequence],
      aggs: Seq[SourceAggregate],
      manifest: Dataset[ManifestEntry],
      rules: RuleSet,
      baseline: Option[Dataset[BaselineBin]],
      refSnapshot: Option[Dataset[Sequence]],
      needAgg: Boolean): StagedResult = {
    import spark.implicits._
    val manifestRows: Seq[ManifestEntry] = manifest.collect().toSeq
    val baselineRows: Seq[BaselineBin] =
      if (rules.driftRules.nonEmpty)
        baseline.map(_.collect().toSeq).getOrElse(Nil)
      else Nil

    val driverVios: Seq[Violation] =
      rules.refRules.flatMap(r => refViolationsFromAgg(aggs, manifestRows, r)) ++
        rules.driftRules.flatMap(r =>
          if (baselineRows.isEmpty) Nil
          else driftViolationsFromAgg(aggs, baselineRows, r)) ++
        rules.entropyRules.flatMap(r => entropyViolationsFromAgg(aggs, r)) ++
        rules.manifestRules.flatMap(r => manifestViolations(manifestRows, r))

    // with no aggregates to ride, one per-source count job stands in
    val counts: Map[String, Long] =
      if (needAgg) aggs.map(a => a.source -> a.nDocs).toMap
      else seqs.groupBy(col("source")).count().as[(String, Long)]
        .collect().toMap
    val sources0 = counts.keys.toSeq ++ manifestRows.map(_.source)

    val notCompleted: Set[(String, String)] =
      rules.driftRules.flatMap { r =>
        val withBins =
          baselineRows.filter(_.kind == r.kind).map(_.source).toSet
        aggs.map(_.source).filterNot(withBins).map(s => (s, r.id))
      }.toSet ++
        (if (refSnapshot.isEmpty)
          rules.snapshotRules
            .flatMap(r => sources0.distinct.map(s => (s, r.id))).toSet
        else Set.empty[(String, String)])

    StagedResult(
      driverViolations = driverVios,
      sources = sources0.distinct.sorted,
      stats = rules.statsRules.headOption
        .map(r => (r.id, statsMetricsFromAgg(aggs))),
      counts = counts,
      notCompleted = notCompleted,
      aggregates = aggs)
  }

  /** RI + completeness from the collected aggregates (J1/J2 + A7 —
    * driver-side over |sources| rows): undeclared source → warning;
    * actual < expected → error; surplus → warning. */
  def refViolationsFromAgg(
      aggs: Seq[SourceAggregate],
      manifestRows: Seq[ManifestEntry],
      rule: RefIntegrityRule): Seq[Violation] = {
    val expected = manifestRows.map(m => m.source -> m.expected_docs).toMap
    val actual = aggs.map(a => a.source -> a.nDocs).toMap
    val all = (expected.keySet ++ actual.keySet).toSeq.sorted
    all.flatMap { src =>
      val act = actual.getOrElse(src, 0L)
      val exp = expected.get(src)
      val severity = exp match {
        case None => Some(Severity.Warning) // undeclared source
        case Some(e) if act < e => Some(Severity.Error) // missing docs
        case Some(e) if act > e => Some(Severity.Warning) // surplus docs
        case _ => None
      }
      severity.map { sev =>
        Violation(
          doc_id = null,
          rule_id = rule.id,
          observed = s"""{"actual_docs":$act,"expected_docs":""" +
            exp.map(_.toString).getOrElse("null") + "}",
          source = src,
          severity = sev)
      }
    }
  }

  /** Entropy floor from the collected aggregates — baseline-free, rides
    * the histograms the stats pass already holds. Shannon entropy in
    * bits, folded in ascending bin order (deterministic); an empty
    * source is vacuously valid (emptiness is the count rules' job). */
  def entropyViolationsFromAgg(
      aggs: Seq[SourceAggregate],
      rule: EntropyRule): Seq[Violation] =
    aggs.sortBy(_.source).flatMap { a =>
      val hist = if (rule.kind == "ntok_hist") a.ntokHist else a.tokenHist
      val n = hist.foldLeft(0L)(_ + _)
      if (n == 0L) None
      else {
        var h = 0.0
        var i = 0
        while (i < hist.length) {
          if (hist(i) > 0L) {
            val p = hist(i).toDouble / n.toDouble
            h -= p * (math.log(p) / math.log(2.0))
          }
          i += 1
        }
        if (h < rule.minBits)
          Some(Violation(
            doc_id = null,
            rule_id = rule.id,
            observed = s"""{"kind":"${rule.kind}","entropy_bits":$h,""" +
              s""""min_bits":${rule.minBits},"n":$n}""",
            source = a.source,
            severity = rule.severity))
        else None
      }
    }

  /** Drift tests from the collected aggregates vs the collected baseline
    * bins (driver-side on <= a few hundred bins per source). */
  def driftViolationsFromAgg(
      aggs: Seq[SourceAggregate],
      baselineRows: Seq[BaselineBin],
      rule: DriftRule): Seq[Violation] = {
    val nBins =
      if (rule.kind == "ntok_hist") Drift.ntokBins else Drift.tokenBins
    val base = baselineRows.filter(_.kind == rule.kind)
      .groupBy(_.source)
      .map { case (s, rows) => s -> rows.map(b => b.bin -> b.count).toMap }
    aggs.sortBy(_.source).flatMap { a =>
      base.get(a.source).flatMap { bh =>
        val hist = (if (rule.kind == "ntok_hist") a.ntokHist else a.tokenHist)
          .zipWithIndex.collect { case (c, i) if c > 0 => i -> c }.toMap
        val res = rule.test match {
          case "ks" => Drift.ksTest(hist, bh, nBins, rule.alpha)
          // for "psi", alpha IS the PSI action threshold (not a
          // significance level) — see Drift.psiTest
          case "psi" => Drift.psiTest(hist, bh, nBins, rule.alpha)
          case _ => Drift.chi2Test(hist, bh, nBins, rule.alpha)
        }
        if (res.rejected)
          Some(Violation(
            doc_id = null,
            rule_id = rule.id,
            observed =
              s"""{"test":"${rule.test}","statistic":${res.statistic},""" +
                s""""threshold":${res.threshold},"n":${res.n},"m":${res.m}}""",
            source = a.source,
            severity = rule.severity))
        else None
      }
    }
  }

  /** Manifest-side integrity (driver-side over the collected manifest
    * dimension; reference hard-fails the submission on a bad manifest
    * BEFORE touching any file, submission_data.py:95-119): duplicate
    * manifest keys (make expected_docs ambiguous — reference analog:
    * duplicate checksums abort), negative expected_docs, min_tok >
    * max_tok. Missing required COLUMNS abort earlier, in
    * TableIO.readManifestTsv. */
  def manifestViolations(
      manifestRows: Seq[ManifestEntry],
      rule: ManifestRule): Seq[Violation] = {
    val dups = manifestRows.groupBy(_.source).filter(_._2.length > 1)
    val dupVios = dups.toSeq.sortBy(_._1).map { case (src, rows) =>
      Violation(
        doc_id = null,
        rule_id = rule.id,
        observed = s"""{"duplicate_manifest_rows":${rows.length}}""",
        source = src,
        severity = rule.severity)
    }
    val fieldVios = manifestRows.sortBy(_.source).flatMap { m =>
      val problems =
        (if (m.expected_docs < 0)
          Seq(s""""invalid_expected_docs":${m.expected_docs}""") else Nil) ++
          (if (m.min_tok > m.max_tok)
            Seq(s""""inverted_tok_range":[${m.min_tok},${m.max_tok}]""")
          else Nil)
      if (problems.isEmpty) None
      else Some(Violation(
        doc_id = null,
        rule_id = rule.id,
        observed = problems.mkString("{", ",", "}"),
        source = m.source,
        severity = rule.severity))
    }
    dupVios ++ fieldVios
  }

  /** Cross-snapshot token-array equality (J10; the BASELINE per-row
    * invariant; reference move_to_new_pipeline_check.py:84-147): every doc
    * of the reference snapshot must exist in the CURRENT snapshot with
    * identical token hash and n_tok. Missing ⇒ violation, mismatch ⇒
    * violation; docs only in the current snapshot are growth, not
    * violations (the reference iterates old-store rows).
    *
    * Each side is aggregated to ONE row per key first (row count +
    * commutative hash/length sums — a multiset fingerprint): with unique
    * keys this is exactly per-row equality, and a key duplicated on either
    * side (already an R_UNIQUE violation) compares as a multiset instead
    * of exploding the join cross-product — a hot duplicate key stays
    * O(its rows), not O(rows²). The join then carries one
    * (key, count, hash, len) row per side — never the token arrays. */
  def snapshotViolations(
      seqs: DataFrame,
      refSnapshot: DataFrame,
      rule: SnapshotEqualityRule): Dataset[Violation] = {
    val spark = seqs.sparkSession
    import spark.implicits._
    import graft.operators.SnapshotDiff
    val h = SnapshotDiff.tokenArrayHash(col("tokens"))
    def perKey(df: DataFrame, pre: String) = df
      .select(col("doc_id"), h.as("h"),
        col("n_tok").cast("long").as("len"), col("source"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as(s"${pre}_rows"),
        pmod(sum(col("h")), lit(graft.functions.TextFunctions.HashMod))
          .as(s"${pre}_hash"),
        sum(col("len")).as(s"${pre}_len"),
        max(col("source")).as(s"${pre}_source"))
    val o = perKey(refSnapshot, "old").withColumnRenamed("doc_id", "k")
    val n = perKey(seqs, "new").withColumnRenamed("doc_id", "nk")
    o.join(n, col("k") === col("nk"), "left")
      .select(
        col("k").as("doc_id"),
        when(col("nk").isNull, lit(SnapshotDiff.StatusMissingInNew))
          .when(col("old_rows") =!= col("new_rows") ||
            col("old_hash") =!= col("new_hash") ||
            col("old_len") =!= col("new_len"),
            lit(SnapshotDiff.StatusMismatch))
          .otherwise(lit(SnapshotDiff.StatusEqual)).as("status"),
        coalesce(col("new_source"), col("old_source")).as("source"),
        col("old_hash"), col("new_hash"), col("old_len"), col("new_len"))
      .filter(col("status") =!= SnapshotDiff.StatusEqual)
      .select(
        col("doc_id").cast(StringType).as("doc_id"),
        lit(rule.id).as("rule_id"),
        to_json(struct(col("status"), col("old_hash"), col("new_hash"),
          col("old_len"), col("new_len"))).as("observed"),
        col("source"),
        lit(rule.severity).as("severity"))
      .as[Violation]
  }

  /** Per-source stats metrics JSON from the collected aggregates. */
  def statsMetricsFromAgg(aggs: Seq[SourceAggregate]): Map[String, String] =
    aggs.map { a =>
      a.source ->
        (s"""{"n_docs":${a.nDocs},"min_ntok":${a.minNtok},""" +
          s""""max_ntok":${a.maxNtok},"avg_ntok":${a.avgNtok},""" +
          s""""total_tokens":${a.totalTokens},""" +
          s""""null_frac_doc_id":${a.nullFracDocId},""" +
          s""""approx_distinct_doc_id":${a.approxDistinctDocId},""" +
          s""""min_token_id":${a.minTokenId},""" +
          s""""max_token_id":${a.maxTokenId},""" +
          s""""p50_ntok":${a.p50Ntok},"p95_ntok":${a.p95Ntok}}""")
    }.toMap

  /** Broadcast left join of the manifest dimension (J4/J5 analog —
    * per-file manifest lookups, validation_manager.py:156-193 — expressed
    * as ONE broadcast hash join instead of per-row point lookups). */
  def withManifest(seqs: DataFrame, manifest: Dataset[ManifestEntry]): DataFrame = {
    val m = broadcast(
      manifest.toDF()
        .select(
          col("source").as("m_source"),
          col("expected_docs").as("m_expected_docs"),
          col("min_tok").as("m_min_tok"),
          col("max_tok").as("m_max_tok")))
    seqs.join(m, seqs("source") === m("m_source"), "left").drop("m_source")
  }

  /** All row rules in ONE pass: per row, build an array of violation
    * structs (null for passing rules), drop nulls, explode. Rows with no
    * violations vanish in the explode — the common case scans and emits
    * nothing. Plays the role of a generator/UDTF (SURVEY.md §2.9) using
    * only codegen'd built-ins. */
  def rowViolations(enriched: DataFrame, rowRules: Seq[RowRule]): Dataset[Violation] = {
    val spark = enriched.sparkSession
    import spark.implicits._
    if (rowRules.isEmpty) return emptyViolations(spark)
    val vioStructs: Seq[Column] = rowRules.map { r =>
      when(
        !coalesce(r.valid, lit(false)),
        struct(
          lit(r.id).as("rule_id"),
          r.observed.cast(StringType).as("observed"),
          lit(r.severity).as("severity")))
    }
    // explode the fixed-width rule array and drop nulls AFTER the
    // generator: both operators stay inside whole-stage codegen, unlike a
    // higher-order filter() over the array (interpreted per element).
    enriched
      .select(
        col("doc_id"),
        col("source"),
        explode(array(vioStructs: _*)).as("v"))
      .filter(col("v").isNotNull)
      .select(
        col("doc_id"),
        col("v.rule_id").as("rule_id"),
        col("v.observed").as("observed"),
        col("source"),
        col("v.severity").as("severity"))
      .as[Violation]
  }

  /** Salt count for the two-stage duplicate-evidence aggregation and cap
    * on the number of member locations recorded per duplicate group. */
  val DupSalts = 16
  val DupEvidenceCap = 100

  /** Broadcast the duplicate-key set only below this size: the set being
    * large IS the failure mode uniqueness detects, and an unconditional
    * broadcast hint would OOM the driver exactly then. Above the threshold
    * the join falls back to shuffle (AQE may still re-plan it). */
  val DupKeysBroadcastMax = 2000000L

  /** Two-stage SALTED duplicate detection (J6/A4/A5 semantics; the
    * north-rule "salted repartition + sort-merge dedup").
    *
    * Stage 1 groups by (key, salt) — a hot key duplicated millions of
    * times (the adversarial case at 10^12 rows) spreads over [[DupSalts]]
    * reducers, each producing a bounded partial: a count plus at most
    * [[DupEvidenceCap]] sample member locations. Stage 2 merges the <=
    * DupSalts partials per key, so no reducer ever materializes an
    * unbounded member list. Counts stay EXACT; the member-location
    * evidence is capped (the reference reports all duplicate locations,
    * manifest_processor.py:293-305 — complete up to the cap, which any
    * real duplicate group at validation scale fits).
    *
    * Returns the violations and the persisted pass-1 candidate hashes,
    * which the caller unpersists once it is done with the violations. */
  private[rules] def uniquePasses(seqs: DataFrame, rule: UniqueRule)
      : (Dataset[Violation], Dataset[_]) = {
    val spark = seqs.sparkSession
    import spark.implicits._
    val k = rule.key

    // Null keys are excluded here BY CONTRACT: null-uniqueness is
    // R_SCHEMA's job (doc_id IS NOT NULL is a row rule), and a null-keyed
    // equi-join would silently drop the groups anyway (ADVICE r01).
    val nonNull = seqs.filter(col(k).isNotNull)

    // Pass 1: CANDIDATE duplicate keys by 8-byte key hash — the widest
    // shuffle in the engine (high-cardinality keys defeat map-side partial
    // aggregation: ~1 partial row per input row), so it carries
    // xxhash64(key) instead of the key itself. At the 10^12-row shape keys
    // can be long URLs/UUIDs; 8 bytes/row is the floor. Hash collisions
    // only ADD candidates (two distinct keys sharing a hash reach pass 2,
    // where grouping is by the TRUE key and count>1 is re-checked exactly)
    // — they can never create or mask a reported duplicate. Persisted so
    // the size gate below doesn't recompute the aggregation for the join;
    // the cache is candidate hashes only (KBs in the healthy regime).
    val keyHash = xxhash64(col(k))
    val dupHashes = nonNull
      .select(keyHash.as("kh"))
      .groupBy(col("kh"))
      .agg(count(lit(1)).as("hash_count"))
      .filter(col("hash_count") > 1)
      .select("kh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDupKeys = dupHashes.count()

    // Pass 2: exact counts + evidence for candidate MEMBERS only, grouped
    // by the TRUE key. Broadcast is GATED on the counted size: tiny in the
    // healthy regime (single hash stage, no shuffle of the fact table), but
    // a mass-duplication accident — the very thing this rule detects —
    // must not OOM the driver via an unconditional hint. Salted two-stage
    // aggregation: the salt is the INPUT PARTITION id, so a key duplicated
    // millions of times within one (source, n_tok) — where a value-derived
    // salt collapses — still spreads over all its input partitions'
    // reducers. Stage-1 state is a bounded count + collect_set(source)
    // capped at DupEvidenceCap; summing the per-salt counts keeps dup_count
    // EXACT (the reference reports all duplicate locations,
    // manifest_processor.py:293-305 — here complete up to the cap over
    // distinct locations).
    val dupSide =
      if (nDupKeys <= DupKeysBroadcastMax) broadcast(dupHashes) else dupHashes
    // spark_partition_id is nondeterministic, so it must be materialized in
    // a projection before it can be a grouping key.
    val members = nonNull
      .join(dupSide, keyHash === dupSide("kh"))
      .withColumn("salt",
        pmod(spark_partition_id().cast("long"), lit(DupSalts.toLong)))

    val partials = members
      .groupBy(col(k), col("salt"))
      .agg(
        count(lit(1)).as("cnt"),
        slice(sort_array(collect_set(col("source"))), 1, DupEvidenceCap)
          .as("srcs"))

    val groups = partials
      .groupBy(col(k))
      .agg(
        sum(col("cnt")).as("dup_count"),
        slice(array_sort(array_distinct(flatten(collect_list(col("srcs"))))),
          1, DupEvidenceCap).as("member_sources"))
      // hash-collision candidates resolve to singleton TRUE keys here —
      // the exact count>1 filter the hash pass could not provide
      .filter(col("dup_count") > 1)

    (groups
      .select(
        col(k).cast(StringType).as("doc_id"),
        lit(rule.id).as("rule_id"),
        to_json(struct(
          col("dup_count"),
          col("member_sources"))).as("observed"),
        // attribute the violation to every member partition
        explode(col("member_sources")).as("source"),
        lit(rule.severity).as("severity"))
      .as[Violation], dupHashes)
  }

  /** Verdict roll-up (A9): for every (source, rule) in the domain —
    * sources seen in data ∪ manifest, × all rule ids — status is FAIL if
    * any error-severity violation exists, PASS_WITH_WARNINGS if only
    * warnings, else PASS. Mirrors "submission passes iff no STATUS row ≠
    * PASS" (reference batch.py:191-229). Domain and counts are both tiny
    * (|sources| × |rules|), so this is a broadcast-scale join. */
  def rollUpVerdicts(
      spark: SparkSession,
      sources: Seq[String],
      rules: RuleSet,
      violations: Dataset[Violation],
      stats: Option[(String, Map[String, String])] = None,
      notCompleted: Set[(String, String)] = Set.empty): Dataset[Verdict] = {
    import spark.implicits._

    // the verdict domain is tiny (|sources| x |rules|) and already known
    // driver-side; checks that could not run are flagged here so they roll
    // up as NOT_COMPLETED, never as a silent PASS
    val domain = sources
      .flatMap(s => rules.ruleIds.map(r => (s, r, notCompleted((s, r)))))
      .toDF("source", "rule_id", "nc")

    val counts = violations.toDF()
      .groupBy(col("source"), col("rule_id"))
      .agg(
        sum(when(col("severity") === Severity.Error, 1L).otherwise(0L))
          .as("n_error"),
        sum(when(col("severity") === Severity.Warning, 1L).otherwise(0L))
          .as("n_warning"))

    // Broadcast the aggregated-counts side: it is as small as the domain
    // (<= |sources| x |rules| groups) and Spark supports building the
    // RIGHT side of a left-outer join — broadcasting the left/probe side
    // is unsupported and the hint would be silently dropped (the
    // HintErrorLogger warning in every r01 bench tail).
    val base = domain
      .join(broadcast(counts), Seq("source", "rule_id"), "left")
      .na.fill(0L, Seq("n_error", "n_warning"))

    // stats rules carry their per-partition statistics as verdict metrics
    val statsExpr = stats match {
      case Some((statsRuleId, byl)) =>
        val m = typedLit(byl)
        when(col("rule_id") === statsRuleId, element_at(m, col("source")))
          .otherwise(lit(null).cast(StringType))
      case None => lit(null).cast(StringType)
    }

    base
      .select(
        col("source"),
        col("rule_id"),
        when(col("nc"), lit(Status.NotCompleted))
          .when(col("n_error") > 0, lit(Status.Fail))
          .when(col("n_warning") > 0, lit(Status.PassWithWarnings))
          .otherwise(lit(Status.Pass)).as("status"),
        when(col("nc"), lit(null).cast(StringType))
          .when(col("n_error") > 0, lit(Severity.Error))
          .when(col("n_warning") > 0, lit(Severity.Warning))
          .otherwise(lit(null).cast(StringType)).as("severity"),
        when(col("nc"), lit("""{"reason":"no_baseline"}"""))
          .otherwise(coalesce(statsExpr,
            to_json(struct(col("n_error"), col("n_warning"))))).as("metrics"))
      .as[Verdict]
  }
}
