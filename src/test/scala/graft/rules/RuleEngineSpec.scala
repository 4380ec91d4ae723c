package graft.rules

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import graft.model._

class RuleEngineSpec extends SparkSpec {
  import spark.implicits._

  private val N = 2000L

  test("clean data: zero violations; PASS everywhere, NOT_COMPLETED for " +
      "drift rules that had no baseline to run against") {
    val seqs = SequenceGen.sequences(spark, N)
    val manifest = SequenceGen.manifest(spark, N)
    val res = Evaluate(seqs, manifest, Rules.standard)
    assert(res.violations.count() === 0)
    val statuses = res.verdicts.collect()
    assert(statuses.nonEmpty)
    val driftIds = Rules.standard.driftRules.map(_.id).toSet
    statuses.foreach { v =>
      // a drift check that never ran must NOT read as PASS (ADVICE r01)
      if (driftIds(v.rule_id)) assert(v.status == Status.NotCompleted, v)
      else assert(v.status == Status.Pass, v)
    }
    // one verdict per (source, rule)
    assert(statuses.length ===
      SequenceGen.sources.size * Rules.standard.ruleIds.size)
  }

  test("drift verdicts are PASS (not NOT_COMPLETED) when a baseline exists") {
    val seqs = SequenceGen.sequences(spark, N)
    val manifest = SequenceGen.manifest(spark, N)
    val baseline = graft.drift.Drift.histograms(
      seqs.toDF(), SequenceGen.vocabSize, "base")
    val res = Evaluate(seqs, manifest, Rules.standard,
      Some(baseline))
    val statuses = res.verdicts.collect()
    assert(statuses.forall(_.status == Status.Pass),
      statuses.filterNot(_.status == Status.Pass).mkString(", "))
  }

  test("generator is deterministic and token arrays round-trip (row invariant)") {
    val a = SequenceGen.sequences(spark, 500).collect().sortBy(_.doc_id)
    val b = SequenceGen.sequences(spark, 500, numPartitions = 7)
      .collect().sortBy(_.doc_id)
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.doc_id === y.doc_id)
      assert(x.tokens.sameElements(y.tokens), s"tokens differ for ${x.doc_id}")
      assert(x.n_tok === y.n_tok && x.source === y.source)
    }
  }

  test("R_CONSISTENT_NTOK flags exactly the seeded bad-ntok rows") {
    val knobs = Knobs(badNtokRate = 0.05)
    val seqs = SequenceGen.sequences(spark, N, knobs = knobs)
    val manifest = SequenceGen.manifest(spark, N)
    val expectedBad = seqs.collect().filter(s => s.n_tok != s.tokens.length)
      .map(_.doc_id).toSet
    assert(expectedBad.nonEmpty)

    val res = Evaluate(seqs, manifest, Rules.standard)
    val flagged = res.violations
      .filter($"rule_id" === Rules.RConsistentNtok)
      .collect()
    assert(flagged.map(_.doc_id).toSet === expectedBad)
    assert(flagged.forall(_.severity == Severity.Error))

    // affected sources FAIL on this rule; clean sources PASS
    val badSources = seqs.collect()
      .filter(s => s.n_tok != s.tokens.length).map(_.source).toSet
    val verdicts = res.verdicts
      .filter($"rule_id" === Rules.RConsistentNtok).collect()
    verdicts.foreach { v =>
      if (badSources(v.source)) assert(v.status == Status.Fail, v)
      else assert(v.status == Status.Pass, v)
    }
  }

  test("R_UNIQUE_DOC_ID reports every duplicate group with all members") {
    val knobs = Knobs(dupDocIdRate = 0.02)
    val seqs = SequenceGen.sequences(spark, N, knobs = knobs)
    val manifest = SequenceGen.manifest(spark, N)
    val dupIds = seqs.collect().groupBy(_.doc_id)
      .filter(_._2.length > 1).keySet
    assert(dupIds.nonEmpty)

    val vios = Evaluate(seqs, manifest, Rules.standard)
      .violations.filter($"rule_id" === Rules.RUniqueDocId).collect()
    assert(vios.map(_.doc_id).toSet === dupIds)
    // observed payload lists all member sources
    vios.foreach { v =>
      assert(v.observed.contains("\"dup_count\":"))
      assert(v.observed.contains("member_sources"))
    }
  }

  test("R_REF_INTEGRITY: unknown source warns, missing docs fail") {
    val knobs = Knobs(unknownSourceRate = 0.03)
    val seqs = SequenceGen.sequences(spark, N, knobs = knobs)
    // manifest counts derive from CLEAN generation, so sources that lost
    // rows to "mystery" now under-deliver => error; mystery => warning.
    val manifest = SequenceGen.manifest(spark, N)
    val res = Evaluate(seqs, manifest, Rules.standard)
    val vios = res.violations
      .filter($"rule_id" === Rules.RRefIntegrity).collect()
    val bySource = vios.groupBy(_.source)
    assert(bySource.contains(SequenceGen.unknownSource))
    assert(bySource(SequenceGen.unknownSource).forall(_.severity == Severity.Warning))
    val errorSources = vios.filter(_.severity == Severity.Error).map(_.source)
    assert(errorSources.nonEmpty) // under-delivering real sources
    assert(!errorSources.contains(SequenceGen.unknownSource))
  }

  test("R_SCHEMA flags malformed doc_ids") {
    val bad = Seq(
      Sequence("not-an-id", Array(1, 2, 3), 3, "cardiac"),
      Sequence("D1234", Array(1), 1, "cardiac")) // too few digits
    val seqs = SequenceGen.sequences(spark, 100).union(bad.toDS())
    val manifest = SequenceGen.manifest(spark, 100)
    val vios = Evaluate(seqs, manifest, Rules.standard)
      .violations.filter($"rule_id" === Rules.RSchema).collect()
    assert(vios.map(_.doc_id).toSet === Set("not-an-id", "D1234"))
  }

  test("R_TOKEN_RANGE flags tokens outside the manifest-declared range") {
    val seqs = SequenceGen.sequences(spark, 200)
    val manifest = SequenceGen.sources
      .map(s => ManifestEntry(s, 0L, 0, 10)) // absurdly tight range
      .toDS()
    // expected_docs=0 actual>0 triggers RI warnings, ignore those here
    val vios = Evaluate(seqs, manifest, Rules.standard)
      .violations.filter($"rule_id" === Rules.RTokenRange)
    assert(vios.count() > 0)
  }

  test("R_MANIFEST: duplicate manifest keys hard-fail the source; " +
      "invalid expected_docs and inverted ranges are violations") {
    val seqs = SequenceGen.sequences(spark, 200)
    val manifest = (SequenceGen.manifest(spark, 200).collect().toSeq ++ Seq(
      ManifestEntry("cardiac", 10L, 0, 100), // duplicate key for cardiac
      ManifestEntry("badneg", -5L, 0, 100), // invalid expected_docs
      ManifestEntry("badrange", 1L, 100, 0) // min_tok > max_tok
    )).toDS()
    val res = Evaluate(seqs, manifest, Rules.standard)
    val vios = res.violations.filter($"rule_id" === Rules.RManifest).collect()
    assert(vios.exists(v => v.source == "cardiac" &&
      v.observed.contains("duplicate_manifest_rows")))
    assert(vios.exists(v => v.source == "badneg" &&
      v.observed.contains("invalid_expected_docs")))
    assert(vios.exists(v => v.source == "badrange" &&
      v.observed.contains("inverted_tok_range")))
    // abort semantics: the offending source's manifest verdict is FAIL
    val verdict = res.verdicts
      .filter($"rule_id" === Rules.RManifest && $"source" === "cardiac")
      .collect()
    assert(verdict.head.status === Status.Fail)
  }

  test("R_SNAPSHOT_TOKEN_EQUALITY: missing and mutated rows are per-row " +
      "violations; absent reference snapshot rolls up NOT_COMPLETED") {
    val ref = Seq(
      Sequence("D000000000001", Array(1, 2, 3), 3, "cardiac"),
      Sequence("D000000000002", Array(4, 5), 2, "cardiac"),
      Sequence("D000000000003", Array(7), 1, "mito")).toDS()
    val cur = Seq(
      Sequence("D000000000001", Array(1, 2, 3), 3, "cardiac"), // equal
      Sequence("D000000000002", Array(4, 6), 2, "cardiac"), // hash mismatch
      // D...3 missing_in_new; D...4 is growth (NOT a violation)
      Sequence("D000000000004", Array(9), 1, "mito")).toDS()
    val manifest = SequenceGen.manifest(spark, 100)
    val rules = Rules.withSnapshotEquality

    val res = Evaluate(cur, manifest, rules,
      refSnapshot = Some(ref))
    val vios = res.violations
      .filter($"rule_id" === Rules.RSnapshotEquality).collect()
    assert(vios.map(_.doc_id).toSet ===
      Set("D000000000002", "D000000000003"))
    assert(vios.find(_.doc_id == "D000000000002").get.observed
      .contains("mismatch"))
    assert(vios.find(_.doc_id == "D000000000003").get.observed
      .contains("missing_in_new"))

    // no reference snapshot -> the rule reports NOT_COMPLETED, never PASS
    val res2 = Evaluate(cur, manifest, rules)
    val statuses = res2.verdicts
      .filter($"rule_id" === Rules.RSnapshotEquality).collect()
    assert(statuses.nonEmpty &&
      statuses.forall(_.status == Status.NotCompleted))
  }

  test("R_STATS metrics and aggregates carry sane per-source statistics") {
    val seqs = SequenceGen.sequences(spark, 1000)
    val manifest = SequenceGen.manifest(spark, 1000)
    val res = Evaluate(seqs, manifest, Rules.standard)
    val aggs = res.fin.aggregates
    assert(aggs.length === SequenceGen.sources.size)
    aggs.foreach { a =>
      assert(a.nDocs > 0)
      assert(a.minNtok >= SequenceGen.minLen)
      assert(a.maxTokenId < SequenceGen.vocabSize)
      assert(a.nullFracDocId === 0.0)
    }
    assert(aggs.map(_.nDocs).sum === 1000L)
    // the R_STATS verdict of every source carries the same figures
    val metrics = res.verdicts.filter($"rule_id" === Rules.RStats).collect()
      .map(v => v.source -> v.metrics).toMap
    assert(metrics.keySet === SequenceGen.sources.toSet)
    aggs.foreach { a =>
      val m = metrics(a.source)
      assert(m.contains(s""""n_docs":${a.nDocs},"""), m)
      assert(m.contains(s""""min_ntok":${a.minNtok},"""), m)
      assert(m.contains(s""""max_token_id":${a.maxTokenId},"""), m)
      assert(m.contains(""""null_frac_doc_id":0.0,"""), m)
    }
  }

  test("R_TOKEN_ENTROPY flags a collapsed-token source (stuck generator) " +
      "and passes natural data; the rule round-trips through config") {
    val base = SequenceGen.sequences(spark, N).collect().toSeq
    // a looping producer: one source emits ONLY the constant token 7
    val stuck = (0 until 40).map(i =>
      Sequence(f"D0000000009$i%02d", Array.fill(32)(7), 32, "stuck_src"))
    val seqs = (base ++ stuck).toDS()
    val manifest = SequenceGen.manifest(spark, N)
    val res = Evaluate(seqs, manifest, Rules.standard)
    val flagged = res.violations
      .filter($"rule_id" === Rules.RTokenEntropy).collect()
    assert(flagged.map(_.source).toSet === Set("stuck_src"),
      flagged.mkString("\n"))
    assert(flagged.head.severity === Severity.Warning)
    assert(flagged.head.observed.contains("\"entropy_bits\":0.0"))
    // natural sources clear the floor with PASS verdicts
    res.verdicts.filter($"rule_id" === Rules.RTokenEntropy).collect()
      .foreach { v =>
        if (v.source == "stuck_src")
          assert(v.status == Status.PassWithWarnings, v)
        else assert(v.status == Status.Pass, v)
      }
    // config round-trip: same descriptor (hence same ruleset hash), and
    // an edited floor fingerprints differently
    val rt = RuleConfig.fromJson(RuleConfig.toJson(Rules.standard))
    assert(rt.entropyRules.map(_.descriptor) ===
      Rules.standard.entropyRules.map(_.descriptor))
    val edited = RuleConfig.fromJson(RuleConfig.toJson(
      RuleSet(Seq(EntropyRule(Rules.RTokenEntropy, Severity.Warning,
        "token_hist", minBits = 2.5)))))
    assert(edited.entropyRules.head.descriptor !==
      Rules.standard.entropyRules.head.descriptor)
  }
}
