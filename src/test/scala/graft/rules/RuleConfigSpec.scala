package graft.rules

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.model.{Severity, Status}

class RuleConfigSpec extends SparkSpec {

  private val N = 1000L

  test("toJson(standard) round-trips: same rule ids/types, identical " +
      "evaluation on seeded data, and a stable hash across re-parses") {
    val json = RuleConfig.toJson(Rules.standard)
    val loaded = RuleConfig.fromJson(json)
    assert(loaded.ruleIds === Rules.standard.ruleIds)
    assert(loaded.rules.map(_.getClass.getSimpleName) ===
      Rules.standard.rules.map(_.getClass.getSimpleName))

    // the round-trip preserves the lineage hash EXACTLY (descriptors hash
    // the parse-stable rendered SQL): a compiled→config migration is a
    // no-op to checkpoints and to rule-delta classification
    assert(loaded.rulesetHash === Rules.standard.rulesetHash)
    assert(RuleConfig.fromJson(RuleConfig.toJson(loaded)).rulesetHash ===
      loaded.rulesetHash)

    // identical evaluation: seeded violations land on the same (doc, rule)
    // pairs under both the compiled-in and the round-tripped rule set
    val knobs = SequenceGen.Knobs(badNtokRate = 0.05, dupDocIdRate = 0.01)
    val seqs = SequenceGen.sequences(spark, N, knobs = knobs)
    val manifest = SequenceGen.manifest(spark, N)
    def keys(rs: RuleSet) =
      Evaluate(seqs, manifest, rs).violations
        .collect().map(v => (v.doc_id, v.rule_id)).sorted.toSeq
    assert(keys(loaded) === keys(Rules.standard))
  }

  test("a config-only row rule books violations and shifts the lineage " +
      "hash; its verdict carries the configured severity") {
    val json =
      """{"rules": [
        {"type": "row", "id": "R_NTOK_CAP", "severity": "warning",
         "valid": "n_tok <= 40",
         "observed": "to_json(struct(n_tok))"},
        {"type": "stats", "id": "R_STATS", "severity": "error"}
      ]}"""
    val rs = RuleConfig.fromJson(json)
    assert(rs.rulesetHash !== Rules.standard.rulesetHash)

    val seqs = SequenceGen.sequences(spark, N)
    val manifest = SequenceGen.manifest(spark, N)
    val res = Evaluate(seqs, manifest, rs)
    val over = seqs.collect().filter(_.n_tok > 40)
    assert(over.nonEmpty) // generator spans the cap; the rule must fire
    val got = res.violations.collect()
    assert(got.map(_.doc_id).sorted.toSeq ===
      over.map(_.doc_id).sorted.toSeq)
    assert(got.forall(v =>
      v.rule_id == "R_NTOK_CAP" && v.severity == Severity.Warning))
    // warning-severity failures roll up PASS_WITH_WARNINGS, never FAIL
    val verdicts = res.verdicts.collect()
      .filter(_.rule_id == "R_NTOK_CAP")
    assert(verdicts.nonEmpty)
    assert(verdicts.forall(v => v.status == Status.Pass ||
      v.status == Status.PassWithWarnings))
    assert(verdicts.exists(_.status == Status.PassWithWarnings))
  }

  test("alpha / expression edits change the hash (checkpoint invalidation)") {
    def drift(alpha: Double) = RuleConfig.fromJson(
      s"""{"rules": [{"type": "drift", "id": "R_D", "severity": "error",
           "kind": "ntok_hist", "test": "ks", "alpha": $alpha}]}""")
    assert(drift(0.01).rulesetHash !== drift(0.05).rulesetHash)
    def row(sql: String) = RuleConfig.fromJson(
      s"""{"rules": [{"type": "row", "id": "R_R", "severity": "error",
           "valid": "$sql", "observed": "to_json(struct(n_tok))"}]}""")
    assert(row("n_tok <= 40").rulesetHash !== row("n_tok <= 41").rulesetHash)
  }

  test("load-time validation names the offending rule: unknown type, bad " +
      "severity, missing field, bad SQL, bad drift kind/test, dup ids, " +
      "empty list, malformed JSON") {
    def err(json: String): String =
      intercept[IllegalArgumentException](RuleConfig.fromJson(json))
        .getMessage

    assert(err("""{"rules": [{"type": "nope", "id": "X",
        "severity": "error"}]}""").contains("unknown rule type"))
    assert(err("""{"rules": [{"type": "stats", "id": "X",
        "severity": "fatal"}]}""").contains("severity"))
    assert(err("""{"rules": [{"type": "unique", "id": "X",
        "severity": "error"}]}""").contains("\"key\""))
    val badSql = err("""{"rules": [{"type": "row", "id": "R_BAD",
        "severity": "error", "valid": "n_tok <==> 3",
        "observed": "n_tok"}]}""")
    assert(badSql.contains("R_BAD") && badSql.contains("valid"))
    assert(err("""{"rules": [{"type": "drift", "id": "X",
        "severity": "error", "kind": "zipf", "test": "ks"}]}""")
      .contains("kind"))
    assert(err("""{"rules": [{"type": "drift", "id": "X",
        "severity": "error", "kind": "ntok_hist", "test": "anova"}]}""")
      .contains("test"))
    assert(err("""{"rules": [
        {"type": "stats", "id": "X", "severity": "error"},
        {"type": "manifest", "id": "X", "severity": "error"}]}""")
      .contains("duplicate"))
    assert(err("""{"rules": []}""").contains("empty"))
    assert(err("""{"rules": 3}""").contains("array"))
    assert(err("""not json""").contains("not valid JSON"))
  }
}
