package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.model.Severity

/**
 * Declarative rule specifications — the engine's replacement for the
 * reference's imperative per-check Python (reference:
 * lambdas/layers/util/util/submission_data.py:89-250 and
 * lambdas/functions/manifest_processor/manifest_processor.py:240-454).
 *
 * Row rules compile directly to Catalyst expressions (codegen'd, evaluated
 * in ONE scan of the fact table, no UDFs); table rules are evaluated by
 * dedicated distributed passes in [[RuleEngine]].
 */
sealed trait RuleSpec {
  def id: String
  def severity: String

  /** Stable description used for rule-set hashing (checkpoint lineage). */
  def descriptor: String
}

/** Per-row predicate; a violation is emitted when `valid` is false.
  * `observed` is the evidence payload (stringified). Rules may reference
  * broadcast-manifest columns `m_expected_docs`, `m_min_tok`, `m_max_tok`
  * (the engine left-joins the manifest dimension before evaluation). */
final case class RowRule(
    id: String,
    severity: String,
    valid: Column,
    observed: Column)
    extends RuleSpec {
  /** Hashes the RENDERED SQL of both expressions (not Column.toString):
    * the rendering is parse-stable, so a rule round-tripped through a
    * [[RuleConfig]] JSON export keeps its fingerprint — and the evidence
    * expression is part of lineage too (changing what a violation reports
    * changes what the persisted tables mean). */
  def descriptor: String =
    s"$id|$severity|${RuleConfig.sqlOf(valid)}|${RuleConfig.sqlOf(observed)}"
}

/** Key-uniqueness rule (analog of checksum/etag uniqueness, reference
  * submission_data.py:98-110 + manifest_processor.py:283-305). Evidence
  * lists ALL members of each duplicate group, as the reference reports all
  * duplicate locations. */
final case class UniqueRule(id: String, severity: String, key: String)
    extends RuleSpec {
  def descriptor: String = s"$id|$severity|unique($key)"
}

/** CROSS-RUN key uniqueness: new-scope keys checked against partitions
  * validated by PRIOR runs, via their persisted Bloom sketches — the
  * reference's duplicate gate is store-GLOBAL (a per-key DynamoDB ETag
  * lookup, manifest_processor.py:283-305 / dynamodb.py:22-40), while
  * [[UniqueRule]] evaluates within one run's scope. Sketch routing keeps
  * the check exact: bloom positives are confirmed against a
  * partition-pruned narrow scan of history before anything is reported. */
final case class CrossRunUniqueRule(id: String, severity: String, key: String)
    extends RuleSpec {
  def descriptor: String = s"$id|$severity|cross_run_unique($key)"
}

/** Referential integrity of `col` against the broadcast manifest dimension:
  * values present in the data but absent from the manifest are
  * warning-severity (reference treats extra files as warn-only,
  * submission_data.py:189-207); manifest entries with expected_docs > actual
  * are error-severity (declared-but-missing is a hard FAIL,
  * submission_data.py:133-137). */
final case class RefIntegrityRule(id: String, severity: String)
    extends RuleSpec {
  def descriptor: String = s"$id|$severity|ref_integrity(source)"
}

/** Per-partition column statistics (min/max/null-fraction/approx-distinct);
  * metrics-only — contributes verdict metrics, fails only if the partition
  * is empty. Analog of the summary reports
  * (scripts/reports/bucket_summary/main.py:27-95). */
final case class StatsRule(id: String, severity: String) extends RuleSpec {
  def descriptor: String = s"$id|$severity|stats"
}

/** Manifest-side integrity (analog of the reference's pre-flight manifest
  * validation that hard-fails a submission before touching any file,
  * submission_data.py:95-119): duplicate manifest keys, invalid
  * expected_docs, inverted token ranges. Driver-side over the collected
  * manifest dimension. */
final case class ManifestRule(id: String, severity: String)
    extends RuleSpec {
  def descriptor: String = s"$id|$severity|manifest_integrity"
}

/** Storage-manifest ROW-COUNT reconciliation: each validated partition's
  * scanned row count must equal the table manifest's metadata count
  * ([[graft.sources.ManifestTable]] per-file `row_count` sums) — the
  * scan-vs-metadata integrity gate Iceberg users get for free, catching
  * files truncated/corrupted/added behind the manifest's back between
  * ingest-commit and validation (the file-level form is
  * `verifyAgainstListing`; this is the ROW-level form, and it rides
  * counts both sides already computed). NOT_COMPLETED when the table has
  * no manifest or a partition's files carry no counts — metadata the
  * engine doesn't have degrades to "could not check", never to PASS. */
final case class StorageCountRule(id: String, severity: String)
    extends RuleSpec {
  def descriptor: String = s"$id|$severity|storage_rowcount(manifest)"
}

/** Row-level cross-snapshot token-array equality (J10; the BASELINE
  * per-row invariant; reference move_to_new_pipeline_check.py:84-147):
  * every doc of the reference snapshot must exist in the current snapshot
  * with identical token hash and length. Requires a reference snapshot
  * input; rolls up NOT_COMPLETED when none is configured. */
final case class SnapshotEqualityRule(id: String, severity: String)
    extends RuleSpec {
  def descriptor: String = s"$id|$severity|snapshot_token_equality(doc_id)"
}

/** Token-distribution ENTROPY floor — the stuck-generator / template-spam
  * gate: a source whose binned token histogram collapses toward one value
  * (a looping producer, a constant-padding bug) fails this long before
  * any baseline comparison could see it, and it needs NO baseline at all.
  * Shannon entropy in bits over the histogram the stats pass ALREADY
  * collects (zero extra scan work); kind in {ntok_hist, token_hist}.
  * Deterministic: the entropy fold runs in ascending bin order. */
final case class EntropyRule(
    id: String,
    severity: String,
    kind: String = "token_hist",
    minBits: Double = 1.0)
    extends RuleSpec {
  def descriptor: String = s"$id|$severity|entropy($kind,$minBits)"
}

/** Two-sample distribution drift vs a persisted baseline histogram.
  * kind in {ntok_hist, token_hist}; test in {ks, chi2}. */
final case class DriftRule(
    id: String,
    severity: String,
    kind: String,
    test: String,
    alpha: Double = 0.01)
    extends RuleSpec {
  def descriptor: String = s"$id|$severity|drift($kind,$test,$alpha)"
}

final case class RuleSet(rules: Seq[RuleSpec]) {
  def rowRules: Seq[RowRule] = rules.collect { case r: RowRule => r }
  def uniqueRules: Seq[UniqueRule] = rules.collect { case r: UniqueRule => r }
  def crossRunRules: Seq[CrossRunUniqueRule] =
    rules.collect { case r: CrossRunUniqueRule => r }
  def refRules: Seq[RefIntegrityRule] = rules.collect {
    case r: RefIntegrityRule => r
  }
  def statsRules: Seq[StatsRule] = rules.collect { case r: StatsRule => r }
  def driftRules: Seq[DriftRule] = rules.collect { case r: DriftRule => r }
  def entropyRules: Seq[EntropyRule] =
    rules.collect { case r: EntropyRule => r }
  def manifestRules: Seq[ManifestRule] =
    rules.collect { case r: ManifestRule => r }
  def snapshotRules: Seq[SnapshotEqualityRule] =
    rules.collect { case r: SnapshotEqualityRule => r }
  def storageCountRules: Seq[StorageCountRule] =
    rules.collect { case r: StorageCountRule => r }

  def ruleIds: Seq[String] = rules.map(_.id)

  /** Stable content hash of the rule set — part of checkpoint lineage:
    * changing any rule invalidates prior checkpoints (mirrors the
    * reference's re-validation reset, validation_manager.py:224-253). */
  def rulesetHash: String =
    graft.sources.TableIO.md5Hex(rules.map(_.descriptor).sorted.mkString("\n"))
}

object Rules {

  val RSchema = "R_SCHEMA"
  val RConsistentNtok = "R_CONSISTENT_NTOK"
  val RTokenRange = "R_TOKEN_RANGE"
  val RUniqueDocId = "R_UNIQUE_DOC_ID"
  val RCrossRunUnique = "R_CROSS_RUN_UNIQUE"
  val RRefIntegrity = "R_REF_INTEGRITY_SOURCE"
  val RStats = "R_STATS"
  val RDriftNtokKs = "R_DRIFT_NTOK_KS"
  val RDriftTokenChi2 = "R_DRIFT_TOKENHIST_CHI2"
  val RDriftNtokPsi = "R_DRIFT_NTOK_PSI"
  val RTokenEntropy = "R_TOKEN_ENTROPY"
  val RManifest = "R_MANIFEST"
  val RSnapshotEquality = "R_SNAPSHOT_TOKEN_EQUALITY"
  val RStorageCount = "R_STORAGE_ROWCOUNT"

  /** doc_id format — analog of the study-id regex gate
    * `^A[0-9]{7,8}$` (reference submission_data.py:18-22, 210-229). */
  val docIdPattern = "^D[0-9]{12}$"

  /** The standard rule set matching SURVEY.md §7.1. */
  def standard: RuleSet = RuleSet(Seq(
    RowRule(
      RSchema,
      Severity.Error,
      valid = col("doc_id").isNotNull && col("doc_id").rlike(docIdPattern) &&
        col("tokens").isNotNull,
      observed = to_json(struct(col("doc_id").as("doc_id")))),
    RowRule(
      RConsistentNtok,
      Severity.Error,
      valid = col("n_tok") === size(col("tokens")),
      observed = to_json(struct(
        col("n_tok").as("declared"),
        size(col("tokens")).as("actual")))),
    RowRule(
      RTokenRange,
      Severity.Error,
      // manifest m_min_tok/m_max_tok; vacuously valid when source unknown
      // (that case is the RI rule's job) or the array is empty.
      valid = col("m_min_tok").isNull || size(col("tokens")) === 0 ||
        (array_min(col("tokens")) >= col("m_min_tok") &&
          array_max(col("tokens")) <= col("m_max_tok")),
      observed = to_json(struct(
        array_min(col("tokens")).as("min_tok"),
        array_max(col("tokens")).as("max_tok")))),
    UniqueRule(RUniqueDocId, Severity.Error, "doc_id"),
    CrossRunUniqueRule(RCrossRunUnique, Severity.Error, "doc_id"),
    RefIntegrityRule(RRefIntegrity, Severity.Error),
    ManifestRule(RManifest, Severity.Error),
    StatsRule(RStats, Severity.Error),
    DriftRule(RDriftNtokKs, Severity.Error, "ntok_hist", "ks"),
    DriftRule(RDriftTokenChi2, Severity.Error, "token_hist", "chi2"),
    // PSI rides the SAME per-source ntok histogram the KS rule already
    // collects (zero extra scan work); alpha here is the PSI action
    // threshold itself (0.25 = "act"), warning severity — the
    // industry-standard second opinion next to the significance-gated KS.
    DriftRule(RDriftNtokPsi, Severity.Warning, "ntok_hist", "psi",
      alpha = 0.25),
    // entropy floor on the SAME collected token histogram (zero extra
    // scan work, no baseline needed): 1 bit flags true collapse (a
    // looping/constant producer) while natural corpora sit far above
    EntropyRule(RTokenEntropy, Severity.Warning, "token_hist",
      minBits = 1.0)
  ))

  /** Standard rules + the cross-snapshot token-equality invariant (needs a
    * reference snapshot input — ValidationJob.Config.refSnapshotPath). */
  def withSnapshotEquality: RuleSet = RuleSet(standard.rules :+
    SnapshotEqualityRule(RSnapshotEquality, Severity.Error))

  /** `base` + the storage-manifest row-count reconciliation (sensible
    * only on MANIFESTED input tables — the CLI opts in automatically when
    * the input carries a manifest; elsewhere the rule would sit at
    * NOT_COMPLETED forever). */
  def withStorageCount(base: RuleSet = standard): RuleSet =
    RuleSet(base.rules :+ StorageCountRule(RStorageCount, Severity.Error))

  /** Row-rules-only subset (no manifest / baseline needed). */
  def rowOnly: RuleSet = RuleSet(standard.rules.collect {
    case r: RowRule if r.id != RTokenRange => r
  })
}
