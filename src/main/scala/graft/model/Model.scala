package graft.model

/**
 * Core data model of the validation engine.
 *
 * The engine validates an input fact table of pre-tokenized training
 * sequences and emits violation rows + per-partition verdicts, mirroring the
 * reference pipeline's record model (reference:
 * lambdas/layers/util/util/dynamodb.py:123-380 — FILE facts, MANIFEST
 * dimension, STATUS:/DATA: result records, per-submission status roll-up).
 *
 * All schemas are fixed and declared (case class <-> Encoders.product),
 * deliberately replacing the reference's schema-by-convention DynamoDB items.
 */

/** The fact table under validation (BASELINE.json input_hint).
  * Analog of the reference's `TYPE:FILE` inventory records
  * (dynamodb.py:123-178); `source` plays the role of the
  * FLAGSHIP/SUBMISSION partition prefix (reference README.md:170-177). */
case class Sequence(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String)

/** Broadcast manifest dimension — what *should* exist per source partition.
  * Analog of `TYPE:MANIFEST` records (dynamodb.py:239-275) + manifest.txt
  * content (submission_data.py:61-86) + the expected-count reconciliation
  * input (batch_notification.py:126-186). */
case class ManifestEntry(
    source: String,
    expected_docs: Long,
    min_tok: Int,
    max_tok: Int)

/** A violation row: one failed check observation.
  * Analog of `DATA:{check}` / failing `STATUS:{check}` ResultRecords
  * (dynamodb.py:346-380). `doc_id` is null for partition-level violations
  * (e.g. drift, completeness). `observed` is a JSON payload. */
case class Violation(
    doc_id: String,
    rule_id: String,
    observed: String,
    source: String,
    severity: String)

/** Per-partition, per-rule verdict.
  * Analog of `STATUS:{check}` rows + `ManifestStatusCheckRecord`
  * (dynamodb.py:89-119); roll-up semantics = "PASS iff no non-PASS row"
  * (batch.py:191-229). */
case class Verdict(
    source: String,
    rule_id: String,
    status: String, // PASS | FAIL | PASS_WITH_WARNINGS
    severity: String, // error | warning
    metrics: String) // JSON: counts etc.

/** Checkpoint-manifest entry enabling resumable runs.
  * Analog of the RUNNING/PASS/FAIL state machine + README sentinel
  * (validation_manager.py:209-253; cleanup_manager.py:114-128;
  * batch_notification.py:206-218): a restarted run skips partitions whose
  * (snapshot_id, ruleset_hash) already completed. */
case class CheckpointEntry(
    partition: String,
    snapshot_id: String,
    ruleset_hash: String,
    verdict: String,
    metrics: String,
    completed_at: String)

/** One row of the append-only run log — the audit-trail analog of the
  * reference's Archive* tables (every write mirrored with a timestamped
  * sort_key + archive_log, dynamodb.py:518-532, 558-565): one generation of
  * verdicts per run, keyed (run_id, snapshot_id, ruleset_hash). */
case class RunLogRecord(
    run_id: String,
    snapshot_id: String,
    ruleset_hash: String,
    source: String,
    rule_id: String,
    status: String,
    severity: String,
    metrics: String,
    completed_at: String)

/** The one order on `completed_at` stamps (checkpoint entries, run-log
  * records): parsed to an Instant, never compared as text —
  * `Instant.toString` trims trailing zero digits, so "…:01Z" sorts after
  * the later "…:01.500Z" as a string. Ties break on the caller's key. */
object CompletedAt {
  def ordering[K: Ordering]: Ordering[(java.time.Instant, K)] =
    Ordering.Tuple2(Ordering.fromLessThan[java.time.Instant](_ isBefore _), Ordering[K])

  /** Each key once, oldest first by its latest stamp. */
  def byTime[K: Ordering](rows: Iterable[(K, String)]): Seq[K] =
    rows.groupMapReduce(_._1)(r => java.time.Instant.parse(r._2))(
        (a, b) => if (a.isAfter(b)) a else b)
      .toSeq.map(_.swap).sorted(ordering[K]).map(_._2)
}

/** One bin of a persisted baseline histogram used by drift rules.
  * kind in {ntok_hist, token_hist}; one histogram per (source, kind). */
case class BaselineBin(
    source: String,
    kind: String,
    bin: Int,
    count: Long,
    snapshot_id: String)

/** One embedding row — the vector-side fact table (embeddings.parquet):
  * `label` plays the per-group role `source` plays for sequences. */
case class EmbVector(
    vec_id: Long,
    embedding: Array[Float],
    label: Int)

object Status {
  val Pass = "PASS"
  val Fail = "FAIL"
  val PassWithWarnings = "PASS_WITH_WARNINGS"
  val NotCompleted = "NOT_COMPLETED"

  /** Statuses ordered best to worst. A check that could not run ranks
    * above both passes (it is no pass) and below FAIL. */
  val rank: Map[String, Int] = Map(
    Pass -> 0, PassWithWarnings -> 1, NotCompleted -> 2, Fail -> 3)
}

object Severity {
  val Error = "error"
  val Warning = "warning"
}
