package graft.jobs

import graft.SparkSpec
import graft.checkpoint.Checkpoint
import graft.model.{CheckpointEntry, Status}

/** The checkpoint lineage view on a hand-built table: two entries per
  * partition written within the same second, the later one stamped
  * "…:01.500Z" and the earlier "…:01Z" — as text the earlier stamp is the
  * larger, so every lookup must order by the parsed instant. */
class CheckpointLineageSpec extends SparkSpec {
  import spark.implicits._

  private val Early = "2026-01-01T00:00:01Z"
  private val Late = "2026-01-01T00:00:01.500Z"

  private def entry(part: String, snap: String, hash: String, at: String) =
    CheckpointEntry(part, snap, hash, Status.Pass, "{}", at)

  test("every lookup and the transfer gate pick the later of two " +
      "same-second entries") {
    val path = ValidationJob.checkpointPath(tmpDir("lineage"))
    // the later entries carry the lexically SMALLER ids too, so neither a
    // text order on the stamp nor an id tie-break can pick them by luck
    Checkpoint.appendRun(Seq(
        entry("p", "snap_b", "hash", Early),
        entry("q", "snap", "hash_b", Early)).toDS(), path, "run_early")
    Checkpoint.appendRun(Seq(
        entry("p", "snap_a", "hash", Late),
        entry("q", "snap", "hash_a", Late)).toDS(), path, "run_late")
    val lineage = Checkpoint.lineage(spark, path)
    assert(lineage.entries.size === 4)

    // append-delta (the run's hash) and the transfer gate (any hash)
    assert(lineage.latest("p").snapshotId === "snap_a" &&
      lineage.latest("p").rulesetHash === "hash")
    assert(lineage.latest.map { case (p, e) => p -> e.snapshotId } ===
      Map("p" -> "snap_a", "q" -> "snap"))
    // rule-delta: the same data, last validated under the later hash
    assert(lineage.latest("q").rulesetHash === "hash_a")
    // resume: the latest entry carries the hash and the current snapshot
    assert(Checkpoint.resumable(lineage, "hash",
      Map("p" -> "snap_a", "q" -> "snap")) === Set("p"))
    assert(Checkpoint.resumable(lineage, "hash_a",
      Map("p" -> "snap_a", "q" -> "snap")) === Set("q"))
    // an older entry for the snapshot or the hash does not count
    assert(Checkpoint.completedPartitionsBySnapshot(
      spark, path, "hash", Map("p" -> "snap_b")) === Set.empty)
    assert(Checkpoint.resumable(lineage, "hash_b",
      Map("p" -> "snap_a", "q" -> "snap")) === Set.empty)
    assert(Checkpoint.completedPartitionsBySnapshot(
      spark, path, "hash", Map("q" -> "snap")) === Set.empty)

    val gate = TransferJob.lineageBlocks(lineage,
      Map("p" -> "snap_a", "q" -> "snap", "r" -> "snap"))
    assert(gate("p") === None)
    assert(gate("q") === None)
    assert(gate("r") === Some("NO_LINEAGE"))
    assert(TransferJob.lineageBlocks(lineage, Map("p" -> "snap_b"))("p") ===
      Some("STALE_LINEAGE"))
  }

  test("a missing checkpoint is an empty view; the gate then never reads " +
      "the current snapshot ids") {
    val lineage = Checkpoint.lineage(spark, s"${tmpDir("lineage0")}/none")
    assert(lineage.entries.isEmpty)
    assert(Checkpoint.resumable(lineage, "hash", _ => "snap").isEmpty)
    val gate = TransferJob.lineageBlocks(lineage,
      throw new AssertionError("current snapshot ids read"))
    assert(gate("p") === None)
  }
}
