package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Row-level cross-snapshot equality (J10) — the per-row invariant named in
 * BASELINE.json ("per-row invariant vs the reference: token-array
 * equality"). Generalizes the reference's old-store⋈new-store check
 * (reference: scripts/reports/move_to_new_pipeline/
 * move_to_new_pipeline_check.py:84-147 — join on rewritten key, flag
 * per-row etag/size mismatch, missing row ⇒ violation) to any keyed table
 * with content-hash and length columns.
 *
 * Scale shape: ONE full-outer sort-merge join on the key; the content
 * hash/length are computed in the scan projection of each side, so the
 * shuffle payload per row is (key, hash, len) — not the token arrays.
 */
object SnapshotDiff {

  val StatusEqual = "equal"
  val StatusMissingInNew = "missing_in_new"
  val StatusMissingInOld = "missing_in_old"
  val StatusMismatch = "mismatch"

  /** Diff two snapshots on `key`, comparing precomputed `hashExpr` and
    * `lenExpr` per side. Returns one row per NON-EQUAL key:
    * (key, status, old_hash, new_hash, old_len, new_len). */
  def diff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      key: String,
      hashExpr: Column,
      lenExpr: Column): DataFrame = {
    val o = oldSnap.select(
      col(key).as("k"),
      hashExpr.cast("long").as("old_hash"),
      lenExpr.cast("long").as("old_len"))
    val n = newSnap.select(
      col(key).as("nk"),
      hashExpr.cast("long").as("new_hash"),
      lenExpr.cast("long").as("new_len"))

    o.join(n, col("k") === col("nk"), "full_outer")
      .select(
        coalesce(col("k"), col("nk")).as(key),
        when(col("nk").isNull, lit(StatusMissingInNew))
          .when(col("k").isNull, lit(StatusMissingInOld))
          .when(col("old_hash") =!= col("new_hash") ||
            col("old_len") =!= col("new_len"), lit(StatusMismatch))
          .otherwise(lit(StatusEqual)).as("status"),
        col("old_hash"), col("new_hash"), col("old_len"), col("new_len"))
      .filter(col("status") =!= StatusEqual)
  }

  /** Portable content hash of an int-array column: ordered fold
    * (h*31 + elem) mod 1e9+7 — the array analog of
    * [[graft.functions.TextFunctions.polyHash]], reproduced exactly by the
    * oracle engine's list_reduce. */
  def tokenArrayHash(tokens: Column): Column =
    aggregate(
      tokens,
      lit(0L),
      (h, t) => pmod(h * lit(31L) + t.cast("long"),
        lit(graft.functions.TextFunctions.HashMod)))
}
