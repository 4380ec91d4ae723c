package graft.state

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TableIO

/**
 * Generational state store — the engine's form of the reference's keyed
 * records plus archive copies (dynamodb.py:518-532): every micro-batch
 * persists its own GENERATION (`<gens>/batch_id=<id>`), and old
 * generations fold into a BASE (`<base>/hw=<hw>`, hw = the highest batch
 * id folded in). The streaming monitors' state (drift, embedding drift,
 * heavy hitters, near-dup index) lives here; the layout is the one
 * [[Store]] names, optionally sub-partitioned by a key-hash bucket column
 * so a consumer reads only its own key range (the on-disk form of
 * Hyper Dimension Shuffle's range-local reads, PAPERS.md).
 *
 * Crash safety without atomic multi-file commits: readers see ONLY the
 * max-hw base plus the generations strictly above its hw. [[compact]]
 * writes the new base FIRST and deletes what it superseded afterwards, so
 * a crash between the two leaves folded generations and an older base on
 * disk that no reader ever counts; the next compaction that folds
 * anything deletes them.
 * [[append]] is a dynamic partition overwrite of the generation's own
 * directories, so a replayed batch overwrites itself instead of landing
 * twice. Callers run inside foreachBatch(id): micro-batches commit
 * serially, so every generation below the running batch is final and
 * only the running one can be replayed — which is why reads and
 * compaction stop strictly below it.
 */
object Generations {

  /** One generational table: generations under `gens`, bases under
    * `base`, both sub-partitioned by `bucket` when given. */
  final case class Store(gens: String, base: String,
      bucket: Option[String] = None)

  /** Compaction folds only when at least this many live generations sit
    * below the running batch: one generation plus a base is already the
    * bounded layout, so folding it would rewrite the base for nothing. */
  val MinLiveToCompact = 2

  /** Write `df` as generation `id` (idempotent: a replay overwrites its
    * own generation). */
  def append(df: DataFrame, store: Store, id: Long): Unit =
    write(df.withColumn("batch_id", lit(id)), store.gens, "batch_id",
      store.bucket)

  /** Generation ids on disk, superseded ones included. */
  def ids(spark: SparkSession, store: Store): Seq[Long] =
    TableIO.partitionValues(spark, store.gens, "batch_id")
      .getOrElse(Nil).map(_.toLong)

  /** The live state below `below`: the max-hw base plus the generations
    * in (hw, below), each restricted by `where` (a predicate on the
    * bucket column prunes at the scan). Data and bucket columns only;
    * None when there is neither a base nor a live generation. */
  def live(spark: SparkSession, store: Store, below: Long,
      where: Option[Column] = None): Option[DataFrame] = {
    val hw = baseHw(spark, store)
    def keep(df: DataFrame, range: Column) =
      df.filter(where.fold(range)(range && _))
    val base =
      if (hw < 0) None
      else Some(keep(spark.read.parquet(store.base), col("hw") === hw)
        .drop("hw"))
    val gens =
      if (!ids(spark, store).exists(g => g > hw && g < below)) None
      else Some(keep(spark.read.parquet(store.gens),
        col("batch_id") > hw && col("batch_id") < below).drop("batch_id"))
    (base ++ gens).reduceOption(_ unionByName _)
  }

  /** Fold the base and every live generation below `below` through
    * `fold` into a new base at hw = the highest folded id, then delete
    * every generation at or below it and every older base. No-op (false)
    * with fewer than [[MinLiveToCompact]] live generations. */
  def compact(spark: SparkSession, store: Store, below: Long)(
      fold: DataFrame => DataFrame): Boolean = {
    val oldBases = TableIO.partitionValues(spark, store.base, "hw")
      .getOrElse(Nil)
    val hw = oldBases.map(_.toLong).foldLeft(-1L)(math.max)
    val gens = ids(spark, store)
    val folded = gens.filter(g => g > hw && g < below)
    if (folded.size < MinLiveToCompact) return false
    val newHw = folded.max
    val rows = fold(live(spark, store, newHw + 1).get)
    write(rows.withColumn("hw", lit(newHw)), store.base, "hw", store.bucket)
    TableIO.deletePartitions(spark, store.gens, "batch_id",
      gens.filter(_ <= newHw).map(_.toString))
    TableIO.deletePartitions(spark, store.base, "hw", oldBases)
    true
  }

  private def baseHw(spark: SparkSession, store: Store): Long =
    TableIO.partitionValues(spark, store.base, "hw")
      .map(_.map(_.toLong).max).getOrElse(-1L)

  /** Dynamic-overwrite write keyed by `key`: unbucketed state is tiny and
    * lands as one file; bucketed state is clustered so each writing task
    * owns whole buckets. */
  private def write(df: DataFrame, path: String, key: String,
      bucket: Option[String]): Unit =
    bucket.fold(df.coalesce(1))(b => df.repartition(col(b)))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(key +: bucket.toSeq: _*)
      .parquet(path)
}
