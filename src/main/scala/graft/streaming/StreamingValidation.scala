package graft.streaming

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.model.{ManifestEntry, Sequence, Violation}
import graft.rules.{RuleEngine, RuleSet, Rules}
import graft.sources.TableIO
import graft.state.Generations

/**
 * Structured-Streaming ingestion path — the Spark-native form of the
 * reference's event-driven record-at-a-time pipeline (reference:
 * s3_event_router.py:80-135 routing, s3_event_recorder.py:80-179
 * incremental upsert; SURVEY.md §2.8). New sequence files landing under a
 * directory are validated incrementally; violations append to a streaming
 * sink. Batch and streaming share the SAME rule compilation: row rules are
 * stateless expressions, so they apply unchanged to a streaming Dataset;
 * cross-row rules (uniqueness, drift) remain batch/foreachBatch concerns —
 * exactly the reference's split between per-file checks and
 * submission-level roll-ups.
 *
 * Every foreachBatch sink starts through [[startBatches]]; the three
 * counting monitors (scalar drift, embedding drift, heavy hitters) share
 * one bounded-state micro-batch protocol, [[startCountMonitor]].
 */
object StreamingValidation {

  /** Open the landing directory as a stream of sequences. */
  def readSequenceStream(spark: SparkSession, inputDir: String,
      maxFilesPerTrigger: Int = 16): Dataset[Sequence] = {
    import spark.implicits._
    spark.readStream
      .schema(Encoders.product[Sequence].schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .as[Sequence]
  }

  /** Row-rule violations as a streaming Dataset (stateless — append mode). */
  def violationStream(
      seqs: Dataset[Sequence],
      manifest: Dataset[ManifestEntry],
      rules: RuleSet = Rules.standard): Dataset[Violation] = {
    val enriched = RuleEngine.withManifest(seqs.toDF(), manifest)
    RuleEngine.rowViolations(enriched, rules.rowRules)
  }

  /** Start the incremental validation query: violations append to
    * `outDir/violations_stream` as parquet with a checkpoint (exactly-once
    * file-sink semantics replace the reference's delete-then-rewrite
    * idempotence). */
  def start(
      spark: SparkSession,
      inputDir: String,
      manifest: Dataset[ManifestEntry],
      outDir: String,
      rules: RuleSet = Rules.standard): StreamingQuery = {
    val vio = violationStream(
      readSequenceStream(spark, inputDir), manifest, rules)
    vio.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", s"$outDir/violations_stream")
      .option("checkpointLocation", s"$outDir/stream_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Start `stream` as an AvailableNow query that runs `body` on every
    * micro-batch with its batch id, checkpointed at `checkpointDir` —
    * the one start of every foreachBatch sink in this file. */
  private def startBatches[T](stream: Dataset[T], checkpointDir: String)(
      body: (Dataset[T], Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(body)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Late/replacement-data ingestion (VERDICT r02 #4; the reference purges
    * stale STATUS/DATA rows before ingesting a re-uploaded result set,
    * s3_event_recorder.py:184-244, and resets state on re-validation,
    * validation_manager.py:224-253): every micro-batch's violations
    * REPLACE the previous generation for each source present in that batch
    * — delete-then-dynamic-overwrite via foreachBatch, the exact batch-path
    * idempotent refresh applied incrementally. A re-uploaded (corrected)
    * partition therefore clears its old violations instead of appending a
    * second copy; sources absent from the batch are untouched. */
  def startRevalidating(
      spark: SparkSession,
      inputDir: String,
      manifest: Dataset[ManifestEntry],
      outDir: String,
      rules: RuleSet = Rules.standard): StreamingQuery =
    startBatches(readSequenceStream(spark, inputDir),
        s"$outDir/stream_checkpoint") { (batch, _) =>
      import batch.sparkSession.implicits._
      val vio = violationStream(batch, manifest, rules)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the batch's sources get a fresh violation generation — even a
        // now-clean source (zero new rows) must lose its stale partition
        val sources = batch.select(col("source")).distinct()
          .as[String].collect().toSeq
        TableIO.deletePartitions(
          spark, s"$outDir/violations_stream", "source", sources)
        TableIO.writePartitioned(vio.toDF(), s"$outDir/violations_stream")
      } finally vio.unpersist(blocking = false)
    }

  /** The ingestion STEADY STATE end-to-end: the file stream detects
    * arrivals (checkpointed, so a restart never re-triggers for files it
    * already processed) and each micro-batch runs the FULL rules-complete
    * [[graft.jobs.ValidationJob]] in `--append-delta` mode, scoped to the
    * sources the batch's files landed in. The stream is the ORCHESTRATOR;
    * what to scan is decided by the job's own per-partition lineage
    * (partition-state row + sketch), so:
    *  - a grown partition pays only its NEW files (stats/drift/RI fold
    *    the persisted mergeable state — byte-identical to a full rescan);
    *  - a rewritten partition falls back to a full rescan of itself;
    *  - a replayed micro-batch (crash between job and stream commit)
    *    re-runs against an unchanged snapshot and resumes to a no-op.
    * Scale: the per-batch cost is O(new files + |sources| driver rules),
    * never the table; concurrent disjoint submissions still work because
    * the job locks per partition. */
  def startDeltaValidating(
      spark: SparkSession,
      inputDir: String,
      manifestDir: String,
      outDir: String,
      baselineDir: Option[String] = None,
      rules: RuleSet = Rules.standard,
      onReport: graft.jobs.ValidationJob.RunReport => Unit = _ => (),
      maxFilesPerTrigger: Int = 1024)
      : StreamingQuery =
    startBatches(readSequenceStream(spark, inputDir, maxFilesPerTrigger),
        s"$outDir/delta_stream_checkpoint") { (batch, _) =>
      import batch.sparkSession.implicits._
      val sources = batch.select(col("source")).distinct()
        .as[String].collect().toSeq.sorted
      if (sources.nonEmpty)
        onReport(graft.jobs.ValidationJob.run(spark,
          graft.jobs.ValidationJob.Config(
            inputDir, manifestDir, outDir,
            baselinePath = baselineDir,
            rules = rules,
            partitions = Some(sources),
            appendDelta = true)))
    }

  /** EXACTLY-ONCE streaming ingestion into a MANIFESTED table — the
    * write side of the ingestion steady state ([[startDeltaValidating]]
    * is the read side; reference analog: the event-driven store writes
    * in s3_event_recorder.py:80-179, which delete-then-rewrite for
    * idempotence). Each micro-batch lands in `table` through
    * [[graft.sources.ManifestTable.commitAppend]], keyed by this
    * checkpoint's batch id, so the parquet append, the manifest
    * generation, and the replay ledger commit together: a crashed and
    * replayed micro-batch either no-ops (its key is already on the
    * latest generation) or sweeps its own unmanifested debris before
    * re-writing — the table never holds a double copy, and manifest
    * readers (snapshot lineage, append-delta validation, zone-map
    * pruning) always see a consistent inventory. `statsCols` opts into
    * per-file zone maps AT INGEST TIME, while the batch's rows are
    * already hot, so later range scans prune files with no extra pass. */
  def startManifestedIngest(
      spark: SparkSession,
      inputDir: String,
      table: String,
      checkpointDir: String,
      partitionCol: String = "source",
      statsCols: Seq[String] = Nil,
      maxFilesPerTrigger: Int = 1024): StreamingQuery =
    startBatches(readSequenceStream(spark, inputDir, maxFilesPerTrigger),
        checkpointDir) { (batch, batchId) =>
      graft.sources.ManifestTable.commitAppend(
        batch.sparkSession, table, batch.toDF(),
        key = s"stream-$batchId", partitionCol = partitionCol,
        statsCols = statsCols)
    }

  /** Streaming SPLIT ingest — the streaming form of the batch
    * QuarantineJob's fix-forward contract: every micro-batch is gated by
    * the row rules BEFORE it lands; clean rows commit to the manifested
    * main table (exactly-once via [[graft.sources.ManifestTable
    * .commitAppend]]'s replay key), rows named by any row-rule violation
    * divert to a quarantine table carrying the sorted rule ids that
    * condemned them. The main table therefore NEVER holds a row a row
    * rule rejects — the "validate at the door" ingestion posture, vs
    * [[start]]'s record-violations-but-land-everything posture (both are
    * real deployments; cross-row/partition rules remain batch concerns
    * per the header note).
    *
    * Idempotence: a replayed micro-batch no-ops on the main table (its
    * commit key is already latest) and OVERWRITES its own batch_id
    * generation of the quarantine table (dynamic partition overwrite) —
    * no double-landing on either side. Per-batch cost: one row-rule
    * projection over the batch + one batch-volume anti/semi join on
    * doc_id; nothing keyed by history. */
  def startSplitIngest(
      spark: SparkSession,
      inputDir: String,
      manifest: Dataset[ManifestEntry],
      table: String,
      quarantineDir: String,
      checkpointDir: String,
      rules: RuleSet = Rules.standard,
      partitionCol: String = "source",
      maxFilesPerTrigger: Int = 1024): StreamingQuery =
    startBatches(readSequenceStream(spark, inputDir, maxFilesPerTrigger),
        checkpointDir) { (batch, batchId) =>
      val b = batch.persist()
      try {
        val condemned = violationStream(b, manifest, rules).toDF()
          .groupBy(col("doc_id").as("condemned_id"))
          .agg(concat_ws(",", sort_array(collect_set(col("rule_id"))))
            .as("rule_ids"))
        // null-safe key: a null doc_id a row rule rejects matches its
        // condemned row (an equi-join would drop it from both sides)
        val byId = col("doc_id") <=> col("condemned_id")
        val quarantined = b.toDF().join(condemned, byId)
          .drop("condemned_id")
          .withColumn("batch_id", lit(batchId))
        TableIO.writePartitioned(
          quarantined, quarantineDir, partitionCol = "batch_id",
          recluster = false)
        val clean = b.toDF().join(condemned, byId, "left_anti")
        graft.sources.ManifestTable.commitAppend(
          batch.sparkSession, table, clean, key = s"split-$batchId",
          partitionCol = partitionCol)
      } finally { b.unpersist(); () }
    }

  /** Streaming exact dedup, first-seen wins — the reference's
    * duplicate-etag gate (manifest_processor.py:283-305) applied
    * incrementally: a key seen in ANY earlier micro-batch is dropped,
    * only a key's first occurrence is emitted. Explicit keyed state via
    * flatMapGroupsWithState (one boolean per key — the custom-state
    * incremental answer to the batch path's two-pass uniqueness). State
    * grows with distinct keys; `stateTtlMs` bounds it EXPLICITLY — a
    * key idle longer than the TTL drops its seen-bit and a later
    * duplicate is re-admitted (the unavoidable tradeoff of bounded
    * state; the default None keeps exact semantics and unbounded state,
    * because silently re-admitting duplicates must be a deliberate
    * deployment choice, not a hidden default).
    * The within-batch survivor rule (arg-min tie-break below) is the same
    * rule the batch query `dedup_first_seen` cross-verifies against a
    * DuckDB oracle (DedupQueries) — streaming and batch pick the SAME
    * winner for any duplicate set that arrives in one batch. */
  /** The dedup state-transition function, factored out so the TTL logic
    * is unit-testable against `TestGroupState` (driving processing-time
    * timeouts through a live MemoryStream query is wall-clock-dependent
    * and can spin `processAllAvailable`). */
  private[streaming] def dedupStateFn(stateTtlMs: Option[Long])(
      key: String, it: Iterator[Sequence],
      state: GroupState[Boolean]): Iterator[Sequence] =
    if (state.hasTimedOut) {
      // idle past the TTL: drop the seen-bit (bounded state)
      state.remove()
      Iterator.empty
    } else if (state.exists) {
      // refresh the TTL on every sighting: a key only expires after
      // a full TTL of SILENCE, not TTL after first-seen
      stateTtlMs.foreach(state.setTimeoutDuration)
      Iterator.empty
    } else {
      state.update(true)
      stateTtlMs.foreach(state.setTimeoutDuration)
      // duplicates WITHIN one micro-batch have no defined arrival
      // order after the shuffle — pick the (source, n_tok)-least
      // occurrence so the survivor is deterministic across runs
      // and partitionings, not whichever row the iterator yields
      Iterator.single(it.minBy(s => (s.source, s.n_tok)))
    }

  def dedupStream(
      seqs: Dataset[Sequence],
      stateTtlMs: Option[Long] = None): Dataset[Sequence] = {
    import seqs.sparkSession.implicits._
    val timeoutConf = stateTtlMs match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout()
      case None => GroupStateTimeout.NoTimeout()
    }
    seqs
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), timeoutConf)(dedupStateFn(stateTtlMs))
  }

  /** One emitted sample row: `gen` is the per-source generation counter —
    * a reader keeps each source's max-gen rows (memory/update sinks append
    * every re-emission, so the generation marks which one is current). */
  final case class SampleEntry(
      source: String, doc_id: String, fp: Long, gen: Long)

  /** Content fingerprint of a token payload: the same polynomial fold the
    * text queries use ((a·31 + x) mod 1e9+7), over token ids — so sample
    * membership is a pure function of CONTENT. */
  private[streaming] def tokenFp(tokens: Array[Int]): Long =
    tokens.foldLeft(0L)((a, b) => (a * 31 + b) % 1000000007L)

  /** State transition for the streaming k-sample (factored out for
    * direct unit-testing like dedupStateFn). State per source: the
    * current sample (≤ k (fp, doc_id) pairs, sorted) + its generation. */
  private[streaming] def sampleStateFn(k: Int)(
      source: String, it: Iterator[Sequence],
      state: GroupState[(Seq[(Long, String)], Long)])
      : Iterator[SampleEntry] = {
    val (cur, gen) =
      if (state.exists) state.get else (Seq.empty[(Long, String)], 0L)
    val merged = (cur ++ it.map(s => (tokenFp(s.tokens), s.doc_id)))
      .distinct.sorted.take(k)
    if (merged == cur) Iterator.empty
    else {
      state.update((merged, gen + 1))
      merged.iterator.map { case (fp, id) =>
        SampleEntry(source, id, fp, gen + 1)
      }
    }
  }

  /** Streaming per-source deterministic k-sample — the streaming form of
    * the batch `sample_stratified` selection rule: per source, the k
    * documents with the SMALLEST content fingerprints seen so far win
    * (ties by doc_id). State is EXACTLY bounded at k entries per source,
    * and membership is a pure function of the content SET — not arrival
    * order, batch boundaries, partitioning, or parallelism — so after
    * any prefix of the stream the current sample equals the batch top-k
    * over the same rows (the convergence property the spec pins). A
    * changed source re-emits its FULL current sample under a bumped
    * generation; unchanged sources emit nothing that micro-batch. */
  def sampleStream(seqs: Dataset[Sequence], k: Int): Dataset[SampleEntry] = {
    import seqs.sparkSession.implicits._
    seqs
      .groupByKey(_.source)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(sampleStateFn(k))
  }

  /** One ingestion event for the stateful sessionizer. */
  final case class SessionEvent(
      source: String, event_time: java.sql.Timestamp, is_violation: Boolean)

  /** Open-session state kept per source between micro-batches. */
  final case class SessionState(
      nEvents: Long, nViolations: Long, startMs: Long, lastMs: Long)

  /** A closed submission session. */
  final case class SessionSummary(
      source: String, n_events: Long, n_violations: Long,
      start_ms: Long, end_ms: Long)

  /** Stream-stream INTERVAL join (temporal attribution, the streaming
    * form of the batch as-of/interval family `j12_asof_join` /
    * `j13_interval_join`): each purchase event joins every click by the
    * same user at most `maxLagSec` seconds older. Both sides carry
    * watermarks, and the join's time-range condition lets Spark's
    * symmetric hash join EVICT state: a click older than
    * watermark − maxLag can never match a future purchase and is dropped,
    * so per-key state is bounded by the lag window — the property that
    * makes this runnable forever at event-stream scale. Inner join:
    * unattributed purchases are a batch concern (`j12`'s outer form).
    *
    * Schema contract: clicks(click_user, click_id, click_ts),
    * purchases(purchase_user, purchase_id, purchase_ts, ...). */
  def attributeStream(
      clicks: DataFrame,
      purchases: DataFrame,
      maxLagSec: Long,
      watermarkDelay: String = "30 seconds"): DataFrame = {
    val c = clicks.withWatermark("click_ts", watermarkDelay)
    val p = purchases.withWatermark("purchase_ts", watermarkDelay)
    p.join(c, expr(
      s"""click_user = purchase_user AND
          click_ts <= purchase_ts AND
          click_ts >= purchase_ts - INTERVAL $maxLagSec SECONDS"""))
  }

  /** Watermark-BOUNDED streaming exact dedup — the streaming operator to
    * run on unbounded event streams where `dedupStream`'s
    * first-seen-wins-forever state (all keys ever seen) is not
    * acceptable: `dropDuplicatesWithinWatermark` keeps the first row per
    * key among arrivals inside the watermark window and EVICTS a key's
    * state once the watermark passes its event time, so state is bounded
    * by arrival rate × delay, never by stream lifetime. The trade: a key
    * recurring after a quiet period longer than `delay` is emitted
    * again (exactly the contract of its Spark built-in). Batch analog:
    * `dedup_exact` / `dedup_first_seen`. */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** CUSTOM-STATE streaming operator (flatMapGroupsWithState with
    * event-time timeout): per-source activity sessions — consecutive
    * events within `gapMs` belong to one session; a session closes (and
    * its summary is emitted) when the watermark passes its end + gap.
    * This is the Spark-native form of the reference's per-submission
    * state machine: a submission's RUNNING state resolves when its result
    * events go quiet and the roll-up fires
    * (batch_notification.py:62-124 — completeness check runs when the
    * result stream for a submission stops arriving). */
  def sessionSummaries(
      events: Dataset[SessionEvent],
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "1 hour"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._

    def close(source: String, s: SessionState) =
      SessionSummary(source, s.nEvents, s.nViolations, s.startMs, s.lastMs)

    events
      .withWatermark("event_time", watermark)
      .groupByKey(_.source)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (source: String, it: Iterator[SessionEvent],
            state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(source, s))
          } else {
            // order within the batch; state carries order across batches
            val evs = it.toArray.sortBy(_.event_time.getTime)
            var closed = List.empty[SessionSummary]
            var cur = state.getOption
            evs.foreach { e =>
              val t = e.event_time.getTime
              val v = if (e.is_violation) 1L else 0L
              cur = cur match {
                case Some(s) if t - s.lastMs <= gapMs =>
                  Some(SessionState(s.nEvents + 1, s.nViolations + v,
                    s.startMs, math.max(s.lastMs, t)))
                case Some(s) => // gap exceeded inside the batch
                  closed ::= close(source, s)
                  Some(SessionState(1L, v, t, t))
                case None =>
                  Some(SessionState(1L, v, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.reverseIterator
          }
        })
  }

  /** One drift decision emitted per (micro-batch, source). */
  final case class DriftAlert(
      batch_id: Long, source: String, statistic: Double,
      threshold: Double, rejected: Boolean, n: Long, m: Long)

  /** Per-query-run instrumentation for the counting monitors — lets the
    * spec (and an operator) assert BOUNDED per-batch behavior: how many
    * times the cumulative counts were rebuilt from disk (≤ 1 per query
    * run), how many persisted state rows those rebuilds read, and how
    * many compactions ran. */
  final class DriftMonitorStats {
    val rebuilds = new java.util.concurrent.atomic.AtomicLong
    val stateRowsRead = new java.util.concurrent.atomic.AtomicLong
    val compactions = new java.util.concurrent.atomic.AtomicLong
  }

  private def compactDue(batchId: Long, compactEvery: Int): Boolean =
    compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0

  /** A counting monitor's cumulative counts: source → bin → count. */
  private type Counts =
    scala.collection.Map[String, scala.collection.Map[Int, Long]]

  /** THE micro-batch protocol of the three counting monitors
    * ([[startDriftMonitor]], [[startEmbDriftMonitor]],
    * [[startHeavyHitterMonitor]]). A monitor supplies only its batch
    * aggregate — (source, bin, count) rows plus a batch-local value —
    * its decision rows from the cumulative counts, and its output table
    * `outDir/<out>`. Each micro-batch:
    *   1. aggregates itself (`aggregate`) and persists those rows as its
    *      OWN batch_id generation of `<ns>state`;
    *   2. on the first batch of a query run only, rebuilds the
    *      cumulative counts from the live state strictly below its id (a
    *      replayed batch must not count itself) and calls `restore` for
    *      any other state the monitor keeps;
    *   3. merges its rows into the cumulative counts on the driver;
    *   4. writes `decide`'s rows as one file in the batch_id generation
    *      of `outDir/<out>`;
    *   5. every `compactEvery` batches, folds the generations below its
    *      id into `<ns>base/hw=<id>` — counts are additive, so the fold
    *      is a distributed per-(source, bin) sum.
    *
    * BOUNDED per-batch work (VERDICT r03 #2): the cumulative counts live
    * in driver memory (|sources| × bins) and are read from disk at most
    * ONCE per query run, so steady-state cost is the batch's own
    * aggregation plus an O(|sources| × bins) merge, independent of stream
    * age; on-disk state is ≤ compactEvery generations + 1 base regardless
    * of lifetime.
    *
    * Monitor-namespaced state (ADVICE r04 #3): the monitors persist
    * structurally different rows through the SAME (source, bin, count)
    * schema, so each owns a namespace prefix `ns` ("drift_", "emb_drift_",
    * "hh_") and two monitors pointed at one outDir never merge
    * incompatible state. Layout, replay idempotence and crash safety:
    * [[graft.state.Generations]]; the output generations are
    * replay-idempotent the same way. */
  private def startCountMonitor[T, A, O <: Product : TypeTag](
      stream: Dataset[T], outDir: String, ns: String, out: String,
      compactEvery: Int, stats: Option[DriftMonitorStats],
      restore: (SparkSession, Long) => Unit = (_, _) => ())(
      aggregate: Dataset[T] => (Seq[(String, Int, Long)], A))(
      decide: (Long, Counts, A) => Seq[O]): StreamingQuery = {
    val store = Generations.Store(s"$outDir/${ns}state", s"$outDir/${ns}base")
    val cum = mutable.Map.empty[String, mutable.Map[Int, Long]]
    def merge(src: String, bin: Int, n: Long): Unit = {
      val h = cum.getOrElseUpdate(src, mutable.Map.empty[Int, Long])
      h.update(bin, h.getOrElse(bin, 0L) + n)
    }
    var initialized = false
    startBatches(stream, s"$outDir/${ns}checkpoint") { (batch, batchId) =>
      val s = batch.sparkSession
      import s.implicits._
      val (rows, local) = aggregate(batch)
      Generations.append(rows.toDF("source", "bin", "count"), store, batchId)
      if (!initialized) {
        val live = Generations.live(s, store, batchId)
          .map(_.select("source", "bin", "count").collect())
          .getOrElse(Array.empty)
        live.foreach(r => merge(r.getString(0), r.getInt(1), r.getLong(2)))
        stats.foreach { st =>
          st.rebuilds.incrementAndGet()
          st.stateRowsRead.addAndGet(live.length.toLong)
        }
        restore(s, batchId)
        initialized = true
      }
      rows.foreach { case (src, bin, n) => merge(src, bin, n) }
      TableIO.writePartitioned(
        s.createDataset(decide(batchId, cum, local))(Encoders.product[O])
          .coalesce(1).toDF(),
        s"$outDir/$out", partitionCol = "batch_id", recluster = false)
      if (compactDue(batchId, compactEvery) &&
          Generations.compact(s, store, batchId)(
            _.groupBy("source", "bin").agg(sum("count").as("count"))))
        stats.foreach(_.compactions.incrementAndGet())
    }
  }

  /** Incremental DRIFT monitor — the streaming form of the batch
    * R_DRIFT_NTOK_KS rule: per source, the cumulative n_tok histogram
    * (bins = [[graft.drift.Drift.ntokBins]]) is KS-tested against the
    * baseline snapshot after every micro-batch, and a [[DriftAlert]] row
    * per source is emitted to `drift_alerts`. Cross-row rules stay
    * foreachBatch concerns (header note); this one gets an incremental
    * story because histograms are mergeable — exactly why the engine
    * binned them (SURVEY §7.5 #1). State and per-batch bounds: the
    * counting-monitor protocol of [[startCountMonitor]]. */
  def startDriftMonitor(
      spark: SparkSession,
      inputDir: String,
      baseline: Dataset[graft.model.BaselineBin],
      outDir: String,
      alpha: Double = 0.01,
      compactEvery: Int = 64,
      stats: Option[DriftMonitorStats] = None): StreamingQuery = {
    import graft.drift.Drift
    val baseBins: Map[String, Map[Int, Long]] = baseline
      .collect().toSeq
      .filter(_.kind == "ntok_hist")
      .groupBy(_.source)
      .map { case (src, rows) =>
        src -> rows.map(b => b.bin -> b.count).toMap
      }
    startCountMonitor(readSequenceStream(spark, inputDir), outDir,
        "drift_", "drift_alerts", compactEvery, stats)(batch =>
      // the batch's OWN histogram: tiny (|sources| × ≤64 bins)
      (Drift.ntokHist(batch.toDF()).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq, ())) {
      (batchId, cum, _: Unit) =>
        cum.toSeq.sortBy(_._1).flatMap { case (src, hist) =>
          baseBins.get(src).map { bh =>
            val res = Drift.ksTest(hist.toMap, bh, Drift.ntokBins, alpha)
            DriftAlert(batchId, src, res.statistic, res.threshold,
              res.rejected, res.n, res.m)
          }
        }
    }
  }

  /** One embedding-drift decision per (micro-batch, label group). */
  final case class EmbDriftAlert(
      batch_id: Long, label: Int, cos_to_baseline: Double,
      min_cos: Double, rejected: Boolean, n: Long)

  /** Open a landing directory as a stream of embedding rows. */
  def readEmbeddingStream(spark: SparkSession, inputDir: String,
      maxFilesPerTrigger: Int = 16): Dataset[graft.model.EmbVector] = {
    import spark.implicits._
    spark.readStream
      .schema(Encoders.product[graft.model.EmbVector].schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .as[graft.model.EmbVector]
  }

  /** Per-(label, dim) quantized moments of an embeddings table: `qsum`,
    * the sum of floor(x · 2^20) — int64, so order-free and exactly
    * mergeable — and `cnt`, the rows summed. The one quantization of
    * [[startEmbDriftMonitor]] and its [[embBaseline]]. */
  private def quantizedMoments(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * lit(1048576.0)).cast("long")
          .as("qv"))
      .groupBy("label", "dim")
      .agg(sum("qv").as("qsum"), count(lit(1)).as("cnt"))

  /** Incremental EMBEDDING-distribution drift monitor — the streaming form
    * of the batch `emb_drift_centroid` gate: per label group, the cosine
    * of the CUMULATIVE group centroid to a baseline centroid (a
    * semantically-shifted source moves its embedding cloud long before its
    * scalar stats move — this is the vector-space analog of
    * [[startDriftMonitor]]'s KS gate), one [[EmbDriftAlert]] per label to
    * `emb_drift_alerts`. Centroid sums are [[quantizedMoments]] — exactly
    * mergeable, which is what makes the monitor incremental at all (same
    * trick as the trained k-means codebook). Cosine is taken on the SUMS
    * (the 1/n scaling cancels), folded in ascending dim order on the
    * driver. The counting-monitor protocol of [[startCountMonitor]] keeps
    * the state, with (source, bin, count) read as (label, dim, qsum) and
    * the group count stored at bin = −1. */
  def startEmbDriftMonitor(
      spark: SparkSession,
      inputDir: String,
      baseline: Map[Int, Array[Long]], // label -> per-dim qsums
      outDir: String,
      minCos: Double = 0.98,
      compactEvery: Int = 64,
      stats: Option[DriftMonitorStats] = None): StreamingQuery = {
    def cosToBaseline(qs: Map[Int, Long], base: Array[Long]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      var d = 0
      while (d < base.length) {
        val a = qs.getOrElse(d, 0L).toDouble
        val b = base(d).toDouble
        dp += a * b; na += a * a; nb += b * b
        d += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dp / (math.sqrt(na) * math.sqrt(nb))
    }
    startCountMonitor(readEmbeddingStream(spark, inputDir), outDir,
        "emb_drift_", "emb_drift_alerts", compactEvery, stats)(batch =>
      // the batch's OWN quantized moments: |labels| × (dims+1) rows,
      // map-side-combined before they reach the driver
      (quantizedMoments(batch.toDF()).collect().toSeq.flatMap { r =>
        val base = (r.getInt(0).toString, r.getInt(1), r.getLong(2))
        // one n row per label, carried on dim 0's count
        if (r.getInt(1) != 0) Seq(base)
        else Seq(base, (r.getInt(0).toString, -1, r.getLong(3)))
      }, ())) {
      (batchId, cum, _: Unit) =>
        cum.toSeq.sortBy(_._1.toInt).flatMap { case (labelStr, qs) =>
          val label = labelStr.toInt
          baseline.get(label).map { base =>
            val cos = cosToBaseline(qs.toMap, base)
            EmbDriftAlert(batchId, label, cos, minCos, cos < minCos,
              qs.getOrElse(-1, 0L))
          }
        }
    }
  }

  /** Quantized per-label baseline centroid sums from a batch embeddings
    * table — the training-time snapshot [[startEmbDriftMonitor]] gates
    * against, through the monitor's own [[quantizedMoments]]. */
  def embBaseline(emb: DataFrame, dims: Int): Map[Int, Array[Long]] =
    quantizedMoments(emb).collect()
      .groupBy(_.getInt(0))
      .map { case (label, rows) =>
        val arr = new Array[Long](dims)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        label -> arr
      }

  /** One emitted heavy-hitter row: the rank-r most frequent token of
    * `source` by cumulative CMS estimate at the end of `batch_id`. */
  final case class HeavyHitter(
      batch_id: Long, source: String, rank: Int, token: Long,
      est_count: Long)

  /** Streaming per-source TOKEN HEAVY HITTERS — the streaming form of the
    * batch `ngram_topk`/`ngram_cms_est` pair: per source, the top-k most
    * frequent token ids over the whole stream so far, estimated from a
    * cumulative count-min sketch (Cormode & Muthukrishnan 2005). The
    * vocabulary monitor that catches a source suddenly flooding one
    * token (a stuck generator, a spam template) without ever keying
    * state by the open token domain.
    *
    * State model: the counting-monitor protocol of [[startCountMonitor]],
    * whose cumulative counts are here each source's depth×width CMS
    * cells (cell sums are order-free int64 — exactly mergeable), plus the
    * current ≤k candidate set per source. Each micro-batch:
    *   1. one batch-bounded (source, token) count aggregation (map-side
    *      combined — the only shuffle, batch volume);
    *   2. the batch's OWN nonzero CMS cells (from those counts) are its
    *      (source, bin = cell, count) rows;
    *   3. candidates = previous top-k ∪ the batch's own top-`candidateK`
    *      tokens (bounded TopK aggregate); current top-k = best k by
    *      (cumulative CMS estimate desc, token asc) — deterministic given
    *      the batch sequence;
    *   4. the top-k table persists as a batch_id generation of
    *      `hh_topk`; a restart restores the candidates from the LATEST
    *      hh_topk generation below the batch only.
    *
    * Estimate contract: CMS estimates OVERESTIMATE only (never under), by
    * ≤ the cumulative stream mass / width per the CMS bound; with width ≥
    * the true vocabulary the estimates are exact. Honest caveat (inherent
    * to candidate-based heavy hitters): a token heavy ONLY by spreading
    * thinly across many batches — never in any batch's local top-
    * `candidateK` and never in a kept top-k — can be missed; at Zipfian
    * token frequencies locally-invisible global heavy hitters do not
    * occur, and `candidateK` widens the margin. */
  def startHeavyHitterMonitor(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      k: Int = 10,
      candidateK: Int = 32,
      depth: Int = 4,
      width: Int = 1024,
      compactEvery: Int = 64,
      stats: Option[DriftMonitorStats] = None): StreamingQuery = {
    import graft.functions.{CountMinAggregate, TopKByScoreAggregate}
    val topk = mutable.Map.empty[String, Seq[Long]]
    def tokenHash(t: Long): Long =
      ((t % CountMinAggregate.P) + CountMinAggregate.P) % CountMinAggregate.P
    // candidates after a restart: the LATEST persisted top-k below the
    // batch — one generation, ≤ k rows per source
    def restore(s: SparkSession, batchId: Long): Unit = {
      val gens = TableIO
        .partitionValues(s, s"$outDir/hh_topk", "batch_id")
        .getOrElse(Nil).map(_.toLong).filter(_ < batchId)
      if (gens.nonEmpty)
        s.read.parquet(s"$outDir/hh_topk")
          .filter(col("batch_id") === gens.max)
          .select("source", "token").collect()
          .groupBy(_.getString(0))
          .foreach { case (src, rs) =>
            topk.update(src, rs.map(_.getLong(1)).toSeq)
          }
    }
    startCountMonitor(readSequenceStream(spark, inputDir), outDir,
        "hh_", "hh_topk", compactEvery, stats, restore) { batch =>
      // 1. batch-bounded exact (source, token) counts — the ONE shuffle
      val counts = batch.toDF()
        .select(col("source"), explode(col("tokens")).as("token"))
        .select(col("source"), col("token").cast("long").as("token"))
        .groupBy("source", "token")
        .agg(count(lit(1)).as("cnt"))
      // 2. the batch's own CMS (|sources| rows of depth×width cells) +
      //    3a. its own top-candidateK candidate tokens
      val batchSketch = counts
        .groupBy("source")
        .agg(
          CountMinAggregate.agg(
            pmod(col("token"), lit(CountMinAggregate.P)),
            col("cnt"), depth, width).as("sk"),
          TopKByScoreAggregate.topK(
            col("cnt").cast("double"), col("token"), candidateK)
            .as("cand"))
        .collect()
      val cells = batchSketch.toSeq.flatMap { r =>
        val sk = r.getSeq[Long](1)
        sk.indices.collect {
          case i if sk(i) != 0L => (r.getString(0), i, sk(i)) }
      }
      val cands = batchSketch.map { r =>
        r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0))
      }.toMap
      (cells, cands)
    } { (batchId, cum, batchCands: Map[String, Seq[Long]]) =>
      // 3b. candidates -> current top-k by cumulative estimate
      (topk.keySet ++ batchCands.keySet).toSeq.sorted.flatMap { src =>
        val sketch = new Array[Long](depth * width)
        cum.getOrElse(src, Map.empty[Int, Long])
          .foreach { case (cell, n) => sketch(cell) = n }
        val ranked = (topk.getOrElse(src, Nil) ++
            batchCands.getOrElse(src, Nil)).distinct
          .map(t => t -> CountMinAggregate.estimate(
            sketch, tokenHash(t), depth, width))
          .sortBy { case (t, est) => (-est, t) }
          .take(k)
        topk.update(src, ranked.map(_._1))
        ranked.zipWithIndex.map { case ((t, est), i) =>
          HeavyHitter(batchId, src, i + 1, t, est)
        }
      }
    }
  }

  /** One near-duplicate flag emitted at ingest: `doc_id` (arriving in
    * `batch_id`) matched the earlier doc `match_doc_id` (ingested in
    * `match_batch_id`) with estimated Jaccard `est_sim`. */
  final case class NearDupFlag(
      batch_id: Long, doc_id: Long, match_batch_id: Long,
      match_doc_id: Long, est_sim: Double)

  /** Open a landing directory as a stream of document rows
    * (doc_id, text, source) — the near-dup ingest input shape. */
  def readDocumentStream(spark: SparkSession, inputDir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, text STRING, source STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .select("doc_id", "text", "source")

  /** The near-dup band-bucket index: `neardup_index/batch_id=/bkt=`
    * generations folded into `neardup_base/hw=/bkt=`. */
  private[graft] def nearDupStore(outDir: String) = Generations.Store(
    s"$outDir/neardup_index", s"$outDir/neardup_base", Some("bkt"))

  /** Index data columns, in the order the base stores them. */
  private val nearDupCols =
    Seq("src_batch_id", "band_idx", "band_key", "doc_id", "sig")

  /** Index probe read for [[startNearDupIngest]]: the live index below
    * `batchId` (replay contract), restricted to ONLY the band-key buckets
    * this batch hashes into. Every predicate lands on a partition
    * column, so the scan's PartitionFilters keep the listing + I/O
    * proportional to the batch's bucket set, not the accumulated index
    * (pinned in NearDupStreamSpec). Ordering comes back as
    * `src_batch_id` — the ORIGINAL generation a row was indexed in,
    * preserved across compaction so first-match-wins tie-breaks are
    * bit-identical whether or not a compaction ran. None when there is
    * nothing to probe yet (first batch). */
  private[streaming] def prunedIndexRead(
      spark: SparkSession, outDir: String, batchId: Long,
      bkts: Array[Long]): Option[DataFrame] =
    Generations.live(spark, nearDupStore(outDir), batchId,
        Some(col("bkt").isin(bkts.map(Long.box).toSeq: _*)))
      .map(_.select(nearDupCols.map(col): _*))

  /** Streaming NEAR-duplicate dedup at ingest — persisted MinHash-LSH
    * band-bucket state (VERDICT r04 #4): the streaming form of the batch
    * `dedup_minhash_pairs` family, exactly as `dedup_first_seen` is the
    * batch-oracled form of [[dedupStream]]. The exact-key streaming
    * dedups ([[dedupStream]], [[dedupWithinWatermark]], Bloom) miss a
    * document that is ALMOST a previous one; this operator catches it in
    * the micro-batch it arrives.
    *
    * Candidate rule — shared with batch, not reimplemented: band keys
    * come from [[graft.operators.Dedup.bandedSignatures]] and the
    * estimate from [[graft.operators.Dedup.estSim]], the same functions
    * `dedup_minhash_pairs` uses, and the batch-oracled query
    * `dedup_lsh_first_seen` pins the identical rule (shared band bucket
    * AND est_sim ≥ minEstSim against any EARLIER doc) against DuckDB.
    * "Earlier" is (batch_id, doc_id) lexicographic: any prior batch's
    * doc, or a smaller-id doc of the same batch (the same deterministic
    * within-batch tie-break discipline as [[dedupStream]]).
    *
    * State model: the band-bucket index `neardup_index`
    * ((band_idx, band_key, doc_id, sig) partitioned by batch_id) persists
    * on disk, NOT in driver memory — per batch the work is ONE join of
    * the batch's banded keys against the index on (band_idx, band_key)
    * plus the batch's internal self-join, both shuffle-bounded by band-key
    * volume. Every doc is indexed (flagged ones too), so the flag rule is
    * "matches any earlier doc" — exactly the batch query's rule. Replay
    * idempotence: a replayed micro-batch reads only index generations
    * STRICTLY below its own id and overwrites its own index + flag
    * generations (dynamic partition overwrite), so it can neither match
    * against its own debris nor double-land.
    *
    * Index layout — bucketed BY BAND KEY, not just by generation: every
    * index row carries `bkt = hash(band_idx, band_key) mod indexBuckets`
    * as a SECOND partition column. A micro-batch's banded keys hash into
    * at most `indexBuckets` buckets (far fewer for a small batch), so
    * [[prunedIndexRead]] lists/reads ONLY those directories — the
    * per-batch probe cost is `|index| * |batch buckets| / indexBuckets`
    * instead of the whole accumulated index, which is what keeps the
    * ingest O(batch) instead of O(stream age) as the stream grows. The
    * pruning is real partition pruning (PartitionFilters at the scan,
    * pinned in NearDupStreamSpec), not a post-scan row filter. Every
    * `compactEvery` batches the final generations fold into one bucketed
    * base (a distributed rewrite: one pruned scan, one clustering
    * exchange on bkt, one write) so the directory/file count is bounded
    * by compactEvery generations + 1 base regardless of stream lifetime;
    * rows keep their original generation as `src_batch_id`, so flags and
    * tie-breaks are identical with or without compaction. Layout, replay
    * idempotence and crash safety: [[graft.state.Generations]]. */
  def startNearDupIngest(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      k: Int = 16,
      bands: Int = 4,
      minEstSim: Double = 0.5,
      shingleN: Int = 3,
      maxFilesPerTrigger: Int = 16,
      indexBuckets: Int = 64,
      compactEvery: Int = 64): StreamingQuery = {
    import graft.operators.Dedup
    startBatches(readDocumentStream(spark, inputDir, maxFilesPerTrigger),
        s"$outDir/neardup_checkpoint") { (batch, batchId) =>
      val s = batch.sparkSession
      val banded = Dedup
        .bandedSignatures(batch, "doc_id", "text", k, bands, shingleN)
        .withColumn("bkt", pmod(
          xxhash64(col("band_idx"), col("band_key")),
          lit(indexBuckets.toLong)))
        .persist()
      try {
        val intra = banded.select(lit(batchId).as("bid_a"),
          col("band_idx"), col("band_key"),
          col("doc_id").as("id_a"), col("sig").as("sig_a"))
        // bucket set of THIS batch — bounded by indexBuckets
        val bkts = banded.select("bkt").distinct()
          .collect().map(_.getLong(0))
        val earlier = prunedIndexRead(s, outDir, batchId, bkts) match {
          case Some(idx) =>
            idx.select(col("src_batch_id").as("bid_a"),
              col("band_idx"), col("band_key"),
              col("doc_id").as("id_a"), col("sig").as("sig_a"))
              .union(intra)
          case None => intra
        }
        val probe = banded.select(col("band_idx"), col("band_key"),
          col("doc_id").as("id_b"), col("sig").as("sig_b"))
        val flags = earlier.join(probe, Seq("band_idx", "band_key"))
          .filter(col("bid_a") < batchId || col("id_a") < col("id_b"))
          .select(col("bid_a"), col("id_a"), col("id_b"),
            col("sig_a"), col("sig_b"))
          .distinct()
          .select(col("id_b"), col("bid_a"), col("id_a"),
            Dedup.estSim(col("sig_a"), col("sig_b"), k).as("est"))
          .filter(col("est") >= minEstSim)
          // first match wins — the earliest (batch, id) among matches,
          // est_sim carried on the winning struct
          .groupBy(col("id_b"))
          .agg(min(struct(col("bid_a"), col("id_a"), col("est")))
            .as("m"))
          .select(lit(batchId).as("batch_id"),
            col("id_b").as("doc_id"),
            col("m.bid_a").as("match_batch_id"),
            col("m.id_a").as("match_doc_id"),
            col("m.est").as("est_sim"))
        // distributed write — flags never visit the driver
        TableIO.writePartitioned(
          flags.coalesce(1),
          s"$outDir/neardup_flags", partitionCol = "batch_id",
          recluster = false)
        // index generation, one file per bucket; a replayed batch
        // rewrites precisely its own (batch_id, bkt) directories.
        // src_batch_id duplicates the generation as a DATA column so
        // compaction can re-home rows without losing match ordering.
        Generations.append(banded.withColumn("src_batch_id", lit(batchId)),
          nearDupStore(outDir), batchId)
        if (compactDue(batchId, compactEvery))
          Generations.compact(s, nearDupStore(outDir), batchId)(
            _.select((nearDupCols :+ "bkt").map(col): _*))
      } finally { banded.unpersist(); () }
    }
  }

  /** Windowed per-source violation-rate monitor over an event-time column
    * (watermarked tumbling windows — the streaming aggregation surface). */
  def violationRate(
      events: DataFrame, // (source, event_time, is_violation)
      windowLen: String = "10 minutes",
      watermark: String = "20 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen), col("source"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("is_violation"), 1L).otherwise(0L)).as("n_violations"))
      .select(
        col("window.start").as("window_start"),
        col("source"), col("n"), col("n_violations"))
}
