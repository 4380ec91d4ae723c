package graft.cli

import org.apache.spark.sql.SparkSession
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import graft.jobs.ValidationJob
import graft.drift.Drift

/**
 * spark-submit entry point — the single-run replacement for the reference's
 * E1→E3 Lambda choreography (SURVEY.md §3, §7.3 step 10).
 *
 * Commands:
 *   gen <outDir> <nRows> [seed] [badNtokRate] [dupRate] [unknownRate] [driftSrc:shift]
 *     writes input/ manifest/ baseline/ under outDir (seeded, deterministic)
 *   validate <inputDir> <manifestDir> <outDir> [baselineDir] [refSnapshotDir] [--partitions=a,b] [--sketch-fpp=p] [--append-delta] [--rule-delta] [--rules=path]
 *     runs the rule set, writes violations/ verdicts/ checkpoint/, prints a
 *     one-line JSON run report
 */
object Main {

  /** JSON string literal with full escaping — source names are arbitrary
    * partition values (spaces, quotes, backslashes all occur in the wild;
    * TableIOSpec exercises several), so raw interpolation would emit
    * invalid JSON. */
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jarr(xs: Seq[String]): String =
    xs.map(jstr).mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
      .appName("graft-validate")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      args.toList match {
        case "gen" :: outDir :: n :: rest =>
          val seed = rest.headOption.map(_.toLong).getOrElse(42L)
          val bad = rest.lift(1).map(_.toDouble).getOrElse(0.0)
          val dup = rest.lift(2).map(_.toDouble).getOrElse(0.0)
          val unk = rest.lift(3).map(_.toDouble).getOrElse(0.0)
          val (driftSrcs, shift) = rest.lift(4) match {
            case Some(s) if s.contains(":") =>
              val Array(src, sh) = s.split(":")
              (Seq(src), sh.toInt)
            case _ => (Nil, 0)
          }
          val knobs = Knobs(bad, dup, unk, driftSrcs, shift)
          SequenceGen.sequences(spark, n.toLong, seed, knobs)
            .write.mode("overwrite").partitionBy("source")
            .parquet(s"$outDir/input")
          SequenceGen.manifest(spark, n.toLong, seed)
            .write.mode("overwrite").parquet(s"$outDir/manifest")
          // baseline histograms from a CLEAN generation at the same seed
          Drift.histograms(
              SequenceGen.sequences(spark, n.toLong, seed).toDF(),
              SequenceGen.vocabSize, s"gen-$seed-$n")
            .write.mode("overwrite").parquet(s"$outDir/baseline")
          println(s"""{"generated":$n,"outDir":"$outDir","seed":$seed}""")

        case "validate" :: input :: manifest :: outDir :: rest0 =>
          // --partitions=a,b restricts the run to a submission scope
          // (per-partition locks let disjoint scopes run concurrently)
          val scope = rest0.collectFirst {
            case a if a.startsWith("--partitions=") =>
              a.stripPrefix("--partitions=").split(",").toSeq
          }
          // --sketch-fpp=p sets the false-positive rate of each cross-run
          // uniqueness sketch shard (shards are sized to the data; a false
          // positive only costs confirm-scan traffic, never correctness —
          // ValidationJob.Config doc)
          val sketchFpp = rest0.collectFirst {
            case a if a.startsWith("--sketch-fpp=") =>
              a.stripPrefix("--sketch-fpp=").toDouble
          }
          // --append-delta: changed partitions whose files only GREW scan
          // just the new files (ValidationJob.Config.appendDelta doc)
          val appendDelta = rest0.contains("--append-delta")
          // --rule-delta: unchanged-data partitions whose RULES changed
          // re-evaluate only the changed rules (ValidationJob.Config
          // .ruleDelta doc) — pairs with --rules= config edits
          val ruleDelta = rest0.contains("--rule-delta")
          // --rules=path: declarative rule config (graft.rules.RuleConfig
          // JSON) — taken VERBATIM as the full rule set; the automatic
          // snapshot-equality / storage-count augmentation applies only to
          // the compiled-in default (a config names every rule it wants).
          // `rules` (command below) exports the default set to start from.
          val rulesFile = rest0.collectFirst {
            case a if a.startsWith("--rules=") =>
              graft.rules.RuleConfig.fromJsonFile(a.stripPrefix("--rules="))
          }
          val rest = rest0.filterNot(_.startsWith("--"))
          // optional 5th arg: reference snapshot for the J10 cross-snapshot
          // token-equality rule (rule set extends automatically)
          val refSnap = rest.lift(1)
          val report = ValidationJob.run(spark, ValidationJob.Config(
            inputPath = input,
            manifestPath = manifest,
            outDir = outDir,
            baselinePath = rest.headOption,
            refSnapshotPath = refSnap,
            partitions = scope,
            sketchFpp = sketchFpp.getOrElse(0.001),
            appendDelta = appendDelta,
            ruleDelta = ruleDelta,
            rules = rulesFile.getOrElse {
              val base =
                if (refSnap.isDefined) graft.rules.Rules.withSnapshotEquality
                else graft.rules.Rules.standard
              // manifested input: the metadata row counts exist, so the
              // scan-vs-manifest reconciliation rule can actually run
              if (graft.sources.ManifestTable.exists(spark, input))
                graft.rules.Rules.withStorageCount(base)
              else base
            }))
          println(
            s"""{"snapshot_id":"${report.snapshotId}",""" +
              s""""ruleset_hash":"${report.rulesetHash}",""" +
              s""""validated_partitions":${report.validatedPartitions.size},""" +
              s""""delta_partitions":${report.deltaPartitions.size},""" +
              s""""rule_delta_partitions":${report.ruleDeltaPartitions.size},""" +
              s""""rules_evaluated":${jarr(report.rulesEvaluated)},""" +
              s""""skipped_partitions":${report.skippedPartitions.size},""" +
              s""""rows_validated":${report.rowsValidated},""" +
              s""""violations":${report.violations},""" +
              s""""wall_ms":${report.wallMs},""" +
              s""""xrun":${report.xrun.json}}""")

        case "transfer" :: input :: valOut :: store :: manifestTxt :: Nil =>
          val r = graft.jobs.TransferJob.run(spark, graft.jobs.TransferJob
            .Config(input, valOut, store, manifestTxt))
          // per-source block reasons (ADVICE r02): an empty promotion is
          // always explainable from the report alone
          val reasonsJson = r.blockReasons.toSeq.sortBy(_._1)
            .map { case (s, rs) => jstr(s) + ":" + jarr(rs) }
            .mkString("{", ",", "}")
          println(
            s"""{"promoted":${r.promoted.size},"blocked":${r.blocked.size},""" +
              s""""promoted_sources":${jarr(r.promoted)},""" +
              s""""block_reasons":$reasonsJson}""")

        case "cleanup" :: input :: valOut :: store :: rest =>
          // E3 tail (cleanup_manager.py:20-128): drop verifiably-promoted
          // staging partitions + processing leftovers; blocked staging stays
          val dry = rest.contains("--dry-run")
          // --prune-logs=k: audit-log retention (latest k runs per source)
          val pruned = rest.collectFirst {
            case a if a.startsWith("--prune-logs=") =>
              graft.jobs.CleanupJob.pruneRunLogs(
                spark, valOut, a.stripPrefix("--prune-logs=").toInt,
                dryRun = dry)
          }.getOrElse(Nil)
          // --compact-checkpoint: fold per-run checkpoint generations
          // into one base segment (resume cost stays O(1) files);
          // under --dry-run reports the would-fold count untouched
          val compacted =
            if (rest.contains("--compact-checkpoint"))
              graft.checkpoint.Checkpoint.compact(
                spark, graft.jobs.ValidationJob.checkpointPath(valOut),
                dryRun = dry)
            else 0
          // --compact-files=maxFiles:targetBytes — small-file compaction
          // of the STORE table (run between validation cycles; the next
          // append-delta run sees rewritten partitions as full rescans)
          val fileCompactions = rest.collectFirst {
            case a if a.startsWith("--compact-files=") =>
              a.stripPrefix("--compact-files=").split(':') match {
                case Array(mf, tb) =>
                  graft.jobs.CleanupJob.compactPartitions(
                    spark, store, "source", mf.toInt, tb.toLong,
                    dryRun = dry)
                case _ => throw new IllegalArgumentException(
                  "--compact-files expects maxFiles:targetBytes")
              }
          }.getOrElse(Nil)
          // --cluster-by=col:targetBytes — clustered rewrite of the STORE
          // table: range-sort each partition on col so zone maps prune;
          // re-commits the manifest when one exists
          val clustered = rest.collectFirst {
            case a if a.startsWith("--cluster-by=") =>
              a.stripPrefix("--cluster-by=").split(':') match {
                case Array(c, tb) =>
                  graft.jobs.CleanupJob.clusterPartitions(
                    spark, store, "source", c, tb.toLong, dryRun = dry)
                case _ => throw new IllegalArgumentException(
                  "--cluster-by expects col:targetBytes")
              }
          }.getOrElse(Nil)
          // full gate incl. lineage: stale verdicts over a re-uploaded
          // input must not authorize deleting the corrected staging copy
          val promoted = graft.jobs.TransferJob
            .promotableWithLineage(spark, input, valOut)
          val r = graft.jobs.CleanupJob.run(
            spark, input, store, promoted, Some(valOut), dryRun = dry)
          println(
            s"""{"cleaned":${jarr(r.cleaned)},"kept":${jarr(r.kept)},""" +
              s""""leftovers_removed":${r.leftoversRemoved.size},""" +
              s""""pruned_run_ids":${jarr(pruned)},""" +
              s""""compacted_checkpoint_segs":$compacted,""" +
              s""""compacted_partitions":${fileCompactions.size},""" +
              s""""clustered_partitions":${clustered.size},""" +
              s""""dry_run":$dry}""")

        case "quarantine" :: input :: valOut :: salvage :: quarantine ::
            rest =>
          // row-level salvage of FAILING sources (QuarantineJob doc):
          // rows named by violations → quarantine table (with rule ids),
          // the rest → salvage table; partition-level failures skip
          val r = graft.jobs.QuarantineJob.run(
            spark, input, valOut, salvage, quarantine,
            dryRun = rest.contains("--dry-run"))
          def counts(m: Map[String, Long]) = m.toSeq.sortBy(_._1)
            .map { case (s, n) => s"${jstr(s)}:$n" }.mkString("{", ",", "}")
          val skippedJson = r.skipped.toSeq.sortBy(_._1)
            .map { case (s, ids) => jstr(s) + ":" + jarr(ids) }
            .mkString("{", ",", "}")
          println(
            s"""{"salvaged":${counts(r.salvaged)},""" +
              s""""quarantined":${counts(r.quarantined)},""" +
              s""""skipped":$skippedJson,"dry_run":${r.dryRun}}""")

        case "diff" :: valOut :: rest =>
          // cross-run verdict regression diff over the run_log: explicit
          // (before, after) run_ids, or latest-two by completion time
          val picked = rest.filterNot(_.startsWith("--")) match {
            case b :: a :: Nil =>
              Some((b, a, graft.jobs.RunDiff.diff(spark, valOut, b, a,
                all = rest.contains("--all"))))
            case Nil => graft.jobs.RunDiff.diffLatest(spark, valOut)
            case other =>
              throw new IllegalArgumentException(
                s"diff takes 0 or 2 run ids, got: $other")
          }
          picked match {
            case None =>
              println("""{"error":"run_log holds fewer than two runs"}""")
            case Some((before, after, df)) =>
              val rows = df
                .orderBy("kind", "source", "rule_id")
                .collect()
              val byKind = rows.groupBy(_.getString(4)).view
                .mapValues(_.length).toMap
              def n(k: String) = byKind.getOrElse(k, 0)
              val transitions = rows.map { r =>
                s"""{"source":${jstr(r.getString(0))},""" +
                  s""""rule_id":${jstr(r.getString(1))},""" +
                  s""""before":${Option(r.getString(2)).map(jstr)
                    .getOrElse("null")},""" +
                  s""""after":${Option(r.getString(3)).map(jstr)
                    .getOrElse("null")},""" +
                  s""""kind":${jstr(r.getString(4))}}"""
              }.mkString("[", ",", "]")
              println(
                s"""{"before":${jstr(before)},"after":${jstr(after)},""" +
                  s""""regressed":${n("regressed")},""" +
                  s""""recovered":${n("recovered")},""" +
                  s""""appeared":${n("appeared")},""" +
                  s""""not_revalidated":${n("not_revalidated")},""" +
                  s""""transitions":$transitions}""")
          }

        case "trend" :: valOut :: rest =>
          // cross-run verdict trend over the last k runs: per (source,
          // rule) covered by >= 2 runs, the status trajectory and its
          // direction — degrading rows are the page-worthy ones
          val k = rest.collectFirst {
            case a if a.startsWith("--runs=") =>
              scala.util.Try(a.stripPrefix("--runs=").toInt).toOption
                .filter(_ >= 2).getOrElse(throw new IllegalArgumentException(
                  s"--runs wants an int >= 2, got: $a"))
          }.getOrElse(5)
          val ids = graft.jobs.RunDiff.runIdsByTime(spark, valOut)
            .takeRight(k)
          if (ids.size < 2)
            println("""{"error":"run_log holds fewer than two runs"}""")
          else {
            val rows = graft.jobs.RunDiff.trend(spark, valOut, k)
              .orderBy("direction", "source", "rule_id").collect()
            val byDir = rows.groupBy(_.getString(5)).view
              .mapValues(_.length).toMap
            def n(d: String) = byDir.getOrElse(d, 0)
            val watch = rows
              .filter(r => r.getString(5) == "degrading" ||
                r.getString(5) == "volatile")
              .map { r =>
                s"""{"source":${jstr(r.getString(0))},""" +
                  s""""rule_id":${jstr(r.getString(1))},""" +
                  s""""n_runs":${r.get(2)},""" +
                  s""""n_fail":${r.get(3)},""" +
                  s""""trajectory":${jstr(r.getString(4))},""" +
                  s""""direction":${jstr(r.getString(5))}}"""
              }.mkString("[", ",", "]")
            println(
              s"""{"runs":${ids.map(jstr).mkString("[", ",", "]")},""" +
                s""""degrading":${n("degrading")},""" +
                s""""volatile":${n("volatile")},""" +
                s""""improving":${n("improving")},""" +
                s""""flat":${n("flat")},"watch":$watch}""")
          }

        case "report" :: valOut :: rest =>
          // human-readable per-run report (reference report.py:149-166 +
          // notification.py rendered body): per-source verdicts, summary
          // funnel, example violations. Default run: latest by completion.
          val runId = rest.collectFirst {
            case a if a.startsWith("--run=") => a.stripPrefix("--run=")
          }
          val topK = rest.collectFirst {
            case a if a.startsWith("--top=") =>
              a.stripPrefix("--top=").toInt
          }.getOrElse(10)
          val rendered = graft.jobs.ReportJob.render(spark, valOut, runId, topK)
          rest.collectFirst {
            case a if a.startsWith("--out=") => a.stripPrefix("--out=")
          }.foreach { out =>
            val p = new org.apache.hadoop.fs.Path(out)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val os = fs.create(p, true)
            try os.write(rendered.text.getBytes("UTF-8")) finally os.close()
          }
          println(rendered.text)

        case "datacard" :: docsDir :: rest =>
          // corpus data card (HF/Dolma-style data sheet): per-source and
          // per-lang composition, exact-dup mass, quality-gate flag rate,
          // top terms — the corpus-side sibling of `report`
          val topK = rest.collectFirst {
            case a if a.startsWith("--top=") =>
              a.stripPrefix("--top=").toInt
          }.getOrElse(10)
          val text = graft.jobs.DataCardJob.render(spark, docsDir, topK)
          rest.collectFirst {
            case a if a.startsWith("--out=") => a.stripPrefix("--out=")
          }.foreach { out =>
            val p = new org.apache.hadoop.fs.Path(out)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val os = fs.create(p, true)
            try os.write(text.getBytes("UTF-8")) finally os.close()
          }
          println(text)

        case "ingest" :: input :: manifestDir :: outDir :: rest =>
          // validate-at-the-door streaming landing (AvailableNow): row
          // rules gate every micro-batch; clean rows commit exactly-once
          // to outDir/table (manifested), condemned rows land in
          // outDir/quarantine with the rule ids that rejected them.
          // Re-running with no new files admits no batch (checkpoint).
          val rulesFile = rest.collectFirst {
            case a if a.startsWith("--rules=") =>
              graft.rules.RuleConfig.fromJsonFile(a.stripPrefix("--rules="))
          }
          val manifest = graft.operators.SchemaCheck
            .readTyped[graft.model.ManifestEntry](
              spark, manifestDir, s"manifest table $manifestDir")
          val q = graft.streaming.StreamingValidation.startSplitIngest(
            spark, input, manifest, s"$outDir/table",
            s"$outDir/quarantine", s"$outDir/checkpoint",
            rules = rulesFile.getOrElse(graft.rules.Rules.standard))
          q.awaitTermination()
          def rowsAt(p: String): Long =
            graft.sources.TableIO.readIfExists(spark, p).fold(0L)(_.count())
          println(s"""{"table_rows":${rowsAt(s"$outDir/table")},""" +
            s""""quarantined_rows":${rowsAt(s"$outDir/quarantine")}}""")

        case "neardup" :: input :: outDir :: rest =>
          // at-ingest near-duplicate flagging (AvailableNow) over a
          // landing dir of (doc_id, text, source) parquet: persisted
          // MinHash-LSH band-bucket index, bucket-pruned probes,
          // periodic index compaction. Flags land under
          // outDir/neardup_flags keyed by arriving batch.
          def num(p: String, d: Int) = rest.collectFirst {
            case a if a.startsWith(p) => a.stripPrefix(p).toInt
          }.getOrElse(d)
          val minSim = rest.collectFirst {
            case a if a.startsWith("--min-sim=") =>
              a.stripPrefix("--min-sim=").toDouble
          }.getOrElse(0.5)
          val q = graft.streaming.StreamingValidation.startNearDupIngest(
            spark, input, outDir,
            k = num("--k=", 16), bands = num("--bands=", 4),
            minEstSim = minSim, shingleN = num("--shingle-n=", 3),
            indexBuckets = num("--buckets=", 64),
            compactEvery = num("--compact-every=", 64))
          q.awaitTermination()
          val nFlags = graft.sources.TableIO
            .readIfExists(spark, s"$outDir/neardup_flags")
            .fold(0L)(_.count())
          val nGens = graft.state.Generations.ids(spark,
            graft.streaming.StreamingValidation.nearDupStore(outDir)).size
          println(s"""{"flags":$nFlags,"index_generations":$nGens}""")

        case "rules" :: rest =>
          // export the compiled-in rule set as editable config JSON —
          // the starting point for a --rules= file. Variants mirror the
          // automatic augmentation validate applies.
          val rs = rest match {
            case Nil => graft.rules.Rules.standard
            case "--with-snapshot-equality" :: Nil =>
              graft.rules.Rules.withSnapshotEquality
            case "--with-storage-count" :: Nil =>
              graft.rules.Rules.withStorageCount()
            case other => throw new IllegalArgumentException(
              s"rules takes an optional variant flag, got: $other")
          }
          println(graft.rules.RuleConfig.toJson(rs))

        case _ =>
          System.err.println(
            "usage: gen <outDir> <nRows> [seed] [badNtokRate] [dupRate] " +
              "[unknownRate] [driftSrc:shift] | " +
              "validate <inputDir> <manifestDir> <outDir> [baselineDir] [--partitions=a,b] " +
              "[refSnapshotDir] [--rules=config.json] | " +
              "rules [--with-snapshot-equality|--with-storage-count] | " +
              "transfer <inputDir> <validationOutDir> <storeDir> " +
              "<manifestTsvDir> | " +
              "cleanup <inputDir> <validationOutDir> <storeDir> [--dry-run] " +
              "[--prune-logs=k] [--compact-checkpoint] | " +
              "quarantine <inputDir> <validationOutDir> <salvageDir> " +
              "<quarantineDir> [--dry-run] | " +
              "diff <validationOutDir> [beforeRunId afterRunId] [--all] | " +
              "trend <validationOutDir> [--runs=k] | " +
              "report <validationOutDir> [--run=id] [--top=k] [--out=path] | " +
              "datacard <documentsParquetDir> [--top=k] [--out=path] | " +
              "ingest <landingDir> <manifestDir> <outDir> " +
              "[--rules=config.json] | " +
              "neardup <landingDir> <outDir> [--k=16] [--bands=4] " +
              "[--min-sim=0.5] [--shingle-n=3] [--buckets=64] " +
              "[--compact-every=64]")
          sys.exit(2)
      }
    } finally spark.stop()
  }
}
