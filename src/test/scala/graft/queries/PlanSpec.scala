package graft.queries

import graft.SparkSpec
import graft.rules.{RuleEngine, Rules}

/** Physical-plan assertions: the plans we rely on at scale must actually
  * materialize — filters reach the parquet scan, dimension joins broadcast,
  * the row-rule pass stays inside whole-stage codegen. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("filter is pushed down to the parquet scan (f_scalar_path)") {
    val plan = executedPlan("f_scalar_path")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("LessThan(event_id,100)"), plan.take(2000))
  }

  test("scan is column-pruned (a9 reads only source and n_chars)") {
    val plan = executedPlan("a9_verdict_rollup")
    assert(plan.contains("ReadSchema"), plan.take(2000))
    assert(!plan.contains("text"),
      "verdict roll-up must not read the text column\n" + plan.take(2000))
  }

  test("dimension join broadcasts (j4_dim_join)") {
    val plan = executedPlan("j4_dim_join")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("manifest join in the rule engine broadcasts") {
    val seqs = graft.gen.SequenceGen.sequences(spark, 100)
    val manifest = graft.gen.SequenceGen.manifest(spark, 100)
    val enriched = RuleEngine.withManifest(seqs.toDF(), manifest)
    enriched.collect()
    val plan = enriched.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("row-rule pass contains no interpreted higher-order filter") {
    val seqs = graft.gen.SequenceGen.sequences(spark, 100)
    val manifest = graft.gen.SequenceGen.manifest(spark, 100)
    val enriched = RuleEngine.withManifest(seqs.toDF(), manifest)
    val vio = RuleEngine.rowViolations(enriched, Rules.standard.rowRules)
    vio.collect()
    val plan = vio.queryExecution.executedPlan.toString
    assert(!plan.contains("ArrayFilter"), plan.take(2000))
    // whole-stage codegen spans print as "*(n)" in executedPlan.toString
    assert(plan.contains("*("), plan.take(2000))
  }

  test("second-dimension lookup broadcasts BOTH dims (j5_second_dim)") {
    val plan = executedPlan("j5_second_dim").split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("anti joins execute as joins, not nested loops (j1_anti)") {
    val plan = executedPlan("j1_anti")
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("jaccard self-join reuses ONE shingle exchange (the explode and " +
      "shuffle are not recomputed per branch)") {
    val df = graft.SparkEntry.queries("dedup_jaccard_pairs_capped")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange") ||
      "Exchange hashpartitioning\\(shingle".r.findAllIn(plan).size <= 1,
      plan.take(3000))
  }

  test("containment pairs ride the SAME single-exchange inverted-index " +
      "core as jaccard (shared shinglePairCounts)") {
    val df = graft.SparkEntry.queries("dedup_containment_pairs")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ReusedExchange") ||
      "Exchange hashpartitioning\\(shingle".r.findAllIn(plan).size <= 1,
      plan.take(3000))
  }

  test("every self-join pair query builds its key index from ONE corpus " +
      "scan: both join branches share a single key exchange") {
    // query -> the key its capped index is hash-partitioned on
    val keyed = Seq(
      "dedup_minhash_pairs" -> "band_idx",
      "dedup_minhash_pairs_capped" -> "band_idx",
      "dedup_simhash_pairs" -> "band_idx",
      "dedup_simhash_pairs_capped" -> "band_idx",
      "dedup_winnow_pairs" -> "fp",
      "dedup_embedding_pairs_lsh" -> "bucket",
      "mm_phash_pairs" -> "band_idx",
      "dedup_jaccard_pairs_capped" -> "shingle",
      "dedup_containment_pairs" -> "shingle")
    for ((q, key) <- keyed) {
      val plan = finalPlan(q)
      assert("FileScan parquet".r.findAllIn(plan).size === 1,
        s"$q\n" + plan.take(4000))
      assert(plan.contains("ReusedExchange") ||
        s"Exchange hashpartitioning\\($key".r.findAllIn(plan).size <= 1,
        s"$q\n" + plan.take(4000))
    }
  }

  test("token burstiness: top-64 is a bounded TakeOrdered over the " +
      "rolled-up vocab — never a full vocabulary sort") {
    val plan = executedPlan("token_burstiness")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("emb_mmd_twosample: moment partials hash-aggregate map-side — " +
      "ONE corpus scan, no vec-keyed exchange, broadcast-only joins") {
    val plan = finalPlan("emb_mmd_twosample")
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan.take(4000))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"), plan.take(4000))
    "Exchange hashpartitioning\\(([^)]*)".r.findAllIn(plan).matchData
      .foreach(m => assert(!m.group(1).contains("vec_id"),
        plan.take(4000)))
  }

  test("time-axis drift and shard-mix audits stay grid-shaped: the " +
      "corpus collapses in ONE aggregation; windows run on the grid") {
    // drift_time_halves legitimately scans events twice: the 1-row
    // time-range aggregate must complete before the halves classify
    // (its branch prunes to ts only); the classifying scan is ONE
    // grid aggregation. shard_mix is a single-scan grid collapse.
    val dt = finalPlan("drift_time_halves")
    assert("Scan parquet".r.findAllIn(dt).size <= 2, dt.take(4000))
    assert(dt.contains("ReadSchema: struct<ts:timestamp_ntz>"),
      dt.take(4000))
    assert(!dt.contains("SortMergeJoin"), dt.take(4000))
    val sm = finalPlan("shard_mix_entropy")
    assert("Scan parquet".r.findAllIn(sm).size === 1, sm.take(4000))
    assert(!sm.contains("SortMergeJoin"), sm.take(4000))
  }

  test("cohort retention / funnel collapse events in one pass: funnel " +
      "is join-free; the cohort user join carries no forced broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val fu = finalPlan("events_funnel")
    assert("Scan parquet".r.findAllIn(fu).size === 1, fu.take(4000))
    assert(!fu.contains("Join"), fu.take(4000))
    val df = graft.SparkEntry.queries("events_cohort_retention")(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    val userJoins = joins.filter(_.condition.exists(
      _.references.exists(_.name == "user_id")))
    assert(userJoins.nonEmpty)
    userJoins.foreach { j =>
      val forced = j.hint.leftHint.exists(_.strategy.isDefined) ||
        j.hint.rightHint.exists(_.strategy.isDefined)
      assert(!forced, s"open user-domain join must stay unhinted: $j")
    }
  }

  test("heaps_law: the doc-count branch prunes to doc_id only, and no " +
      "sort-merge join appears (grid joins are broadcast-sized)") {
    val plan = executedPlan("heaps_law")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("chunk passage dedup decodes text ONCE: one chunk-hash exchange " +
      "serves the multiplicity agg and the docs-per-chunk window, no " +
      "join, no second scan") {
    val df = graft.SparkEntry.queries("dedup_chunk_fraction")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    // exactly two exchanges: the chunk-hash clustering + the final
    // per-doc aggregation
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2,
      plan.take(3000))
  }

  test("novelty audit is skew-resistant (r06, VERDICT r05 #3): map-side " +
      "(wkey, doc) partials absorb hot keys, NO window over raw " +
      "occurrences, min-doc joins back") {
    val df = graft.SparkEntry.queries("dedup_novelty")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // a boilerplate-hot key must never funnel raw occurrence rows onto
    // one sort task: no window operator anywhere, occurrence counts
    // partial-aggregate before their exchange
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
    // the min-doc table joins back onto the (wkey, doc) partials
    assert(plan.contains("Join"), plan.take(3000))
    // the window-key projection is shared, not re-planned per consumer:
    // at most 2 scans (ReusedExchange normally collapses it to 1)
    assert("Scan parquet".r.findAllIn(plan).size <= 2, plan.take(3000))
  }

  test("source minhash matrix: per-source mins partial-aggregate " +
      "map-side; the pair matrix is a broadcast self-join of the " +
      "|sources|-row signature table") {
    val df = graft.SparkEntry.queries("src_minhash_sim")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_min") || plan.contains("partial_"),
      plan.take(3000)) // map-side combine before the one source exchange
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("IVF centroid assignment is a pure projection: no exchange, no " +
      "window, no cross join before the probe join") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val assignedOnly = graft.operators.SimilaritySearch
      .ivfTopK(e, e.filter($"vec_id" < 10), "vec_id", "embedding",
        k = 3, nCentroids = 8, nprobe = 2)
    assignedOnly.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — count
    // operators in the FINAL plan only
    val plan = assignedOnly.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("PQ search scores via broadcast table lookups: no exchange on " +
      "the corpus before the probe join, no window, bounded top-k") {
    for (q <- Seq("ann_pq_topk", "ann_ivfpq_topk")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("Window"), s"$q: ${plan.take(3000)}")
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(3000)}")
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"), s"$q: ${plan.take(3000)}")
      // corpus side reaches the probe join unshuffled: the only
      // exchanges are the final top-k aggregation's
      assert(plan.contains("partial_topk_by_score"), s"$q: ${plan.take(3000)}")
    }
  }

  test("semantic dedup: cluster assignment is a projection (no exchange " +
      "before the cid repartition), no window, no cartesian") {
    val df = graft.SparkEntry.queries("dedup_semantic")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window ["), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the only hash-partitioning exchanges are the explicit cid
    // repartition (reused by both self-join branches), the dropped-id
    // distinct, and the final id probe join's
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)#"
      .r.findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.forall(c => c == "cid" || c == "vec_id"),
      exchanges.toString + "\n" + plan.take(3000))
  }

  test("incremental bloom dedup: might_contain pushes to the scan side; " +
      "exactly one (anti) join in the plan") {
    val df = graft.SparkEntry.queries("dedup_incremental_bloom")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("might_contain"), plan.take(3000))
    assert("(?i)join".r.findAllIn(plan).size === 1, plan.take(3000))
  }

  test("trained frequency scoring is a pure projection: no join, no " +
      "exchange in the scoring plan (top-K vocab is a literal map)") {
    val df = graft.SparkEntry.queries("text_freq_score")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // match join OPERATORS, not the word "join" (which appears inside
    // the vocabulary map literal — the corpus contains it)
    assert(!("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct").r
      .findFirstIn(plan).isDefined, plan.take(3000))
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("top-k ranking runs as a BOUNDED partial aggregate, not a window " +
      "(VERDICT r02 #7: no single-reducer-per-probe sort)") {
    for (q <- Seq("ann_topk_cosine", "ann_lsh_topk", "ann_ivf_topk")) {
      val plan = executedPlan(q).split("== Initial Plan ==").head
      assert(!plan.contains("Window ["), s"$q still uses a window\n" +
        plan.take(3000))
      // the custom TypedImperativeAggregate runs as ObjectHashAggregate
      // with a partial_topk_by_score map side
      assert(plan.contains("topk_by_score"), s"$q\n" + plan.take(3000))
      assert(plan.contains("partial_topk_by_score"), s"$q\n" + plan.take(3000))
    }
  }

  test("decontamination broadcasts the benchmark side; stratified sample " +
      "runs as a bounded partial aggregate") {
    val d = executedPlan("decontaminate_overlap")
      .split("== Initial Plan ==").head
    assert(d.contains("BroadcastHashJoin"), d.take(3000))
    assert(!d.contains("SortMergeJoin"), d.take(3000))

    val s = executedPlan("sample_stratified").split("== Initial Plan ==").head
    assert(s.contains("partial_topk_by_score"), s.take(3000))
    assert(!s.contains("Window ["), s.take(3000))
  }

  test("k-means iteration: assignment is a projection, sums are ONE " +
      "partial-aggregated exchange (no window, no join, no cartesian)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Seq(Seq.fill(64)(0.1), Seq.fill(64)(-0.1))
    val sums = graft.operators.SimilaritySearch
      .kmeansSums(e, "embedding", cents)
    sums.collect()
    val plan = sums.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window ["), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // exactly one shuffle: the k×dims partial-aggregate exchange
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") === 1,
      plan.take(3000))
  }

  test("as-of join runs as union + ONE keyed window exchange — no join " +
      "operator, no per-key range explosion") {
    val plan = executedPlan("j12_asof_join").split("== Initial Plan ==").head
    assert(!("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct").r
      .findFirstIn(plan).isDefined, plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      plan.take(3000))
    // the event_type filters reach both parquet scans
    assert(plan.contains("EqualTo(event_type,purchase)"), plan.take(3000))
    assert(plan.contains("EqualTo(event_type,click)"), plan.take(3000))
  }

  test("sequence packing is one scan + one per-source window exchange") {
    val plan = executedPlan("seq_pack").split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      plan.take(3000))
  }

  test("bigram top-k: map-side partial count + TakeOrdered (the corpus " +
      "never reaches a global sort)") {
    val plan = executedPlan("ngram_topk").split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("bm25 scoring pass: one scan, zero joins (df/avgdl/N are trained " +
      "literals), bounded top-k — no window") {
    val plan = executedPlan("bm25_score").split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct").r
      .findFirstIn(plan).isDefined, plan.take(3000))
    assert(!plan.contains("Window ["), plan.take(3000))
    assert(plan.contains("partial_topk_by_score"), plan.take(3000))
  }

  test("hash-threshold mixing is a pure projection filter: no exchange, " +
      "no join, no aggregation") {
    val plan = executedPlan("mix_sample").split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(!("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct").r
      .findFirstIn(plan).isDefined, plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
  }

  test("packing stats and decile bucketing: one scan + one partial-agg " +
      "exchange each, no join, no window (deciles score against trained " +
      "literal thresholds)") {
    for (q <- Seq("seq_pack_stats", "quality_deciles")) {
      val plan = executedPlan(q).split("== Initial Plan ==").head
      assert("Scan parquet".r.findAllIn(plan).size === 1,
        s"$q\n" + plan.take(3000))
      assert(!plan.contains("Join"), s"$q\n" + plan.take(3000))
      assert(!plan.contains("Window ["), s"$q\n" + plan.take(3000))
      assert(plan.contains("partial_count") ||
        plan.contains("partial_sum") || plan.contains("HashAggregate"),
        s"$q\n" + plan.take(3000))
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"$q\n" + plan.take(3000))
    }
  }

  test("fused engine: the stats aggregate rides the row-rule scan as " +
      "observed metrics (one tokens decode, VERDICT r02 #1)") {
    val seqs = graft.gen.SequenceGen.sequences(spark, 500)
    val manifest = graft.gen.SequenceGen.manifest(spark, 500)
    val staged = RuleEngine.planStaged(seqs, manifest, Rules.standard)
    staged.scanViolations.collect()
    val plan = staged.scanViolations.queryExecution.executedPlan.toString
    assert(plan.contains("CollectMetrics"), plan.take(3000))
    assert(plan.contains("source_stats"), plan.take(3000))
    // the row-rule projection above the metrics node stays codegen'd
    assert(plan.contains("*("), plan.take(3000))
    staged.finish() // consume the observation
  }

  test("semantic decontamination broadcasts the benchmark side and " +
      "ranks via the bounded aggregate, not a window") {
    val plan = executedPlan("decontaminate_semantic")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window ["), plan.take(3000))
    assert(plan.contains("topk_by_score"), plan.take(3000))
  }

  test("per-group outliers: centroid table broadcasts back; bottom-k is " +
      "the bounded aggregate; the corpus never exchanges by row") {
    val plan = executedPlan("emb_outlier")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window ["), plan.take(3000))
    assert(plan.contains("topk_by_score"), plan.take(3000))
    // exchanges carry only label-keyed partials/centroids, never vec_id
    "Exchange hashpartitioning\\(([^)]*)".r.findAllMatchIn(plan)
      .foreach(m => assert(!m.group(1).contains("vec_id"),
        plan.take(3000)))
  }

  test("skew audit: per-key counts partial-aggregate map-side; global " +
      "top-k is one bounded aggregate, no global sort") {
    val plan = executedPlan("skew_audit")
    assert(plan.contains("partial_count") ||
      plan.contains("HashAggregate"), plan.take(3000))
    assert(plan.contains("topk_by_score"), plan.take(3000))
    assert(!plan.contains("Sort ["), plan.take(3000))
  }

  test("open-vocabulary joins carry NO forced broadcast hint — the plan " +
      "must be free to degrade to a shuffled hash join when the vocab " +
      "outgrows memory (VERDICT r04 #1)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // query -> the open-domain join key(s): the word / bigram / context
    // tables grow with corpus size, so the joins on these keys must be
    // unhinted (AQE may still broadcast small vocabs at runtime — that
    // is a size-based decision, not a pinned one).
    val checks = Seq(
      "src_kl" -> Set("w"),
      "lm_unigram_score" -> Set("w"),
      "lm_bigram_score" -> Set("bg", "a"),
      // Kneser–Ney joins the open bigram/context/continuation tables
      "lm_kn_score" -> Set("bg", "a", "w"),
      // the trained BPE vocab spans the same open word domain
      "bpe_encode" -> Set("w"),
      "bpe_fertility" -> Set("w"),
      // ppl_band_split's vocab join sits inside its r06 materialized
      // doc-score table (localCheckpoint), invisible from the final
      // plan; the identical occ⋈cw join shape is pinned via
      // lm_unigram_score above
      // PMI joins the open bigram table to the unigram table twice
      "pmi_collocations" -> Set("w1", "w2"))
    for ((q, keys) <- checks) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      val vocabJoins = joins.filter(_.condition.exists(
        _.references.exists(a => keys.contains(a.name))))
      assert(vocabJoins.nonEmpty, s"$q: expected a vocab-keyed join")
      vocabJoins.foreach { j =>
        val forced = j.hint.leftHint.exists(_.strategy.isDefined) ||
          j.hint.rightHint.exists(_.strategy.isDefined)
        assert(!forced,
          s"$q: open-vocab join must not force a join strategy: $j")
      }
    }
  }

  test("padding-waste audit and sliding chunking stay projection-only " +
      "up to their tiny aggregates (no joins, no windows)") {
    Seq("pack_bucket_waste", "chunk_sliding").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("Join"), s"$q\n" + plan.take(3000))
      assert(!plan.contains("Window ["), s"$q\n" + plan.take(3000))
    }
  }

  test("sorted-neighborhood dedup: ONE scan, ONE block exchange shared " +
      "by the size-cap window and the neighbor leads, zero joins — the " +
      "index-free candidate plan") {
    val df = graft.SparkEntry.queries("dedup_sorted_neighbors")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan.take(3000))
    assert("Exchange hashpartitioning\\(blk".r.findAllIn(plan).size <= 1,
      plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  private def finalPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("emb_diversity never builds pair space: ONE scan, zero joins, " +
      "only the |labels×dims| partial exchanges") {
    val plan = finalPlan("emb_diversity")
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      plan.take(3000))
  }

  test("topic_balance: centroid assignment is a projection (no keyed " +
      "join anywhere); the only join is the 1-row total broadcast") {
    val plan = finalPlan("topic_balance")
    assert("Scan parquet".r.findAllIn(plan).size <= 2, plan.take(3000))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin") &&
      !plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("quality_auc and quality_pr_sweep never sort the corpus: no " +
      "range-partitioned exchange, no joins; the AUC window runs on the " +
      "bounded histogram grid only") {
    val auc = finalPlan("quality_auc")
    assert(!auc.contains("Join"), auc.take(3000))
    assert(!auc.contains("Exchange rangepartitioning"), auc.take(3000))
    assert(auc.contains("Window"), auc.take(3000))
    val sweep = finalPlan("quality_pr_sweep")
    assert(!sweep.contains("Join"), sweep.take(3000))
    assert(!sweep.contains("Window"), sweep.take(3000))
    assert(!sweep.contains("Exchange rangepartitioning"), sweep.take(3000))
    assert(!sweep.contains("Exchange hashpartitioning"), sweep.take(3000))
  }

  test("ctx_truncation_sweep: one scan, one global aggregate — no " +
      "per-length explode, no joins, no keyed exchange") {
    val plan = finalPlan("ctx_truncation_sweep")
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
  }

  test("vocab_coverage: the coverage window runs on the freq-of-freq " +
      "grid, never a ranked-vocab range sort; no keyed joins") {
    val plan = finalPlan("vocab_coverage")
    assert("Scan parquet".r.findAllIn(plan).size <= 2, plan.take(3000))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin") &&
      !plan.contains("BroadcastHashJoin"), plan.take(3000))
  }
}
