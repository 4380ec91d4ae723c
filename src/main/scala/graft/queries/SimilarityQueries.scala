package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, SimilaritySearch}

/**
 * Similarity-search operators over the `embeddings` table. Dot products are
 * ordered double folds, and SRP hyperplanes are plain integer hashes, so
 * the DuckDB oracle reproduces scores and buckets bit-for-bit.
 */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // brute-force cosine top-5 for the first 10 probe vectors
    "ann_topk_cosine" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilaritySearch.bruteForceTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    }),

    // HARD-NEGATIVE mining (contrastive training): per probe, the top-3
    // most-similar corpus vectors with a DIFFERENT label — the near-miss
    // negatives that teach the margin (DPR-style); brute-force declared
    // semantics, ANN candidate list slots in at scale
    "emb_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilaritySearch.hardNegatives(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 3)
    }),

    // SRP-LSH bucket assignment (4 hyperplanes -> 16 buckets)
    "ann_lsh_buckets" -> ((s, dir) => {
      SimilaritySearch.lshBuckets(emb(s, dir), "embedding", planes = 4)
        .select(col("vec_id"), col("bucket"))
    }),

    // LSH-restricted approximate top-3 for the first 10 probes
    "ann_lsh_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilaritySearch.lshTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, planes = 4)
    }),

    // IVF-bucketed approximate top-3: nearest-of-8-centroids lists,
    // probes scan their 2 nearest lists only
    "ann_ivf_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilaritySearch.ivfTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, nCentroids = 8, nprobe = 2)
    }),

    // TRAINED IVF codebook: 2 Lloyd iterations of cosine k-means (k=4)
    // over the corpus — the training step ivfTopK's first-k seeding
    // stands in for. Bit-portable by construction: quantized int64 mean
    // accumulation + ordered-fold assignment (see kmeansCodebook doc);
    // the oracle replays both iterations exactly.
    "ann_kmeans_codebook" -> ((s, dir) => {
      SimilaritySearch.kmeansCodebook(
        emb(s, dir), "vec_id", "embedding", k = 4, iters = 2)
    }),

    // IVF top-k over the TRAINED codebook — the full train-then-search
    // path (kmeans k=4 iters=2 feeding ivfTopK's assignment/probe
    // machinery); the oracle replays training AND search.
    "ann_ivf_trained_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = SimilaritySearch.kmeansCodebookSeq(
        e, "vec_id", "embedding", k = 4, iters = 2)
      SimilaritySearch.ivfTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, nprobe = 2, codebookOpt = Some(cb))
    }),

    // RECALL@k eval — the tuning loop every ANN deployment runs: the
    // trained-IVF search graded against brute-force ground truth on the
    // same probes (per probe, |approx ∩ exact| / k). Both sides are the
    // already-oracled operators; the eval is one (probe, neighbor) join
    // over 2×k×|probes| rows. At scale this is how nprobe is chosen:
    // ground truth on a sampled probe set, never the corpus.
    "ann_recall_at_k" -> ((s, dir) => {
      val e = emb(s, dir)
      val probes = e.filter(col("vec_id") < 10)
      val exact = SimilaritySearch.bruteForceTopK(
        e, probes, "vec_id", "embedding", k = 3)
      val cb = SimilaritySearch.kmeansCodebookSeq(
        e, "vec_id", "embedding", k = 4, iters = 2)
      val approx = SimilaritySearch.ivfTopK(
        e, probes, "vec_id", "embedding",
        k = 3, nprobe = 2, codebookOpt = Some(cb))
      exact.select(col("probe_id"), col("neighbor_id"))
        .join(
          approx.select(col("probe_id"), col("neighbor_id"),
            lit(1L).as("hit")),
          Seq("probe_id", "neighbor_id"), "left")
        .groupBy("probe_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("recall", col("n_hits").cast("double") / 3.0)
    }),

    // PRODUCT-QUANTIZED top-k (IVF-PQ's compression half): 4 subspaces
    // x 16 dims, k=4 sub-centroids each, trained 2 Lloyd iterations;
    // corpus scored by asymmetric-distance table lookups on its 4-code
    // encoding (16 ints/row instead of 64 floats — the 100 TB memory/IO
    // path). Fully deterministic: quantized int64 training AND quantized
    // int64 score tables, so the oracle replays training, encoding and
    // ADC search bit-for-bit.
    "ann_pq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = SimilaritySearch.pqCodebooksSeq(
        e, "vec_id", "embedding", subspaces = 4, k = 4, iters = 2)
      SimilaritySearch.pqTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, cents)
    }),

    // The COMPOSED IVF-PQ path: trained coarse codebook partitions the
    // corpus into inverted lists, PQ codes compress every vector, probes
    // ADC-score only their 2 nearest lists — train(×2) → encode → search
    // end-to-end under one oracle.
    "ann_ivfpq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val coarse = SimilaritySearch.kmeansCodebookSeq(
        e, "vec_id", "embedding", k = 4, iters = 2)
      val pq = SimilaritySearch.pqCodebooksSeq(
        e, "vec_id", "embedding", subspaces = 4, k = 4, iters = 2)
      SimilaritySearch.ivfPqTopK(
        e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, nprobe = 2, coarse, pq)
    }),

    // embedding near-dup pairs: cosine >= 0.4, exact all-pairs path
    // (small-corpus extra; the verified scale path is the _lsh variant)
    "dedup_embedding_pairs" -> ((s, dir) => {
      SimilaritySearch.embeddingDupPairs(
        emb(s, dir), "vec_id", "embedding", minCos = 0.4)
    }),

    // The SCALE configuration (planes=3 -> 8 buckets, hot buckets above
    // 60 rows dropped before the self-join — the cap BINDS at this corpus
    // size, so the verified config is the degenerate-bucket-safe one;
    // VERDICT r02 #3): candidates restricted to same SRP bucket — the
    // |bucket|-bounded join that runs at 100 TB; oracle reproduces the
    // bucketing AND the cap bit-for-bit.
    "dedup_embedding_pairs_lsh" -> ((s, dir) => {
      SimilaritySearch.embeddingDupPairs(
        emb(s, dir), "vec_id", "embedding", minCos = 0.4, planes = 3,
        maxBucketSize = 60)
    }),

    // Greedy k-center coreset (farthest-point traversal): the 8 vectors
    // that together COVER the embedding space — diversity selection under
    // a budget (Sener & Savarese core-set), vs dedup's pairwise redundancy
    // removal. max_cos is the coverage-radius curve; the oracle replays
    // all 8 greedy steps with identical folds and tie-breaks.
    "emb_coreset_kcenter" -> ((s, dir) => {
      SimilaritySearch.kCenterGreedy(emb(s, dir), "vec_id", "embedding",
        k = 8)
    }),

    // Margin-based cross-group alignment mining (Artetxe & Schwenk 2019,
    // the LASER bitext-mining scorer): per label-0 vector, its best
    // label-1 match by RATIO margin (cos over the mean of both sides'
    // average 4-NN cosines), kept when margin >= 1.05 — the hubness-
    // normalized pairing rule raw cosine thresholds lack. Oracle replays
    // the k-NN folds in the same (cos desc, id asc) order.
    "emb_align_margin" -> ((s, dir) => {
      SimilaritySearch.marginAlignPairs(
        emb(s, dir), "vec_id", "embedding", "label",
        labelA = 0, labelB = 1, k = 4, minMargin = 1.05)
    }),

    // Per-label centroid-distance OUTLIERS: the 5 members of each label
    // group least aligned with their own centroid — the mislabeled /
    // garbage-embedding screen (vector-space analog of len_outliers).
    // Centroid = order-free quantized int64 sums; bottom-k rides the
    // bounded TopK aggregate with score = -cos.
    "emb_outlier" -> ((s, dir) => {
      SimilaritySearch.centroidOutliers(emb(s, dir), "vec_id", "embedding",
        "label", k = 5)
    }),

    // SEMANTIC decontamination — the embedding-space complement of the
    // n-gram decontaminate_overlap: corpus (label 0) vectors whose best
    // cosine against ANY benchmark (label 1) vector clears 0.35, with
    // the nearest benchmark item as evidence. Benchmark broadcast; the
    // corpus never shuffles; per-row argmax is a bounded TopK(1).
    "decontaminate_semantic" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilaritySearch.semanticDecontaminate(
        e.filter(col("label") === 0), e.filter(col("label") === 1),
        "vec_id", "embedding", minCos = 0.35)
    }),

    // Top principal direction of the centered embedding cloud: 2 power
    // iterations with 2^-20-quantized int64 accumulation (one corpus
    // scan each, partials map-side combined) — the anisotropy audit run
    // before cosine thresholds are trusted (Ethayarajh 2019). The oracle
    // replays the mean pass and BOTH iterations bit-for-bit.
    "emb_pca_power" -> ((s, dir) => {
      SimilaritySearch.pcaPowerTop(emb(s, dir), "embedding", dims = 64,
        iters = 2)
    }),

    // SEMANTIC dedup (SemDeDup): trained k-means clusters (the exact
    // codebook ann_kmeans_codebook verifies) block the corpus; within a
    // cluster every item with a cos>=0.4 neighbor ranked before it
    // (centroid-cos ASC, id ASC — keep the least typical) is dropped.
    // The oracle replays training, assignment, ranking and the drop rule.
    "dedup_semantic" -> ((s, dir) => {
      SimilaritySearch.semanticDedup(
        emb(s, dir), "vec_id", "embedding", k = 4, iters = 2, minCos = 0.4)
    }),

    // EMBEDDING-DISTRIBUTION drift per label group — the vector-space
    // analog of the scalar drift gates (KS/chi2/PSI run on n_chars; a
    // semantically-shifted source moves its embedding CLOUD long before
    // its length histogram): per group, cosine of the group centroid to
    // the corpus centroid (mean direction shift) plus the variance trace
    // (dispersion change — a collapsing/mode-seeking source shrinks it).
    // Bit-portable by the codebook convention: per-(label, dim) moments
    // accumulate as 2^-20-quantized int64 sums (order-free), the corpus
    // moments RE-AGGREGATE those partials (never a second corpus scan),
    // and every float op after is a pinned sequence of exactly-rounded
    // IEEE ops folded in dim order. Scale shape: one posexplode exchange
    // of |labels × dims| partials with map-side combine; everything
    // downstream is dimension-table volume.
    "emb_drift_centroid" -> ((s, dir) => {
      val sums = emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("label"), col("dim"),
          floor(col("x").cast("double") * lit(1048576.0)).cast("long")
            .as("qv"))
        .groupBy("label", "dim")
        .agg(sum("qv").as("sq"), sum(col("qv") * col("qv")).as("sq2"),
          count(lit(1)).as("n"))
      val corpus = sums.groupBy("dim")
        .agg(sum("sq").as("cq"), sum("n").as("nt"))
      val d = sums.join(broadcast(corpus), "dim")
        .select(col("label"), col("dim"), col("n"),
          ((col("sq").cast("double") / lit(1048576.0)) / col("n")).as("m"),
          ((col("cq").cast("double") / lit(1048576.0)) / col("nt")).as("cm"),
          (((col("sq2").cast("double") / lit(1099511627776.0)) / col("n"))
            - ((col("sq").cast("double") / lit(1048576.0)) / col("n"))
              * ((col("sq").cast("double") / lit(1048576.0)) / col("n")))
            .as("var_d"))
      def fold(ds: Column, f: Column => Column): Column =
        aggregate(ds, lit(0.0), (a, x) => a + f(x))
      d.groupBy(col("label"), col("n"))
        .agg(sort_array(collect_list(struct(
          col("dim"), col("m"), col("cm"), col("var_d")))).as("ds"))
        .select(col("label"), col("n").as("n_vecs"),
          (fold(col("ds"), x => x.getField("m") * x.getField("cm"))
            / (sqrt(fold(col("ds"), x => x.getField("m") * x.getField("m")))
              * sqrt(fold(col("ds"),
                  x => x.getField("cm") * x.getField("cm")))))
            .as("cos_to_corpus"),
          fold(col("ds"), x => x.getField("var_d")).as("var_trace"))
    }),

    // GROUP-DIVERSITY audit: average pairwise cosine within each label
    // group WITHOUT materializing pairs — the mode-collapse / redundancy
    // probe for an embedding corpus (near-identical groups read ~1,
    // spread-out groups read ~0). The O(n²) pair sum collapses to the
    // sum-vector identity Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u‖² over
    // unit-normalized vectors, so the whole statistic is ONE posexplode
    // exchange of |labels×dims| quantized partials — emb_drift_centroid's
    // cost model, with zero pair space at any group size. Integer-exact:
    // q_d = floor((x_d/‖v‖)·2^20) per row (ordered-fold norm + IEEE
    // sqrt); per-dim sums ride int64, their squares DECIMAL(38,0)
    // (S_d ≈ n·2^20 wraps an int64 square at ~2^12 rows per group);
    // ONE float division at the end. Zero-norm vectors are excluded
    // (no direction, no cosine); single-vector groups have no pairs
    // and are dropped.
    "emb_diversity" -> ((s, dir) => {
      val q = floor((col("x").cast("double") / col("nrm"))
        * lit(1048576.0)).cast("long")
      val sums = emb(s, dir)
        .select(col("label"), col("embedding").as("v"),
          SimilaritySearch.norm(col("embedding")).as("nrm"))
        .filter(col("nrm") > 0.0)
        .select(col("label"), col("nrm"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .select(col("label"), col("dim"), q.as("q"))
        .groupBy("label", "dim")
        .agg(sum(col("q")).as("sd"),
          expr("sum(CAST(q AS DECIMAL(38,0)) * q)").as("ssd"),
          count(lit(1)).as("nd"))
      sums.groupBy("label")
        .agg(expr("sum(CAST(sd AS DECIMAL(38,0)) * sd)").as("qq"),
          sum(col("ssd")).as("sq"),
          max(col("nd")).as("n"))
        .filter(col("n") >= 2)
        .select(col("label"), col("n").as("n_vecs"),
          ((col("qq") - col("sq")).cast("double")
            / (lit(1099511627776.0) * col("n").cast("double")
              * (col("n") - 1L).cast("double"))).as("avg_pair_cos"))
    }),

    // QUADRATIC-KERNEL MMD two-sample drift: per label group vs the rest
    // of the corpus, MMD² under k(x,y) = (x·y)² — which reduces exactly
    // to the Frobenius distance of the two SECOND-MOMENT matrices,
    // ‖E[xxᵀ]_g − E[xxᵀ]_rest‖²_F (Gretton et al., JMLR 2012, eq. 3 with
    // the polynomial feature map φ(x) = vec(xxᵀ)). This is the
    // covariance-sensitive companion to emb_drift_centroid: a source
    // whose MEAN matches the corpus but whose correlation structure
    // collapsed (e.g. duplicated/templated embeddings) moves this
    // statistic and not that one. Integer-exact: q_i = floor(x_i·2^20),
    // per-row upper-triangle products q_i·q_j (int64, ≤2^40) accumulate
    // per (label, cell=i·65+jj) as DECIMAL(38,0) order-free sums; corpus
    // moments RE-AGGREGATE the label partials (one corpus pass total);
    // the per-cell delta takes ONE exact integer cross-difference
    // s·n₂ − (sc−s)·n₁ before a pinned float divide, and the Frobenius
    // fold runs in cell order (off-diagonal cells weighted ×2 for the
    // skipped lower triangle). Scale shape: the explode is rows×2080
    // structs but hash-aggregates WITH map-side combine, so the one
    // exchange carries only |labels|×2080 partials per map partition;
    // everything downstream is grid volume. O(rows·d²) compute is
    // inherent to second moments; pair space never appears.
    "emb_mmd_twosample" -> ((s, dir) => {
      // r06: quantization + upper-triangle cell products ride ONE fused
      // codegen'd kernel (identical values incl. the 64-clamp; the r05
      // nested HOF allocated a slice per element and interpreted two
      // lambda levels per product)
      val cells = emb(s, dir).select(col("label"),
          explode(graft.functions.MmdCellProducts(col("embedding")))
            .as("cp"))
        .select(col("label"), col("cp.cell").as("cell"), col("cp.p").as("p"))
      val sums = cells.groupBy("label", "cell")
        .agg(expr("sum(CAST(p AS DECIMAL(38,0)))").as("s"),
          count(lit(1)).as("n"))
      val corpus = sums.groupBy("cell")
        .agg(sum(col("s")).as("sc"), sum(col("n")).as("nt"))
      val d = sums.join(broadcast(corpus), "cell")
        .withColumn("n2", col("nt") - col("n"))
        .filter(col("n2") > 0L)
        .withColumn("delta",
          expr("CAST(s * n2 - (sc - s) * n AS DOUBLE)")
            / col("n").cast("double") / col("n2").cast("double")
            / lit(1099511627776.0))
        .withColumn("t", col("delta") * col("delta")
          * when(col("cell") % 65L === 0L, lit(1.0)).otherwise(lit(2.0)))
      d.groupBy(col("label"), col("n"))
        .agg(sort_array(collect_list(struct(col("cell"), col("t"))))
          .as("ds"))
        .select(col("label"), col("n").as("n_vecs"),
          aggregate(col("ds"), lit(0.0),
            (a, x) => a + x.getField("t")).as("mmd2"))
    }),

    // TOPIC-BALANCE audit: the trained k-means codebook's cluster × label
    // composition table — the "is any topic cluster dominated by one
    // feed, and is any feed missing from a topic" check curation reports
    // publish next to the source mix (cluster-and-count over the
    // embedding space; DataComp/Dolma-style composition audit). Training
    // is the verified bit-exact Lloyd loop (ann_kmeans_codebook);
    // assignment is a pure projection against the k driver-literal
    // centroids (zero exchanges); the roll-up is ONE agg to a
    // k×|labels| grid, the shares are a grid-sized window + a 1-row
    // broadcast. Never touches pair space, never sorts the corpus.
    "topic_balance" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = SimilaritySearch.kmeansCodebookSeq(
        e, "vec_id", "embedding", k = 4, iters = 2)
      val cells = e.select(
          SimilaritySearch.assignCid(cb)(col("embedding")).as("cid"),
          col("label"))
        .groupBy("cid", "label")
        .agg(count(lit(1)).as("n"))
      cells
        .withColumn("cluster_n",
          sum(col("n")).over(Window.partitionBy(col("cid"))))
        .crossJoin(broadcast(cells.agg(sum(col("n")).as("total_n"))))
        .select(col("cid"), col("label"), col("n"), col("cluster_n"),
          (col("n").cast("double") / col("cluster_n").cast("double"))
            .as("label_share"),
          (col("cluster_n").cast("double") / col("total_n").cast("double"))
            .as("cluster_share"))
    }),

    // multimodal feature extraction through the batched codec stage
    // (FakeCodec emits integer-valued floats, so even the mapPartitions
    // stage has a full DuckDB oracle; payloads are the utf-8 bytes of
    // `text`, which is pure ASCII in the testdata — per-char ascii codes
    // ARE the bytes on the oracle side)
    "mm_features" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs))
        .toDF()
        .select(col("media_id"), col("mime"), col("n_bytes"),
          element_at(col("features"), 1).as("f0"))
    }),

    // frame sampling: every 4th 32-byte frame with its fingerprint (the
    // one-to-many batched codec stage; ASCII payloads make the frame
    // fingerprints poly_hash of text slices — fully oracle-checked)
    "mm_frames" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(docs),
          frameBytes = 32, every = 4)
        .toDF()
    }),

    // media perceptual hash: 64-bit banded SimHash over sampled-frame
    // fingerprints — the image/video near-dup signature (a re-encode that
    // changes a few frames stays within small hamming distance); every
    // vote and band replayed bit-for-bit by the oracle
    "mm_phash" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.phash64(Multimodal.mediaFromDocuments(docs))
        .select(col("media_id"),
          posexplode(col("bands")).as(Seq("band_idx", "band")))
    }),

    // media near-dup pairs over the perceptual hash (hamming <= 3,
    // pigeonhole-complete 4-band blocking, degenerate buckets dropped at
    // 20 — the SCALE configuration, same contract as the text-side pair
    // operators)
    "mm_phash_pairs" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.phashPairs(Multimodal.mediaFromDocuments(docs),
        maxHamming = 3, maxBucketSize = 20)
    }),

    // resize: nearest-neighbor byte downsample to 64 bytes; fingerprint
    // of the resized payload checked against index arithmetic in SQL
    "mm_resize" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.resizePayload(Multimodal.mediaFromDocuments(docs),
          targetBytes = 64)
        .select(col("media_id"), col("mime"),
          length(col("payload")).cast("int").as("n_bytes"),
          graft.functions.TextFunctions
            .polyHash(decode(col("payload"), "UTF-8")).as("fp"))
    })
  )

  /** Shared perceptual-hash oracle spec: sampled-frame fingerprints (the
    * mm_frames arithmetic) → per-(media, bit) ±1 votes → 4 packed 16-bit
    * bands. Used verbatim by the mm_phash and mm_phash_pairs oracles so
    * the signature and the pair join cannot silently diverge. */
  private val phashBandsCte: String =
    """frames AS (
         SELECT doc_id AS media_id,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  [CAST(ascii(ch) AS BIGINT)
                   for ch in string_split(
                     substring(text, CAST(i*32+1 AS INT), 32),'')]),
                  (a,b)->(a*31+b)%1000000007) AS frame_fp
         FROM (SELECT doc_id, text,
                      unnest(range(len(text)//32)) AS i FROM documents)
         WHERE i % 4 = 0),
       votes AS (
         SELECT media_id, j,
                SUM(CASE WHEN ((frame_fp*(2*j+1) + (j*1000003 + 12345))
                               % 1000000007) % 2 = 1
                         THEN 1 ELSE -1 END) AS v
         FROM frames, (SELECT unnest(range(64)) AS j)
         GROUP BY 1, 2),
       bands AS (
         SELECT media_id, CAST(j // 16 AS INT) AS band_idx,
                CAST(SUM(CASE WHEN v > 0
                              THEN CAST(1 AS BIGINT) << CAST(j % 16 AS INT)
                              ELSE 0 END) AS BIGINT) AS band
         FROM votes GROUP BY 1, 2)"""

  // ordered-fold dot product over double-promoted elements
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"[CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) " +
      s"for i in range(1, len($a)+1)]), (x,y)->x+y)"

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** k-step greedy k-center oracle: a generated chain of MATERIALIZED
    * CTEs (without the hint DuckDB inlines each d_i into every consumer
    * and the chain re-expands exponentially) — sel0 = min-id seed, d_i =
    * running max-cos-to-selected, p_i = the (d asc, vec_id asc) argmin
    * pick of step i. Mirrors SimilaritySearch.kCenterGreedy's folds and
    * tie-breaks exactly. */
  private def kcenterSql(k: Int): String = {
    val parts = new scala.collection.mutable.ListBuffer[String]
    parts += s"""sel0 AS MATERIALIZED (
           SELECT vec_id, embedding FROM embeddings
           WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
         d0 AS MATERIALIZED (
           SELECT e.vec_id, ${cosSql("e.embedding", "s.embedding")} AS d
           FROM embeddings e, sel0 s WHERE e.vec_id <> s.vec_id)"""
    for (i <- 1 until k) {
      parts += s"""p$i AS MATERIALIZED (
           SELECT e.vec_id, e.embedding,
                  (SELECT d FROM d${i - 1}
                   ORDER BY d ASC, vec_id ASC LIMIT 1) AS dsel
           FROM embeddings e
           WHERE e.vec_id = (SELECT vec_id FROM d${i - 1}
                             ORDER BY d ASC, vec_id ASC LIMIT 1))"""
      if (i < k - 1)
        parts += s"""d$i AS MATERIALIZED (
           SELECT dd.vec_id,
                  GREATEST(dd.d, ${cosSql("e.embedding", "p.embedding")})
                    AS d
           FROM d${i - 1} dd JOIN embeddings e ON dd.vec_id = e.vec_id,
                p$i p
           WHERE dd.vec_id <> p.vec_id)"""
    }
    val tail = (Seq(
      "SELECT CAST(0 AS BIGINT) AS sel_order, vec_id, " +
        "CAST(NULL AS DOUBLE) AS max_cos FROM sel0") ++
      (1 until k).map(i =>
        s"SELECT CAST($i AS BIGINT), vec_id, dsel FROM p$i"))
      .mkString(" UNION ALL ")
    s"WITH ${parts.mkString(",\n")}\n$tail"
  }

  // SRP bucket: bit j set iff sum_i v[i]*sign(seed,j,i) > 0, with
  // sign = +1 iff ((i+1)*2654435761 + (j+1)*40503 + 42) >> 16 is even
  // (i is the 0-based dim, j the 0-based plane; mirrors SrpBucketUtil).
  private def bucketSqlP(planes: Int) =
    s"""(SELECT CAST(SUM(CASE WHEN pr > 0 THEN 1 << j ELSE 0 END) AS BIGINT)
       FROM (SELECT j, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [CAST(embedding[i+1] AS DOUBLE) *
                (CASE WHEN ((CAST(i+1 AS BIGINT)*2654435761 +
                             (j+1)*40503 + 42) >> 16) % 2 = 0
                      THEN 1.0 ELSE -1.0 END)
                for i in range(0, len(embedding))]), (x,y)->x+y) AS pr
             FROM (SELECT unnest(range($planes)) AS j)))"""

  private val bucketSql = bucketSqlP(4)

  /** One Lloyd iteration as SQL: assignment argmax vs `prevList` (a
    * (cid, cvec) CTE), quantized int64 dimension sums, mean with
    * empty-cluster fallback to the previous centroid — mirrors
    * SimilaritySearch.kmeansCodebook step for step (dim = 64, the
    * testdata embedding width). */
  private def kmeansStepSql(prevList: String, assigned: String,
      sums: String, out: String): String =
    s"""$assigned AS (
         SELECT vec_id, embedding, cid FROM (
           SELECT e.vec_id, e.embedding, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id
                    ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
                             c.cid ASC) AS r
           FROM embeddings e, $prevList c) WHERE r = 1),
       $sums AS (
         SELECT cid, dim,
                SUM(CAST(floor(CAST(embedding[dim+1] AS DOUBLE)*1048576.0)
                    AS BIGINT)) AS s,
                COUNT(*) AS n
         FROM $assigned, (SELECT unnest(range(64)) AS dim)
         GROUP BY 1, 2),
       $out AS (
         SELECT cid, dim,
                COALESCE((CAST(s AS DOUBLE)/1048576.0)/n,
                         cvec[CAST(dim AS INT)+1]) AS val
         FROM (SELECT p.cid, d.dim, p.cvec
               FROM $prevList p
               CROSS JOIN (SELECT unnest(range(64)) AS dim) d) g
         LEFT JOIN $sums USING (cid, dim))"""

  // PQ sub-assignment score: dot(sv, c) - |c|^2/2 (argmin L2^2 without
  // division) — mirrors SimilaritySearch.pqArgmax exactly
  private def pqScoreSql(sv: String, cv: String): String =
    s"(${dotSql(sv, cv)} - ${dotSql(cv, cv)}/2.0)"

  /** One PQ Lloyd step over the `esub` subvector CTE: per-(vec, sub)
    * assignment, quantized per-(sub, cid, dim) sums, new centroids with
    * empty clusters kept. */
  private def pqStepSql(prevList: String, assigned: String,
      sums: String, out: String): String =
    s"""$assigned AS (
         SELECT vec_id, sub, sv, cid FROM (
           SELECT e.vec_id, e.sub, e.sv, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.sub
                    ORDER BY ${pqScoreSql("e.sv", "c.cvec")} DESC,
                             c.cid ASC) AS r
           FROM esub e JOIN $prevList c USING (sub)) WHERE r = 1),
       $sums AS (
         SELECT sub, cid, dim,
                SUM(CAST(floor(CAST(sv[dim+1] AS DOUBLE)*1048576.0)
                    AS BIGINT)) AS s,
                COUNT(*) AS n
         FROM $assigned, (SELECT unnest(range(16)) AS dim) sd
         GROUP BY 1, 2, 3),
       $out AS (
         SELECT sub, cid, dim,
                COALESCE((CAST(s AS DOUBLE)/1048576.0)/n,
                         cvec[CAST(dim AS INT)+1]) AS val
         FROM (SELECT p.sub, p.cid, d.dim, p.cvec
               FROM $prevList p
               CROSS JOIN (SELECT unnest(range(16)) AS dim) d) g
         LEFT JOIN $sums USING (sub, cid, dim))"""

  /** Brute-force cosine top-k SQL — shared by `ann_topk_cosine` (k=5)
    * and the recall eval's ground-truth side (k=3), ONE definition so
    * the two cannot drift. */
  private def bruteTopkSql(k: Int): String =
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pv
               FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id AS neighbor_id, embedding AS cv
               FROM embeddings),
          scored AS (
            SELECT probe_id, neighbor_id, ${cosSql("pv", "cv")} AS cos
            FROM p, c WHERE probe_id <> neighbor_id),
          ranked AS (
            SELECT probe_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored)
          SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id, cos
          FROM ranked WHERE rank <= $k"""

  private val baseOracles: Map[String, String] = Map(
    "emb_drift_centroid" ->
      """WITH q AS (
           SELECT label, dim,
                  CAST(floor(CAST(embedding[dim+1] AS DOUBLE)*1048576.0)
                    AS BIGINT) AS qv
           FROM embeddings, (SELECT unnest(range(64)) AS dim)),
         sums AS (SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS sq,
                    CAST(SUM(qv*qv) AS BIGINT) AS sq2,
                    CAST(COUNT(*) AS BIGINT) AS n
                  FROM q GROUP BY 1, 2),
         corpus AS (SELECT dim, CAST(SUM(sq) AS BIGINT) AS cq,
                      CAST(SUM(n) AS BIGINT) AS nt
                    FROM sums GROUP BY 1),
         d AS (SELECT label, s.dim, n,
                 (CAST(sq AS DOUBLE)/1048576.0)/n AS m,
                 (CAST(cq AS DOUBLE)/1048576.0)/nt AS cm,
                 (CAST(sq2 AS DOUBLE)/1099511627776.0)/n
                   - ((CAST(sq AS DOUBLE)/1048576.0)/n)
                     * ((CAST(sq AS DOUBLE)/1048576.0)/n) AS var_d
               FROM sums s JOIN corpus c ON s.dim = c.dim),
         f AS (SELECT label, n,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(m*cm ORDER BY dim)), (x,y)->x+y) AS dp,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(m*m ORDER BY dim)), (x,y)->x+y) AS na,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(cm*cm ORDER BY dim)), (x,y)->x+y) AS nb,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(var_d ORDER BY dim)), (x,y)->x+y) AS var_trace
               FROM d GROUP BY label, n)
         SELECT label, n AS n_vecs, dp/(sqrt(na)*sqrt(nb)) AS cos_to_corpus,
                var_trace
         FROM f""",
    "emb_diversity" ->
      s"""WITH u AS (
            SELECT label, embedding AS v,
                   sqrt(${dotSql("embedding", "embedding")}) AS nrm
            FROM embeddings),
          q AS (
            SELECT label, dim,
                   CAST(floor((CAST(v[dim+1] AS DOUBLE) / nrm)
                     * 1048576.0) AS BIGINT) AS q
            FROM u, (SELECT unnest(range(64)) AS dim)
            WHERE nrm > 0),
          sums AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sd,
                     SUM(CAST(q AS HUGEINT) * q) AS ssd,
                     CAST(COUNT(*) AS BIGINT) AS nd
                   FROM q GROUP BY 1, 2),
          g AS (SELECT label,
                  SUM(CAST(sd AS HUGEINT) * sd) AS qq,
                  SUM(ssd) AS sq,
                  MAX(nd) AS n
                FROM sums GROUP BY 1)
          SELECT label, n AS n_vecs,
                 CAST(qq - sq AS DOUBLE)
                   / (1099511627776.0 * CAST(n AS DOUBLE)
                     * CAST(n - 1 AS DOUBLE)) AS avg_pair_cos
          FROM g WHERE n >= 2""",
    "emb_mmd_twosample" ->
      """WITH q AS (
           SELECT label, i*64 + j AS cell,
                  CAST(floor(CAST(embedding[i+1] AS DOUBLE)*1048576.0)
                    AS BIGINT)
                    * CAST(floor(CAST(embedding[j+1] AS DOUBLE)*1048576.0)
                        AS BIGINT) AS p
           FROM embeddings,
                (SELECT unnest(range(64)) AS i),
                (SELECT unnest(range(64)) AS j)
           WHERE j >= i),
         sums AS (SELECT label, cell, SUM(CAST(p AS HUGEINT)) AS s,
                    CAST(COUNT(*) AS BIGINT) AS n
                  FROM q GROUP BY 1, 2),
         corpus AS (SELECT cell, SUM(s) AS sc, CAST(SUM(n) AS BIGINT) AS nt
                    FROM sums GROUP BY 1),
         d AS (SELECT label, su.cell AS cell, n,
                 CAST(s * (nt - n) - (sc - s) * n AS DOUBLE)
                   / CAST(n AS DOUBLE) / CAST(nt - n AS DOUBLE)
                   / 1099511627776.0 AS delta,
                 CASE WHEN su.cell % 65 = 0 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(2.0 AS DOUBLE) END AS w
               FROM sums su JOIN corpus c ON su.cell = c.cell
               WHERE (nt - n) > 0),
         f AS (SELECT label, n,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(delta*delta*w ORDER BY cell)), (x,y)->x+y) AS mmd2
               FROM d GROUP BY label, n)
         SELECT label, n AS n_vecs, mmd2 FROM f""",
    "topic_balance" ->
      s"""WITH c0 AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                     AS cid,
                   [CAST(x AS DOUBLE) for x in embedding] AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT 4)),
          ${kmeansStepSql("c0", "a1", "s1", "c1")},
          c1l AS (SELECT cid, list(val ORDER BY dim) AS cvec
                  FROM c1 GROUP BY cid),
          ${kmeansStepSql("c1l", "a2", "s2", "c2")},
          cents AS (SELECT cid, list(val ORDER BY dim) AS cvec
                    FROM c2 GROUP BY cid),
          asg AS (
            SELECT vec_id, label, cid FROM (
              SELECT e.vec_id, e.label, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
                                c.cid ASC) AS crank
              FROM embeddings e, cents c) WHERE crank = 1),
          cells AS (SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n
                    FROM asg GROUP BY 1, 2),
          cl AS (SELECT *, CAST(SUM(n) OVER (PARTITION BY cid) AS BIGINT)
                   AS cluster_n
                 FROM cells),
          t AS (SELECT CAST(SUM(n) AS BIGINT) AS total_n FROM cells)
          SELECT cid, label, n, cluster_n,
                 CAST(n AS DOUBLE) / CAST(cluster_n AS DOUBLE)
                   AS label_share,
                 CAST(cluster_n AS DOUBLE) / CAST(total_n AS DOUBLE)
                   AS cluster_share
          FROM cl, t""",
    "emb_outlier" ->
      s"""WITH q AS (
            SELECT label, vec_id, dim,
                   CAST(floor(CAST(embedding[dim+1] AS DOUBLE)*1048576.0)
                     AS BIGINT) AS qv
            FROM embeddings, (SELECT unnest(range(64)) AS dim)),
          cl AS (SELECT label,
                        list(CAST(cq AS DOUBLE) ORDER BY dim) AS cvec
                 FROM (SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS cq
                       FROM q GROUP BY 1, 2)
                 GROUP BY 1),
          s AS (SELECT e.label, e.vec_id,
                       ${cosSql("e.embedding", "cl.cvec")} AS cos
                FROM embeddings e JOIN cl USING (label)),
          r AS (SELECT label, vec_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY label
                         ORDER BY cos ASC, vec_id ASC) AS rank
                FROM s)
          SELECT label, CAST(rank AS INT) AS rank, vec_id, cos
          FROM r WHERE rank <= 5""",
    "decontaminate_semantic" ->
      s"""WITH c AS (SELECT vec_id AS corpus_id, embedding AS cv
                     FROM embeddings WHERE label = 0),
          b AS (SELECT vec_id AS bench_id, embedding AS bv
                FROM embeddings WHERE label = 1),
          s AS (SELECT corpus_id, bench_id, ${cosSql("cv", "bv")} AS cos
                FROM c, b),
          r AS (SELECT corpus_id, bench_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY corpus_id
                         ORDER BY cos DESC, bench_id ASC) AS rank
                FROM s)
          SELECT corpus_id, bench_id, cos AS max_cos
          FROM r WHERE rank = 1 AND cos >= 0.35""",
    "emb_pca_power" ->
      """WITH muq AS (
           SELECT dim,
                  SUM(CAST(floor(CAST(embedding[dim+1] AS DOUBLE)
                    *1048576.0) AS BIGINT)) AS qs,
                  COUNT(*) AS n
           FROM embeddings, (SELECT unnest(range(64)) AS dim)
           GROUP BY 1),
         mul AS MATERIALIZED (
           SELECT list(CAST(qs AS DOUBLE)/n/1048576.0 ORDER BY dim) AS mu
           FROM muq),
         v0 AS (SELECT [1.0/sqrt(64.0) for i in range(64)] AS v),
         s1 AS MATERIALIZED (
           SELECT e.vec_id,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    [(CAST(e.embedding[i+1] AS DOUBLE) - mu[i+1]) * v[i+1]
                     for i in range(64)]), (x,y)->x+y) AS s
           FROM embeddings e, mul, v0),
         q1 AS (
           SELECT dim,
                  SUM(CAST(floor(s1.s
                    * (CAST(e.embedding[dim+1] AS DOUBLE) - mu[dim+1])
                    * 1048576.0) AS BIGINT)) AS q
           FROM embeddings e
           JOIN s1 USING (vec_id), mul,
                (SELECT unnest(range(64)) AS dim)
           GROUP BY 1),
         v1 AS MATERIALIZED (
           SELECT [x / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    [y*y for y in qv]), (a,b)->a+b))
                   for x in qv] AS v
           FROM (SELECT list(CAST(q AS DOUBLE) ORDER BY dim) AS qv
                 FROM q1)),
         s2 AS MATERIALIZED (
           SELECT e.vec_id,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    [(CAST(e.embedding[i+1] AS DOUBLE) - mu[i+1]) * v[i+1]
                     for i in range(64)]), (x,y)->x+y) AS s
           FROM embeddings e, mul, v1),
         q2 AS (
           SELECT dim,
                  SUM(CAST(floor(s2.s
                    * (CAST(e.embedding[dim+1] AS DOUBLE) - mu[dim+1])
                    * 1048576.0) AS BIGINT)) AS q
           FROM embeddings e
           JOIN s2 USING (vec_id), mul,
                (SELECT unnest(range(64)) AS dim)
           GROUP BY 1),
         nf AS (SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  [y*y for y in qv]), (a,b)->a+b)) AS nrm
                FROM (SELECT list(CAST(q AS DOUBLE) ORDER BY dim) AS qv
                      FROM q2))
         SELECT CAST(dim AS INT) AS dim, CAST(q AS BIGINT) AS q,
                CAST(q AS DOUBLE)/nrm AS component
         FROM q2, nf""",
    "ann_ivfpq_topk" ->
      s"""WITH c0 AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                     AS cid,
                   [CAST(x AS DOUBLE) for x in embedding] AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT 4)),
          ${kmeansStepSql("c0", "a1", "s1", "c1")},
          c1l AS (SELECT cid, list(val ORDER BY dim) AS cvec
                  FROM c1 GROUP BY cid),
          ${kmeansStepSql("c1l", "a2", "s2", "c2")},
          kcents AS (SELECT cid, list(val ORDER BY dim) AS cvec
                     FROM c2 GROUP BY cid),
          assigned AS (
            SELECT neighbor_id, kcid FROM (
              SELECT e.vec_id AS neighbor_id, c.cid AS kcid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
                                c.cid ASC) AS crank
              FROM embeddings e, kcents c) WHERE crank = 1),
          plists AS (
            SELECT probe_id, kcid FROM (
              SELECT e.vec_id AS probe_id, c.cid AS kcid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
                                c.cid ASC) AS crank
              FROM embeddings e, kcents c WHERE e.vec_id < 10)
            WHERE crank <= 2),
          esub AS (
            SELECT vec_id, sub,
                   embedding[(sub*16+1):(sub*16+16)] AS sv
            FROM embeddings, (SELECT unnest(range(4)) AS sub) ss),
          p0 AS (
            SELECT sub,
                   CAST(ROW_NUMBER() OVER (PARTITION BY sub
                     ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                   [CAST(x AS DOUBLE) for x in sv] AS cvec
            FROM esub
            WHERE vec_id IN (SELECT vec_id FROM embeddings
                             ORDER BY vec_id LIMIT 4)),
          ${pqStepSql("p0", "pa1", "ps1", "pc1")},
          pc1l AS (SELECT sub, cid, list(val ORDER BY dim) AS cvec
                   FROM pc1 GROUP BY 1, 2),
          ${pqStepSql("pc1l", "pa2", "ps2", "pc2")},
          pqcents AS (SELECT sub, cid, list(val ORDER BY dim) AS cvec
                      FROM pc2 GROUP BY 1, 2),
          codes AS (
            SELECT vec_id, sub, cid FROM (
              SELECT e.vec_id, e.sub, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.sub
                       ORDER BY ${pqScoreSql("e.sv", "c.cvec")} DESC,
                                c.cid ASC) AS r
              FROM esub e JOIN pqcents c USING (sub)) WHERE r = 1),
          tabs AS (
            SELECT e.vec_id AS probe_id, c.sub, c.cid,
                   CAST(floor(${dotSql("e.sv", "c.cvec")}*1048576.0)
                     AS BIGINT) AS q
            FROM esub e JOIN pqcents c USING (sub)
            WHERE e.vec_id < 10),
          scored AS (
            SELECT t.probe_id, a.neighbor_id, SUM(t.q) AS score
            FROM plists pl
            JOIN assigned a ON a.kcid = pl.kcid
            JOIN codes k ON k.vec_id = a.neighbor_id
            JOIN tabs t ON t.probe_id = pl.probe_id
                       AND t.sub = k.sub AND t.cid = k.cid
            WHERE pl.probe_id <> a.neighbor_id
            GROUP BY 1, 2),
          ranked AS (
            SELECT probe_id, neighbor_id, score,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                     ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored)
          SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id,
                 CAST(score AS BIGINT) AS approx_ip_q
          FROM ranked WHERE rank <= 3""",
    "ann_pq_topk" ->
      s"""WITH esub AS (
            SELECT vec_id, sub,
                   embedding[(sub*16+1):(sub*16+16)] AS sv
            FROM embeddings, (SELECT unnest(range(4)) AS sub) ss),
          c0 AS (
            SELECT sub,
                   CAST(ROW_NUMBER() OVER (PARTITION BY sub
                     ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                   [CAST(x AS DOUBLE) for x in sv] AS cvec
            FROM esub
            WHERE vec_id IN (SELECT vec_id FROM embeddings
                             ORDER BY vec_id LIMIT 4)),
          ${pqStepSql("c0", "a1", "s1", "c1")},
          c1l AS (SELECT sub, cid, list(val ORDER BY dim) AS cvec
                  FROM c1 GROUP BY 1, 2),
          ${pqStepSql("c1l", "a2", "s2", "c2")},
          cents AS (SELECT sub, cid, list(val ORDER BY dim) AS cvec
                    FROM c2 GROUP BY 1, 2),
          codes AS (
            SELECT vec_id, sub, cid FROM (
              SELECT e.vec_id, e.sub, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.sub
                       ORDER BY ${pqScoreSql("e.sv", "c.cvec")} DESC,
                                c.cid ASC) AS r
              FROM esub e JOIN cents c USING (sub)) WHERE r = 1),
          tabs AS (
            SELECT e.vec_id AS probe_id, c.sub, c.cid,
                   CAST(floor(${dotSql("e.sv", "c.cvec")}*1048576.0)
                     AS BIGINT) AS q
            FROM esub e JOIN cents c USING (sub)
            WHERE e.vec_id < 10),
          scored AS (
            SELECT t.probe_id, k.vec_id AS neighbor_id,
                   SUM(t.q) AS score
            FROM codes k JOIN tabs t ON t.sub = k.sub AND t.cid = k.cid
            WHERE t.probe_id <> k.vec_id
            GROUP BY 1, 2),
          ranked AS (
            SELECT probe_id, neighbor_id, score,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                     ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored)
          SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id,
                 CAST(score AS BIGINT) AS approx_ip_q
          FROM ranked WHERE rank <= 3""",
    "ann_kmeans_codebook" ->
      s"""WITH c0 AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                     AS cid,
                   [CAST(x AS DOUBLE) for x in embedding] AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT 4)),
          ${kmeansStepSql("c0", "a1", "s1", "c1")},
          c1l AS (SELECT cid, list(val ORDER BY dim) AS cvec
                  FROM c1 GROUP BY cid),
          ${kmeansStepSql("c1l", "a2", "s2", "c2")}
          SELECT cid, CAST(dim AS INT) AS dim, val FROM c2""",
    "ann_ivf_trained_topk" ->
      s"""WITH c0 AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                     AS cid,
                   [CAST(x AS DOUBLE) for x in embedding] AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT 4)),
          ${kmeansStepSql("c0", "a1", "s1", "c1")},
          c1l AS (SELECT cid, list(val ORDER BY dim) AS cvec
                  FROM c1 GROUP BY cid),
          ${kmeansStepSql("c1l", "a2", "s2", "c2")},
          cents AS (SELECT cid, list(val ORDER BY dim) AS cvec
                    FROM c2 GROUP BY cid),
          assigned AS (
            SELECT neighbor_id, cv, cid FROM (
              SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
                                c.cid ASC) AS crank
              FROM embeddings e, cents c) WHERE crank = 1),
          plists AS (
            SELECT probe_id, pv, cid FROM (
              SELECT e.vec_id AS probe_id, e.embedding AS pv, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
                                c.cid ASC) AS crank
              FROM embeddings e, cents c WHERE e.vec_id < 10) WHERE crank <= 2),
          scored AS (
            SELECT probe_id, neighbor_id, ${cosSql("pv", "cv")} AS cos
            FROM plists JOIN assigned USING (cid)
            WHERE probe_id <> neighbor_id),
          ranked AS (
            SELECT probe_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored)
          SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id, cos
          FROM ranked WHERE rank <= 3""",
    "ann_topk_cosine" -> bruteTopkSql(5),
    "emb_hard_negatives" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pv,
                        label AS p_label
               FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                       label AS n_label
               FROM embeddings),
          scored AS (
            SELECT probe_id, neighbor_id, ${cosSql("pv", "cv")} AS cos
            FROM p, c WHERE p_label <> n_label),
          ranked AS (
            SELECT probe_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored)
          SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id, cos
          FROM ranked WHERE rank <= 3""",
    "ann_lsh_buckets" ->
      s"""SELECT vec_id, $bucketSql AS bucket FROM embeddings""",
    "ann_lsh_topk" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
                     FROM embeddings),
          p AS (SELECT vec_id AS probe_id, embedding AS pv, bucket
                FROM b WHERE vec_id < 10),
          c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM b),
          scored AS (
            SELECT probe_id, neighbor_id, ${cosSql("pv", "cv")} AS cos
            FROM p JOIN c USING (bucket)
            WHERE probe_id <> neighbor_id),
          ranked AS (
            SELECT probe_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored)
          SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id, cos
          FROM ranked WHERE rank <= 3""",
    "ann_ivf_topk" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
                         FROM embeddings WHERE vec_id < 8),
          assigned AS (
            SELECT neighbor_id, cv, cid FROM (
              SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
                                c.cid ASC) AS crank
              FROM embeddings e, cents c) WHERE crank = 1),
          plists AS (
            SELECT probe_id, pv, cid FROM (
              SELECT e.vec_id AS probe_id, e.embedding AS pv, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
                                c.cid ASC) AS crank
              FROM embeddings e, cents c WHERE e.vec_id < 10) WHERE crank <= 2),
          scored AS (
            SELECT probe_id, neighbor_id, ${cosSql("pv", "cv")} AS cos
            FROM plists JOIN assigned USING (cid)
            WHERE probe_id <> neighbor_id),
          ranked AS (
            SELECT probe_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                     ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored)
          SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id, cos
          FROM ranked WHERE rank <= 3""",
    "emb_coreset_kcenter" -> kcenterSql(8),
    "emb_align_margin" ->
      s"""WITH a AS (SELECT vec_id AS id_a, embedding AS va
                     FROM embeddings WHERE label = 0),
          b AS (SELECT vec_id AS id_b, embedding AS vb
                FROM embeddings WHERE label = 1),
          sc AS (SELECT id_a, id_b, ${cosSql("va", "vb")} AS cos
                 FROM a, b),
          da AS (SELECT id_a,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     (list(cos ORDER BY cos DESC, id_b ASC))[1:4]),
                     (x,y)->x+y)
                   / len((list(cos ORDER BY cos DESC, id_b ASC))[1:4]) AS d
                 FROM sc GROUP BY 1),
          db AS (SELECT id_b,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     (list(cos ORDER BY cos DESC, id_a ASC))[1:4]),
                     (x,y)->x+y)
                   / len((list(cos ORDER BY cos DESC, id_a ASC))[1:4]) AS d
                 FROM sc GROUP BY 1),
          m AS (SELECT id_a, id_b, sc.cos / ((da.d + db.d)/2.0) AS margin
                FROM sc JOIN da USING (id_a) JOIN db USING (id_b)),
          best AS (SELECT id_a, id_b, margin,
                          ROW_NUMBER() OVER (PARTITION BY id_a
                            ORDER BY margin DESC, id_b ASC) AS rn
                   FROM m)
          SELECT id_a, id_b, margin FROM best
          WHERE rn = 1 AND margin >= 1.05""",
    "dedup_semantic" ->
      s"""WITH c0 AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                     AS cid,
                   [CAST(x AS DOUBLE) for x in embedding] AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT 4)),
          ${kmeansStepSql("c0", "a1", "s1", "c1")},
          c1l AS (SELECT cid, list(val ORDER BY dim) AS cvec
                  FROM c1 GROUP BY cid),
          ${kmeansStepSql("c1l", "a2", "s2", "c2")},
          cents AS (SELECT cid, list(val ORDER BY dim) AS cvec
                    FROM c2 GROUP BY cid),
          assigned AS (
            SELECT vec_id, embedding, cid, ccos FROM (
              SELECT e.vec_id, e.embedding, c.cid,
                     ${cosSql("e.embedding", "c.cvec")} AS ccos,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC,
                                c.cid ASC) AS crank
              FROM embeddings e, cents c) WHERE crank = 1),
          dropped AS (
            SELECT DISTINCT b.vec_id
            FROM assigned a JOIN assigned b USING (cid)
            WHERE (a.ccos < b.ccos OR
                   (a.ccos = b.ccos AND a.vec_id < b.vec_id))
              AND ${cosSql("a.embedding", "b.embedding")} >= 0.4)
          SELECT a.vec_id, a.cid, a.ccos,
                 (d.vec_id IS NULL) AS kept
          FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id""",
    "dedup_embedding_pairs" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ${cosSql("a.embedding", "b.embedding")} AS cos
          FROM embeddings a, embeddings b
          WHERE a.vec_id < b.vec_id
            AND ${cosSql("a.embedding", "b.embedding")} >= 0.4""",
    "dedup_embedding_pairs_lsh" ->
      s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSqlP(3)} AS bucket
                      FROM embeddings),
          kept AS (
            SELECT bk.* FROM bk
            JOIN (SELECT bucket FROM bk
                  GROUP BY 1 HAVING COUNT(*) <= 60) z USING (bucket))
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ${cosSql("a.embedding", "b.embedding")} AS cos
          FROM kept a JOIN kept b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4""",
    "mm_features" ->
      """SELECT doc_id AS media_id,
                CASE WHEN doc_id % 2 = 0 THEN 'image/png'
                     ELSE 'audio/wav' END AS mime,
                CAST(len(c) AS INT) AS n_bytes,
                CAST(COALESCE(list_sum(
                  [CAST(ascii(c[i+1]) AS BIGINT)
                   for i in range(0, len(c)) if i % 8 = 0]), 0) % 1009
                  AS FLOAT) AS f0
         FROM (SELECT doc_id, string_split(text,'') AS c FROM documents)""",
    "mm_phash" ->
      s"""WITH $phashBandsCte
          SELECT media_id, band_idx, band FROM bands""",
    "mm_phash_pairs" ->
      s"""WITH $phashBandsCte,
          sigs AS (SELECT media_id, list(band ORDER BY band_idx) AS bs
                   FROM bands GROUP BY 1),
          kept AS (
            SELECT b.* FROM bands b
            JOIN (SELECT band_idx, band FROM bands
                  GROUP BY 1, 2 HAVING COUNT(*) <= 20) z
              USING (band_idx, band)),
          cand AS (
            SELECT DISTINCT l.media_id AS id_a, r.media_id AS id_b
            FROM kept l JOIN kept r
              ON l.band_idx = r.band_idx AND l.band = r.band
             AND l.media_id < r.media_id)
          SELECT id_a, id_b,
                 CAST(bit_count(xor(a.bs[1], b.bs[1]))
                    + bit_count(xor(a.bs[2], b.bs[2]))
                    + bit_count(xor(a.bs[3], b.bs[3]))
                    + bit_count(xor(a.bs[4], b.bs[4])) AS INT) AS hamming
          FROM cand
          JOIN sigs a ON a.media_id = id_a
          JOIN sigs b ON b.media_id = id_b
          WHERE bit_count(xor(a.bs[1], b.bs[1]))
              + bit_count(xor(a.bs[2], b.bs[2]))
              + bit_count(xor(a.bs[3], b.bs[3]))
              + bit_count(xor(a.bs[4], b.bs[4])) <= 3""",
    "mm_frames" ->
      s"""SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
                 32 AS frame_len,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(ascii(ch) AS BIGINT)
                    for ch in string_split(substring(text, CAST(i*32+1 AS INT), 32),'')]),
                   (a,b)->(a*31+b)%1000000007) AS frame_fp
          FROM (SELECT doc_id, text,
                       unnest(range(len(text)//32)) AS i FROM documents)
          WHERE i % 4 = 0""",
    "mm_resize" ->
      """SELECT doc_id AS media_id,
                CASE WHEN doc_id % 2 = 0 THEN 'image/png'
                     ELSE 'audio/wav' END AS mime,
                CAST(LEAST(len(text), 64) AS INT) AS n_bytes,
                CASE WHEN len(text) <= 64 THEN
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    [CAST(ascii(ch) AS BIGINT) for ch in string_split(text,'')]),
                    (a,b)->(a*31+b)%1000000007)
                ELSE
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    [CAST(ascii(text[CAST(i*len(text)//64 AS INT)+1]) AS BIGINT)
                     for i in range(64)]),
                    (a,b)->(a*31+b)%1000000007)
                END AS fp
         FROM documents"""
  )

  /** The recall oracle COMPOSES the trained-IVF oracle and the k=3
    * brute-force spec verbatim, so the eval cannot diverge from the two
    * operators it grades. */
  val oracles: Map[String, String] = baseOracles +
    ("ann_recall_at_k" ->
      s"""WITH exact AS (${bruteTopkSql(3)}),
          approx AS (${baseOracles("ann_ivf_trained_topk")})
          SELECT e.probe_id,
                 CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
                 CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                   THEN 1 ELSE 0 END) AS DOUBLE) / 3.0 AS recall
          FROM exact e LEFT JOIN approx a
            ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
          GROUP BY 1""")
}
