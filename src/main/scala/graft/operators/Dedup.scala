package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/**
 * Deduplication operators for large-scale training-data pipelines —
 * generalizing the reference's content-hash duplicate detection
 * (reference: manifest_processor.py:283-305, ETag table dynamodb.py:22-40,
 * scripts/handle_duplicates/find_and_delete_duplicates.py:76-124) from
 * exact file hashes to exact + near-duplicate document similarity.
 *
 * Scale design: every method is shuffle-bounded by the CANDIDATE set, not
 * the pair space —
 *  - exact: one hash-groupBy (partial agg map-side).
 *  - MinHash-LSH: band-bucket join; only same-bucket docs pair up. Hot
 *    buckets are quadratic, so `maxBucketSize` drops degenerate buckets
 *    (documented contract; a skipped bucket means "too common to be a
 *    useful near-dup signal", same spirit as stopword removal).
 *  - SimHash: pairs restricted to a blocking key (here: equal 16-bit
 *    simhash bands) rather than all-pairs.
 *  - n-gram Jaccard: inverted-index join on shared shingles — pair count
 *    bounded by Σ_shingle df², controlled by the same bucket cap.
 */
object Dedup {

  /** Exact duplicate groups by content hash (md5 — portable across
    * engines). Returns (key, n_dups, member ids). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("content_md5"))
      .groupBy("content_md5")
      .agg(count(lit(1)).as("n_dups"),
        sort_array(collect_list(col(idCol))).as("members"))
      .filter(col("n_dups") > 1)

  /** Chunk-level duplicated-PASSAGE detection: per document, the number
    * and fraction of its consecutive `chunkWords`-word chunks whose
    * fingerprint also occurs in at least one OTHER document — the
    * bounded-cost approximation of suffix-array substring dedup (near-
    * verbatim passages shared across documents that whole-document
    * hashing cannot see; Lee et al. 2021 family, public algorithm).
    * Reference analog: content-checksum duplicate detection generalized
    * below document granularity (checksum gate, manifest_processor
    * .py:283-305).
    *
    * Scale shape: the text column is decoded ONCE (a join-back
    * formulation scans and chunks it twice); chunking is one codegen'd
    * projection (|tokens|/w rows after the explode — an order of
    * magnitude below word granularity). ONE exchange on the chunk hash
    * serves both the per-(chunk, doc) multiplicity aggregation and the
    * docs-per-chunk window (same partitioning, jaccardPairs' df-cap
    * pattern — chunk hashes are high-cardinality, so no hot reducer);
    * the per-doc roll-up is the final aggregation. No pair space is ever
    * materialized — cost is linear in corpus chunks regardless of how
    * duplicated the corpus is. */
  def chunkDupFractions(
      df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 10): DataFrame = {
    // r06: fused native chunk-hash kernel (identical values — polyHash
    // of each space-joined chunk composed char-wise; the r05 HOF sliced
    // and concatenated a string per chunk)
    val chunked = df.select(
        col(idCol).as("doc_id"),
        explode(graft.functions.ChunkHashes(col(textCol), chunkWords))
          .as("chunk_hash"))
      .repartition(col("chunk_hash"))
    chunked
      // per (chunk, doc) multiplicity: hashpartitioning(chunk_hash)
      // already satisfies this grouping (subset of the keys) — no
      // second exchange
      .groupBy("chunk_hash", "doc_id")
      .agg(count(lit(1)).as("n_occ"))
      // distinct docs per chunk: a window over the SAME partitioning
      .withColumn("n_docs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("chunk_hash"))))
      .groupBy("doc_id")
      .agg(
        sum(col("n_occ")).as("n_chunks"),
        sum(when(col("n_docs") > 1, col("n_occ")).otherwise(0L))
          .as("n_dup_chunks"))
      .select(
        col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        (col("n_dup_chunks").cast("double") / col("n_chunks"))
          .as("dup_fraction"))
  }

  /** Chunk-level passage REWRITE — the operator curation pipelines
    * actually run after [[chunkDupFractions]] has measured the problem:
    * every consecutive `chunkWords`-word chunk is kept, deduplicated, or
    * dropped corpus-wide, and each document is reassembled from its
    * surviving chunks (C4/Lee-et-al. family: remove repeated passages,
    * keep one canonical copy; public algorithm).
    *
    * Policy, per distinct chunk with `df` total occurrences corpus-wide:
    *  - df <= maxDf: the corpus-wide FIRST occurrence (min (doc_id, pos))
    *    survives, every other copy is dropped — keep-first passage dedup;
    *  - df > maxDf: ALL occurrences are dropped — boilerplate removal
    *    (a passage this common is template noise, same spirit as the
    *    LSH bucket cap above).
    *
    * Output: (doc_id, n_chunks, n_kept, new_text) for every document;
    * new_text is the kept chunks re-joined in position order ('' when
    * nothing survives).
    *
    * Scale shape: ONE text decode and ONE exchange on the chunk hash —
    * df and the winner are count/min WINDOWS over that partitioning
    * (the chunkDupFractions pattern; a join-back formulation plans as a
    * self-join that decodes and re-chunks the text twice, because the
    * two subtrees project different columns and the exchange cannot be
    * reused); the per-doc reassembly is the final aggregation. A
    * boilerplate-hot chunk key lands on one window task, but the window
    * only streams count+min over small (pos, okey, chunk) rows and
    * WindowExec spills — the same bounded tradeoff chunkDupFractions
    * documents for high-cardinality chunk hashes. The winner key packs
    * (doc_id, pos) into one int64 so the argmin is a plain MIN (doc_id
    * < 2^43, pos < 2^20; overflow would only change the tie-break, not
    * membership). */
  def chunkRewrite(
      df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 10, maxDf: Long = 4L): DataFrame = {
    // r06: fused native chunk kernel (see chunkDupFractions)
    val chunks = graft.functions.ChunkStrings(col(textCol), chunkWords)
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h"))
    df.select(col(idCol).as("doc_id"), posexplode(chunks).as(Seq("pos", "chunk")))
      .select(col("doc_id"), col("pos"), col("chunk"),
        polyHash(col("chunk")).as("h"),
        (col("doc_id") * (1L << 20) + col("pos")).as("okey"))
      .repartition(col("h"))
      .withColumn("df", count(lit(1)).over(byHash))
      .withColumn("wkey", min(col("okey")).over(byHash))
      .withColumn("kept", col("df") <= maxDf && col("okey") === col("wkey"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("chunk"))))),
            x => x("chunk")),
          " ").as("new_text"))
  }

  /** Content-defined chunking (CDC) duplicate-mass audit — the
    * storage-dedup boundary rule applied to text (FastCDC family,
    * public algorithm): a chunk boundary falls BEFORE every word whose
    * content hash ≡ 0 (mod `modulus`), so expected chunk length is
    * `modulus` words and boundaries move WITH the content. Unlike
    * [[chunkDupFractions]]'s fixed-offset grid, inserting one word near
    * the head of a doc shifts every later fixed chunk but leaves all
    * CDC chunks after the next boundary identical — the property that
    * makes CDC the right chunking for near-identical page revisions.
    *
    * Scale shape: one corpus word explode (codegen'd projection), the
    * running boundary count is a per-DOC window (partition = one
    * document, bounded by max doc length — never a global sort), chunk
    * assembly is one (doc, chunk) aggregation, and duplicate counting
    * reuses chunkDupFractions' discipline: ONE exchange on the chunk
    * hash serves the corpus-wide occurrence window, then a |sources|-row
    * roll-up. No pair space; linear in corpus words.
    *
    * Returns per source: chunk count, duplicated-chunk instances
    * (content seen >= 2x corpus-wide), word mass inside duplicated
    * chunks, and the duplicated-word fraction. */
  def cdcDupStats(
      df: DataFrame, idCol: String, textCol: String, srcCol: String,
      modulus: Int = 16): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chash"))
    df.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        posexplode(words(col(textCol))).as(Seq("pos", "w")))
      .withColumn("b",
        when(polyHash(col("w")) % modulus === 0, 1L).otherwise(0L))
      .withColumn("chunk_id", sum(col("b")).over(byDoc))
      .groupBy("doc_id", "source", "chunk_id")
      .agg(count(lit(1)).as("n_words"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x("w")), " ").as("chunk"))
      .select(col("doc_id"), col("source"), col("n_words"),
        polyHash(col("chunk")).as("chash"))
      .repartition(col("chash"))
      .withColumn("occ", count(lit(1)).over(byHash))
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("n_words")).as("total_words"),
        sum(when(col("occ") > 1, col("n_words")).otherwise(0L))
          .as("dup_words"))
      .withColumn("dup_fraction",
        col("dup_words").cast("double") / col("total_words").cast("double"))
  }

  /** CDC-chunk REWRITE — [[chunkRewrite]]'s keep-first/boilerplate-drop
    * policy applied to [[cdcDupStats]]' content-defined chunks, so the
    * dedup survives the insert-shift that de-syncs the fixed grid.
    * Per distinct chunk content with df occurrences corpus-wide:
    * df <= maxDf keeps the corpus-wide first occurrence (min
    * (doc_id, chunk_id)); df > maxDf drops every copy (boilerplate).
    * Docs reassemble from surviving chunks in original order.
    *
    * Scale shape = cdcDupStats (word explode, per-doc boundary window,
    * one chunk-hash exchange for df + winner) + one per-doc roll-up. */
  def cdcRewrite(
      df: DataFrame, idCol: String, textCol: String,
      modulus: Int = 16, maxDf: Long = 4L): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chash"))
    df.select(col(idCol).as("doc_id"),
        posexplode(words(col(textCol))).as(Seq("pos", "w")))
      .withColumn("b",
        when(polyHash(col("w")) % modulus === 0, 1L).otherwise(0L))
      .withColumn("chunk_id", sum(col("b")).over(byDoc))
      .groupBy("doc_id", "chunk_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x("w")), " ").as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("chunk"),
        polyHash(col("chunk")).as("chash"),
        (col("doc_id") * (1L << 20) + col("chunk_id")).as("okey"))
      .repartition(col("chash"))
      .withColumn("df", count(lit(1)).over(byHash))
      .withColumn("wkey", min(col("okey")).over(byHash))
      .withColumn("kept", col("df") <= maxDf && col("okey") === col("wkey"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("chunk_id"), col("chunk"))))),
            x => x("chunk")),
          " ").as("new_text"))
  }

  /** (id, minhash signature) for every doc. k = signature length; slot
    * i in [0,k) is the min over the doc's shingle hashes h of
    * (a_i·h + b_i) mod p with a_i = 2i+1, b_i = 1000003·i + 12345,
    * p = [[graft.functions.TextFunctions.HashMod]].
    *
    * ONE codegen'd projection (native [[graft.functions.MinhashSig]]): the
    * signature is a per-row function of the row's own shingles. The
    * explode -> groupBy shape (`minhashSignaturesAgg` in DedupSpec, kept as
    * the cross-checked specification) existed as a CollapseProject barrier —
    * expression-pipeline formulations got the signature lambda re-inlined
    * into every downstream band reference (measured 64x re-evaluation at
    * sf0.1) — but paid a full (id, shingle-hash) shuffle; a native kernel
    * needs neither. */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      shingleN: Int = 3): DataFrame =
    df.select(col(idCol),
      graft.functions.MinhashSig(col(textCol), k, shingleN).as("sig"))

  /** (id, sig, band_idx, band_key) — one row per (doc, band): the LSH
    * bucket keys of every doc's minhash signature. THE shared candidate
    * rule: [[minhashLshPairs]] (batch) and
    * [[graft.streaming.StreamingValidation.startNearDupIngest]] (stream)
    * both band through here, so the two surfaces cannot drift apart. */
  def bandedSignatures(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, shingleN: Int = 3): DataFrame = {
    val rows = k / bands
    minhashSignatures(df, idCol, textCol, k, shingleN).select(
      col(idCol), col("sig"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => concat_ws("_", slice(col("sig"), b * rows + 1, lit(rows)))))
        .as(Seq("band_idx", "band_key")))
  }

  /** Estimated Jaccard of two k-hash signatures: matching fraction. */
  def estSim(sigA: Column, sigB: Column, k: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b))
      .cast("double") / k

  /** SOURCE-level MinHash similarity matrix: one k-slot MinHash
    * signature per SOURCE (slot i = min over every shingle hash of every
    * doc in the source of the a_i·h + b_i rehash — the same
    * (2i+1, 1000003·i+12345) family as the per-doc signatures), then the
    * estimated shingle-set Jaccard for every source pair. The
    * corpus-overlap audit run before paying for doc-level dedup:
    * `dedup_source_matrix` counts confirmed near-dup PAIRS between
    * sources; this estimates whole-corpus set overlap directly from
    * sketches, catching feed-level redundancy even when no single doc
    * pair clears the pair threshold (generalizes the reference's
    * cross-bucket duplicate scan, find_and_delete_duplicates.py:76-124,
    * from per-file ETags to source-level content sketches).
    *
    * Scale shape: min is associative/commutative, so the k mins
    * partial-aggregate map-side — ONE exchange of |sources|×k partials
    * (never corpus shingles); the pair matrix is a self-join of the
    * |sources|-row signature table (broadcast, dimension-sized). */
  def sourceMinhashSim(
      df: DataFrame, srcCol: String, textCol: String,
      k: Int = 16, shingleN: Int = 3): DataFrame = {
    val hashes = df.select(
      col(srcCol).as("source"),
      explode(shingleHashes(col(textCol), shingleN)).as("h"))
    val minCols = (0 until k).map { i =>
      min(pmod(col("h") * (i * 2 + 1) + (i * 1000003L + 12345L),
        lit(HashMod))).as(s"m$i")
    }
    val sigs = hashes.groupBy("source")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("source"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
    sigs.select(col("source").as("src_a"), col("sig").as("sig_a"))
      .join(broadcast(
        sigs.select(col("source").as("src_b"), col("sig").as("sig_b"))),
        col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        estSim(col("sig_a"), col("sig_b"), k).as("est_sim"))
  }

  /** The key index of every self-join pair generator: `idx`
    * hash-partitioned on `key` once, minus every key with more than
    * `maxPerKey` rows (`<=` keeps a key of exactly `maxPerKey` rows, as
    * the oracles' `HAVING COUNT(*) <= cap`). `Int.MaxValue` is uncapped:
    * nothing above the repartition.
    *
    * Shared exchange: the key degree is a count window over that same
    * partitioning, and [[boundedSelfJoin]]'s two branches are identical
    * subtrees down to the repartition, so the planner runs it once
    * (ReusedExchange) and the equi-join on `key` adds no exchange. The
    * corpus is scanned, and its key kernel evaluated, once per query.
    * Without the repartition each branch shuffles its own
    * differently-aliased projection and nothing below it is reused (two
    * scans). Post-cap keys hold <= maxPerKey rows, so the join has no hot
    * key; the cap window's degenerate-key task is count-only and spills.
    * Null keys never pair (the equi-join drops them). */
  private[operators] def cappedIndex(
      idx: DataFrame, key: Seq[String], maxPerKey: Int): DataFrame = {
    val keyCols = key.map(col)
    val parted = idx.repartition(keyCols: _*)
    if (maxPerKey == Int.MaxValue) parted
    else parted
      .withColumn("key_degree", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keyCols: _*)))
      .filter(col("key_degree") <= maxPerKey)
      .drop("key_degree")
  }

  /** Every unordered pair of `index` rows sharing `key`: columns `key`,
    * id_a, id_b, and p_a, p_b for each `payload` column p, with
    * id_a < id_b. Both branches project the same `index`, so over a
    * [[cappedIndex]] they share its one exchange (see there). A pair
    * sharing several keys appears once per key; callers apply their
    * verdict first and then `distinct` or aggregate. */
  private[operators] def boundedSelfJoin(
      index: DataFrame, key: Seq[String], idCol: String,
      payload: Seq[String] = Nil): DataFrame = {
    def side(s: String): DataFrame = index.select(
      key.map(col) ++ (col(idCol).as(s"id_$s") +:
        payload.map(p => col(p).as(s"${p}_$s"))): _*)
    side("a").join(side("b"), key).filter(col("id_a") < col("id_b"))
  }

  /** MinHash-LSH candidate pairs with estimated Jaccard >= minEstSim.
    * Signature split into `bands` bands of k/bands rows; docs sharing any
    * band bucket become candidates; est sim = matching minhash fraction.
    * `maxBucketSize` drops degenerate band buckets.
    *
    * Plan: the banded table is the [[cappedIndex]] on (band_idx,
    * band_key), joined by [[boundedSelfJoin]] (one corpus scan, one
    * shared exchange; see there). est_sim is computed in the join
    * projection and thresholded BEFORE the dedup, so the distinct
    * exchange carries (id_a, id_b, est_sim) survivors instead of every
    * candidate with two k-long signatures. Equivalence: sig is
    * functionally determined by id, so distinct on (id_a, id_b, sig_a,
    * sig_b) = distinct on (id_a, id_b, est_sim), and filter/distinct
    * commute. */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, minEstSim: Double = 0.5,
      shingleN: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bandKey = Seq("band_idx", "band_key")
    val index = cappedIndex(
      bandedSignatures(df, idCol, textCol, k, bands, shingleN),
      bandKey, maxBucketSize)
    boundedSelfJoin(index, bandKey, idCol, Seq("sig"))
      .select(col("id_a"), col("id_b"),
        estSim(col("sig_a"), col("sig_b"), k).as("est_sim"))
      .filter(col("est_sim") >= minEstSim)
      .distinct()
  }

  /** ESTIMATOR-CALIBRATION audit of the MinHash pipeline: every LSH
    * candidate pair annotated with its estimated similarity (matching
    * minhash fraction), its EXACT shingle Jaccard, and the signed error.
    * The operational question a dedup threshold answers ("does est 0.5
    * mean exact ~0.5 here?") depends on k and this corpus — this query
    * measures it instead of assuming it, the same measure-don't-trust
    * spirit as the trained-IVF recall@k audit.
    *
    * Scale: the exact side is computed ONLY for candidate pairs — the
    * shingle arrays of candidate docs flow through the join (bounded by
    * the capped LSH output), never an inverted-index pass over the
    * corpus. Two empty shingle sets are identical by convention
    * (exact = 1). */
  def minhashAuditPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, minEstSim: Double = 0.5,
      shingleN: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val cand = minhashLshPairs(
      df, idCol, textCol, k, bands, minEstSim, shingleN, maxBucketSize)
    val hs = df.select(
      col(idCol), shingleHashes(col(textCol), shingleN).as("hs"))
    cand
      .join(hs.select(col(idCol).as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(hs.select(col(idCol).as("id_b"), col("hs").as("hs_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("denom",
        size(col("hs_a")) + size(col("hs_b")) - col("n_inter"))
      .withColumn("exact_sim", when(col("denom") === 0, lit(1.0))
        .otherwise(col("n_inter").cast("double") / col("denom")))
      .select(col("id_a"), col("id_b"), col("est_sim"), col("exact_sim"),
        (col("est_sim") - col("exact_sim")).as("err"))
  }

  /** Number of simhash bands and bits per band: 4 x 16 = a 64-bit simhash
    * in band-array form (array<long> of 4 values in [0, 65536)). The array
    * form is deliberate — portable integer arithmetic with no int64
    * sign-bit traps in either engine, and the blocking key is explicit. */
  val SimhashBands = 4
  val SimhashBandBits = 16

  /** 64-bit SimHash as 4 x 16-bit bands: bit j (j in [0,64)) of a word's
    * hash h is ((h*(2j+1) + j*1000003 + 12345) mod p) mod 2 — the same
    * universal-hash family as the MinHash permutations, reproduced by the
    * DuckDB oracle exactly. SimHash is a per-row function of the row's own
    * words, so it is ONE codegen'd projection (native
    * [[graft.functions.Simhash64Bands]] kernel — zero shuffles; the r02
    * explode→groupBy shape paid a full (id, word-hash) shuffle for
    * nothing). `simhash64Agg` in DedupSpec keeps the aggregation formulation
    * as a cross-checked specification. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.Simhash64Bands(col(textCol), SimhashBands,
        SimhashBandBits).as("bands"))

  /** SimHash near-dup pairs: hamming distance <= maxHamming over the
    * 64-bit hash. Blocking on the 4 disjoint 16-bit bands is
    * pigeonhole-COMPLETE for maxHamming <= 3 (3 differing bits can dirty
    * at most 3 of 4 bands, so some band matches exactly) — unlike the r01
    * two-half scheme, which silently missed 2+1 splits AND had only 256
    * distinct block values (quadratic buckets at scale); 16-bit bands give
    * 65536. `maxBucketSize` drops degenerate band buckets (same contract
    * as [[minhashLshPairs]]). */
  def simhashPairs64(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame =
    bandedHammingPairs(simhash64(df, idCol, textCol), idCol,
      maxHamming, maxBucketSize)

  /** Estimator-calibration audit for the banded SimHash path — the
    * cosine-sketch companion to [[minhashAuditPairs]]: every capped
    * banded candidate pair with its hamming distance, the SimHash cosine
    * ESTIMATE cos(π·h/64) (Charikar 2002 — h/64 estimates the angle
    * fraction between the WORD-COUNT vectors, since the kernel weights
    * every occurrence), and the EXACT count-vector cosine with the
    * signed error. Determinism: the 65 possible estimates are a
    * driver-literal table indexed by the integer h (the trained-literal
    * pattern — the oracle embeds the very same Scala-printed doubles, so
    * no cross-engine cos() ulp can differ); the exact side is integer
    * dot/norm² with one pinned sqrt/divide chain. Scale: the exact side
    * joins the (id, word, count) projection against the BOUNDED pair
    * list only (bucket cap binds candidate volume) — the corpus is never
    * self-joined. */
  def simhashAuditPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    import graft.functions.TextFunctions.words
    val cand = simhashPairs64(df, idCol, textCol, maxHamming, maxBucketSize)
    val wc = df
      .select(col(idCol).as("wid"), explode(words(col(textCol))).as("w"))
      .groupBy("wid", "w").agg(count(lit(1)).as("c"))
    val norms = wc.groupBy("wid").agg(sum(col("c") * col("c")).as("n2"))
    val dots = cand
      .join(wc.select(col("wid").as("id_a"), col("w"), col("c").as("ca")),
        Seq("id_a"))
      .join(wc.select(col("wid").as("id_b"), col("w"), col("c").as("cb")),
        Seq("id_b", "w"))
      .groupBy("id_a", "id_b").agg(sum(col("ca") * col("cb")).as("dot"))
    val estTable = (0 to 64).map(h => Math.cos(Math.PI * h / 64.0))
    cand
      .join(dots, Seq("id_a", "id_b"), "left")
      .join(norms.select(col("wid").as("id_a"), col("n2").as("na2")),
        Seq("id_a"))
      .join(norms.select(col("wid").as("id_b"), col("n2").as("nb2")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("hamming"),
        element_at(typedLit(estTable), col("hamming").cast("int") + 1)
          .as("est_cos"),
        (coalesce(col("dot"), lit(0L)).cast("double")
          / (sqrt(col("na2").cast("double"))
            * sqrt(col("nb2").cast("double")))).as("exact_cos"))
      .withColumn("err", col("est_cos") - col("exact_cos"))
  }

  /** The 65 SimHash cosine estimates cos(π·h/64), printed exactly as the
    * JVM computes them — interpolated into the DuckDB oracle so both
    * engines read the IDENTICAL literal doubles (shortest round-trip
    * repr; no cross-engine cos() evaluation anywhere). */
  def simhashEstCosSqlArray: String =
    (0 to 64).map(h => Math.cos(Math.PI * h / 64.0))
      // STRING-cast, not a bare numeric literal: DuckDB parses bare
      // decimals through DECIMAL first (double-rounding — observed 1-ulp
      // drift at h=2); string→double is one correctly-rounded parse
      .map(d => s"CAST('$d' AS DOUBLE)").mkString("[", ", ", "]")

  /** Hamming-banded near-dup pairs over ANY (id, bands: array<long>)
    * signature table — the blocking join [[simhashPairs64]] runs on text
    * SimHashes and [[graft.operators.Multimodal.phash64]] runs on media
    * perceptual hashes. Same pigeonhole completeness (maxHamming ≤
    * nBands − 1) and degenerate-bucket cap contract.
    *
    * Plan: [[cappedIndex]] on (band_idx, band_key) + [[boundedSelfJoin]]
    * (one scan, one shared exchange; see there), with the hamming verdict
    * before the distinct, as in [[minhashLshPairs]]: hamming is
    * functionally determined by the pair, so filter/distinct commute and
    * the distinct exchange carries (id_a, id_b, hamming) survivors. */
  def bandedHammingPairs(sh: DataFrame, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bandKey = Seq("band_idx", "band_key")
    val index = cappedIndex(
      sh.select(col(idCol), col("bands"),
        posexplode(col("bands")).as(bandKey)),
      bandKey, maxBucketSize)
    val hamming = (0 until SimhashBands).map { i =>
      bit_count(element_at(col("bands_a"), i + 1)
        .bitwiseXOR(element_at(col("bands_b"), i + 1)))
    }.reduce(_ + _)
    boundedSelfJoin(index, bandKey, idCol, Seq("bands"))
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Train/benchmark DECONTAMINATION: corpus documents whose n-gram
    * containment of a benchmark document exceeds `minContainment` —
    * containment = |S_bench ∩ S_corpus| / |S_bench|, the asymmetric
    * overlap that matters for eval leakage (a benchmark question embedded
    * inside a longer training doc scores ~1.0 even though symmetric
    * Jaccard is low). Reference analog: cross-bucket duplicate detection
    * (scripts/handle_duplicates/find_and_delete_duplicates.py:76-124),
    * generalized from exact file hashes to n-gram containment.
    *
    * Scale shape: inverted-index equi-join on hashed shingles — only
    * (corpus, benchmark) docs sharing a shingle ever meet, and the
    * benchmark side (small by construction: eval sets are thousands of
    * docs, the corpus is billions) is BROADCAST, so the corpus never
    * shuffles. `maxDf` drops corpus-stopword shingles from the
    * intersection (denominators stay exact benchmark shingle counts —
    * dropping a shingle can only lower containment). */
  def contaminationPairs(
      corpus: DataFrame, corpusIdCol: String,
      benchmark: DataFrame, benchIdCol: String,
      textCol: String, shingleN: Int = 3, minContainment: Double = 0.5,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val benchShingleSet = benchmark
      .select(explode(shingleHashes(col(textCol), shingleN)).as("shingle"))
      .distinct()
    // the corpus is REDUCED before anything shuffles: only shingles that
    // occur in the (broadcast) benchmark set survive the semi join —
    // everything else is irrelevant to containment. The df cap then
    // counts document frequency over this matched subset, which equals
    // full-corpus df for exactly these shingles, on a volume bounded by
    // |bench shingles| × df instead of |corpus| × shingles-per-doc.
    val matched = corpus
      .select(
        col(corpusIdCol).as("corpus_id"),
        explode(shingleHashes(col(textCol), shingleN)).as("shingle"))
      .join(broadcast(benchShingleSet), Seq("shingle"), "left_semi")
    val cs =
      if (maxDf == Int.MaxValue) matched
      else matched
        .repartition(col("shingle"))
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
        .filter(col("df") <= maxDf)
        .drop("df")
    val bs = benchmark.select(
      col(benchIdCol).as("bench_id"),
      size(shingleHashes(col(textCol), shingleN)).as("n_bench"),
      explode(shingleHashes(col(textCol), shingleN)).as("shingle"))
    cs.join(broadcast(bs), Seq("shingle"))
      .groupBy("corpus_id", "bench_id", "n_bench")
      .agg(count(lit(1)).as("n_inter"))
      .select(
        col("corpus_id"), col("bench_id"),
        (col("n_inter").cast("double") / col("n_bench")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Duplicate CLUSTERS from a near-dup pair list: connected components
    * via alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", 2014 — public algorithm). The
    * pair generators above emit edges; a real dedup pipeline must then
    * collapse each transitive group to ONE keeper, and pair lists don't
    * give that directly (A~B, B~C puts A,C in one group with no direct
    * pair). Reference analog: duplicate groups keyed by ETag with
    * keep-first semantics (find_and_delete_duplicates.py:76-124),
    * generalized from exact-hash groups (where groupBy suffices) to
    * transitive near-dup graphs (where it doesn't).
    *
    * Scale shape: each round is two self-contained groupBy+join passes on
    * the EDGE list (never the corpus); the edge list shrinks toward one
    * edge per non-root node, and the round count is O(log n) even for
    * path-shaped graphs (the paper's bound) — a plain min-label
    * propagation loop would need O(diameter) rounds. Convergence is
    * checked exactly and cheaply: a count compare first (counts are
    * carried between rounds), then — only on equal counts — ONE one-way
    * `except` (both sides are distinct sets, so |A|=|B| ∧ A∖B=∅ ⇒ A=B);
    * `localCheckpoint` truncates lineage so plans stay flat across
    * iterations.
    *
    * Returns (doc_id, cluster_id, is_keeper): every node of every pair,
    * labeled with its component's minimum id; the keeper IS that minimum
    * (deterministic keep-first by id, O1 semantics). */
  def dupClusters(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 25,
      inputDistinct: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r06 (guide §2.4): each star pass previously planned as
    // groupBy-min + join-back + distinct — three exchanges of the edge
    // list per pass. The per-u minimum now rides a window over ONE
    // u-partitioning (edge lists are degree-bounded by the pair
    // generators' caps, so a u-partition is never corpus-sized), and
    // smallStar emits its (u → m) self-edges inline instead of a
    // union-with-join: two exchanges per pass, same output set.
    def largeStar(e: DataFrame): DataFrame = {
      // neighborhoods over both directions; connect strictly-larger
      // neighbors to min(N(u) ∪ {u})
      val n = e.union(e.select(col("v").as("u"), col("u").as("v")))
      n.repartition(col("u"))
        .withColumn("m",
          least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient (hi, lo); connect all small neighbors (and hi itself) to
      // the minimum — the (u, m) self-edge is emitted per row (the
      // original unioned the aggregate once per u; identical as a SET
      // after the distinct, since m is constant within a u-partition)
      val o = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      o.repartition(col("u"))
        .withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
        .select(explode(array(
          struct(col("v").as("eu"), col("m").as("ev")),
          struct(col("u").as("eu"), col("m").as("ev")))).as("p"))
        .select(col("p.eu").as("u"), col("p.ev").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    val e0 = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
    // callers whose pair list is already one row per unordered pair
    // (e.g. the LSH generators' post-distinct output) skip the initial
    // dedup exchange. localCheckpoint is LAZY (r06): the count() that
    // follows materializes the checkpoint in the same job — the r05
    // eager form paid a materialization job plus a count job per round.
    var edges = (if (inputDistinct) e0 else e0.distinct())
      .localCheckpoint(eager = false)
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    var rounds = 0
    while (!converged && rounds < maxIter) {
      val next = smallStar(largeStar(edges))
        .localCheckpoint(eager = false)
      val nextCount = next.count()
      // both sides are distinct sets, so equal counts + empty one-way
      // except ⇒ set equality (no second except needed); unequal counts
      // skip the except entirely
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      edges = next
      edgeCount = nextCount
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIter rounds")
    // fixpoint = star graphs: one (node, componentMin) edge per non-root
    // node; add the roots' self-labels
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
  }

  /** n-gram Jaccard pairs >= minJaccard via inverted-index join on shared
    * shingles (no all-pairs blowup; only docs sharing a shingle meet).
    *
    * Scale contract: the pair count is Σ_shingle df², so `maxDf` drops
    * shingles more common than the cap from the INTERSECTION side — the
    * corpus-stopword cartesian bomb (same spirit as minhashLshPairs'
    * `maxBucketSize`: a shingle shared by half the corpus carries no
    * near-dup signal). Denominators stay exact full shingle-set sizes, so
    * a dropped shingle can only LOWER a pair's estimated Jaccard (pairs
    * held together by ultra-common shingles fall away first). With the cap
    * off, results are exact.
    *
    * Plan shape: sizes come from a pure projection (no explode); the
    * exploded inverted index is built once ([[shinglePairCounts]]). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.5,
      maxDf: Int = Int.MaxValue): DataFrame =
    shinglePairCounts(df, idCol, textCol, shingleN, maxDf)
      .select(
        col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** n-gram CONTAINMENT pairs (Broder 1997, "containment of A in B"):
    * C(a,b) = |Sa ∩ Sb| / min(|Sa|, |Sb|) >= minContainment. The
    * asymmetric companion to [[jaccardPairs]]: a short document fully
    * quoted inside a long one has containment 1.0 but Jaccard
    * |a|/|b| ≈ 0 — the union denominator hides exactly the
    * quote-inclusion / excerpt-republication duplication this catches
    * (the intra-corpus form of the decontamination overlap rule, which
    * normalizes by the BENCHMARK side for the same reason). Same
    * inverted-index discipline and `maxDf` scale contract; min() keeps
    * the score in [0,1] and symmetric under (a,b) ordering. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minContainment: Double = 0.8,
      maxDf: Int = Int.MaxValue): DataFrame =
    shinglePairCounts(df, idCol, textCol, shingleN, maxDf)
      .select(
        col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= minContainment)

  /** Shared inverted-index core of [[jaccardPairs]] / [[containmentPairs]]:
    * (id_a, id_b, n_inter, n_a, n_b) for every unordered doc pair sharing
    * at least one (df-capped) shingle.
    *
    * HASHED shingles as the index key (the fused native expression): the
    * inverted-index shuffle carries 8-byte longs instead of shingle
    * strings, and no shingle string is ever materialized. Set overlap over
    * hashed shingles equals string overlap up to hash collisions, which
    * the oracle reproduces identically.
    *
    * Plan: [[cappedIndex]] on shingle + [[boundedSelfJoin]] (one scan,
    * one shared exchange; see there). */
  private def shinglePairCounts(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, maxDf: Int): DataFrame = {
    val shingleSet = shingleHashes(col(textCol), shingleN)
    val sizes = df.select(col(idCol), size(shingleSet).as("n_shingles"))

    val capped = cappedIndex(
      df.select(col(idCol), explode(shingleSet).as("shingle")),
      Seq("shingle"), maxDf)
    // the capped index is materialized via localCheckpoint (partitioning
    // and shingle ordering survive into the LogicalRDD), so the self-join
    // consumes it twice without re-running the cap window + sort per
    // branch and without a broadcast build of the whole index.
    val idx = if (maxDf == Int.MaxValue) capped else capped.localCheckpoint()
    val inter = boundedSelfJoin(idx, Seq("shingle"), idCol)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))

    inter
      .join(sizes.select(col(idCol).as("id_a"), col("n_shingles").as("n_a")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n_shingles").as("n_b")),
        Seq("id_b"))
  }

  /** Per-window keys for exact-substring span dedup: every SLIDING
    * `windowWords`-word window of `textCol` as (pos, wkey), 1-based word
    * position, where wkey packs the pair (h1, h2) as h1·2^31 + h2 —
    * h1 the shared shingle spec (polyHash of the window joined with " ",
    * mod 1e9+7) and h2 an INDEPENDENT order-sensitive fold over the
    * per-word hashes (a·37 + wHash mod 1e9+9). Both factors are < 2^31,
    * so the packing is injective and the effective key is still the
    * ~60-bit pair — two windows collide only if both hashes collide. At
    * 10^12-token scale the same construction widens to two 64-bit primes
    * (the key shape, plan, and oracle are unchanged); the pair form
    * exists so the verified small-scale config is not riding a single
    * 30-bit hash whose birthday bound (~2^15 windows) a 10^5-window
    * corpus already crosses.
    *
    * r06: ONE fused codegen'd kernel ([[graft.functions.WindowKeys]])
    * replaces the r05 expression pipeline, which re-evaluated the
    * word-hash array 3x per row and ran an interpreted slice+fold lambda
    * per window (guide §1.2 "per-task work": measured 2.8-3.1 s per span
    * query at sf0.1, the Generate dominating); the packed single-long
    * key also halves the groupBy/join key bytes (guide §2.3). */
  private def windowKeys(
      df: DataFrame, idCol: String, textCol: String,
      windowWords: Int): DataFrame =
    df.select(
        col(idCol),
        posexplode(graft.functions.WindowKeys(col(textCol), windowWords)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("wkey"))

  /** Exact repeated-SPAN detection — the full form of the substring
    * dedup `chunkDupFractions` approximates (Lee et al. 2022's
    * ExactSubstr, public algorithm, re-expressed for Spark): a word
    * position is duplicated if ANY `windowWords`-long sliding window
    * covering it occurs ≥ `minOccurrences` times corpus-wide (within- or
    * cross-document), and the result is each document's MAXIMAL
    * contiguous duplicated regions as (span_start, span_end, span_tokens),
    * 1-based inclusive — the spans a span-level curation pass removes.
    *
    * Spark-first plan instead of a suffix array: sliding windows keyed by
    * the (h1, h2) rolling-hash pair (one codegen'd projection, no window
    * STRINGS ever materialized), duplicated keys found by one
    * hash-aggregate with map-side partials, candidate positions
    * semi-joined back (AQE broadcasts the key set when small, skew-join
    * splits hot keys when not), and per-doc interval merge as a
    * gaps-and-islands window (boundary where pos − prev > windowWords,
    * i.e. coverage [pos, pos+W−1] detaches from the running region).
    *
    * `maxOccurrences` is the boilerplate valve, mirroring
    * [[jaccardPairs]]' maxDf: a window key occurring MORE often than the
    * cap is corpus boilerplate (license headers, templated footers — at
    * web scale a single 8-gram can sit in 30% of documents), and is
    * EXCLUDED from span detection rather than allowed to stamp
    * near-every document as "duplicated". Semantics are explicit: capped
    * keys are not spans here — route true boilerplate to
    * [[substringDedup]]'s df > maxDf drop path, which removes ALL
    * occurrences. The cap also keeps the semi-join's hot partitions
    * bounded when AQE's skew split is unavailable (broadcast side).
    *
    * Shuffle inventory: windows by key (narrow 32-byte rows — the
    * operator's inherent cost, linear in corpus tokens), candidates by
    * doc for the merge — pair space is NEVER materialized, so a fully
    * duplicated corpus costs the same as a clean one. */
  def repeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 8, minOccurrences: Long = 2L,
      maxOccurrences: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wh = windowKeys(df, idCol, textCol, windowWords)
    val dupKeys = wh.groupBy("wkey")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOccurrences &&
        col("occ") <= maxOccurrences)
      .select("wkey")
    val w = Window.partitionBy(idCol).orderBy("pos")
    wh.join(dupKeys, Seq("wkey"), "left_semi")
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > windowWords,
          1L).otherwise(0L))
      .withColumn("island", sum("brk").over(w))
      .groupBy(col(idCol), col("island"))
      .agg(
        min("pos").as("span_start"),
        (max("pos") + lit(windowWords.toLong - 1L)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"))
  }

  /** Per-document NOVELTY audit (the memorization / recycled-content
    * screen, the corpus-order companion of [[repeatedSpans]]): for every
    * sliding `windowWords`-word window of every doc, the window is
    * RECYCLED iff its (h1, h2) key already occurs in a strictly EARLIER
    * document (min doc_id over the key < this doc_id — within-doc repeats
    * and the first corpus occurrence stay novel). Emits per doc (with
    * >= 1 window): window count, recycled count, recycled fraction —
    * the "how much of this doc is old material" score that decides
    * whether a new feed adds information or re-crawls the archive, and
    * the doc-granular form of what `dedup_span_stats` reports per source.
    *
    * Scale shape (r06, VERDICT r05 #3): the same codegen'd window-key
    * projection as repeatedSpans (no window strings materialized), then
    * a (wkey, doc) HASH aggregate whose map-side partials absorb
    * within-doc repeats of a key — the r05 form ran first_doc as a
    * window over RAW occurrence rows, so a boilerplate-hot key landed
    * every occurrence on one sort task before anything could reduce it.
    * first_doc = MIN(doc) re-aggregates those partials per key (one
    * row per (key, doc) — a key in 30% of docs is |docs|·0.3 rows, never
    * |occurrences|) and joins back; every verdict then multiplies by the
    * per-doc occurrence count. Narrow rows; pair space never
    * materializes; no window over raw occurrences anywhere. */
  def noveltyScores(
      df: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 8): DataFrame = {
    val occ = windowKeys(df, idCol, textCol, windowWords)
      .groupBy(col("wkey"), col(idCol))
      .agg(count(lit(1)).as("n_occ"))
    val firstDoc = occ.groupBy("wkey")
      .agg(min(col(idCol)).as("first_doc"))
    occ.join(firstDoc, Seq("wkey"))
      .groupBy(idCol)
      .agg(
        sum(col("n_occ")).as("n_windows"),
        sum(when(col("first_doc") < col(idCol), col("n_occ"))
          .otherwise(0L)).as("n_recycled"))
      .select(col(idCol), col("n_windows"), col("n_recycled"),
        (col("n_recycled").cast("double") /
          col("n_windows").cast("double")).as("recycled_frac"))
  }

  /** Span REWRITE: each document with its [[repeatedSpans]] regions
    * REMOVED — (id, clean_text, n_removed), the curation transform acting
    * on what repeatedSpans measures (ExactSubstr's "cut the duplicated
    * spans" step; documents with nothing duplicated pass through intact).
    *
    * Scale shape: spans collapse to ≤ (n_tok/W) (start, end) structs per
    * doc (one aggregation), then the cut is a PURE per-row projection —
    * higher-order filter on token position against the doc's own span
    * list — so the text column is decoded once and no token-level rows
    * are ever shuffled (the oracle's positional anti-join form would
    * shuffle every token). */
  def removeRepeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 8, minOccurrences: Long = 2L,
      maxOccurrences: Long = Long.MaxValue): DataFrame = {
    val perDoc = repeatedSpans(df, idCol, textCol, windowWords,
        minOccurrences, maxOccurrences)
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("spans"))
    df.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), split(col(textCol), " ").as("toks"),
        coalesce(col("spans"),
          array().cast(
            "array<struct<span_start:bigint,span_end:bigint>>"))
          .as("spans"))
      .withColumn("kept",
        filter(
          transform(col("toks"),
            (t, i) => struct(t.as("t"), (i + 1).cast("long").as("p"))),
          s => !exists(col("spans"),
            sp => s("p") >= sp("span_start") && s("p") <= sp("span_end"))))
      .select(
        col(idCol),
        array_join(transform(col("kept"), x => x("t")), " ")
          .as("clean_text"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("n_removed"))
  }

  /** WINNOWED fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    * local fingerprinting scheme; public algorithm): per document, the
    * distinct minima of every `w`-long window over its sliding `k`-gram
    * hash sequence. The winnowing guarantee: any shared run of at least
    * w+k−1 words between two documents yields at least one SHARED selected
    * fingerprint — so fingerprint density is ~2/(w+1) per k-gram (vs 1 for
    * the full inverted index) while matches of guarantee length can never
    * be missed. This is the position-robust middle ground between whole-doc
    * hashing (misses everything partial) and the full shingle index
    * (jaccardPairs — w times more index rows).
    *
    * Documents with at least one k-gram but fewer than w windows select
    * their single global minimum (standard short-document convention —
    * every document with any content carries ≥1 fingerprint).
    *
    * Output: (id, fp), one row per distinct selected fingerprint.
    *
    * Precondition: `idCol` is unique — one row per document. The kernel
    * dedups fingerprints within a row only, so two rows sharing an id
    * emit the same (id, fp) twice, and [[winnowPairs]] would then
    * inflate that document's shared-fingerprint counts. Callers with
    * possibly repeated ids must aggregate text per id first.
    *
    * Scale shape: ONE codegen'd projection (the fused sliding-hash kernel + a
    * higher-order window-min over the in-row array) — zero exchanges; the
    * fingerprint table is the ~2/(w+1)-density inverted index downstream
    * joins consume.
    *
    * Reference analog: content-checksum duplicate gate
    * (manifest_processor.py:283-305) generalized below document
    * granularity with a sublinear index. */
  def winnowFps(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5): DataFrame =
    // r06: ONE fused codegen'd kernel (guide §1.2 per-task work) — the
    // r05 expression pipeline allocated a w-slice + interpreted an
    // array_min lambda per window. The kernel emits the per-doc DISTINCT
    // selected minima directly (LinkedHashSet = array_distinct
    // semantics), so the explode already yields one row per (id, fp)
    // and the trailing distinct exchange is gone.
    df.select(col(idCol),
      explode(graft.functions.WinnowFps(col(textCol), k, w)).as("fp"))

  /** Near-duplicate / shared-passage candidate pairs over [[winnowFps]]:
    * documents sharing at least `minShared` winnowed fingerprints, with
    * the shared count as evidence. By the winnowing guarantee a pair
    * sharing any (w+k−1)-word passage shares ≥1 fingerprint, so
    * minShared=1 is passage-complete at guarantee length; higher values
    * trade recall for pair-list size.
    *
    * Scale shape: jaccardPairs' inverted-index discipline on a ~2/(w+1)
    * density index — [[cappedIndex]] on fp + [[boundedSelfJoin]] (one
    * scan, one shared exchange; see there); `maxDf` drops boilerplate
    * fingerprints (df > cap) before any pair forms, bounding the pair
    * space by Σ_fp df². */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, minShared: Long = 2L,
      maxDf: Int = Int.MaxValue): DataFrame =
    boundedSelfJoin(
        cappedIndex(winnowFps(df, idCol, textCol, k, w), Seq("fp"), maxDf),
        Seq("fp"), idCol)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Sorted-neighborhood near-duplicate pairs (Hernández & Stolfo 1995's
    * merge/purge sliding-window method, public algorithm, re-expressed
    * for Spark) — the third candidate-generation family next to hash
    * buckets (MinHash-LSH / SimHash bands) and inverted indexes
    * ([[jaccardPairs]] / [[winnowPairs]]): order documents by a
    * normalized sort key and compare each to its `windowSize` successors
    * in that order, so trivially-reordered / suffix-edited variants pair
    * up with NO per-shingle index at all — the cheapest recall pass a
    * multi-strategy dedup stack runs first.
    *
    * Spark-first plan: a single global sort window is a non-plan (a
    * window with no PARTITION BY collapses to one task), so the key
    * space is blocked by the key's first `blockChars` characters and the
    * sliding comparison runs WITHIN blocks — window partitionBy(block)
    * orderBy(key, id) + lead — giving ONE hash exchange on block plus
    * bounded per-block sorts, invariant to input partitioning. Semantics
    * are explicit: candidate pairs share the `blockChars`-char normalized
    * prefix (the literature's multi-pass answer — re-run with a second
    * key and union the pair lists — composes here the same way).
    * `maxBlock` is the boilerplate valve mirroring [[jaccardPairs]]'
    * maxDf: a block larger than the cap is a templated opening shared by
    * too many docs to be a useful near-dup signal and is dropped whole,
    * keeping per-block sort state and pair volume (≤ windowSize per row)
    * bounded at any corpus size.
    *
    * The verdict column is EXACT hashed-shingle Jaccard on each candidate
    * pair — affordable precisely because candidates are window-bounded
    * (O(n·windowSize) pairs, never O(n²)). */
  def sortedNeighborPairs(df: DataFrame, idCol: String, textCol: String,
      blockChars: Int = 12, windowSize: Int = 2, shingleN: Int = 3,
      minJaccard: Double = 0.3, maxBlock: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df
      .select(col(idCol).as("nid"),
        normalizeText(col(textCol)).as("skey"),
        shingleHashes(col(textCol), shingleN).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("blk", substring(col("skey"), 1, blockChars))
    // both windows share the blk partitioning: one exchange serves the
    // block-size cap and the neighbor leads
    val capped = keyed
      .withColumn("bn",
        count(lit(1)).over(Window.partitionBy(col("blk"))))
      .filter(col("bn") <= maxBlock)
    val ow = Window.partitionBy(col("blk"))
      .orderBy(col("skey"), col("nid"))
    val succ = array((1 to windowSize).map(j =>
      lead(struct(col("nid"), col("hs")), j).over(ow)): _*)
    val inter = size(array_intersect(col("hs"), col("nb.hs")))
    capped
      // window exprs materialize in their own projection: explode can't
      // host them in the same operator
      .select(col("nid"), col("hs"), succ.as("succ"))
      .select(col("nid"), col("hs"), explode(col("succ")).as("nb"))
      .filter(col("nb").isNotNull)
      .select(
        least(col("nid"), col("nb.nid")).as("id_a"),
        greatest(col("nid"), col("nb.nid")).as("id_b"),
        (inter.cast("double") /
          (size(col("hs")) + size(col("nb.hs")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
