package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Numeric contract: dot products are computed as an ORDERED left fold over
 * double-promoted elements (`aggregate(zip_with(...))`), so the result is
 * bit-deterministic and reproducible by the DuckDB oracle's `list_reduce`.
 *
 * Scale paths:
 *  - [[bruteForceTopK]]: probe × corpus broadcast join — right for a small
 *    probe set against a large corpus (corpus stays partitioned; probes are
 *    broadcast). All-pairs over the full corpus is intentionally NOT
 *    offered as a default.
 *  - [[lshBuckets]] / [[lshTopK]]: random-hyperplane signs (deterministic
 *    hyperplanes derived from a seed) bucket the corpus; candidates are
 *    same-bucket only — the 100 TB path, trading recall for a
 *    |bucket|-bounded join.
 */
object SimilaritySearch {

  /** Ordered-fold dot product over double-promoted elements — evaluated
    * by the native codegen'd [[graft.functions.DotProduct]] (tight loop,
    * identical left-to-right IEEE fold). `dotHof` in SimilaritySpec is the
    * executable expression-only specification it is cross-checked against. */
  def dot(x: Column, y: Column): Column =
    graft.functions.DotProduct(x, y)

  /** Euclidean norm of a float-array column (ordered fold). */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Ordered-fold cosine similarity between two float-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine from a precomputed-norm pair: dot/(na*nb) — the same IEEE op
    * structure as [[cosine]] (hence bit-identical and oracle-reproducible),
    * but the per-side norms are computed ONCE per row in a pre-join
    * projection instead of once per candidate pair: 1 interpreted fold per
    * pair instead of 3. The join/exchange between the projection and the
    * consumer is the barrier that keeps CollapseProject from re-inlining
    * the norm into the pair loop. */
  private def cosineWithNorms(a: Column, b: Column,
      na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Per-probe top-k via the bounded [[graft.functions.TopKByScoreAggregate]]
    * (VERDICT r02 #7): map-side partial aggregation keeps ≤ k candidates
    * per (probe, task), so the shuffle carries ≤ k×tasks rows per probe and
    * no reducer holds more than k rows of state — the
    * `row_number() over (partition by probe_id)` form shuffled and sorted
    * EVERY scored candidate on one reducer per probe. Output (ranking, ties,
    * schema) is identical to the window form. */
  private def topKPerProbe(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("probe_id"))
      .agg(graft.functions.TopKByScoreAggregate
        .topK(col("cos"), col("neighbor_id"), k).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("r0", "e")))
      .select(col("probe_id"), (col("r0") + 1).cast("int").as("rank"),
        col("e.neighbor_id").as("neighbor_id"), col("e.cos").as("cos"))

  /** Top-k neighbors (by cosine, descending; ties broken by ascending
    * neighbor id) for each probe row. Probe side is broadcast. */
  def bruteForceTopK(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      norm(col(vecCol)).as("pn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
      .select(
        col("probe_id"), col("neighbor_id"),
        cosineWithNorms(col("pv"), col("cv"), col("pn"), col("cn")).as("cos"))
    topKPerProbe(scored, k)
  }

  /** HARD-NEGATIVE mining for contrastive training (the in-batch-negatives
    * upgrade every retrieval/embedding trainer runs — DPR, Karpukhin et
    * al. 2020 §3.2): for each probe, the k most cosine-similar corpus
    * items whose LABEL differs from the probe's — the near-miss negatives
    * that teach the margin, where random negatives are trivially far.
    * Same declared brute-force semantics as [[bruteForceTopK]] with the
    * cross-label predicate pushed into the join, so the per-probe
    * candidate stream shrinks before scoring; an ANN candidate list (IVF
    * or LSH-restricted) slots in unchanged at scale, exactly as for the
    * positive top-k. Probe side broadcasts; per-probe top-k rides the
    * bounded [[graft.functions.TopKByScoreAggregate]] (≤ k map-side state,
    * no window). */
  def hardNegatives(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      norm(col(vecCol)).as("pn"), col(labelCol).as("p_label"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"), col(labelCol).as("n_label"))
    val scored = c.join(broadcast(p), col("p_label") =!= col("n_label"))
      .select(
        col("probe_id"), col("neighbor_id"),
        cosineWithNorms(col("pv"), col("cv"), col("pn"), col("cn")).as("cos"))
    topKPerProbe(scored, k)
  }

  /** SRP-LSH bucket id: `planes`-bit signature of sign(v · r_j).
    * Evaluated by the native codegen'd [[graft.functions.SrpBucket]]
    * kernel; `srpBucketHof` in SimilaritySpec is the executable
    * expression-pipeline specification it is cross-checked against. */
  def srpBucket(vec: Column, planes: Int, seed: Long = 42L): Column =
    graft.functions.SrpBucket(vec, planes, seed)

  /** Corpus annotated with its SRP-LSH bucket. */
  def lshBuckets(corpus: DataFrame, vecCol: String, planes: Int,
      seed: Long = 42L): DataFrame =
    corpus.withColumn("bucket", srpBucket(col(vecCol), planes, seed))

  /** Approximate top-k: probes only scan their own SRP bucket. Recall is
    * traded for a shuffle bounded by bucket size (2^planes buckets). */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 4, seed: Long = 42L): DataFrame = {
    val c = lshBuckets(corpus, vecCol, planes, seed)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col("bucket"), norm(col(vecCol)).as("cn"))
    val p = lshBuckets(probes, vecCol, planes, seed)
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
        col("bucket"), norm(col(vecCol)).as("pn"))
    val scored = c.join(broadcast(p), Seq("bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosineWithNorms(col("pv"), col("cv"), col("pn"), col("cn")).as("cos"))
    topKPerProbe(scored, k)
  }

  /** IVF-style ANN: corpus vectors are assigned to their nearest of
    * `nCentroids` coarse centroids; probes scan only their `nprobe`
    * nearest centroid lists. Centroids here are the first `nCentroids`
    * corpus vectors by id — a deterministic, training-free seeding (a real
    * deployment would k-means; the assignment/probe plumbing is identical
    * and is what matters at scale). Ties break toward the lower centroid
    * id.
    *
    * Scale shape: the codebook is collected to the driver (it is tiny by
    * construction — a codebook that doesn't fit the driver isn't a usable
    * IVF codebook) and the per-row argmax is a PROJECTION against literal
    * centroid vectors — ZERO exchanges before the probe⋈list join. The
    * r01 formulation shuffled corpus×nCentroids rows through a crossJoin +
    * per-row-id window to compute the same argmax. */
  def ivfTopK(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, nCentroids: Int = 8, nprobe: Int = 2,
      /** Trained codebook (e.g. [[kmeansCodebookSeq]]); None = the
        * deterministic first-k seeding below. */
      codebookOpt: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    import org.apache.spark.sql.Row
    // deterministic codebook: first nCentroids corpus vectors by id
    // (float→double promotion is exact, so literals are bit-identical)
    val codebook: Seq[(Long, Seq[Double])] = codebookOpt.getOrElse(
      corpus.orderBy(col(idCol)).limit(nCentroids)
        .select(col(idCol).cast("long"), col(vecCol))
        .collect().toSeq
        .map { case Row(cid: Long, cv: scala.collection.Seq[_]) =>
          (cid, cv.map(_.asInstanceOf[Float].toDouble).toSeq)
        })

    def centScores(vec: Column, vnorm: Column): Column =
      coarseScores(codebook)(vec, vnorm)

    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
      .select(col("neighbor_id"), col("cv"), col("cn"),
        (element_at(centScores(col("cv"), col("cn")), 1)("negcid") * -1)
          .as("cid"))

    val probeLists = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
        norm(col(vecCol)).as("pn"))
      .select(col("probe_id"), col("pv"), col("pn"),
        explode(transform(
          slice(centScores(col("pv"), col("pn")), 1, nprobe),
          s => s("negcid") * -1)).as("cid"))

    // probe side broadcast: the corpus-sized assigned list never shuffles
    val scored = broadcast(probeLists).join(assigned, Seq("cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        cosineWithNorms(col("pv"), col("cv"), col("pn"), col("cn")).as("cos"))
    topKPerProbe(scored, k)
  }

  /** Per-row coarse-centroid scores, sorted (cos desc, cid asc) — struct
    * sort on (ccos, -cid) descending gives exactly that order. The row's
    * norm is a shared column (non-cheap + referenced |codebook| times, so
    * CollapseProject leaves it materialized once) and each centroid's
    * norm is a driver-side constant: 1 fold per (row, centroid) instead
    * of 3. */
  private def coarseScores(codebook: Seq[(Long, Seq[Double])])(
      vec: Column, vnorm: Column): Column =
    sort_array(
      array(codebook.map { case (cid, cv) =>
        val cnorm = math.sqrt(
          cv.foldLeft(0.0)((acc, x) => acc + x * x))
        struct(
          (dot(vec, typedlit(cv)) / (vnorm * lit(cnorm))).as("ccos"),
          lit(-cid).as("negcid"))
      }: _*),
      asc = false)

  /** Cluster id of the max-cosine centroid (ties to the LOWEST cid) —
    * the assignment projection ivfTopK / kmeansCodebook / dedupSemantic
    * already share, exposed for composition audits (e.g. cluster × label
    * roll-ups). Pure projection against a driver-literal codebook: zero
    * exchanges, and the tie order matches the oracle's
    * `ORDER BY cos DESC, cid ASC` exactly. */
  def assignCid(codebook: Seq[(Long, Seq[Double])])(vec: Column): Column =
    element_at(coarseScores(codebook)(vec, norm(vec)), 1)
      .getField("negcid") * lit(-1L)

  /** Input quantization scale for k-means mean accumulation: a power of
    * TWO, so `x * Quant` is exact for every float input (scaling by 2^20
    * only shifts the exponent) and `floor` of it is engine-independent —
    * the per-dimension sums become exact BIGINT arithmetic, immune to
    * float-summation order. 2^20 keeps |q| ≤ ~2^22 per element, so even
    * 10^12 rows sum within int64. */
  val KmeansQuant = 1048576.0

  /** Lloyd's k-means codebook training with cosine assignment — the
    * trained replacement for [[ivfTopK]]'s first-k seeding. Returns the
    * codebook as (cid, dim, val) rows.
    *
    * Determinism contract (the reason this is oracle-able at all):
    *  - assignment argmax is the same ordered-fold cosine + (cos desc,
    *    cid asc) tie-break as [[ivfTopK]];
    *  - the mean is computed over 2^-20-QUANTIZED inputs: per-dimension
    *    sums are exact int64 (order-independent — a float sum would be
    *    partitioning-dependent), and the centroid value is
    *    `(sum/2^20)/n` in IEEE double, bit-identical on any engine;
    *  - an empty cluster keeps its previous centroid.
    *
    * Scale shape: per iteration, ONE corpus scan — assignment is a pure
    * projection against literal centroids (zero exchanges, same pattern
    * as [[ivfTopK]]), and the per-(cid, dim) sums partial-aggregate
    * map-side to ≤ k×dims rows per task before the one tiny shuffle.
    * Driver holds k×dims doubles between iterations. */
  def kmeansCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    kmeansCodebookSeq(corpus, idCol, vecCol, k, iters)
      .flatMap { case (cid, cv) =>
        cv.zipWithIndex.map { case (x, d) => (cid, d, x) }
      }
      .toDF("cid", "dim", "val")
  }

  /** [[kmeansCodebook]] as a driver-side Seq — the form [[ivfTopK]]
    * consumes directly via `codebookOpt`. */
  def kmeansCodebookSeq(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    import org.apache.spark.sql.Row

    // init: first k corpus vectors by id, promoted to double
    var cents: Seq[Seq[Double]] =
      corpus.orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect().toSeq
        .map { case Row(v: scala.collection.Seq[_]) =>
          v.map(x => x.asInstanceOf[Float].toDouble).toSeq
        }

    for (_ <- 1 to iters) {
      val byCid: Map[Long, Seq[Row]] =
        kmeansSums(corpus, vecCol, cents).collect()
          .toSeq.groupBy(_.getLong(0))
      cents = cents.zipWithIndex.map { case (prev, cid) =>
        byCid.get(cid.toLong) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1))
              .map(r => (r.getLong(2) / KmeansQuant) / r.getLong(3))
          case None => prev // empty cluster keeps its centroid
        }
      }
    }

    cents.zipWithIndex.map { case (cv, cid) => (cid.toLong, cv) }
  }

  /** One Lloyd iteration's distributed half: per-(cid, dim) quantized
    * sums + counts. Assignment argmax is a pure projection against
    * literal centroids; the groupBy partial-aggregates map-side to
    * ≤ k×dims rows per task (PlanSpec pins the single-exchange shape). */
  private[graft] def kmeansSums(corpus: DataFrame, vecCol: String,
      cents: Seq[Seq[Double]]): DataFrame = {
    // argmax centroid per row (cos desc, cid asc); the row norm is a
    // shared pre-projected column (non-cheap + referenced k times keeps
    // CollapseProject from re-inlining the fold per centroid — same
    // shape as ivfTopK)
    val scores = sort_array(
      array(cents.zipWithIndex.map { case (cv, cid) =>
        val cnorm = math.sqrt(
          cv.foldLeft(0.0)((acc, x) => acc + x * x))
        struct(
          (dot(col("v"), typedlit(cv)) /
            (col("vn") * lit(cnorm))).as("ccos"),
          lit(-cid.toLong).as("negcid"))
      }: _*),
      asc = false)
    corpus
      .select(col(vecCol).as("v"), norm(col(vecCol)).as("vn"))
      // the argmax extract gets its own projection: a generator in the
      // same select is rewritten by ExtractGenerator, which drops the
      // struct field aliases the extract resolves against
      .select(col("v"), (element_at(scores, 1)("negcid") * -1).as("cid"))
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cid", "dim")
      .agg(
        sum(floor(col("x").cast("double") * KmeansQuant).cast("long"))
          .as("s"),
        count(lit(1)).as("n"))
  }

  /** Product-quantization codebooks: `subspaces` independent k-means
    * codebooks, one per contiguous dim-slice of the vector (Jégou et al.
    * 2011, "Product Quantization for Nearest Neighbor Search" — public
    * algorithm). Returns [sub][cid][dim] sub-centroids.
    *
    * Determinism contract (what makes trained PQ oracle-able):
    *  - sub-assignment maximizes `dot(x_m, c) - |c|²/2` (⇔ argmin L2²,
    *    no division so zero-norm subvectors are safe), ordered-fold dot,
    *    (score desc, cid asc) tie-break;
    *  - means accumulate 2^-20-quantized int64 sums ([[KmeansQuant]]) —
    *    exact, order-independent; empty clusters keep their centroid;
    *  - init: the first k corpus vectors by id, sliced per subspace.
    *
    * Scale shape: ONE corpus scan per Lloyd iteration trains ALL
    * subspaces (each row explodes to its M sub-assignments, then to
    * (sub, cid, dim) partial sums — map-side combined to ≤ M×k×subDim
    * rows per task); the driver holds M×k×subDim doubles. */
  def pqCodebooksSeq(corpus: DataFrame, idCol: String, vecCol: String,
      subspaces: Int, k: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    import org.apache.spark.sql.Row
    val dims = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dims % subspaces == 0, s"$dims dims not divisible by $subspaces")
    val subDim = dims / subspaces

    var cents: Seq[Seq[Seq[Double]]] = {
      val firstK = corpus.orderBy(col(idCol)).limit(k)
        .select(col(vecCol)).collect().toSeq
        .map { case Row(v: scala.collection.Seq[_]) =>
          v.map(x => x.asInstanceOf[Float].toDouble).toSeq
        }
      (0 until subspaces).map(s =>
        firstK.map(_.slice(s * subDim, (s + 1) * subDim)))
    }

    for (_ <- 1 to iters) {
      val bySub: Map[(Int, Long), Seq[Row]] =
        pqSums(corpus, vecCol, cents).collect()
          .toSeq.groupBy(r => (r.getInt(0), r.getLong(1)))
      cents = cents.zipWithIndex.map { case (subCents, sub) =>
        subCents.zipWithIndex.map { case (prev, cid) =>
          bySub.get((sub, cid.toLong)) match {
            case Some(rows) =>
              rows.sortBy(_.getInt(2))
                .map(r => (r.getLong(3) / KmeansQuant) / r.getLong(4))
            case None => prev
          }
        }
      }
    }
    cents
  }

  /** Sub-assignment argmax as a projection: the cid maximizing
    * `dot(sv, c) - |c|²/2` over the subspace's literal centroids. */
  private def pqArgmax(sv: Column, subCents: Seq[Seq[Double]]): Column =
    element_at(
      sort_array(
        array(subCents.zipWithIndex.map { case (cv, cid) =>
          val halfSq = cv.foldLeft(0.0)((acc, x) => acc + x * x) / 2.0
          struct(
            (dot(sv, typedlit(cv)) - lit(halfSq)).as("score"),
            lit(-cid.toLong).as("negcid"))
        }: _*),
        asc = false), 1)("negcid") * -1

  /** Pre-projected subvector columns sv0..sv{M-1}, carrying `keep`. */
  private def withSubvectors(df: DataFrame, vecCol: String,
      subspaces: Int, subDim: Int, keep: Seq[Column]): DataFrame =
    df.select(keep ++ (0 until subspaces).map(s =>
      slice(col(vecCol), s * subDim + 1, subDim).as(s"sv$s")): _*)

  /** One PQ training iteration's distributed half: quantized per-
    * (sub, cid, dim) sums + counts, all subspaces in one scan. */
  private[graft] def pqSums(corpus: DataFrame, vecCol: String,
      cents: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = cents.size
    val subDim = cents.head.head.size
    withSubvectors(corpus, vecCol, m, subDim, Nil)
      .select((0 until m).map(s =>
        struct(pqArgmax(col(s"sv$s"), cents(s)).as("cid"),
          col(s"sv$s").as("sv")).as(s"a$s")): _*)
      .select(posexplode(array((0 until m).map(s => col(s"a$s")): _*))
        .as(Seq("sub", "a")))
      // extracts get their OWN projection after the generator
      // (ExtractGenerator drops struct aliases otherwise)
      .select(col("sub"), col("a.cid").as("cid"), col("a.sv").as("sv"))
      .select(col("sub"), col("cid"),
        posexplode(col("sv")).as(Seq("dim", "x")))
      .groupBy("sub", "cid", "dim")
      .agg(
        sum(floor(col("x").cast("double") * KmeansQuant).cast("long"))
          .as("s"),
        count(lit(1)).as("n"))
  }

  /** PQ encoding: each vector compressed to its M sub-centroid codes —
    * a pure projection. The encoded table is the PQ payoff at scale:
    * M small ints per row instead of `dims` floats (16-32× less IO for
    * every downstream scoring scan). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = cents.size
    val subDim = cents.head.head.size
    withSubvectors(corpus, vecCol, m, subDim,
        Seq(col(idCol).as("vec_id")))
      .select(col("vec_id"),
        array((0 until m).map(s =>
          pqArgmax(col(s"sv$s"), cents(s))): _*).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each probe
    * precomputes one quantized lookup table per subspace
    * (`floor(dot(q_m, c) · 2^20)` — int64, so the per-row score is an
    * EXACT integer sum, order-free and engine-independent), and every
    * corpus row is scored by M table lookups on its codes — never a
    * full-vector fold. Probes broadcast; per-probe top-k is the bounded
    * [[graft.functions.TopKByScoreAggregate]]. Returns
    * (probe_id, rank, neighbor_id, approx_ip_q) with the quantized
    * approximate inner product as the score. */
  def pqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = cents.size
    val subDim = cents.head.head.size
    val encoded = pqEncode(corpus, idCol, vecCol, cents)
      .withColumnRenamed("vec_id", "neighbor_id")
    val tables = array((0 until m).map { s =>
      array(cents(s).map { cv =>
        floor(dot(slice(col("pv"), s * subDim + 1, subDim), typedlit(cv))
          * lit(KmeansQuant)).cast("long")
      }: _*)
    }: _*)
    val p = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
      .select(col("probe_id"), tables.as("tabs"))
    val score = (0 until m).map { s =>
      element_at(element_at(col("tabs"), s + 1),
        (element_at(col("codes"), s + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val scored = encoded
      .join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        // < 2^30 after quantization × M: the double round-trip through
        // the top-k aggregate is exact
        score.cast("double").as("cos"))
    topKPerProbe(scored, k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        col("cos").cast("long").as("approx_ip_q"))
  }

  /** IVF-PQ: the composed 10^12-row ANN path — a trained COARSE codebook
    * partitions the corpus into inverted lists, every vector stores only
    * its M PQ codes (+ its list id), and a probe ADC-scores just its
    * `nprobe` nearest lists via quantized integer table lookups. This
    * encodes raw vectors (IVFFlat-style); the residual-encoding variant
    * (PQ over x − coarse_centroid, one sub-codebook set per list) trades
    * more training state for tighter quantization and slots into the
    * same plan shape.
    *
    * Scale shape: ONE corpus scan produces (id, list, codes) — both the
    * coarse argmax and the PQ encoding are projections against literal
    * centroids; probes broadcast with their quantized score tables; the
    * only per-candidate work is M integer lookups, on the nprobe/nlists
    * fraction of the corpus, into the bounded top-k aggregate. */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int,
      coarse: Seq[(Long, Seq[Double])],
      pq: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = pq.size
    val subDim = pq.head.head.size

    // one scan: coarse list id + PQ codes, all projections
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
      .select(col("neighbor_id"),
        (element_at(coarseScores(coarse)(col("cv"), col("cn")), 1)("negcid")
          * -1).as("cid"),
        col("cv"))
      .select(col("neighbor_id"), col("cid"),
        array((0 until m).map(s =>
          pqArgmax(slice(col("cv"), s * subDim + 1, subDim), pq(s))): _*)
          .as("codes"))

    val tables = array((0 until m).map { s =>
      array(pq(s).map { cv =>
        floor(dot(slice(col("pv"), s * subDim + 1, subDim), typedlit(cv))
          * lit(KmeansQuant)).cast("long")
      }: _*)
    }: _*)
    val probeLists = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
        norm(col(vecCol)).as("pn"))
      .select(col("probe_id"), col("pv"),
        explode(transform(
          slice(coarseScores(coarse)(col("pv"), col("pn")), 1, nprobe),
          s => s("negcid") * -1)).as("cid"))
      .select(col("probe_id"), col("cid"), tables.as("tabs"))

    val score = (0 until m).map { s =>
      element_at(element_at(col("tabs"), s + 1),
        (element_at(col("codes"), s + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val scored = broadcast(probeLists).join(assigned, Seq("cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        score.cast("double").as("cos"))
    topKPerProbe(scored, k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        col("cos").cast("long").as("approx_ip_q"))
  }

  /** Embedding near-duplicate pairs: cosine >= minCos, candidates
    * restricted to same SRP bucket (the scale path for embedding dedup).
    *
    * Scale contract (VERDICT r02 #3): the same-bucket self-join is
    * quadratic in bucket size, and a degenerate bucket — a mass-duplicated
    * embedding puts every copy in one bucket — is unboundedly quadratic.
    * `maxBucketSize` drops buckets above the cap BEFORE the join (same
    * contract as [[Dedup.minhashLshPairs]]: an over-common signature
    * carries no near-dup signal). The bucketed path is
    * [[Dedup.cappedIndex]] on bucket + [[Dedup.boundedSelfJoin]] (one
    * scan, one shared exchange; see there), with norms computed once per
    * row below the exchange. */
  def embeddingDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      minCos: Double, planes: Int = 0, seed: Long = 42L,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    if (planes == 0 && maxBucketSize == Int.MaxValue) {
      // Exact all-pairs baseline (no blocking). A bucket=constant
      // equi-join would hash every row to ONE reducer and score the
      // whole quadratic pair space in a single task; the partitioned
      // cartesian join keeps the same output but fans the |L_i|x|R_j|
      // score blocks across the cluster. Inherently quadratic — the
      // declared small-corpus oracle baseline, not the scale path.
      val withNorm = corpus.select(col(idCol),
        col(vecCol).as("v"), norm(col(vecCol)).as("n"))
      val l = withNorm.select(col(idCol).as("id_a"),
        col("v").as("va"), col("n").as("na"))
      val r = withNorm.select(col(idCol).as("id_b"),
        col("v").as("vb"), col("n").as("nb"))
      return l.crossJoin(r)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          cosineWithNorms(col("va"), col("vb"), col("na"), col("nb"))
            .as("cos"))
        .filter(col("cos") >= minCos)
    }
    val base =
      if (planes > 0) lshBuckets(corpus, vecCol, planes, seed)
      else corpus.withColumn("bucket", lit(0L))
    val index = Dedup.cappedIndex(
      base.select(col("bucket"), col(idCol),
        col(vecCol).as("v"), norm(col(vecCol)).as("n")),
      Seq("bucket"), maxBucketSize)
    Dedup.boundedSelfJoin(index, Seq("bucket"), idCol, Seq("v", "n"))
      .select(col("id_a"), col("id_b"),
        cosineWithNorms(col("v_a"), col("v_b"), col("n_a"), col("n_b"))
          .as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with a TRAINED k-means codebook, then within each
    * cluster drop every item that has a cosine >= `minCos` neighbor ranked
    * before it. Rank = (centroid-cosine ASC, id ASC): of an ε-similar
    * group the LEAST centroid-typical member survives — the paper's
    * keep-low-centroid-similarity rule, made deterministic with the id
    * tie-break. Returns every corpus row as (vec_id, cid, kept).
    *
    * Unlike [[embeddingDupPairs]] (random SRP buckets, pair OUTPUT), the
    * blocking key here is a trained partition of the space and the output
    * is the keep/drop DECISION — the form a curation pipeline consumes.
    *
    * Scale shape: assignment + centroid-cosine is a pure projection
    * against literal centroids (zero exchanges — [[ivfTopK]]'s pattern);
    * ONE explicit exchange on cid is reused by both self-join branches;
    * the within-cluster join is quadratic in cluster size, which `k`
    * controls by construction (E|cluster| = N/k — SemDeDup runs k ~ sqrt N;
    * a genuinely degenerate cluster means the codebook is undertrained,
    * so there is deliberately no silent drop-cap here). The final
    * dropped-id anti-probe is a plain left join on id: dropped ids are a
    * corpus-bounded subset, co-shuffled with the corpus on the id key. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, minCos: Double,
      codebookOpt: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    val codebook = codebookOpt.getOrElse(
      kmeansCodebookSeq(corpus, idCol, vecCol, k, iters))
    val assigned = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("n"))
      .select(col("vec_id"), col("v"), col("n"),
        element_at(coarseScores(codebook)(col("v"), col("n")), 1).as("best"))
      .select(col("vec_id"), col("v"), col("n"),
        (col("best")("negcid") * -1).as("cid"),
        col("best")("ccos").as("ccos"))
    val parts = assigned.repartition(col("cid"))
    val r = parts.select(col("cid"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("n").as("nb"), col("ccos").as("ccos_b"))
    val dropped = parts
      .select(col("cid"), col("vec_id").as("id_a"), col("v").as("va"),
        col("n").as("na"), col("ccos").as("ccos_a"))
      .join(r, Seq("cid"))
      .filter(struct(col("ccos_a"), col("id_a")) <
        struct(col("ccos_b"), col("id_b")))
      .filter(cosineWithNorms(col("va"), col("vb"), col("na"), col("nb"))
        >= minCos)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    assigned.select(col("vec_id"), col("cid"), col("ccos"))
      .join(dropped, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid"), col("ccos"),
        col("dup").isNull.as("kept"))
  }

  /** Greedy k-CENTER coreset selection — farthest-point traversal
    * (Gonzalez 1985's 2-approximation; the diversity-sampling step of
    * embedding-space data pruning, Sener & Savarese 2018 core-set
    * selection; public algorithms): seed with the smallest id, then
    * repeatedly add the point LEAST similar to everything selected so far
    * (min over candidates of max-cosine-to-selected, ties by ascending
    * id). Where near-dup removal drops redundancy pairwise, the coreset
    * picks the k items that together COVER the embedding space — the
    * "choose what to keep under a budget" complement.
    *
    * Output: (sel_order, vec_id, max_cos) — max_cos is the selected
    * point's max cosine to the prior selection at the moment it was
    * picked (monotonically non-decreasing = the coverage radius curve;
    * NULL for the seed).
    *
    * Determinism/oracle contract: cosine is the shared ordered-fold spec
    * against driver-literal selected vectors (float→double promotion
    * exact, centroid norms driver-side constants — the [[coarseScores]]
    * pattern), the running distance is `greatest` over selected, and the
    * argmin is a single min(struct(d, id, v)) aggregate; the oracle
    * replays the same k-step greedy with the same tie-breaks.
    *
    * Scale shape: one corpus scan per selection step — a pure projection
    * against ≤k literal vectors plus a partial-aggregated global min
    * (map-side one struct per task; no shuffle of the corpus). k scans
    * total, the k-means cost model; driver holds k×dims doubles. At
    * production k, step i would persist the running d column instead of
    * re-folding i literals (same plan shape, one column of state). */
  def kCenterGreedy(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"), norm(col(vecCol)).as("n"))
    val seed = base.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("v")).collect().head
    def toDoubles(a: Any): Seq[Double] =
      a.asInstanceOf[scala.collection.Seq[_]]
        .map(x => x.asInstanceOf[Float].toDouble).toSeq
    val selected = scala.collection.mutable.ListBuffer[
      (Long, Seq[Double], Option[Double])](
      (seed.getLong(0), toDoubles(seed.get(1)), None))
    // Exhaustion guard (ADVICE r04 #2): when k exceeds the corpus row
    // count the min(struct) over the empty remainder aggregates to a
    // NULL struct — stop there instead of NPE-ing, returning the whole
    // corpus in selection order. Zero-norm vectors are documented, not
    // rewritten: their cosine is NaN, and NaN sorts GREATER than every
    // double in both Spark and DuckDB orderings, so such candidates
    // deterministically sort last in the min(struct) argmin — identical
    // behavior in engine and oracle.
    var exhausted = false
    while (selected.size < k && !exhausted) {
      val dists = selected.map { case (_, cv, _) =>
        val cnorm = math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + x * x))
        dot(col("v"), typedlit(cv)) / (col("n") * lit(cnorm))
      }.toSeq
      val d = if (dists.size == 1) dists.head else greatest(dists: _*)
      val ids = selected.map(_._1).toSeq
      val row = base.filter(!col("vec_id").isin(ids.map(x => x: Any): _*))
        .select(min(struct(d.as("d"), col("vec_id").as("vec_id"),
          col("v").as("v"))).as("m"))
        .collect().head
      if (row.isNullAt(0)) exhausted = true
      else {
        val m = row.getStruct(0)
        selected += ((m.getLong(1), toDoubles(m.get(2)),
          Some(m.getDouble(0))))
      }
    }
    import spark.implicits._
    selected.zipWithIndex.map { case ((id, _, dOpt), i) =>
      (i.toLong, id, dOpt)
    }.toSeq.toDF("sel_order", "vec_id", "max_cos")
      .select(col("sel_order"), col("vec_id"),
        col("max_cos").cast("double").as("max_cos"))
  }

  /** Margin-based cross-group ALIGNMENT mining (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings" — the LASER bitext-mining scorer; public algorithm):
    * between two label groups A and B, score every cross pair by its
    * RATIO margin — cosine divided by the mean of the two sides' average
    * k-NN cosines — and keep, per A item, its best-margin B match when
    * that margin clears `minMargin`. The margin normalizes away hubness:
    * a B vector globally close to everything has a high denominator, so
    * only matches that are close RELATIVE to each side's neighborhood
    * density survive — the property raw cosine thresholds lack.
    *
    * Output: (id_a, id_b, margin), ≤1 row per A item. Determinism: ties
    * break by ascending id at both the k-NN and argmax steps (the
    * TopKByScoreAggregate contract), and both denominator folds add in
    * (cos desc, id asc) order — the oracle replays the same fold order.
    *
    * Scale shape: the A×B score pass is the declared brute-force
    * semantics (at mining scale the same margin re-ranks an ANN
    * candidate list — [[lshTopK]]'s output slots in where `scored` is
    * built, nothing else changes). Norms are computed once per row
    * before the join; both k-NN denominators and the per-A argmax ride
    * bounded TopK aggregates (≤k map-side state, no single-reducer
    * window); the denominator tables are |A| and |B| rows — broadcast
    * joins, never a shuffle of the pair space. */
  def marginAlignPairs(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, labelA: Int, labelB: Int,
      k: Int = 4, minMargin: Double = 1.05): DataFrame = {
    import graft.functions.TopKByScoreAggregate
    val a = emb.filter(col(labelCol) === labelA)
      .select(col(idCol).as("id_a"), col(vecCol).as("va"),
        norm(col(vecCol)).as("na"))
    val b = emb.filter(col(labelCol) === labelB)
      .select(col(idCol).as("id_b"), col(vecCol).as("vb"),
        norm(col(vecCol)).as("nb"))
    val scored = a.join(broadcast(b))
      .select(col("id_a"), col("id_b"),
        cosineWithNorms(col("va"), col("vb"), col("na"), col("nb"))
          .as("cos"))
    // mean k-NN cosine per side: bounded top-k (cos desc, id asc), then
    // an ordered fold over exactly that order (bit-reproducible)
    def knnMean(grp: String, other: String, out: String): DataFrame =
      scored.groupBy(col(grp))
        .agg(TopKByScoreAggregate.topK(col("cos"), col(other), k).as("tk"))
        .select(col(grp),
          (aggregate(col("tk"), lit(0.0), (acc, e) => acc + e("cos")) /
            size(col("tk"))).as(out))
    scored
      .join(broadcast(knnMean("id_a", "id_b", "da")), Seq("id_a"))
      .join(broadcast(knnMean("id_b", "id_a", "db")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("cos") / ((col("da") + col("db")) / 2.0)).as("margin"))
      .groupBy(col("id_a"))
      .agg(TopKByScoreAggregate.topK(col("margin"), col("id_b"), 1)
        .as("best"))
      .select(col("id_a"), element_at(col("best"), 1).as("e"))
      .select(col("id_a"), col("e")("neighbor_id").as("id_b"),
        col("e")("cos").as("margin"))
      .filter(col("margin") >= minMargin)
  }

  /** Per-group quantized centroid vectors: for each value of `labelCol`,
    * the per-dimension sum of 2^-20-quantized elements, assembled in
    * ascending-dim order as an `array<double>`. The 1/n scaling and the
    * 2^-20 quantization scale both cancel in cosine, so callers use the
    * SUM vector directly as the centroid direction. Integer sums are
    * order-free — the result is partitioning/parallelism-invariant and
    * bit-reproducible by the oracle (same trick as the k-means codebook).
    * Output size is |labels| × dims rows pre-assembly — map-side combined,
    * then |labels| rows: always broadcastable. */
  private def quantizedCentroids(
      emb: DataFrame, vecCol: String, labelCol: String): DataFrame =
    emb
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * lit(1048576.0)).cast("long")
          .as("qv"))
      .groupBy("label", "dim")
      .agg(sum("qv").as("qsum"))
      .groupBy("label")
      .agg(transform(
        sort_array(collect_list(struct(col("dim"), col("qsum")))),
        e => e("qsum").cast("double")).as("cvec"))

  /** Per-group centroid-distance OUTLIERS: for each label group, the k
    * members with the LOWEST cosine to their own group centroid — the
    * mislabeled/garbage-embedding screen run before a labeled corpus is
    * trusted (the vector-space analog of the scalar len_outliers gate).
    *
    * Scale shape: the centroid pass is one corpus scan with map-side
    * combine (|labels| × dims partial rows); scoring is one more scan
    * against the BROADCAST |labels|-row centroid table (corpus never
    * shuffles); per-group bottom-k rides the bounded
    * [[graft.functions.TopKByScoreAggregate]] with score = −cos (≤ k
    * map-side state per group, no windows). Determinism: quantized int64
    * centroid sums are order-free; cosine is the ordered double fold; ties
    * break by ascending id (the TopK contract on −cos). */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    import graft.functions.TopKByScoreAggregate
    val cents = quantizedCentroids(emb, vecCol, labelCol)
      .withColumn("cn", norm(col("cvec")))
    emb
      .select(col(labelCol).as("label"), col(idCol).as("vec_id"),
        col(vecCol).as("v"), norm(col(vecCol)).as("vn"))
      .join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vec_id"),
        cosineWithNorms(col("v"), col("cvec"), col("vn"), col("cn"))
          .as("cos"))
      .groupBy(col("label"))
      .agg(TopKByScoreAggregate.topK(-col("cos"), col("vec_id"), k)
        .as("tk"))
      .select(col("label"), posexplode(col("tk")).as(Seq("r0", "e")))
      .select(col("label"), (col("r0") + 1).cast("int").as("rank"),
        col("e")("neighbor_id").as("vec_id"), (-col("e")("cos")).as("cos"))
  }

  /** SEMANTIC decontamination (the embedding-space complement of the
    * n-gram [[Dedup.decontaminate]]): corpus vectors whose best cosine
    * against ANY benchmark vector clears `minCos` are flagged, with the
    * nearest benchmark item as evidence — the screen that catches
    * paraphrased/reworded benchmark leakage n-gram overlap misses
    * (public practice: e.g. GPT-3 App. C / Llama 2 App. A.6 report both
    * lexical and semantic contamination screens).
    *
    * Scale shape: identical to [[bruteForceTopK]] with k = 1 — the
    * benchmark set is broadcast (benchmarks are thousands of rows, the
    * corpus is the 10^12 side), the corpus never shuffles, and the
    * per-corpus-row argmax is a bounded TopK aggregate. At extreme
    * benchmark sizes the same threshold applies to an LSH candidate list
    * ([[lshTopK]]) instead of the full cross score — nothing downstream
    * changes. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, minCos: Double): DataFrame = {
    import graft.functions.TopKByScoreAggregate
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val b = benchmark.select(col(idCol).as("bench_id"), col(vecCol).as("bv"),
      norm(col(vecCol)).as("bn"))
    c.join(broadcast(b))
      .select(col("corpus_id"), col("bench_id"),
        cosineWithNorms(col("cv"), col("bv"), col("cn"), col("bn"))
          .as("cos"))
      .groupBy(col("corpus_id"))
      .agg(TopKByScoreAggregate.topK(col("cos"), col("bench_id"), 1)
        .as("best"))
      .select(col("corpus_id"), element_at(col("best"), 1).as("e"))
      .select(col("corpus_id"), col("e")("neighbor_id").as("bench_id"),
        col("e")("cos").as("max_cos"))
      .filter(col("max_cos") >= minCos)
  }

  /** Top principal direction of the centered embedding cloud via `iters`
    * POWER ITERATIONS with quantized accumulation — the anisotropy /
    * dominant-direction audit run on embedding tables before cosine
    * thresholds are trusted (a collapsed or mean-dominated embedding
    * space shows up as one direction soaking up the spectrum; public
    * observation: Ethayarajh 2019, "How Contextual are Contextualized
    * Word Representations?").
    *
    * Each iteration is ONE corpus scan: per row the scalar s = (x−μ)·v
    * (ordered double fold against the LITERAL μ and v — same pattern as
    * the k-means assignment), then per-dim partial sums of
    * floor(s·(x_d−μ_d)·2^20) — int64, order-free, exactly mergeable, so
    * the result is partitioning-invariant and the oracle replays every
    * iteration bit-for-bit. The driver holds dims doubles (μ and v);
    * nothing shuffles but dims-row partial aggregates. v₀ = the all-ones
    * direction; each iterate is L2-normalized on the driver before the
    * next scan.
    *
    * Output: (dim, q, component) — the final iteration's quantized sums
    * and their normalization. */
  def pcaPowerTop(emb: DataFrame, vecCol: String, dims: Int,
      iters: Int): DataFrame = {
    val spark = emb.sparkSession
    // pass 1: global quantized mean — one scan, map-side combined
    val muRows = emb
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("dim"),
        floor(col("x").cast("double") * lit(1048576.0)).cast("long")
          .as("qv"))
      .groupBy("dim").agg(sum("qv").as("qsum"), count(lit(1)).as("n"))
      .collect()
    val mu = new Array[Double](dims)
    muRows.foreach { r =>
      mu(r.getInt(0)) = r.getLong(1).toDouble / r.getLong(2).toDouble /
        1048576.0
    }
    var v = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    var q = new Array[Long](dims)
    for (_ <- 1 to iters) {
      val muLit = typedlit(mu.toSeq)
      val vLit = typedlit(v.toSeq)
      // s = (x − μ)·v as an ordered fold over ascending dims
      val sCol = aggregate(
        zip_with(col("v"), sequence(lit(0), lit(dims - 1)),
          (x, i) => (x.cast("double") - element_at(muLit, i + 1)) *
            element_at(vLit, i + 1)),
        lit(0.0), (acc, p) => acc + p)
      val qRows = emb
        .select(col(vecCol).as("v"))
        .select(col("v"), sCol.as("s"))
        .select(col("s"), posexplode(col("v")).as(Seq("dim", "x")))
        .select(col("dim"),
          floor(col("s") * (col("x").cast("double") -
            element_at(muLit, col("dim") + 1)) * lit(1048576.0))
            .cast("long").as("qc"))
        .groupBy("dim").agg(sum("qc").as("q"))
        .collect()
      q = new Array[Long](dims)
      qRows.foreach(r => q(r.getInt(0)) = r.getLong(1))
      val nrm = math.sqrt(q.foldLeft(0.0)((a, x) =>
        a + x.toDouble * x.toDouble))
      v = q.map(_.toDouble / nrm)
    }
    import spark.implicits._
    q.toSeq.zipWithIndex.map { case (qd, d) => (d, qd, v(d)) }
      .toDF("dim", "q", "component")
      .select(col("dim").cast("int").as("dim"), col("q"),
        col("component"))
  }
}
