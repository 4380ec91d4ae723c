package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 2D toy vectors with obvious geometry
  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f)), // closest to 0
    (2L, Array(0.0f, 1.0f)),
    (3L, Array(0.1f, 0.9f)), // closest to 2
    (4L, Array(-1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: orthogonal 0, identical 1, opposite -1") {
    val r = spark.range(1).select(
      SimilaritySearch.cosine(
        typedLit(Seq(1.0f, 0.0f)), typedLit(Seq(0.0f, 2.0f))).as("orth"),
      SimilaritySearch.cosine(
        typedLit(Seq(1.0f, 2.0f)), typedLit(Seq(1.0f, 2.0f))).as("same"),
      SimilaritySearch.cosine(
        typedLit(Seq(1.0f, 0.0f)), typedLit(Seq(-1.0f, 0.0f))).as("opp"))
      .collect().head
    assert(r.getDouble(0) === 0.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2) + 1.0) < 1e-12)
  }

  test("brute-force top-k ranks by cosine with deterministic ties") {
    val top = SimilaritySearch.bruteForceTopK(
      vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 2)
      .collect().sortBy(_.getInt(1))
    assert(top.map(_.getLong(2)).toSeq === Seq(1L, 3L))
  }

  test("hardNegatives skips same-label neighbors and ranks the " +
    "cross-label rest by cosine") {
    val labeled = Seq(
      (0L, Array(1.0f, 0.0f), 7),
      (1L, Array(0.9f, 0.1f), 7),  // overall-nearest to 0 but SAME label
      (2L, Array(0.8f, 0.2f), 8),  // best cross-label
      (3L, Array(0.1f, 0.9f), 8),
      (4L, Array(-1.0f, 0.0f), 9)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilaritySearch.hardNegatives(
      labeled, labeled.filter(col("vec_id") === 0),
      "vec_id", "embedding", "label", k = 3)
      .collect().sortBy(_.getInt(1))
    // same-label vec 1 never appears even though it is the global nearest
    assert(!out.map(_.getLong(2)).contains(1L))
    assert(out.map(_.getLong(2)).toSeq === Seq(2L, 3L, 4L))
  }

  test("LSH buckets are deterministic and similar vectors co-bucket") {
    val b1 = SimilaritySearch.lshBuckets(vecs, "embedding", 4)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = SimilaritySearch.lshBuckets(vecs, "embedding", 4)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === b2)
    assert(b1(0L) === b1(1L)) // near-identical direction -> same signs
    assert(b1(0L) !== b1(4L)) // opposite vector flips every sign
  }

  test("native srp_bucket matches the expression-pipeline specification " +
      "on real embeddings") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    Seq(2, 4, 7).foreach { planes =>
      val diff = emb.select(
          SimilaritySearch.srpBucket(col("embedding"), planes).as("native"),
          SimilaritySpec.srpBucketHof(col("embedding"), planes).as("hof"))
        .filter(col("native") =!= col("hof"))
      assert(diff.count() === 0, s"planes=$planes")
    }
  }

  test("embeddingDupPairs finds the high-cosine pairs only") {
    val pairs = SimilaritySearch.embeddingDupPairs(
      vecs, "vec_id", "embedding", minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (2L, 3L)))
  }

  test("embeddingDupPairs maxBucketSize bounds a degenerate bucket") {
    // a mass-duplicated embedding: 40 copies of the same vector land in
    // one SRP bucket — uncapped that bucket alone yields C(40,2)=780
    // quadratic pairs; the cap drops it while distinct-direction vectors
    // in small buckets keep pairing
    val dup = (0 until 40).map(i => (100L + i, Array(0.6f, 0.8f)))
    val rest = Seq(
      (0L, Array(1.0f, 0.05f)), (1L, Array(0.98f, 0.04f)),
      (2L, Array(-0.05f, -1.0f)), (3L, Array(-0.04f, -0.98f)))
    val df = (dup ++ rest).toDF("vec_id", "embedding")

    val uncapped = SimilaritySearch.embeddingDupPairs(
      df, "vec_id", "embedding", minCos = 0.9, planes = 2)
    assert(uncapped.count() >= 780L)

    val capped = SimilaritySearch.embeddingDupPairs(
      df, "vec_id", "embedding", minCos = 0.9, planes = 2,
      maxBucketSize = 10)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no pair from the degenerate bucket survives; the healthy buckets do
    assert(pairs.forall { case (a, b) => a < 100L && b < 100L })
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((2L, 3L)))
  }

  test("kmeansCodebook equals a driver-side reference (quantized int64 " +
      "means, ordered-fold cosine argmax, empty-cluster carry) and " +
      "separates two obvious clusters") {
    val Q = SimilaritySearch.KmeansQuant
    val data: Seq[(Long, Seq[Float])] = Seq(
      0L -> Seq(1.0f, 0.1f), 1L -> Seq(0.1f, 1.0f), 2L -> Seq(0.9f, 0.2f),
      3L -> Seq(0.2f, 1.1f), 4L -> Seq(1.1f, 0.0f), 5L -> Seq(0.0f, 0.9f),
      6L -> Seq(0.95f, 0.15f), 7L -> Seq(0.15f, 0.95f))
    val df = data.map { case (id, v) => (id, v.toArray) }
      .toDF("vec_id", "embedding")
    val got = SimilaritySearch
      .kmeansCodebook(df, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSet

    // reference: the SAME op-for-op arithmetic, single-threaded
    def dotD(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (u, v) => u * v }.foldLeft(0.0)(_ + _)
    var cents: Seq[Seq[Double]] =
      data.sortBy(_._1).take(2).map(_._2.map(_.toDouble))
    for (_ <- 1 to 3) {
      val assigned = data.map { case (_, vf) =>
        val v = vf.map(_.toDouble)
        val vn = math.sqrt(dotD(v, v))
        val cid = cents.zipWithIndex.map { case (c, i) =>
          val cn = math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x))
          (dotD(v, c) / (vn * cn), i)
        }.sortBy { case (c, i) => (-c, i) }.head._2
        (cid, v)
      }
      cents = cents.zipWithIndex.map { case (prev, cid) =>
        val mine = assigned.filter(_._1 == cid).map(_._2)
        if (mine.isEmpty) prev
        else prev.indices.map { d =>
          val s = mine.map(v => math.floor(v(d) * Q).toLong).sum
          (s / Q) / mine.size
        }
      }
    }
    val want = cents.zipWithIndex.flatMap { case (cv, cid) =>
      cv.zipWithIndex.map { case (x, d) => (cid.toLong, d, x) }
    }.toSet
    assert(got === want)

    // geometry sanity: one centroid near (1, 0.1..), the other near (0.1.., 1)
    val c = cents.map(_.toArray)
    assert(c(0)(0) > 0.8 && c(0)(1) < 0.3)
    assert(c(1)(0) < 0.3 && c(1)(1) > 0.8)
  }

  test("lshTopK returns neighbors from the probe's bucket only") {
    val res = SimilaritySearch.lshTopK(
      vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding",
      k = 3, planes = 4)
      .collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getLong(0) == 0L))
    assert(res.exists(_.getLong(2) == 1L)) // co-bucketed near-dup found
  }

  test("PQ: codebooks train per subspace, encoding is in-range, and " +
      "ADC top-k equals a driver-side reference (quantized int64 " +
      "tables, exact integer score sums)") {
    val Q = SimilaritySearch.KmeansQuant
    // 4-dim vectors, 2 subspaces x 2 dims, 2 clusters per subspace
    val data: Seq[(Long, Seq[Float])] = Seq(
      0L -> Seq(1.0f, 0.1f, 0.0f, 0.9f), 1L -> Seq(0.1f, 1.0f, 0.9f, 0.0f),
      2L -> Seq(0.9f, 0.2f, 0.1f, 1.0f), 3L -> Seq(0.2f, 1.1f, 1.0f, 0.1f),
      4L -> Seq(1.1f, 0.0f, 0.0f, 1.1f), 5L -> Seq(0.0f, 0.9f, 1.1f, 0.2f))
    val df = data.map { case (id, v) => (id, v.toArray) }
      .toDF("vec_id", "embedding")
    val cents = SimilaritySearch.pqCodebooksSeq(
      df, "vec_id", "embedding", subspaces = 2, k = 2, iters = 2)
    assert(cents.size === 2 && cents.forall(_.size === 2) &&
      cents.forall(_.forall(_.size === 2)))

    val codes = SimilaritySearch.pqEncode(df, "vec_id", "embedding", cents)
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Long](1).toSeq).toMap
    assert(codes.size === data.size)
    assert(codes.values.forall(c => c.size == 2 && c.forall(x =>
      x >= 0 && x < 2)))

    // driver-side reference: same arithmetic, single-threaded
    def dotD(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (u, v) => u * v }.foldLeft(0.0)(_ + _)
    def argmax(sv: Seq[Double], sc: Seq[Seq[Double]]): Int =
      sc.zipWithIndex.map { case (c, i) =>
        (dotD(sv, c) - c.foldLeft(0.0)((a, x) => a + x * x) / 2.0, i)
      }.sortBy { case (s, i) => (-s, i) }.head._2
    val refCodes = data.map { case (id, vf) =>
      val v = vf.map(_.toDouble)
      id -> (0 until 2).map(s =>
        argmax(v.slice(s * 2, s * 2 + 2), cents(s)).toLong)
    }.toMap
    assert(codes === refCodes)

    val got = SimilaritySearch.pqTopK(
        df, df.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 3, cents)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val refScores = data.filter(_._1 != 0L).map { case (id, _) =>
      val q = data.head._2.map(_.toDouble)
      val score = (0 until 2).map { s =>
        val tab = cents(s).map(c =>
          math.floor(dotD(q.slice(s * 2, s * 2 + 2), c) * Q).toLong)
        tab(refCodes(id)(s).toInt)
      }.sum
      (id, score)
    }.sortBy { case (id, s) => (-s, id) }.take(3)
    val want = refScores.zipWithIndex.map { case ((id, s), i) =>
      (0L, i + 1, id, s)
    }
    assert(got.sortBy(_._2).toSeq === want)
  }

  test("semanticDedup: within-cluster near-dups drop all but the least " +
      "centroid-typical member; cross-cluster twins both survive") {
    // codebook pins two clusters on the axes; no training needed
    val codebook = Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(0.0, 1.0)))
    val data = Seq(
      (0L, Array(1.0f, 0.0f)),   // cluster 0, ccos = 1 (most typical)
      (1L, Array(0.95f, 0.05f)), // cluster 0, near-dup of 0, less typical
      (2L, Array(0.9f, 0.1f)),   // cluster 0, near-dup of 0 and 1
      (3L, Array(0.0f, 1.0f)),   // cluster 1, geometry ~ vec 0's but
      (4L, Array(0.05f, 0.95f)), //   different cluster: same dedup story
      (5L, Array(-1.0f, 0.0f))   // cluster 1 (ccos 0 beats cluster 0's -1)
    ).toDF("vec_id", "embedding")
    val got = SimilaritySearch.semanticDedup(
        data, "vec_id", "embedding", k = 2, iters = 0, minCos = 0.9,
        codebookOpt = Some(codebook))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    // cluster 0: vec 2 is LEAST typical (lowest ccos) -> ranked first,
    // kept; 0 and 1 are tau-neighbors of a ranked-before member -> dropped
    assert(got(0L) === ((0L, false)))
    assert(got(1L) === ((0L, false)))
    assert(got(2L) === ((0L, true)))
    // cluster 1: same pattern, 4 is less typical -> kept, 3 dropped
    assert(got(3L) === ((1L, false)))
    assert(got(4L) === ((1L, true)))
    // opposite vector lands in cluster 1 but has no neighbor within tau
    assert(got(5L) === ((1L, true)))
  }

  test("semanticDedup rank is transitivity-free: dropping needs a " +
      "ranked-BEFORE tau-neighbor, not membership in a dropped chain") {
    // a-b similar, b-c similar, a-c NOT: SemDeDup's per-item rule keeps
    // the first-ranked item and drops anything tau-near it; c is only
    // near b (ranked before c), so c drops too even though its survivor
    // a is not its neighbor -- pin the exact one-sided existence rule
    val codebook = Seq((0L, Seq(1.0, 0.0)))
    val data = Seq(
      (0L, Array(1.0f, 0.0f)),       // 0 deg: ccos highest -> ranked LAST
      (1L, Array(0.9703f, 0.2419f)), // 14 deg
      (2L, Array(0.8829f, 0.4695f))  // 28 deg: ranked first, kept
    ).toDF("vec_id", "embedding")
    val got = SimilaritySearch.semanticDedup(
        data, "vec_id", "embedding", k = 1, iters = 0, minCos = 0.97,
        codebookOpt = Some(codebook))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // cos(0,1)=cos(1,2)=cos14deg~0.9703 >= tau; cos(0,2)=cos28deg~0.883
    assert(got(2L) === true)   // ranked first
    assert(got(1L) === false)  // neighbor 2 ranked before it
    assert(got(0L) === false)  // neighbor 1 ranked before it (not 2!)
  }

  // shared driver-side cosine reference (same fold order as the engine)
  private def refCos(a: Seq[Float], b: Seq[Float]): Double = {
    val dp = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    dp / (na * nb)
  }

  test("kCenterGreedy equals a driver-side farthest-point reference " +
      "(seed, picks, tie-breaks, coverage curve)") {
    // deterministic synthetic cloud, 2 clumps + outliers
    val data = (0L until 20L).map { i =>
      val ang = (i * 37 % 360).toDouble / 180.0 * math.Pi
      (i, Array(math.cos(ang).toFloat, math.sin(ang).toFloat,
        ((i % 5).toFloat / 10f)))
    }
    val df = data.toDF("vec_id", "embedding")
    val got = SimilaritySearch
      .kCenterGreedy(df, "vec_id", "embedding", k = 6)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))

    val vecs = data.toMap.map { case (k, v) => k -> v.toSeq }
    var sel = List(vecs.keys.min)
    var dd = (vecs.keySet - sel.head).map(i =>
      i -> refCos(vecs(i), vecs(sel.head))).toMap
    val want = scala.collection.mutable.ListBuffer[
      (Long, Long, Option[Double])]((0L, sel.head, None))
    for (t <- 1 until 6) {
      val pick = dd.toSeq.minBy { case (i, d) => (d, i) }
      want += ((t.toLong, pick._1, Some(pick._2)))
      sel ::= pick._1
      dd = (dd - pick._1).map { case (i, d) =>
        i -> math.max(d, refCos(vecs(i), vecs(pick._1)))
      }
    }
    assert(got.toSeq === want.toSeq)
    // coverage radius is monotonically non-decreasing after the seed
    val curve = got.drop(1).map(_._3.get)
    assert(curve.zip(curve.drop(1)).forall { case (a, b) => b >= a })
  }

  test("marginAlignPairs: hub B vector is margin-normalized away; " +
      "result equals the driver-computed argmax") {
    // A = label 0, B = label 1. b10 is a HUB (close to every A vector);
    // b11/b12 are each genuinely aligned to one A vector.
    val data = Seq(
      (0L, Array(1.0f, 0.05f, 0.0f), 0),
      (1L, Array(0.0f, 0.05f, 1.0f), 0),
      (10L, Array(0.6f, 0.6f, 0.6f), 1), // hub: fairly close to both
      (11L, Array(0.98f, 0.0f, 0.05f), 1), // aligned with a0
      (12L, Array(0.05f, 0.0f, 0.98f), 1)) // aligned with a1
      .toDF("vec_id", "embedding", "label")
    val k = 2
    val got = SimilaritySearch.marginAlignPairs(
        data, "vec_id", "embedding", "label", labelA = 0, labelB = 1,
        k = k, minMargin = 1.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap

    // driver reference with the same ordered folds
    val a = Seq(0L, 1L); val b = Seq(10L, 11L, 12L)
    val vecs = Seq(
      0L -> Seq(1.0f, 0.05f, 0.0f), 1L -> Seq(0.0f, 0.05f, 1.0f),
      10L -> Seq(0.6f, 0.6f, 0.6f), 11L -> Seq(0.98f, 0.0f, 0.05f),
      12L -> Seq(0.05f, 0.0f, 0.98f)).toMap
    val cos = (for { x <- a; y <- b } yield
      (x, y) -> refCos(vecs(x), vecs(y))).toMap
    def knn(xs: Seq[Double]): Double = {
      val top = xs.sorted(Ordering[Double].reverse).take(k)
      top.foldLeft(0.0)(_ + _) / top.size
    }
    val da = a.map(x => x -> knn(b.map(y => cos((x, y))))).toMap
    val db = b.map(y => y -> knn(a.map(x => cos((x, y))))).toMap
    val want = a.flatMap { x =>
      val (bestB, m) = b.map { y =>
        y -> (cos((x, y)) / ((da(x) + db(y)) / 2.0))
      }.minBy { case (y, mm) => (-mm, y) }
      if (m >= 1.0) Some(x -> ((bestB, m))) else None
    }.toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (x, (y, m)) =>
      assert(got(x)._1 === y)
      assert(math.abs(got(x)._2 - m) < 1e-12)
    }
    // the hub never wins an alignment despite decent raw cosine
    assert(!got.values.map(_._1).toSet.contains(10L))
  }

  test("centroidOutliers flags the planted off-centroid member first " +
      "and is partitioning-invariant") {
    val data = Seq(
      (0L, Array(1.0f, 0.02f), 0),
      (1L, Array(0.98f, 0.05f), 0),
      (2L, Array(1.02f, 0.0f), 0),
      (3L, Array(0.97f, 0.01f), 0),
      (4L, Array(0.0f, 1.0f), 0), // planted outlier in label 0
      (10L, Array(0.0f, 0.9f), 1),
      (11L, Array(0.05f, 1.0f), 1),
      (12L, Array(0.9f, 0.1f), 1)) // planted outlier in label 1
      .toDF("vec_id", "embedding", "label")
    val got = SimilaritySearch
      .centroidOutliers(data, "vec_id", "embedding", "label", k = 2)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got((0, 1))._1 === 4L)
    assert(got((1, 1))._1 === 12L)
    // rank 1 is strictly less aligned than rank 2 in both groups
    assert(got((0, 1))._2 < got((0, 2))._2)
    assert(got((1, 1))._2 < got((1, 2))._2)
    // quantized centroid sums are order-free: partitioning never moves
    // a rank, an id, or a bit of the score
    val rep = SimilaritySearch
      .centroidOutliers(data.repartition(7), "vec_id", "embedding",
        "label", k = 2)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2),
        r.getDouble(3)))).toMap
    assert(rep === got)
  }

  test("semanticDecontaminate flags exactly the planted benchmark leak " +
      "with its nearest benchmark item as evidence") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.70f, 0.69f, 0.2f))) // near-copy of benchmark 11
      .toDF("vec_id", "embedding")
    val bench = Seq(
      (10L, Array(0.0f, 0.0f, 1.0f)),
      (11L, Array(0.7f, 0.7f, 0.2f)))
      .toDF("vec_id", "embedding")
    val got = SimilaritySearch.semanticDecontaminate(
        corpus, bench, "vec_id", "embedding", minCos = 0.9)
      .collect()
    assert(got.length === 1)
    assert(got.head.getLong(0) === 2L)
    assert(got.head.getLong(1) === 11L)
    val want = refCos(Seq(0.70f, 0.69f, 0.2f), Seq(0.7f, 0.7f, 0.2f))
    assert(got.head.getDouble(2) === want)
  }

  test("pcaPowerTop equals an exact driver replica of the quantized " +
      "power iterations and finds the dominant direction") {
    val dims = 4
    // cloud stretched along u = (2,1,0,1)/sqrt(6), plus small per-dim jitter
    val u = Seq(2.0, 1.0, 0.0, 1.0)
    val rows = (0 until 40).map { i =>
      val a = (i % 9) - 4.0 // symmetric spread along u
      val jitter = Seq(0.01 * ((i * 7) % 5 - 2), 0.02 * ((i * 3) % 3 - 1),
        0.015 * ((i * 5) % 4 - 1), 0.0)
      (i.toLong, u.zip(jitter).map { case (ud, j) =>
        (a * ud + j).toFloat }.toArray)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = SimilaritySearch
      .pcaPowerTop(df, "embedding", dims = dims, iters = 2)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getLong(1), r.getDouble(2)))

    // exact driver replica: same quantization, same fold orders
    val xs = rows.map(_._2.map(_.toDouble).toSeq)
    val n = xs.size
    val mu = (0 until dims).map { d =>
      xs.foldLeft(0L)((acc, x) =>
        acc + math.floor(x(d) * 1048576.0).toLong).toDouble /
        n.toDouble / 1048576.0
    }
    var v = Seq.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    var q = Seq.empty[Long]
    for (_ <- 1 to 2) {
      val qs = new Array[Long](dims)
      xs.foreach { x =>
        val s = (0 until dims).foldLeft(0.0)((acc, d) =>
          acc + (x(d) - mu(d)) * v(d))
        (0 until dims).foreach { d =>
          qs(d) += math.floor(s * (x(d) - mu(d)) * 1048576.0).toLong
        }
      }
      q = qs.toSeq
      val nrm = math.sqrt(q.foldLeft(0.0)((a, x) =>
        a + x.toDouble * x.toDouble))
      v = q.map(_.toDouble / nrm)
    }
    assert(got.map(_._1).toSeq === q)
    got.map(_._2).zip(v).foreach { case (g, w) => assert(g === w) }
    // the found direction is the stretch direction (up to sign)
    val un = math.sqrt(u.map(x => x * x).sum)
    val align = v.zip(u).map { case (a, b) => a * b / un }.sum
    assert(math.abs(align) > 0.999)
    // partitioning invariance: int64 partials merge order-free
    val rep = SimilaritySearch
      .pcaPowerTop(df.repartition(7), "embedding", dims = dims, iters = 2)
      .collect().sortBy(_.getInt(0)).map(r => (r.getLong(1), r.getDouble(2)))
    assert(rep.toSeq === got.toSeq)
  }

  test("native dot kernel equals the zip_with/aggregate specification " +
      "bit-for-bit on real embeddings, double literals and edge cases") {
    val e = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    // float x float on every corpus pair vs a fixed probe
    val probe = e.orderBy("vec_id").limit(1)
      .select(col("embedding")).collect().head
      .getSeq[Float](0)
    val both = e.select(col("vec_id"),
        SimilaritySearch.dot(col("embedding"),
          typedLit(probe)).as("native"),
        SimilaritySpec.dotHof(col("embedding"),
          typedLit(probe)).as("spec"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      // bit-identical, not approximately equal
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.toString)
    }
    // float x double-literal (the trained-centroid shape)
    val cv = probe.map(_.toDouble * 1.7)
    val mixed = e.limit(16).select(
        SimilaritySearch.dot(col("embedding"), typedLit(cv)).as("native"),
        SimilaritySpec.dotHof(col("embedding"), typedLit(cv)).as("spec"))
      .collect()
    mixed.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
    // length mismatch poisons to NULL in both formulations
    val mm = spark.range(1).select(
      SimilaritySearch.dot(typedLit(Seq(1.0f, 2.0f)),
        typedLit(Seq(1.0f))).as("native"),
      SimilaritySpec.dotHof(typedLit(Seq(1.0f, 2.0f)),
        typedLit(Seq(1.0f))).as("spec")).collect().head
    assert(mm.isNullAt(0) && mm.isNullAt(1))
  }

  test("emb_diversity: identical group reads ~1, orthogonal group ~0, " +
      "a mixed group matches the brute-force pairwise mean, singleton " +
      "groups drop and zero-norm vectors are excluded") {
    val dims = 64
    def unit(i: Int): Seq[Float] =
      (0 until dims).map(d => if (d == i) 1.0f else 0.0f)
    val mixed = Seq(
      (0 until dims).map(d => ((d % 5) - 2).toFloat / 3f),
      (0 until dims).map(d => ((d % 7) - 3).toFloat / 4f),
      (0 until dims).map(d => (if (d < 32) 1f else -1f) / 2f))
    val rows = Seq(
      (1L, unit(0), 0), (2L, unit(0), 0), (3L, unit(0), 0),
      (4L, unit(0), 1), (5L, unit(1), 1), (6L, unit(2), 1),
      (7L, mixed(0), 2), (8L, mixed(1), 2), (9L, mixed(2), 2),
      (10L, unit(3), 3), // singleton: no pairs, dropped
      (11L, (0 until dims).map(_ => 0.0f), 4), // zero norm: excluded
      (12L, unit(4), 4), (13L, unit(4), 4))
    val out = tmpDir("embdiv")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val got = graft.SparkEntry.queries("emb_diversity")(spark, out)
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!got.contains(3)) // singleton group has no pairs
    assert(got(0)._1 === 3L && math.abs(got(0)._2 - 1.0) < 1e-4)
    assert(got(1)._1 === 3L && math.abs(got(1)._2) < 1e-4)
    // zero-norm excluded: the surviving pair of identical vectors
    assert(got(4)._1 === 2L && math.abs(got(4)._2 - 1.0) < 1e-4)
    val brute = Seq((0, 1), (0, 2), (1, 2))
      .map { case (a, b) => refCos(mixed(a), mixed(b)) }.sum / 3.0
    assert(got(2)._1 === 3L && math.abs(got(2)._2 - brute) < 1e-4,
      s"got=${got(2)._2} brute=$brute")
  }

  test("topic_balance: four planted orthogonal direction groups land in " +
      "their own clusters with the exact label mix, shares are " +
      "consistent, and counts conserve") {
    val dims = 64
    def unit(i: Int): Seq[Float] =
      (0 until dims).map(d => if (d == i) 1.0f else 0.0f)
    // vec_ids 1..4 seed the four centroids (c0 takes the first 4 by id);
    // each later vector is exactly one of the four directions, so the
    // trained centroids stay put and assignment is unambiguous.
    val rows = Seq(
      (1L, unit(0), 0), (2L, unit(1), 1), (3L, unit(2), 2),
      (4L, unit(3), 3),
      (5L, unit(0), 1), (6L, unit(0), 1),
      (7L, unit(1), 1),
      (8L, unit(3), 0))
    val out = tmpDir("topicbal")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val got = graft.SparkEntry.queries("topic_balance")(spark, out)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val expected = Map(
      (0L, 0) -> (1L, 3L), (0L, 1) -> (2L, 3L),
      (1L, 1) -> (2L, 2L),
      (2L, 2) -> (1L, 1L),
      (3L, 3) -> (1L, 2L), (3L, 0) -> (1L, 2L))
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, (n, cn)) =>
      val (gn, gcn, lshare, cshare) = got(k)
      assert(gn == n && gcn == cn, s"cell $k: got ($gn,$gcn)")
      assert(math.abs(lshare - n.toDouble / cn) < 1e-12)
      assert(math.abs(cshare - cn.toDouble / 8.0) < 1e-12)
    }
    assert(got.values.map(_._1).sum == rows.length.toLong)
  }
}

/** Executable specifications of the native vector kernels: the
  * expression-only formulations the tests above cross-check
  * [[graft.functions.DotProduct]] and [[graft.functions.SrpBucket]]
  * against, bit for bit. */
object SimilaritySpec {
  import org.apache.spark.sql.Column

  /** Specification form via higher-order fold (two interpreted lambdas
    * per element — 128 closure calls per 64-dim pair; kept as the
    * reference semantics the native kernel must match bit-for-bit). */
  def dotHof(x: Column, y: Column): Column =
    aggregate(
      zip_with(x, y, (u, v) => u.cast("double") * v.cast("double")),
      lit(0.0), (acc, p) => acc + p)

  /** Deterministic pseudo-random hyperplane component for (seed, plane j,
    * dim i): in {-1, +1} — a sign-random projection (Charikar-style
    * SRP-LSH) with no stored model. Knuth multiplicative hash on plain
    * integer arithmetic so the oracle engine reproduces buckets exactly. */
  private def planeSign(seed: Long, j: Int, i: Column): Column =
    when(
      shiftright((i + 1) * lit(2654435761L) + lit((j + 1) * 40503L + seed),
        16) % 2 === 0,
      lit(1.0)).otherwise(lit(-1.0))

  /** Specification form: `planes` interpreted folds per row. */
  def srpBucketHof(vec: Column, planes: Int, seed: Long = 42L): Column = {
    val bits = (0 until planes).map { j =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => v.cast("double") * planeSign(seed, j, i)),
        lit(0.0), (acc, p) => acc + p)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
