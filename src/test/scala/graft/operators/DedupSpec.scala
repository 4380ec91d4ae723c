package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "spark catalyst optimizes declarative query plans nicely"),
    (5L, "completely different words here about storage formats")
  ).toDF("doc_id", "text")

  test("polyHash matches the reference fold (hello -> 99162322)") {
    val got = spark.range(1)
      .select(TextFunctions.polyHash(lit("hello")).as("h"))
      .collect().head.getLong(0)
    assert(got === 99162322L) // == "hello".hashCode since < 1e9+7
  }

  test("shingles: fewer than n words yields empty array") {
    val got = spark.range(1).select(
      TextFunctions.shingles(split(lit("a b"), " "), 3).as("s"),
      TextFunctions.shingles(split(lit("a b c d"), " "), 3).as("s2"))
      .collect().head
    assert(got.getSeq[String](0).isEmpty)
    assert(got.getSeq[String](1) === Seq("a b c", "b c d"))
  }

  test("exact dedup finds exactly the duplicated text group") {
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(groups.length === 1)
    assert(groups.head.getAs[Long]("n_dups") === 2L)
    assert(groups.head.getAs[Seq[Long]]("members") === Seq(1L, 2L))
  }

  test("identical texts have identical minhash signatures; est_sim 1.0") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(4L))

    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 16, bands = 4, minEstSim = 0.9).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getDouble(2) == 1.0))
  }

  test("jaccard pairs: exact dup = 1.0, near dup high, unrelated absent") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      shingleN = 3, minJaccard = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0)
    assert(!pairs.exists(p => p._1._2 == 5L || p._1._1 == 5L))
  }

  test("containment pairs: a short doc fully inside a long one scores " +
      "1.0 while its jaccard is the size ratio — the asymmetric case") {
    // doc 7 (4 words = 2 shingles) is verbatim inside doc 6 (12 words =
    // 10 shingles): containment = 2/min(2,10) = 1.0, jaccard = 2/10
    val quote = Seq(
      (6L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu"),
      (7L, "alpha beta gamma delta"),
      (8L, "nu xi omicron pi rho sigma")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(quote, "doc_id", "text",
        shingleN = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(cont((6L, 7L)) === 1.0)
    assert(!cont.keySet.exists(p => p._1 == 8L || p._2 == 8L))
    val jac = Dedup.jaccardPairs(quote, "doc_id", "text",
        shingleN = 3, minJaccard = 0.9).collect()
    assert(!jac.exists(r => r.getLong(0) == 6L && r.getLong(1) == 7L),
      "jaccard at the same threshold must MISS the quote-inclusion pair")
  }

  test("minhash audit: exact side equals jaccardPairs, est from the LSH " +
      "pair list, exact dup has zero error") {
    val audit = Dedup.minhashAuditPairs(docs, "doc_id", "text",
        k = 16, bands = 4, minEstSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // the exact dup pair: est 1.0, exact 1.0, err 0
    assert(audit((1L, 2L)) === ((1.0, 1.0, 0.0)))
    // exact side agrees with the inverted-index jaccard operator
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    for (((a, b), (_, exact, err)) <- audit) {
      assert(math.abs(exact - jac.getOrElse((a, b), 0.0)) < 1e-12)
      assert(err >= -1.0 && err <= 1.0)
    }
  }

  test("native minhash kernel equals the explode/groupBy specification " +
      "on real documents and the no-shingle edge") {
    val real = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, "one two")).toDF("doc_id", "text")) // < 3 words
    val native = Dedup.minhashSignatures(real, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val spec = DedupSpec.minhashSignaturesAgg(real, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(native === spec)
    assert(native(100001L).forall(_ == null)) // all-null edge signature
  }

  test("native simhash64 kernel equals the explode/groupBy specification " +
      "on real documents") {
    val real = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val native = Dedup.simhash64(real, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val spec = DedupSpec.simhash64Agg(real, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native === spec)
  }

  test("simhash64: identical texts collide; near dup within small hamming") {
    val sh = Dedup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sh(1L) === sh(2L))
    sh.values.foreach(bands =>
      assert(bands.length === 4 && bands.forall(b => b >= 0 && b < 65536)))
    val pairs = Dedup.simhashPairs64(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) === 0)
  }

  test("simhash64 4-band blocking is pigeonhole-complete at hamming <= 3 " +
      "(finds every brute-force pair, incl. splits the 2-half scheme missed)") {
    // many small perturbations of a base text -> lots of low-hamming pairs
    // with bit diffs scattered across the 64-bit hash
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val words = base.split(" ")
    val perturbed = (0 until 120).map { i =>
      val w = words.updated(i % words.length, s"tok$i")
      (i.toLong, w.mkString(" "))
    }
    val df = perturbed.toDF("doc_id", "text")

    // brute force over the SAME 64-bit hash
    val sh = Dedup.simhash64(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def hamming(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val expected = (for {
      a <- sh.keys; b <- sh.keys if a < b
      h = hamming(sh(a), sh(b)) if h <= 3
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "fixture produced no low-hamming pairs")

    val got = Dedup.simhashPairs64(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected) // blocking-complete: nothing missed

    // at least one found pair splits its diffs over >= 2 bands — the case
    // the old lo/hi-half blocking could silently miss
    val split = expected.exists { case (a, b) =>
      sh(a).zip(sh(b)).count { case (x, y) => x != y } >= 2
    }
    assert(split, "no multi-band split pair in fixture; strengthen it")
  }

  test("jaccard df-cap drops corpus-common shingles from intersections " +
      "but keeps denominators exact") {
    // every doc shares one ultra-common shingle; pairs held together ONLY
    // by it must vanish under the cap
    val common = "zzz yyy xxx"
    val many = (1L to 30L).map(i => (i, s"$common unique$i word$i tail$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(many, "doc_id", "text",
      shingleN = 3, minJaccard = 0.01)
    assert(uncapped.count() === (30 * 29) / 2)
    val capped = Dedup.jaccardPairs(many, "doc_id", "text",
      shingleN = 3, minJaccard = 0.01, maxDf = 10)
    assert(capped.count() === 0)
  }

  test("contamination: an embedded benchmark doc scores containment 1.0 " +
      "even though symmetric jaccard is low; disjoint docs score 0") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // benchmark text embedded inside a longer training doc
      (1L, "intro words here alpha beta gamma delta epsilon closing remarks trail off"),
      // shares nothing
      (2L, "completely different content with no overlap at all whatsoever")
    ).toDF("doc_id", "text")

    val pairs = Dedup.contaminationPairs(
      corpus, "doc_id", bench, "doc_id", "text",
      shingleN = 3, minContainment = 0.9)
      .collect()
    assert(pairs.length === 1)
    assert(pairs.head.getLong(0) === 1L && pairs.head.getLong(1) === 100L)
    assert(pairs.head.getDouble(2) === 1.0)

    // sanity: symmetric jaccard for the same pair is well under 0.9 —
    // containment is the right metric for leakage
    val j = Dedup.jaccardPairs(corpus.union(bench), "doc_id", "text",
      shingleN = 3, minJaccard = 0.0)
      .filter($"id_a" === 1L && $"id_b" === 100L)
      .collect()
    assert(j.head.getDouble(2) < 0.5)
  }

  test("contamination maxDf drops corpus-stopword shingles; denominators " +
      "stay exact benchmark sizes") {
    val common = "zzz yyy xxx"
    val corpus = (1L to 30L).map(i => (i, s"$common unique$i word$i tail$i"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, s"$common bench only text")).toDF("doc_id", "text")
    // every corpus doc contains the bench doc's one common shingle
    val uncapped = Dedup.contaminationPairs(corpus, "doc_id", bench,
      "doc_id", "text", shingleN = 3, minContainment = 0.1)
    assert(uncapped.count() === 30)
    val capped = Dedup.contaminationPairs(corpus, "doc_id", bench,
      "doc_id", "text", shingleN = 3, minContainment = 0.1, maxDf = 10)
    assert(capped.count() === 0)
  }

  test("dupClusters: transitive chains collapse to one component with " +
      "the min id as keeper") {
    // 1-2, 2-3 chain (1 and 3 never directly paired) + separate 8-6 pair
    val pairs = Seq((2L, 1L), (2L, 3L), (8L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (6L, 6L, true), (8L, 6L, false)))
  }

  test("dupClusters equals brute-force union-find on random graphs " +
      "(incl. long paths, the worst case for label propagation)") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      // random sparse graph
      (0 until 60).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b },
      // a 30-node path: convergence must not need O(diameter) rounds
      (0L until 29L).map(i => (i, i + 1)),
      // two dense cliques sharing no nodes
      (for (a <- 0 to 5; b <- 0 to 5 if a < b) yield (a.toLong, b.toLong)) ++
        (for (a <- 10 to 14; b <- 10 to 14 if a < b)
          yield (a.toLong, b.toLong)))
    for (edges <- cases) {
      // brute-force union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.toSeq
        .map(n => (n, find(n), n == find(n))).toSet
      val got = Dedup.dupClusters(edges.toDF("id_a", "id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got === want, s"edges=$edges")
    }
  }

  test("dupClusters: empty pair list yields empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.dupClusters(empty).collect().isEmpty)
  }

  test("LSH bucket cap drops degenerate buckets") {
    // 20 identical docs -> one giant bucket per band. The cap keeps a
    // bucket of exactly maxBucketSize docs (<=, as the oracles' HAVING
    // COUNT(*) <= cap): cap 20 keeps every pair, cap 19 and cap 5 none.
    val many = (1L to 20L).map(i => (i, "same same same text here"))
      .toDF("doc_id", "text")
    val generators = Seq[(String, Int => org.apache.spark.sql.DataFrame)](
      "minhashLshPairs" -> (cap => Dedup.minhashLshPairs(many, "doc_id",
        "text", k = 16, bands = 4, minEstSim = 0.0, maxBucketSize = cap)),
      "simhashPairs64" -> (cap => Dedup.simhashPairs64(many, "doc_id",
        "text", maxHamming = 3, maxBucketSize = cap)))
    for ((name, pairs) <- generators) {
      assert(pairs(5).count() === 0, name)
      assert(pairs(19).count() === 0, name)
      assert(pairs(20).count() === 190, name) // 20 choose 2
      assert(pairs(Int.MaxValue).count() === 190, name) // uncapped
    }
  }

  test("chunk passage dedup: cross-doc shared chunks counted per " +
      "instance, within-doc-only repeats excluded, short tail chunked") {
    // chunkWords=3: d1 = [A B C][D E F], d2 = [A B C][X Y Z], d3 shares
    // nothing cross-doc but repeats its own chunk twice; d4 = 4 words ->
    // chunks [P Q R][S] (short tail)
    val docs = Seq(
      (1L, "A B C D E F"),
      (2L, "A B C X Y Z"),
      (3L, "M N O M N O"),
      (4L, "P Q R S"))
      .toDF("doc_id", "text")
    val got = Dedup.chunkDupFractions(docs, "doc_id", "text",
        chunkWords = 3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((2L, 1L, 0.5)))  // [A B C] shared with d2
    assert(got(2L) === ((2L, 1L, 0.5)))
    assert(got(3L) === ((2L, 0L, 0.0)))  // self-repeat is NOT cross-doc
    assert(got(4L) === ((2L, 0L, 0.0)))  // [P Q R] + short [S]
  }

  test("repeatedSpans finds maximal duplicated regions with exact " +
      "positions, counts within-doc repeats, and skips short docs") {
    // W=3: d1/d2 share the 5-word prefix "A B C D E" -> windows at 1,2,3
    //   merge to span [1,5] in both; d1's tail "U V W" is unique.
    // d3 repeats "M N O" twice WITHIN itself (positions 1 and 4, with the
    //   window at 2 "N O M" and 3 "O M N" also duplicated inside the
    //   doubled text? no — each appears once) -> windows [M N O]@1 and
    //   [M N O]@4 share a key, islands merge (4-1 <= 3) into ONE span
    //   [1,6].
    // d4 is 2 words -> no windows at all.
    val docs = Seq(
      (1L, "A B C D E U V W"),
      (2L, "A B C D E X Y Z"),
      (3L, "M N O M N O"),
      (4L, "P Q"))
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", windowWords = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      (1L, 1L, 5L, 5L),
      (2L, 1L, 5L, 5L),
      (3L, 1L, 6L, 6L)))

    // rewrite: covered tokens cut, the rest reassembled in order
    val clean = Dedup.removeRepeatedSpans(docs, "doc_id", "text",
        windowWords = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(clean(1L) === (("U V W", 5L)))
    assert(clean(2L) === (("X Y Z", 5L)))
    assert(clean(3L) === (("", 6L)))      // fully duplicated -> empty
    assert(clean(4L) === (("P Q", 0L)))   // untouched pass-through

    // partitioning invariance: same spans regardless of layout
    val repart = Dedup.repeatedSpans(docs.repartition(7), "doc_id",
        "text", windowWords = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(repart === got)
  }

  test("repeatedSpans under planted boilerplate skew: one 8-gram in 30% " +
      "of docs is found on every planted doc, and maxOccurrences drops " +
      "it while a genuine occ=2 span survives") {
    // VERDICT r04 #7. 3000 docs; 900 (30%) open with the SAME 8-word
    // boilerplate phrase — ONE window key carrying 900 occurrences, the
    // hot key the (h1,h2) shuffle + semi-join must survive (AQE skew
    // split / broadcast). Docs 100 and 200 additionally share a genuine
    // 8-word tail (occ=2) that the cap must NOT touch. Filler words are
    // doc-unique, so no other window duplicates.
    val boiler = "terms of use apply to this document here"
    val tail = "shared genuine duplicated tail words appear twice only"
    val rows = (0L until 3000L).map { i =>
      val filler = (0 until 8).map(j => s"w${i}_$j").mkString(" ")
      val pre = if (i % 10 < 3) s"$boiler $filler" else filler
      (i, if (i == 100L || i == 200L) s"$pre $tail" else pre)
    }
    val docs = spark.createDataset(rows).toDF("doc_id", "text")
      .repartition(16)

    val uncapped = Dedup.repeatedSpans(docs, "doc_id", "text",
        windowWords = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val plantedIds = (0L until 3000L).filter(_ % 10 < 3)
    val expectedUncapped =
      plantedIds.map(i => (i, 1L, 8L, 8L)).toSet ++
        Set((100L, 17L, 24L, 8L), (200L, 17L, 24L, 8L))
    assert(uncapped === expectedUncapped) // 902 spans, all exact

    // cap below the boilerplate multiplicity: its key leaves the
    // candidate set entirely; the genuine pair-duplicated tail stays
    val capped = Dedup.repeatedSpans(docs, "doc_id", "text",
        windowWords = 8, maxOccurrences = 8L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(capped === Set((100L, 17L, 24L, 8L), (200L, 17L, 24L, 8L)))

    // the capped rewrite cuts only the genuine span — boilerplate is
    // explicitly NOT this operator's job under a cap (substringDedup's
    // df > maxDf path removes it instead)
    val clean100 = Dedup.removeRepeatedSpans(docs, "doc_id", "text",
        windowWords = 8, maxOccurrences = 8L)
      .filter($"doc_id" === 100L).collect().head
    assert(clean100.getLong(2) === 8L)
    assert(clean100.getString(1).startsWith(boiler))
    assert(!clean100.getString(1).contains("tail"))
  }

  test("noveltyScores under planted boilerplate skew: a hot window key " +
      "in 30% of docs stays novel only on its first doc") {
    // VERDICT r05 #3's fixture: one 8-gram planted in 900 of 3000 docs —
    // the hot key the r05 window-over-raw-occurrences form funneled onto
    // one sort task. The r06 (wkey, doc) hash aggregate must absorb it
    // map-side and still score every planted doc except the first
    // (doc 0) as recycled on exactly its boilerplate windows.
    val boiler = "terms of use apply to this document here"
    val rows = (0L until 3000L).map { i =>
      val filler = (0 until 8).map(j => s"w${i}_$j").mkString(" ")
      (i, if (i % 10 < 3) s"$boiler $filler" else filler)
    }
    val docs = spark.createDataset(rows).toDF("doc_id", "text")
      .repartition(16)
    val got = Dedup.noveltyScores(docs, "doc_id", "text", windowWords = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // planted docs have 9 windows (16 words); exactly window 1 (the
    // boilerplate 8-gram) is recycled — except doc 0, which saw it first
    val expected = (0L until 3000L).map { i =>
      if (i == 0L) (i, 9L, 0L)
      else if (i % 10 < 3) (i, 9L, 1L)
      else (i, 1L, 0L)
    }.toSet
    assert(got === expected)

    // partitioning invariance for the aggregate form
    val repart = Dedup.noveltyScores(docs.repartition(7), "doc_id", "text",
        windowWords = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(repart === got)
  }

  test("repeatedSpans separates non-adjacent duplicated regions into " +
      "distinct spans") {
    // W=2: "A B" duplicated (d1@1, d2@1) and "Y Z" duplicated (d1@6,
    // d2@4); the gap (6-1 > 2) keeps them as two spans in d1
    val docs = Seq(
      (1L, "A B c d e Y Z"),
      (2L, "A B q Y Z"))
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", windowWords = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === Set(
      (1L, 1L, 2L), (1L, 6L, 7L),
      (2L, 1L, 2L), (2L, 4L, 5L)))
  }

  // driver-side winnowing reference: sliding k-gram polyHashes, then the
  // distinct minima of every w-window (global min for short docs)
  private def refWinnow(text: String, k: Int, w: Int): Set[Long] = {
    def ph(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val words = text.split(" ", -1)
    if (words.length < k) return Set.empty
    val hs = (0 to words.length - k)
      .map(i => ph(words.slice(i, i + k).mkString(" ")))
    if (hs.length < w) Set(hs.min)
    else (0 to hs.length - w).map(i => hs.slice(i, i + w).min).toSet
  }

  test("winnowFps equals the driver reference; short docs select their " +
      "global minimum; sub-k docs select nothing") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "one two three four five"), // 2 windows < w=5 -> global min
      (3L, "x y z")                    // < k words -> no fingerprints
    ).toDF("doc_id", "text")
    val got = Dedup.winnowFps(docs, "doc_id", "text", k = 4, w = 5)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert(got(1L) === refWinnow("a b c d e f g h i j k l m n o p", 4, 5))
    assert(got(2L) === refWinnow("one two three four five", 4, 5))
    assert(got(2L).size === 1)
    assert(!got.contains(3L))
    // density: far fewer fingerprints than k-grams (16-4+1 = 13 k-grams)
    assert(got(1L).size < 13)
  }

  test("winnowing guarantee: a shared run of >= w+k-1 words always " +
      "yields a shared fingerprint") {
    val shared = "the quick brown fox jumps over lazy dogs" // 8 = w+k-1
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon zeta"),
      (2L, s"uno dos tres cuatro $shared cinco seis"),
      (3L, "totally unrelated words that never overlap at all here")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFps(docs, "doc_id", "text", k = 4, w = 5)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
  }

  test("winnowPairs equals the brute-force shared-fingerprint counts " +
      "and the df cap drops boilerplate fingerprints") {
    val boiler = "copyright footer all rights reserved forever and ever"
    val texts = Seq(
      1L -> s"alpha beta gamma delta epsilon zeta eta theta $boiler",
      2L -> s"alpha beta gamma delta epsilon zeta eta theta iota $boiler",
      3L -> s"one two three four five six seven eight nine $boiler",
      4L -> s"uno dos tres cuatro cinco seis siete ocho nueve $boiler")
    val docs = texts.toDF("doc_id", "text")
    // no cap: every pair shares the boilerplate fingerprints
    val uncapped = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 4, w = 5, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val ref = (for {
      (a, ta) <- texts; (b, tb) <- texts if a < b
      n = (refWinnow(ta, 4, 5) intersect refWinnow(tb, 4, 5)).size
      if n >= 1
    } yield (a, b) -> n.toLong).toMap
    assert(uncapped === ref)
    // df cap 3 kills fingerprints present in all 4 docs (the boilerplate)
    val capped = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 4, w = 5, minShared = 1L, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L))) // genuinely near-dup pair survives
    assert(!capped.contains((3L, 4L))) // boilerplate-only pair is gone
  }

  test("cdc chunking is shift-robust exactly where the fixed grid " +
      "de-syncs (one prepended word)") {
    val ws = (0 until 200).map(i => s"tok$i")
    val base = ws.mkString(" ")
    val shifted = "zzz " + base
    val df = Seq((1L, "a", base), (2L, "b", shifted))
      .toDF("doc_id", "source", "text")
    // the claim binds only if >= 1 boundary word exists in the shared
    // run (deterministic for this word list; asserted, not assumed)
    val nBoundary = ws.toDF("w")
      .where(TextFunctions.polyHash(col("w")) % 16 === 0).count()
    assert(nBoundary >= 1, "word list has no CDC boundary; change tokens")
    // CDC: every chunk after the first shared boundary has identical
    // content in both docs -> duplicate mass on BOTH sides
    val cdc = Dedup.cdcDupStats(df, "doc_id", "text", "source")
      .collect()
    assert(cdc.length === 2)
    cdc.foreach { r =>
      assert(r.getAs[Long]("dup_words") > 0L, r.toString)
      assert(r.getAs[Long]("total_words") >=
        r.getAs[Long]("dup_words"), r.toString)
    }
    // fixed 10-word grid: the 1-word shift misaligns every chunk, so
    // cross-doc duplicate chunks = 0 on the same input
    val fixedDups = Dedup.chunkDupFractions(df, "doc_id", "text", 10)
      .agg(sum(col("n_dup_chunks"))).collect().head.getLong(0)
    assert(fixedDups === 0L)

    // CDC rewrite: keep-first means the lower doc_id keeps ALL its
    // chunks (reassembling to the original text) and the shifted doc
    // loses exactly the shared chunks
    val rw = Dedup.cdcRewrite(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rw(1L).getAs[String]("new_text") === base)
    assert(rw(1L).getAs[Long]("n_kept") === rw(1L).getAs[Long]("n_chunks"))
    assert(rw(2L).getAs[Long]("n_kept") < rw(2L).getAs[Long]("n_chunks"))
    assert(rw(2L).getAs[String]("new_text") !== shifted)
  }

  test("sourceMinhashSim: identical-content sources read 1.0, disjoint " +
    "vocab reads low, and the matrix is canonical (src_a < src_b)") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "a"),
      (2L, "the quick brown fox jumps over the lazy dog", "b"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta", "c"),
      (4L, "iota kappa lambda mu nu xi omicron pi rho", "c")
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.sourceMinhashSim(d, "source", "text", k = 16).collect()
    assert(rows.length === 3) // C(3,2) canonical pairs
    rows.foreach(r => assert(r.getString(0) < r.getString(1)))
    val m = rows.map(r =>
      (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("a", "b")) === 1.0) // identical shingle sets
    assert(m(("a", "c")) < 0.5)   // disjoint vocabularies
    assert(m(("a", "c")) === m(("b", "c"))) // same content, same estimate
  }

  test("noveltyScores: windows first seen in an EARLIER doc are recycled; " +
    "first occurrences and within-doc repeats stay novel; sub-window " +
    "docs are absent") {
    val d = Seq(
      (1L, "a b c d e f g h i"),       // 2 windows, both first occurrences
      (2L, "a b c d e f g h x"),       // window 1 recycled from doc 1
      (3L, "z z z z z z z z z z"),     // 3 within-doc repeat windows
      (4L, "short words only")         // < 8 words: no windows
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyScores(d, "doc_id", "text", windowWords = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((2L, 0L, 0.0)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((3L, 0L, 0.0)))
    assert(!out.contains(4L))
  }

  test("noveltyScores and sourceMinhashSim are partitioning-invariant") {
    val d = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(120)
    def nov(df: org.apache.spark.sql.DataFrame) =
      Dedup.noveltyScores(df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    def sim(df: org.apache.spark.sql.DataFrame) =
      Dedup.sourceMinhashSim(df, "source", "text")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .toSet
    assert(nov(d.repartition(1)) === nov(d.repartition(13)))
    assert(sim(d.repartition(1)) === sim(d.repartition(13)))
  }

  test("sortedNeighborPairs pairs prefix-sharing near-dups, misses " +
      "prefix-divergent ones by documented contract, drops big blocks") {
    // 1/2 exact dups and 3 a near-dup — all share the 12-char normalized
    // prefix "the quick br", so the sliding window pairs them. 6 is a
    // near-dup of 1 whose FIRST word differs: same shingle Jaccard
    // ballpark, different block — by the sorted-neighborhood contract it
    // is NOT a candidate (the multi-pass answer is a second key).
    val d = (docs.collect().map(r => (r.getLong(0), r.getString(1))) :+
      (6L, "one quick brown fox jumps over the lazy dog")).toSeq
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborPairs(d, "doc_id", "text",
      blockChars = 12, windowSize = 2, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 === 6L || p._2 === 6L))

    // boilerplate valve: 70 docs with an identical templated opening
    // (block size > maxBlock=64) are dropped whole — zero pairs — while
    // an in-cap near-dup pair elsewhere still surfaces
    val big = (1 to 70).map(i =>
        (100L + i, s"terms of service apply to item number $i only")) ++
      Seq((201L, "alpha beta gamma delta epsilon zeta eta theta"),
        (202L, "alpha beta gamma delta epsilon zeta eta iota"))
    val capped = Dedup.sortedNeighborPairs(big.toDF("doc_id", "text"),
      "doc_id", "text", blockChars = 12, windowSize = 2,
      minJaccard = 0.3, maxBlock = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((201L, 202L)))
  }

  test("sortedNeighborPairs is partitioning-invariant and non-trivial " +
      "on real data") {
    val d = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.sortedNeighborPairs(df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = run(d.repartition(1))
    assert(one === run(d.repartition(13)))
    assert(one.nonEmpty) // sf0.001 carries planted near-dups
  }
}

/** Executable specifications of the native signature kernels: the
  * explode -> groupBy formulations the tests above cross-check
  * [[graft.functions.MinhashSig]] and [[graft.functions.Simhash64Bands]]
  * against. */
object DedupSpec {
  import org.apache.spark.sql.DataFrame
  import TextFunctions.{HashMod, shingleHashes, wordHashes}
  import Dedup.{SimhashBandBits, SimhashBands}

  /** Specification form of [[Dedup.minhashSignatures]] (explode -> groupBy with
    * k MIN aggregates). */
  def minhashSignaturesAgg(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      shingleN: Int = 3): DataFrame = {
    val hashes = df.select(
      col(idCol),
      explode_outer(shingleHashes(col(textCol), shingleN)).as("h"))
    val minCols = (0 until k).map { i =>
      min(pmod(col("h") * (i * 2 + 1) + (i * 1000003L + 12345L),
        lit(graft.functions.TextFunctions.HashMod))).as(s"m$i")
    }
    hashes
      .groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Specification form of [[Dedup.simhash64]]: explode -> groupBy with 64
    * conditional SUMs (tests assert equality with the native kernel). */
  def simhash64Agg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wh = df.select(
      col(idCol), explode_outer(wordHashes(col(textCol))).as("h"))
    val voteCols = (0 until SimhashBands * SimhashBandBits).map { j =>
      sum(when(
        pmod(col("h") * (2 * j + 1) + (j * 1000003L + 12345L),
          lit(HashMod)) % 2 === 1, 1L).otherwise(-1L)).as(s"v$j")
    }
    val votes = wh.groupBy(col(idCol)).agg(voteCols.head, voteCols.tail: _*)
    val bandCols = (0 until SimhashBands).map { b =>
      (0 until SimhashBandBits).map { i =>
        when(col(s"v${SimhashBandBits * b + i}") > 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"band$b")
    }
    votes
      .select(col(idCol) +: bandCols: _*)
      .select(col(idCol),
        array((0 until SimhashBands).map(b => col(s"band$b")): _*).as("bands"))
  }
}
