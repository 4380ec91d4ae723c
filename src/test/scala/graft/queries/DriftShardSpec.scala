package graft.queries

import graft.SparkSpec

/** r04 additions: embedding-distribution drift, deterministic output
  * sharding, and the cross-source duplication matrix. Each checked
  * against a driver-side bit-exact reference or a conservation
  * invariant (their DuckDB oracles cover the cross-engine contract). */
class DriftShardSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("emb_drift_centroid matches a driver-side bit-exact reference") {
    val got = graft.SparkEntry.queries("emb_drift_centroid")(spark, sf)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap

    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    assert(rows.nonEmpty)
    val dims = rows.head._2.length
    def qv(x: Float): Long = math.floor(x.toDouble * 1048576.0).toLong

    // per-(label, dim) quantized moments, corpus = re-aggregated partials
    val byLabel = rows.groupBy(_._1)
    val sums = byLabel.map { case (lbl, rs) =>
      val sq = Array.fill(dims)(0L); val sq2 = Array.fill(dims)(0L)
      rs.foreach { case (_, e) =>
        var d = 0
        while (d < dims) {
          val q = qv(e(d)); sq(d) += q; sq2(d) += q * q; d += 1
        }
      }
      lbl -> ((sq, sq2, rs.length.toLong))
    }
    val cq = Array.fill(dims)(0L)
    sums.values.foreach { case (sq, _, _) =>
      (0 until dims).foreach(d => cq(d) += sq(d))
    }
    val nt = rows.length.toLong

    sums.foreach { case (lbl, (sq, sq2, n)) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var vt = 0.0
      var d = 0
      while (d < dims) {
        val m = (sq(d).toDouble / 1048576.0) / n
        val cm = (cq(d).toDouble / 1048576.0) / nt
        val vd = (sq2(d).toDouble / 1099511627776.0) / n - m * m
        dot += m * cm; na += m * m; nb += cm * cm; vt += vd
        d += 1
      }
      val cos = dot / (math.sqrt(na) * math.sqrt(nb))
      val (gn, gcos, gvt) = got(lbl)
      assert(gn == n, s"label $lbl n")
      assert(gcos == cos, s"label $lbl cos: $gcos vs $cos")
      assert(gvt == vt, s"label $lbl var_trace: $gvt vs $vt")
    }
  }

  test("emb_drift_centroid separates a shifted and a collapsed group") {
    val out = tmpDir("embdrift")
    // label 0: spread around +e1; label 1: spread around +e2 (shifted);
    // label 2: nearly collapsed onto +e1 (low dispersion)
    val mk = (base: Array[Double], eps: Double, i: Int) =>
      base.zipWithIndex.map { case (v, d) =>
        (v + (if (d == i % 4) eps else -eps)).toFloat }
    val e1 = Array(1.0, 0.1, 0.1, 0.1)
    val e2 = Array(0.1, 1.0, 0.1, 0.1)
    val rows =
      (0 until 40).map(i => (i.toLong, mk(e1, 0.2, i), 0)) ++
        (0 until 40).map(i => (100L + i, mk(e2, 0.2, i), 1)) ++
        (0 until 40).map(i => (200L + i, mk(e1, 0.001, i), 2))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val got = graft.SparkEntry.queries("emb_drift_centroid")(spark, out)
      .collect().map(r => r.getInt(0) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    // the shifted group points away from the corpus centroid
    assert(got(1)._1 < got(0)._1, s"shifted label must drop cosine: $got")
    // the collapsed group has (much) smaller dispersion
    assert(got(2)._2 < got(0)._2 / 10, s"collapsed label var_trace: $got")
  }

  test("shard_assign conserves the corpus and is partitioning-invariant") {
    val a = graft.SparkEntry.queries("shard_assign")(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(a.map(_.getLong(1)).sum == total)
    assert(a.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 8))
    // content-keyed routing: same answer under any input partitioning
    val out = tmpDir("shard")
    spark.read.parquet(s"$sf/documents.parquet").repartition(13)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val b = graft.SparkEntry.queries("shard_assign")(spark, out).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      .sameElements(
        b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted))
  }

  test("dedup_source_matrix conserves the capped pair list") {
    val m = graft.SparkEntry.queries("dedup_source_matrix")(spark, sf)
      .collect()
    val nPairs = graft.operators.Dedup.minhashLshPairs(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      k = 16, bands = 4, minEstSim = 0.5, maxBucketSize = 20).count()
    assert(m.map(_.getLong(2)).sum == nPairs)
    assert(m.forall(r => r.getString(0) <= r.getString(1)),
      "matrix keys must be canonically ordered")
  }
}
