package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Streaming embedding-centroid drift: convergence to the driver-computed
  * cumulative cosine, shifted-label detection, bounded per-batch work. */
class EmbDriftStreamSpec extends SparkSpec {
  import spark.implicits._

  private val Dims = 8
  private val Labels = Seq(0, 1, 2)
  private val Q = 1048576.0 // 2^20 quantization, same as the monitor

  /** Deterministic synthetic embeddings: lane d of vector (label, i) is a
    * small integer pattern; `shift` adds a constant to lane 0 of one
    * label — a pure direction change the centroid cosine must catch. */
  private def vecs(nPerLabel: Int, phase: Int,
      shiftLabel: Int = -1, shiftBy: Float = 0f): DataFrame =
    (for {
      l <- Labels; i <- 0 until nPerLabel
    } yield {
      val emb = Array.tabulate(Dims) { d =>
        val base = ((l * 31 + (phase * nPerLabel + i) * 7 + d * 13) % 10)
          .toFloat / 4f + 1f
        if (l == shiftLabel && d == 0) base + shiftBy else base
      }
      (1000L * phase + 10L * i + l, emb, l)
    }).toDF("vec_id", "embedding", "label")

  /** Driver reference: quantized per-label sums over `rows`, cosine to the
    * baseline sums, folded in ascending dim order like the monitor. */
  private def refCos(rows: Seq[(Int, Array[Float])],
      base: Map[Int, Array[Long]]): Map[Int, Double] =
    rows.groupBy(_._1).map { case (l, rs) =>
      val qs = new Array[Long](Dims)
      rs.foreach { case (_, e) =>
        (0 until Dims).foreach(d => qs(d) += math.floor(e(d) * Q).toLong)
      }
      val b = base(l)
      var dp = 0.0; var na = 0.0; var nb = 0.0
      (0 until Dims).foreach { d =>
        dp += qs(d).toDouble * b(d).toDouble
        na += qs(d).toDouble * qs(d).toDouble
        nb += b(d).toDouble * b(d).toDouble
      }
      l -> dp / (math.sqrt(na) * math.sqrt(nb))
    }

  test("embedding drift monitor: stable labels pass, a shifted label " +
      "rejects, and alerts equal the driver-computed cumulative cosine") {
    val dir = tmpDir("embdrift")
    val in = s"$dir/in"
    val out = s"$dir/out"
    val baselineDf = vecs(40, phase = 9)
    val baseline = StreamingValidation.embBaseline(baselineDf, Dims)

    // batch 1: same distribution -> every label passes
    vecs(30, phase = 0).write.mode("overwrite").parquet(in)
    assert(StreamingValidation.startEmbDriftMonitor(
      spark, in, baseline, out, minCos = 0.98).awaitTermination(300000),
      "monitor run 1 did not finish in time")
    val a1 = spark.read.parquet(s"$out/emb_drift_alerts").collect()
    assert(a1.map(_.getAs[Int]("label")).sorted.toSeq === Labels)
    assert(a1.forall(!_.getAs[Boolean]("rejected")), a1.mkString("\n"))

    // batch 2: label 2's cloud shifts hard along lane 0
    vecs(30, phase = 1, shiftLabel = 2, shiftBy = 25f)
      .write.mode("append").parquet(in)
    assert(StreamingValidation.startEmbDriftMonitor(
      spark, in, baseline, out, minCos = 0.98).awaitTermination(300000),
      "monitor run 2 did not finish in time")
    val a2 = spark.read.parquet(s"$out/emb_drift_alerts").collect()
    val latest = a2.map(_.getAs[Number]("batch_id").longValue).max
    val last = a2.filter(_.getAs[Number]("batch_id").longValue == latest)
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Double]("cos_to_baseline"), r.getAs[Boolean]("rejected"),
          r.getAs[Long]("n"))).toMap
    assert(last(2)._2, s"shifted label must reject: $last")
    assert(!last(0)._2 && !last(1)._2, s"stable labels must pass: $last")
    assert(Labels.forall(l => last(l)._3 === 60L)) // cumulative n

    // bit-exact vs the driver reference over ALL rows seen so far
    val allRows =
      (for { p <- Seq(0, 1); l <- Labels; i <- 0 until 30 } yield {
        val shifted = p == 1 && l == 2
        (l, Array.tabulate(Dims) { d =>
          val base = ((l * 31 + (p * 30 + i) * 7 + d * 13) % 10)
            .toFloat / 4f + 1f
          if (shifted && d == 0) base + 25f else base
        })
      })
    val expect = refCos(allRows, baseline)
    Labels.foreach(l => assert(last(l)._1 === expect(l),
      s"label $l: got ${last(l)._1}, want ${expect(l)}"))
  }

  test("embedding drift per-batch work is bounded: one rebuild per run " +
      "and generations compact into a base") {
    val dir = tmpDir("embdrift_bounded")
    val in = s"$dir/in"
    val out = s"$dir/out"
    val baseline = StreamingValidation.embBaseline(vecs(40, phase = 9), Dims)

    // 40 files at maxFilesPerTrigger=16 -> 3 micro-batches in one run
    vecs(40, phase = 0).repartition(40).write.mode("overwrite").parquet(in)
    val st1 = new StreamingValidation.DriftMonitorStats
    assert(StreamingValidation.startEmbDriftMonitor(spark, in, baseline,
        out, compactEvery = 2, stats = Some(st1))
      .awaitTermination(300000), "bounded run 1 did not finish in time")
    assert(st1.rebuilds.get === 1L)
    assert(st1.compactions.get >= 1L)

    // restart: rebuild reads base + uncompacted tail, not every batch
    vecs(40, phase = 1).repartition(40).write.mode("append").parquet(in)
    val st2 = new StreamingValidation.DriftMonitorStats
    assert(StreamingValidation.startEmbDriftMonitor(spark, in, baseline,
        out, compactEvery = 2, stats = Some(st2))
      .awaitTermination(300000), "bounded run 2 did not finish in time")
    assert(st2.rebuilds.get === 1L)
    // bound: (base + at most compactEvery generations) × |labels| × (dims+1)
    assert(st2.stateRowsRead.get <= 3L * Labels.size * (Dims + 1),
      s"rebuild read ${st2.stateRowsRead.get} state rows")
    val gens = graft.sources.TableIO
      .partitionValues(spark, s"$out/emb_drift_state", "batch_id")
      .getOrElse(Nil)
    assert(gens.size <= 3, s"state generations not compacted: $gens")
  }
}
