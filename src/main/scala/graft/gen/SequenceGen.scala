package graft.gen

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{ManifestEntry, Sequence}

/**
 * Deterministic, seeded synthetic generator for the sequences fact table and
 * its manifest dimension (FIXTURES.md §1-2). No randomness source — every
 * value is a pure arithmetic function of (seed, row id), computed with
 * codegen'd Catalyst expressions (`xxhash64`, `sequence`, `transform`), so
 * the table is reproducible across runs, partition layouts and parallelism
 * levels. Mirrors the reference's canonical LocalStack fixtures in spirit
 * (reference: lambdas/test_data/test_data.py:1-169) but generated at any
 * scale, fully distributed (spark.range — no driver-side data).
 *
 * Violation-injection knobs are per-row deterministic Bernoulli draws keyed
 * by (seed, knob-tag, id), matching FIXTURES.md's knob list.
 */
object SequenceGen {

  /** Source partitions. "cardiac" is the deliberately hot partition
    * (~ 40% of rows) to exercise skew handling; others share the rest. */
  val sources: Seq[String] =
    Seq("cardiac", "mito", "ee", "brain", "renal", "neuro", "immuno", "soma")

  /** Sentinel source injected by `unknownSourceRate` — absent from the
    * manifest, so it trips referential integrity (analog of
    * files-not-in-manifest, reference submission_data.py:139-141). */
  val unknownSource = "mystery"

  val vocabSize = 50000
  val minLen = 16
  val maxLen = 2048

  final case class Knobs(
      badNtokRate: Double = 0.0,
      dupDocIdRate: Double = 0.0,
      unknownSourceRate: Double = 0.0,
      driftShiftSources: Seq[String] = Nil,
      driftShift: Int = 0)

  object Knobs {
    val clean: Knobs = Knobs()
  }

  /** Deterministic uniform in [0,1) keyed by (seed, tag, id). */
  private def u(seed: Long, tag: String, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(tag), id), lit(1000000L)) / lit(1000000.0)

  /** Generate `n` rows. Pure function of (n, seed, knobs). */
  def sequences(
      spark: SparkSession,
      n: Long,
      seed: Long = 42L,
      knobs: Knobs = Knobs.clean,
      numPartitions: Int = 0): Dataset[Sequence] = {
    import spark.implicits._
    val base =
      if (numPartitions > 0) spark.range(0L, n, 1L, numPartitions)
      else spark.range(n)

    val id = col("id")

    // Hot-source skew: 40% cardiac, rest uniform over the tail.
    val srcDraw = pmod(xxhash64(lit(seed), lit("src"), id), lit(100L))
    val tailIdx = pmod(xxhash64(lit(seed), lit("srct"), id),
      lit((sources.size - 1).toLong)).cast("int") + lit(1)
    val srcArr = array(sources.map(lit): _*)
    val sourceCol0 = when(srcDraw < 40, lit(sources.head))
      .otherwise(element_at(srcArr, tailIdx + 1))
    val sourceCol =
      if (knobs.unknownSourceRate > 0)
        when(u(seed, "unk", id) < knobs.unknownSourceRate, lit(unknownSource))
          .otherwise(sourceCol0)
      else sourceCol0

    // Long-tail length distribution: mostly short, a skewed long tail.
    val lenDraw = pmod(xxhash64(lit(seed), lit("len"), id), lit(1000L))
    val shortLen = (pmod(xxhash64(lit(seed), lit("ls"), id), lit(241L)) +
      lit(minLen.toLong)).cast("int") // 16..256
    val longLen = (pmod(xxhash64(lit(seed), lit("ll"), id),
      lit((maxLen - 256).toLong)) + lit(256L)).cast("int") // 256..2048
    val baseLen = when(lenDraw < 900, shortLen).otherwise(longLen)

    // Optional drift: shift lengths and token ids in selected sources.
    val drifted =
      if (knobs.driftShiftSources.nonEmpty)
        sourceCol.isin(knobs.driftShiftSources.map(x => x: Any): _*)
      else lit(false)
    val lenCol = when(drifted, baseLen + lit(knobs.driftShift)).otherwise(baseLen)

    val tokShift = when(drifted, lit(knobs.driftShift * 16)).otherwise(lit(0))
    val tokensCol = transform(
      sequence(lit(0), lenCol - 1),
      i =>
        pmod(xxhash64(lit(seed), lit("tok"), id, i) + tokShift.cast("long"),
          lit(vocabSize.toLong)).cast("int"))

    // badNtok: declared n_tok disagrees with the actual array length
    // (analog of provided!=calculated checksum,
    // reference scripts/util/update_dydb_from_result_file.py:149-168).
    val nTokCol =
      if (knobs.badNtokRate > 0)
        when(u(seed, "bad", id) < knobs.badNtokRate, lenCol + lit(7))
          .otherwise(lenCol)
      else lenCol

    // dupDocId: selected rows reuse the previous row's doc_id, creating
    // duplicate pairs (analog of duplicate etags,
    // reference manifest_processor.py:283-305).
    val docIdOf: Column => Column =
      i => concat(lit("D"), lpad(i.cast("string"), 12, "0"))
    val docIdCol =
      if (knobs.dupDocIdRate > 0)
        when(u(seed, "dup", id) < knobs.dupDocIdRate && id > 0,
          docIdOf(id - 1)).otherwise(docIdOf(id))
      else docIdOf(id)

    base
      .select(
        docIdCol.as("doc_id"),
        tokensCol.as("tokens"),
        nTokCol.cast("int").as("n_tok"),
        sourceCol.as("source"))
      .as[Sequence]
  }

  /** Manifest dimension sized to match a clean generation of `n` rows.
    * expected_docs uses the exact deterministic per-source counts so the
    * completeness rule passes on clean data; callers can perturb it to
    * seed missing-docs scenarios. */
  def manifest(spark: SparkSession, n: Long, seed: Long = 42L): Dataset[ManifestEntry] = {
    import spark.implicits._
    val counts = sequences(spark, n, seed)
      .groupBy("source").count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    sources
      .map(s => ManifestEntry(s, counts.getOrElse(s, 0L), 0, vocabSize - 1))
      .toDS()
  }
}
