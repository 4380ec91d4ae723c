package graft.rules

import graft.SparkSpec
import graft.model._
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY.md §5.4): engine invariants that must hold for
  * ANY seeded input, not just the golden fixtures. ScalaCheck generators
  * drive the parameters; the loop is explicit (the scalatestplus bridge is
  * not among the offline deps). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g(Gen.Parameters.default, Seed(42L + i)))

  /** The uniqueness violations of `seqs`, collected; the pass-1 hashes
    * `uniquePasses` persists are released before this returns. */
  private def uniqueViolations(
      seqs: org.apache.spark.sql.DataFrame, rule: UniqueRule): Array[Violation] = {
    val (vios, hashes) = RuleEngine.uniquePasses(seqs, rule)
    try vios.collect() finally hashes.unpersist(blocking = true)
  }

  test("property: verdict is PASS iff zero error violations for (source, rule)") {
    val params = samples(Gen.zip(Gen.choose(1L, 100000L),
      Gen.choose(0.0, 0.2)), 4)
    params.foreach { case (seed, rate) =>
      val seqs = SequenceGen.sequences(spark, 400, seed,
        Knobs(badNtokRate = rate))
      val manifest = SequenceGen.manifest(spark, 400, seed)
      val res = Evaluate(seqs, manifest, Rules.standard)
      val errCounts = res.violations.collect()
        .filter(_.severity == Severity.Error)
        .groupBy(v => (v.source, v.rule_id)).view.mapValues(_.length).toMap
      res.verdicts.collect().foreach { v =>
        val errs = errCounts.getOrElse((v.source, v.rule_id), 0)
        if (v.status == Status.Fail) assert(errs > 0, s"seed=$seed $v")
        else assert(errs === 0, s"seed=$seed $v")
      }
    }
  }

  test("property: duplicate groups cover every duplicated key exactly once") {
    samples(Gen.choose(1L, 100000L), 4).foreach { seed =>
      val seqs = SequenceGen.sequences(spark, 400, seed,
        Knobs(dupDocIdRate = 0.1))
      val expected = seqs.collect().groupBy(_.doc_id)
        .filter(_._2.length > 1).keySet
      val manifest = SequenceGen.manifest(spark, 400, seed)
      val got = Evaluate(seqs, manifest, Rules.standard)
        .violations.filter($"rule_id" === Rules.RUniqueDocId)
        .select("doc_id").distinct().as[String].collect().toSet
      assert(got === expected, s"seed=$seed")
    }
  }

  test("property: generator determinism is partitioning-invariant") {
    samples(Gen.zip(Gen.choose(1L, 100000L), Gen.choose(1, 16)), 4)
      .foreach { case (seed, parts) =>
        val a = SequenceGen.sequences(spark, 200, seed).collect()
          .map(s => (s.doc_id, s.tokens.toSeq, s.n_tok, s.source)).sortBy(_._1)
        val b = SequenceGen.sequences(spark, 200, seed, numPartitions = parts)
          .collect()
          .map(s => (s.doc_id, s.tokens.toSeq, s.n_tok, s.source)).sortBy(_._1)
        assert(a.toSeq === b.toSeq, s"seed=$seed parts=$parts")
      }
  }

  test("adversarial: key duplicated 1e5x within ONE (source, n_tok) — " +
      "the case a value-derived salt collapses on — stays exact and bounded") {
    val n = 100000
    // identical (doc_id, n_tok, source) for every row: a re-ingestion
    // accident; salt = input partition id spreads it over reducers.
    val hot = spark.range(n).selectExpr(
      "'D000000000042' AS doc_id",
      "array(CAST(id % 7 AS INT)) AS tokens",
      "1 AS n_tok",
      "'cardiac' AS source")
    val vios = uniqueViolations(hot,
      UniqueRule(Rules.RUniqueDocId, Severity.Error, "doc_id"))
    assert(vios.length === 1) // one member source => one attributed row
    assert(vios.head.observed.contains(s""""dup_count":$n"""))
    assert(vios.head.observed.contains(""""member_sources":["cardiac"]"""))
  }

  test("null-keyed rows are excluded from uniqueness by contract " +
      "(null doc_id is R_SCHEMA's violation, not R_UNIQUE's)") {
    val rows = spark.range(4).selectExpr(
      "CAST(NULL AS STRING) AS doc_id",
      "array(1) AS tokens", "1 AS n_tok", "'cardiac' AS source")
    val vios = uniqueViolations(rows,
      UniqueRule(Rules.RUniqueDocId, Severity.Error, "doc_id"))
    assert(vios.isEmpty)
  }

  test("property: hot-key duplicate evidence is capped but count exact") {
    val n = 3000
    val hot = (1 to n).map(i =>
      Sequence("D000000000042", Array(i), 1, s"src${i % 7}")).toDS()
    val vios = uniqueViolations(hot.toDF(),
      UniqueRule(Rules.RUniqueDocId, Severity.Error, "doc_id"))
    assert(vios.nonEmpty)
    // exact count survives the salted two-stage aggregation
    assert(vios.head.observed.contains(s""""dup_count":$n"""))
    // evidence list bounded
    val members = vios.head.observed
      .split("member_sources\":\\[")(1).split("]")(0).split(",")
    assert(members.length <= RuleEngine.DupEvidenceCap)
  }

  test("the uniqueness passes leave no cached plan behind once their " +
      "caller releases the pass-1 hashes") {
    def cached = org.apache.spark.sql.execution.CachedPlans.count(spark)
    val before = cached
    val dups = Seq(Sequence("D1", Array(1), 1, "a"),
      Sequence("D1", Array(2), 1, "b")).toDS().toDF()
    assert(uniqueViolations(dups,
      UniqueRule(Rules.RUniqueDocId, Severity.Error, "doc_id")).nonEmpty)
    assert(cached === before)
  }
}
