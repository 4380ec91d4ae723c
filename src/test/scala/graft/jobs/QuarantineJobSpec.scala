package graft.jobs

import graft.SparkSpec
import graft.gen.SequenceGen
import graft.gen.SequenceGen.Knobs
import graft.model._
import graft.rules.{Evaluate, RowRule, RuleSet, Rules, UniqueRule}

/** Row-level salvage of failing sources: violations-named rows move to the
  * quarantine table, the rest salvage and re-validate clean; sources whose
  * failures are partition-level are skipped with the blocking rules. */
class QuarantineJobSpec extends SparkSpec {
  import spark.implicits._

  private val N = 2000L

  private def prepare(dir: String, knobs: Knobs): ValidationJob.RunReport = {
    SequenceGen.sequences(spark, N, knobs = knobs)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/input")
    SequenceGen.manifest(spark, N)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    ValidationJob.run(spark, ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out"))
  }

  test("row-caused failures split exactly along the violations table; the " +
      "salvage re-validates clean on row+uniqueness rules; dry-run " +
      "writes nothing") {
    val dir = tmpDir("quar")
    prepare(dir, Knobs(badNtokRate = 0.05, dupDocIdRate = 0.02))

    val dry = QuarantineJob.run(spark, s"$dir/input", s"$dir/out",
      s"$dir/salvage", s"$dir/quarantine", dryRun = true)
    assert(dry.dryRun && dry.quarantined.values.sum > 0)
    assert(!new java.io.File(s"$dir/salvage").exists())
    assert(!new java.io.File(s"$dir/quarantine").exists())

    val r = QuarantineJob.run(spark, s"$dir/input", s"$dir/out",
      s"$dir/salvage", s"$dir/quarantine")
    assert(r.skipped.isEmpty)
    assert(r.salvaged === dry.salvaged && r.quarantined === dry.quarantined)

    // conservation per source: salvaged + quarantined == input rows
    val inputBySrc = spark.read.parquet(s"$dir/input")
      .filter($"source".isin(r.salvaged.keys.toSeq: _*))
      .groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    inputBySrc.foreach { case (s, n) =>
      assert(r.salvaged(s) + r.quarantined(s) === n, s"row loss in $s")
    }

    // quarantined (source, doc_id) = exactly the violation-named pairs,
    // with the naming rules attached sorted
    val expected = spark.read.parquet(s"$dir/out/violations")
      .filter($"severity" === Severity.Error && $"doc_id".isNotNull &&
        $"source".isin(r.salvaged.keys.toSeq: _*))
      .select("source", "doc_id").distinct().collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    val got = spark.read.parquet(s"$dir/quarantine")
      .select("source", "doc_id", "rule_ids").collect()
      .map(x => (x.getString(0), x.getString(1), x.getSeq[String](2)))
    assert(got.map(g => (g._1, g._2)).toSet === expected)
    assert(got.forall(g => g._3 == g._3.sorted && g._3.nonEmpty))

    // the salvage table re-validates CLEAN on the row-attributable rules
    // (RI against the original manifest now legitimately under-delivers —
    // that is transfer's gate, not quarantine's)
    val salvaged = spark.read
      .schema(org.apache.spark.sql.Encoders.product[Sequence].schema)
      .parquet(s"$dir/salvage").as[Sequence]
    val manifest = spark.read
      .schema(org.apache.spark.sql.Encoders.product[ManifestEntry].schema)
      .parquet(s"$dir/manifest").as[ManifestEntry]
    val rowRules = RuleSet(Rules.standard.rules.collect {
      case rl: RowRule => rl
      case u: UniqueRule => u
    })
    val res = Evaluate(salvaged, manifest, rowRules)
    assert(res.violations.count() === 0,
      res.violations.collect().take(5).mkString("\n"))
  }

  test("partition-level failures (referential integrity) skip the source " +
      "naming only the non-row rules") {
    val dir = tmpDir("quar_ri")
    // unknownSourceRate steals rows from every source → under-delivery →
    // RI FAIL everywhere; bad-ntok adds a row-attributable FAIL alongside
    prepare(dir, Knobs(badNtokRate = 0.05, unknownSourceRate = 0.05))
    val r = QuarantineJob.run(spark, s"$dir/input", s"$dir/out",
      s"$dir/salvage", s"$dir/quarantine")
    // every manifest source under-delivers → RI FAIL → skipped; the
    // stolen-row 'mystery' source is NOT in the manifest (warn-only RI),
    // so its bad-ntok failure keeps it row-splittable
    assert(r.skipped.nonEmpty)
    assert(r.salvaged.keySet.subsetOf(Set("mystery")))
    r.skipped.foreach { case (src, ids) =>
      assert(src != "mystery")
      assert(ids === Seq(Rules.RRefIntegrity),
        s"skip reasons must name only the partition-level rules, got $ids")
    }
  }

  test("unkeyable rows (null doc_id) quarantine with the schema-failing " +
      "source; keyed rows still split by name") {
    val dir = tmpDir("quar_null")
    val rows = Seq(
      Sequence("D000000000001", Array(1, 2, 3), 3, "alpha"),
      Sequence(null, Array(1, 2), 2, "alpha"),          // unkeyable
      Sequence("D000000000003", Array(1, 2), 5, "alpha"), // bad n_tok
      Sequence("D000000000004", Array(9), 1, "alpha"))
    rows.toDS().write.mode("overwrite").partitionBy("source")
      .parquet(s"$dir/input")
    Seq(ManifestEntry("alpha", 4L, 0, 100)).toDS()
      .write.mode("overwrite").parquet(s"$dir/manifest")
    ValidationJob.run(spark, ValidationJob.Config(
      s"$dir/input", s"$dir/manifest", s"$dir/out"))

    val r = QuarantineJob.run(spark, s"$dir/input", s"$dir/out",
      s"$dir/salvage", s"$dir/quarantine")
    assert(r.skipped.isEmpty)
    assert(r.quarantined("alpha") === 2L && r.salvaged("alpha") === 2L)
    val q = spark.read.parquet(s"$dir/quarantine")
      .select("doc_id", "rule_ids").collect()
      .map(x => Option(x.getString(0)) -> x.getSeq[String](1)).toMap
    assert(q(None) === Seq.empty)
    assert(q(Some("D000000000003")) === Seq(Rules.RConsistentNtok))
    val kept = spark.read.parquet(s"$dir/salvage")
      .select("doc_id").as[String].collect().toSet
    assert(kept === Set("D000000000001", "D000000000004"))
  }
}
