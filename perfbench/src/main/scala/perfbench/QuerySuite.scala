package perfbench

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import graft.SparkEntry
import graft.queries._
import scala.jdk.CollectionConverters._

/**
 * `query_suite`: registered queries from `SparkEntry.queries`, each run as
 * `fn(spark, sfDir).count()` over the tables committed under
 * `data/<Sf>/`, at local[nproc]. The seed fixes the order of the queries
 * in a pass. One warm-up pass is excluded.
 */
object QuerySuite {
  val Sf = "sf0.001"

  /** A fixed cross-section of the registry: every query family, weighted
    * towards the operators the open roadmap items rework (the pair
    * generators, the LR family), within a pass of a few seconds. */
  val Keys: Seq[String] = Seq(
    "q1_agg", "j7_full_outer_diff",
    "text_quality", "text_fingerprint",
    "dedup_minhash_pairs", "dedup_winnow_pairs", "dedup_chunk_rewrite",
    "dedup_embedding_pairs_lsh",
    "j10_snapshot_equality",
    "seq_pack", "ngram_topk",
    "drift_ks_twosample",
    "pii_redact",
    "quality_lr_score")

  /** Query key -> the family whose `queries` map registers it. */
  val familyOf: Map[String, String] = Seq(
    "relational" -> RelationalQueries.queries, "text" -> TextQueries.queries,
    "dedup" -> DedupQueries.queries, "similarity" -> SimilarityQueries.queries,
    "snapshot" -> SnapshotQueries.queries, "corpus" -> CorpusQueries.queries,
    "distribution" -> DistributionQueries.queries, "clean" -> CleanQueries.queries,
    "quality" -> QualityQueries.queries)
    .flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap

  /** Copy the committed tables into the work dir and read each once. */
  private def load(ctx: Ctx, sfDir: Path)(spark: org.apache.spark.sql.SparkSession): Unit = {
    FileUtils.deleteQuietly(sfDir.toFile)
    FileUtils.copyDirectory(ctx.data.resolve("data").resolve(Sf).toFile, sfDir.toFile)
    Files.list(sfDir).iterator.asScala.foreach(t => spark.read.parquet(t.toString).count())
  }

  def run(ctx: Ctx): Outcome = {
    val sfDir = ctx.dir("query_suite").resolve(Sf)
    val expected: Map[String, Long] = Files.readAllLines(ctx.data.resolve("expected_counts.tsv")).asScala
      .filter(_.nonEmpty).map(_.split('\t')).map(a => a(0) -> a(1).toLong).toMap
    val order = new scala.util.Random(ctx.seed).shuffle(Keys)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Rep]
    def pass(spark: org.apache.spark.sql.SparkSession, warm: Boolean): Unit = {
      val rep = ctx.window("pass")(order.foreach { q =>
        ctx.log(q, ctx.nproc, warm)(SparkEntry.queries(q)(spark, sfDir.toString).count()) { n =>
          Validation.mismatch(s"$q rows", n, expected(q))
        }
      })
      if (!warm) passes += rep
    }
    val setups = ctx.withSession(ctx.nproc, queries = true) { spark =>
      val s = ctx.timeSetups(() => load(ctx, sfDir)(spark))
      pass(spark, warm = true)
      ctx.loop(nominalS = 4)(() => pass(spark, warm = false))
      s
    }

    // per-query medians. A query with no successful timed run has none, and
    // then no suite total is reported: summing only the queries that passed
    // would read as a faster suite. The run is already marked incorrect.
    val medN: Map[String, Double] = Keys.flatMap { q =>
      Stats.medianOpt(ctx.log.times(_.kind == q)).map(q -> _)
    }.toMap
    val complete = Keys.forall(medN.contains)
    val perQuery = medN.values.toSeq
    val suite: Map[String, Double] =
      if (complete) Map("suite_s" -> perQuery.sum,
        "query_p50_s" -> Stats.median(perQuery),
        "query_p90_s" -> Stats.percentile(perQuery, 0.9))
      else Map.empty
    val e2e = Map("setup_s" -> Stats.median(setups),
      "heap_peak_mb" -> Stats.median(passes.map(_.heapMiB).toSeq)) ++
      suite.get("suite_s").map("op_s" -> _)
    val detail = suite ++ Map(
      "queries" -> Keys.size.toDouble,
      "timed_passes" -> passes.size.toDouble) ++
      medN.map { case (q, t) => s"query.${q}_s" -> t }
    // a family with a query that never succeeded gets no total either
    val families = Keys.groupBy(familyOf).collect {
      case (f, qs) if qs.forall(medN.contains) => s"queries.${f}_s" -> qs.map(medN).sum
    }
    val familyNames = Tracer.QueryFamilies.map(f => s"queries.${f}_s").toSet
    val layers = ctx.tracer.map(_.layerMetrics(passes.toSeq, families, queryJobsPerRep = true)
      .filter { case (n, _) => !familyNames(n) || families.contains(n) })
    Outcome(e2e, layers.getOrElse(Map.empty), detail, passes.toSeq)
  }
}
