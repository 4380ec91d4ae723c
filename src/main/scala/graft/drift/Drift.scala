package graft.drift

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.BaselineBin

/**
 * Distribution-drift machinery: mergeable binned histograms computed
 * distributed, two-sample statistics computed on the (tiny) merged bins.
 *
 * Generalizes the reference's old-vs-new store consistency diffs
 * (reference: scripts/reports/store_to_store/old2new_store_consitency_check
 * .py:295-338 and move_to_new_pipeline_check.py:84-147) from per-row
 * equality to per-partition distribution equality, as SURVEY.md §7.1
 * prescribes. Exact KS over 10^12 rows is infeasible; the documented
 * approximation contract is: fixed bin spec (recorded with the baseline),
 * ECDF over bin boundaries, statistics on merged bin counts. The per-source
 * histogram state is a few hundred longs, so map-side partial aggregation
 * absorbs hot-source skew.
 */
object Drift {

  /** n_tok histogram spec: bin width 64 over [0, 4096) -> 64 bins. */
  val ntokBins = 64
  val ntokBinWidth = 64

  /** token-id histogram spec: 256 bins over [0, vocab). */
  val tokenBins = 256

  /** Per-source n_tok histogram: (source, bin, count). Pure built-ins —
    * the bin id is a codegen'd expression, one shuffle on (source, bin),
    * partial aggregation map-side. */
  def ntokHist(seqs: DataFrame): DataFrame =
    seqs
      .select(
        col("source"),
        least(
          floor(col("n_tok") / ntokBinWidth).cast("int"),
          lit(ntokBins - 1)).as("bin"))
      // negative n_tok is a consistency/schema violation, not a histogram
      // member; dropped on BOTH the baseline and aggregate sides.
      .filter(col("bin") >= 0)
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("count"))

  /** Per-source token-id histogram via the zero-copy explode-free
    * aggregate (exploding would multiply 10^12 rows by avg n_tok; the
    * fixed 256-long buffer rides map-side partial aggregation instead).
    * Uses [[HistAggregate.tokenHist]] — the earlier `udaf(Aggregator)`
    * formulation decoded every tokens array into a JVM Array[Int] per row
    * (the allocation churn HistAggregate's header documents). */
  def tokenHist(seqs: DataFrame, vocab: Int): DataFrame =
    seqs
      .groupBy("source")
      .agg(HistAggregate.tokenHist(col("tokens"), tokenBins, vocab)
        .as("hist"))
      .select(col("source"), posexplode(col("hist")).as(Seq("bin", "count")))
      .filter(col("count") > 0)

  /** Both histograms as BaselineBin rows (used to persist a baseline
    * snapshot and as the "current" side of the drift comparison). */
  def histograms(
      seqs: DataFrame,
      vocab: Int,
      snapshotId: String): Dataset[BaselineBin] = {
    val spark = seqs.sparkSession
    import spark.implicits._
    ntokHist(seqs)
      .withColumn("kind", lit("ntok_hist"))
      .unionByName(tokenHist(seqs, vocab).withColumn("kind", lit("token_hist")))
      .withColumn("snapshot_id", lit(snapshotId))
      .select("source", "kind", "bin", "count", "snapshot_id")
      .as[BaselineBin]
  }

  // ---------------------------------------------------------------------
  // Two-sample statistics on merged bins (driver-side: <= few hundred bins
  // per (source, kind) — the aggregate is tiny by construction).
  // ---------------------------------------------------------------------

  final case class TestResult(
      statistic: Double,
      threshold: Double,
      rejected: Boolean,
      n: Long,
      m: Long)

  /** Two-sample KS on binned data: D = max |ECDF1 - ECDF2| over bin
    * boundaries; reject when D > c(alpha) * sqrt((n+m)/(n*m)).
    * c(alpha) = sqrt(-ln(alpha/2) / 2) (standard asymptotic form). */
  def ksTest(
      cur: Map[Int, Long],
      base: Map[Int, Long],
      nBins: Int,
      alpha: Double): TestResult = {
    val n = cur.values.sum
    val m = base.values.sum
    if (n == 0 || m == 0) return TestResult(0.0, 0.0, rejected = n != m, n, m)
    var c1 = 0.0; var c2 = 0.0; var d = 0.0
    var b = 0
    while (b < nBins) {
      c1 += cur.getOrElse(b, 0L).toDouble / n
      c2 += base.getOrElse(b, 0L).toDouble / m
      val diff = math.abs(c1 - c2)
      if (diff > d) d = diff
      b += 1
    }
    val cAlpha = math.sqrt(-math.log(alpha / 2.0) / 2.0)
    val thr = cAlpha * math.sqrt((n + m).toDouble / (n.toDouble * m.toDouble))
    TestResult(d, thr, d > thr, n, m)
  }

  /** Two-sample chi-square on binned data (pooled-expected form):
    * X² = Σ over bins of (o1 - e1)²/e1 + (o2 - e2)²/e2 with
    * e_i = total_bin * n_i / (n1+n2); df = (#non-empty bins - 1).
    * Rejection via the Wilson–Hilferty normal approximation of the
    * chi-square quantile. */
  def chi2Test(
      cur: Map[Int, Long],
      base: Map[Int, Long],
      nBins: Int,
      alpha: Double): TestResult = {
    val n1 = cur.values.sum
    val n2 = base.values.sum
    if (n1 == 0 || n2 == 0)
      return TestResult(0.0, 0.0, rejected = n1 != n2, n1, n2)
    var x2 = 0.0
    var df = -1
    var b = 0
    while (b < nBins) {
      val o1 = cur.getOrElse(b, 0L).toDouble
      val o2 = base.getOrElse(b, 0L).toDouble
      val tot = o1 + o2
      if (tot > 0) {
        df += 1
        val e1 = tot * n1 / (n1 + n2).toDouble
        val e2 = tot * n2 / (n1 + n2).toDouble
        x2 += (o1 - e1) * (o1 - e1) / e1 + (o2 - e2) * (o2 - e2) / e2
      }
      b += 1
    }
    if (df < 1) return TestResult(0.0, 0.0, rejected = false, n1, n2)
    val thr = chi2Quantile(df, 1.0 - alpha)
    TestResult(x2, thr, x2 > thr, n1, n2)
  }

  /** Population stability index on binned data, Laplace-smoothed (+1 per
    * bin on BOTH sides so empty bins never hit ln(0)):
    *   psi = Σ_bins (p1_b − p2_b) · ln(p1_b / p2_b),
    *   p_i = (o_i + 1) / (n_i + nBins).
    * Unlike KS/chi2, PSI is gated on the STATISTIC itself, not a
    * significance quantile — `threshold` is the PSI action gate
    * (industry convention: 0.1 investigate, 0.25 act). The oracled batch
    * form is `drift_psi_twosample` (integer-exact); this driver-side
    * form runs on the already-merged per-source bins, where float
    * accumulation over a fixed bin order is deterministic. */
  def psiTest(
      cur: Map[Int, Long],
      base: Map[Int, Long],
      nBins: Int,
      threshold: Double): TestResult = {
    val n1 = cur.values.sum
    val n2 = base.values.sum
    if (n1 == 0 || n2 == 0)
      return TestResult(0.0, threshold, rejected = n1 != n2, n1, n2)
    var psi = 0.0
    var b = 0
    while (b < nBins) {
      val p1 = (cur.getOrElse(b, 0L) + 1.0) / (n1.toDouble + nBins)
      val p2 = (base.getOrElse(b, 0L) + 1.0) / (n2.toDouble + nBins)
      psi += (p1 - p2) * math.log(p1 / p2)
      b += 1
    }
    TestResult(psi, threshold, psi > threshold, n1, n2)
  }

  /** Wilson–Hilferty approximation of the chi-square quantile. */
  private[drift] def chi2Quantile(df: Int, p: Double): Double = {
    val z = normalQuantile(p)
    val k = df.toDouble
    k * math.pow(1.0 - 2.0 / (9.0 * k) + z * math.sqrt(2.0 / (9.0 * k)), 3)
  }

  /** Acklam/Beasley-Springer-Moro style rational approximation of the
    * standard normal quantile (public-domain constants). */
  private[drift] def normalQuantile(p: Double): Double = {
    require(p > 0 && p < 1)
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00, 4.374664141464968e+00,
      2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      -normalQuantile(1 - p)
    }
  }
}
