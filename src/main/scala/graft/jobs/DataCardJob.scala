package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{shingles, stopwordRatio, words}

/**
 * Corpus DATA CARD: the human-readable per-dataset summary published next
 * to a training corpus (HF dataset cards / Dolma-style data sheets) — the
 * corpus-side sibling of [[ReportJob]]'s per-run validation report
 * (reference analog: the rendered submission report body,
 * lambdas/functions/report/report.py:149-166, generalized from one
 * submission's files to a whole corpus).
 *
 * Everything on the card is dimension-sized and single-pass-per-shape:
 *  - the narrow (source, lang, nw, n_chars, gate flags) projection is
 *    computed ONCE (text decoded once) and persisted; the per-source and
 *    per-lang tables are two cheap map-side-combined aggregations over it;
 *  - exact-duplicate mass is ONE md5 groupBy (the dedup_exact shape);
 *  - top terms are ONE word exchange with map-side combine +
 *    TakeOrdered(k) (the ngram_topk discipline — no global sort).
 * Quality gates are the SAME three predicates `quality_ablation` oracles
 * (length / repetition / language), so the card cannot drift from the
 * verified gate suite.
 */
object DataCardJob {

  private def fmtPct(num: Long, den: Long): String =
    if (den == 0L) "0.0%"
    else f"${num.toDouble * 100.0 / den.toDouble}%.1f%%"

  def render(spark: SparkSession, docsPath: String, topK: Int = 10): String = {
    val docs = spark.read.parquet(docsPath)

    val w = words(col("text"))
    def dupFrac(arr: org.apache.spark.sql.Column) =
      when(size(arr) > 0,
        lit(1.0) - size(array_distinct(arr)).cast("double") / size(arr))
        .otherwise(lit(0.0))
    // the three verified gate predicates (quality_ablation's definitions)
    val flat = docs.select(
      col("source"), col("lang"),
      size(w).cast("long").as("nw"),
      col("n_chars").cast("long").as("nc"),
      (!(col("n_chars") >= 100 && size(w) >= 20)).as("gl"),
      (dupFrac(w) > 0.6 || dupFrac(shingles(w, 3)) > 0.2).as("gr"),
      (stopwordRatio(col("text")) <= 0.03).as("gg"))
      .persist()

    def flagged = col("gl") || col("gr") || col("gg")
    val perSource = flat.groupBy("source")
      .agg(count(lit(1)).as("docs"), sum("nw").as("ws"),
        sum("nc").as("cs"),
        sum(when(flagged, 1L).otherwise(0L)).as("fl"))
      .orderBy("source")
      .collect()
    val perLang = flat.groupBy("lang")
      .agg(count(lit(1)).as("docs"), sum("nw").as("ws"))
      .orderBy("lang")
      .collect()

    // context-length sizing off the persisted flat projection — the
    // ctx_truncation_sweep arithmetic (docs overflowing L, word mass a
    // truncate-at-L loader keeps), one extra 1-row aggregate
    val ctxLens = Seq(64L, 128L, 256L, 512L)
    val ctxAggs = ctxLens.flatMap(l => Seq(
      sum(when(col("nw") > l, 1L).otherwise(0L)).as(s"t$l"),
      sum(least(col("nw"), lit(l))).as(s"k$l")))
    val ctxRow = flat.agg(ctxAggs.head, ctxAggs.tail: _*).collect().head
    flat.unpersist()

    val nDocs = perSource.map(_.getAs[Long]("docs")).sum
    val nWords = perSource.map(_.getAs[Long]("ws")).sum
    val nChars = perSource.map(_.getAs[Long]("cs")).sum
    val nFlagged = perSource.map(_.getAs[Long]("fl")).sum

    // exact-duplicate mass: docs − distinct content hashes (dedup_exact's
    // one hash exchange; countDistinct partial-aggregates map-side)
    val nContent = docs.select(md5(col("text")).as("h"))
      .agg(countDistinct(col("h"))).collect().head.getLong(0)
    val nDupDocs = nDocs - nContent

    // corpus top terms: one word exchange + TakeOrdered (never a sort)
    val topTerms = docs
      .select(explode(words(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term").asc)
      .limit(topK)
      .collect()

    // vocabulary coverage crossings — the vocab_coverage discipline: the
    // curve comes from the FREQUENCY-OF-FREQUENCIES table (provably
    // ≤ √(2N) rows), never a ranked-vocab sort, and only the 4 crossing
    // rows reach the driver
    val vocabCov: Map[Int, Long] = {
      import org.apache.spark.sql.expressions.Window
      val fof = docs.select(explode(words(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1)).as("nwr"))
      val win = Window.orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      fof
        .withColumn("mb",
          coalesce(sum(col("c") * col("nwr")).over(win), lit(0L)))
        .withColumn("wb", coalesce(sum(col("nwr")).over(win), lit(0L)))
        .crossJoin(broadcast(fof.agg(
          sum(col("c") * col("nwr")).as("nt"))))
        .select(col("c"), col("nwr"), col("mb"), col("wb"), col("nt"),
          explode(typedLit(Seq(50, 90, 95, 99))).as("pct"))
        .withColumn("need",
          expr("(CAST(pct AS BIGINT) * nt + 99) DIV 100"))
        .filter(col("mb") < col("need") &&
          col("need") <= col("mb") + col("c") * col("nwr"))
        .select(col("pct"),
          (col("wb") + expr("(need - mb + c - 1) DIV c")).as("vneed"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }

    val sb = new StringBuilder
    def header(title: String): String =
      (s"-- $title " + "-" * 78).take(78) + "\n"
    sb ++= ("== DATA CARD " + "=" * 78).take(78) + "\n"
    sb ++= s"corpus    : $docsPath\n"
    sb ++= f"documents : $nDocs%d%n"
    sb ++= f"words     : $nWords%d  (chars: $nChars%d)%n"
    sb ++= s"exact dups: $nDupDocs docs share another doc's content " +
      s"(${fmtPct(nDupDocs, nDocs)})\n"
    sb ++= s"quality   : $nFlagged docs flagged by the rule gates " +
      s"(${fmtPct(nFlagged, nDocs)} - length/repetition/language)\n"
    sb ++= "\n" + header("sources")
    sb ++= f"${"source"}%-10s ${"docs"}%10s ${"words"}%12s " +
      f"${"doc share"}%10s ${"flagged"}%9s%n"
    perSource.foreach { r =>
      val d = r.getAs[Long]("docs")
      sb ++= f"${r.getAs[String]("source")}%-10s $d%10d " +
        f"${r.getAs[Long]("ws")}%12d ${fmtPct(d, nDocs)}%10s " +
        f"${fmtPct(r.getAs[Long]("fl"), d)}%9s%n"
    }
    sb ++= "\n" + header("languages")
    perLang.foreach { r =>
      sb ++= f"${r.getAs[String]("lang")}%-10s " +
        f"${r.getAs[Long]("docs")}%10d ${r.getAs[Long]("ws")}%12d%n"
    }
    sb ++= "\n" + header("context-length sizing")
    sb ++= f"${"max_seq_len"}%-12s ${"truncated"}%10s ${"kept words"}%12s " +
      f"${"waste"}%8s%n"
    ctxLens.foreach { l =>
      val t = ctxRow.getAs[Long](s"t$l")
      val k = ctxRow.getAs[Long](s"k$l")
      sb ++= f"$l%-12d $t%10d $k%12d ${fmtPct(nWords - k, nWords)}%8s%n"
    }
    sb ++= "\n" + header("vocabulary coverage")
    Seq(50, 90, 95, 99).foreach { p =>
      sb ++= f"$p%2d%% of token mass: ${vocabCov.getOrElse(p, 0L)}%d " +
        "distinct words\n"
    }
    sb ++= "\n" + header(s"top $topK terms")
    topTerms.foreach { r =>
      sb ++= f"${r.getAs[String]("term")}%-20s ${r.getAs[Long]("c")}%12d%n"
    }
    sb.result()
  }
}
