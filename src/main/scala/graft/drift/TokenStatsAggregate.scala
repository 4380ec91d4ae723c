package graft.drift

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/**
 * ALL per-source statistics in ONE update per row — the aggregate that lets
 * the whole stats pass RIDE the row-rule scan via `Dataset.observe` instead
 * of separate aggregation jobs. r02's engine ran the row rules and a
 * groupBy(source) stats pass as two independent full scans of the `tokens`
 * array (~96% of the table's bytes, the measured N→4N scaling ceiling,
 * VERDICT r02 #1); r03's first fusion moved the token stats onto the row
 * scan but kept a third narrow (doc_id, n_tok) aggregation job, whose
 * fixed task-dispatch cost + approx-percentile CPU was the next-largest
 * non-scaling phase. This aggregate computes EVERYTHING per source —
 * counts, n_tok min/max/sum, null fraction, distinct estimate, exact
 * nearest-rank p50/p95, both drift histograms, token-id min/max — so the
 * fused plan runs exactly one stats computation, on the scan it already
 * pays for.
 *
 * State is a small hash map: source → fixed-size arrays (|sources| is the
 * partition cardinality — bounded and tiny by design). Components:
 *  - n_tok values: an EXACT value histogram over [0, 4096) (clamped above;
 *    negatives tracked as one sentinel bucket). Percentiles are exact
 *    nearest-rank; the drift ntok histogram (floorDiv(v, binWidth), drop
 *    negatives, clamp to last bin — identical arithmetic to
 *    [[NtokHistAggregate]] / Drift.histograms) folds out of it at eval.
 *  - distinct doc_id: classic HyperLogLog (Flajolet et al., public
 *    algorithm): 2^12 byte registers, FNV-1a 64-bit hash of the raw UTF-8
 *    key bytes, harmonic estimate + linear-counting small-range correction.
 *  - token ids: min/max + `bins`-bucket histogram over [0, vocab),
 *    identical arithmetic to [[TokenHistAggregate]].
 *
 * Used by BOTH engine paths: the classic plan aggregates it globally (one
 * row of per-source structs — no shuffle by source at all), the fused plan
 * observes it off the row scan; FusedEngineSpec asserts the two agree
 * field-exactly.
 *
 * Reference analog: the per-file record loop computing all validation
 * observations in one pass over each object
 * (lambdas/functions/manifest_processor/manifest_processor.py:240-305).
 */
case class SourceStatsAggregate(
    sourceChild: Expression,
    docIdChild: Expression,
    nTokChild: Expression,
    tokensChild: Expression,
    bins: Int,
    vocab: Int,
    ntokBins: Int,
    ntokBinWidth: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[UTF8String, SourceStatsAggregate.State]] {

  import SourceStatsAggregate._

  override def children: Seq[Expression] =
    Seq(sourceChild, docIdChild, nTokChild, tokensChild)

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, State] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[UTF8String, State],
      row: InternalRow): mutable.HashMap[UTF8String, State] = {
    val src0 = sourceChild.eval(row).asInstanceOf[UTF8String]
    // a NULL source must not vanish from the stats: it books under the
    // sentinel label, so the per-source counts stay exact and referential
    // integrity flags it as an undeclared source instead of a silent PASS
    val src =
      if (src0 == null) SourceStatsAggregate.NullSourceKey else src0
    // row-backed UTF8String points into a reused buffer: probe with the
    // transient value, clone only on first sight of a source
    val st = buf.getOrElse(src, null)
    val state =
      if (st != null) st
      else {
        val s = new State(bins)
        buf.put(src.clone(), s)
        s
      }
    state.nDocs += 1

    val doc = docIdChild.eval(row).asInstanceOf[UTF8String]
    if (doc == null) state.nullDoc += 1
    else {
      // HLL register update from a 64-bit FNV-1a of the raw key bytes
      val h = fnv1a64(doc)
      val idx = (h >>> (64 - HllP)).toInt
      val w = h << HllP
      val rank =
        (if (w == 0) 64 - HllP else java.lang.Long.numberOfLeadingZeros(w)) + 1
      if (rank > state.hll(idx)) state.hll(idx) = rank.toByte
    }

    val nt = nTokChild.eval(row)
    if (nt != null) {
      val v = nt.asInstanceOf[Int]
      if (v < state.minN) state.minN = v
      if (v > state.maxN) state.maxN = v
      state.sumN += v
      if (v < 0) state.negN += 1
      else state.ntokValueHist(math.min(v, NtokValueBins - 1)) += 1
    }

    val arr = tokensChild.eval(row)
    if (arr != null) {
      val a = arr.asInstanceOf[ArrayData]
      val n = a.numElements()
      var i = 0
      while (i < n) {
        val t = a.getInt(i)
        if (t < state.minTok) state.minTok = t
        if (t > state.maxTok) state.maxTok = t
        // same bucket arithmetic as TokenHistAggregate.update
        if (t >= 0 && t < vocab) state.tokenHist((t.toLong * bins / vocab).toInt) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(
      b: mutable.HashMap[UTF8String, State],
      o: mutable.HashMap[UTF8String, State]): mutable.HashMap[UTF8String, State] = {
    o.foreach { case (k, os) =>
      b.get(k) match {
        case Some(bs) => bs.mergeFrom(os)
        case None => b.put(k, os)
      }
    }
    b
  }

  override def eval(buf: mutable.HashMap[UTF8String, State]): Any = {
    val rows = buf.toSeq.sortBy(_._1).map { case (src, st) =>
      val s = summarize(st, ntokBins, ntokBinWidth)
      val vals = new Array[Any](15)
      vals(0) = src
      vals(1) = s.nDocs
      vals(2) = s.minNtok
      vals(3) = s.maxNtok
      vals(4) = s.avgNtok
      vals(5) = s.totalTokens
      vals(6) = s.nullFracDocId
      vals(7) = s.approxDistinctDocId
      vals(8) = s.minTokenId
      vals(9) = s.maxTokenId
      vals(10) = s.p50Ntok
      vals(11) = s.p95Ntok
      vals(12) = new GenericArrayData(s.ntokHist.map(Long.box))
      vals(13) = new GenericArrayData(s.tokenHist.map(Long.box))
      // the raw mergeable state of THIS source alone: persisted per
      // partition so a later append-delta run can fold new files' stats
      // into it without rescanning old files
      vals(14) = serializeStates(Seq(src -> st), bins)
      new GenericInternalRow(vals)
    }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[UTF8String, State]): Array[Byte] =
    serializeStates(buf.toSeq, bins)

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, State] =
    deserializeStates(bytes, bins)

  override def dataType: DataType = SourceStatsAggregate.resultType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(o: Int): SourceStatsAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SourceStatsAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): SourceStatsAggregate =
    copy(sourceChild = c(0), docIdChild = c(1), nTokChild = c(2),
      tokensChild = c(3))
  override def prettyName: String = "source_stats"
}

object SourceStatsAggregate {

  /** Rows with a NULL source column book their stats under this label
    * (null must not silently vanish from counts or completeness; the RI
    * rule reports the label as an undeclared source). */
  val NullSourceLabel = "__null_source__"
  val NullSourceKey: UTF8String = UTF8String.fromString(NullSourceLabel)

  /** Exact n_tok value-histogram width: covers the full generated range
    * (max 2048 + drift shifts — and the BASELINE input contract is
    * tokenized training sequences in this range); larger values clamp
    * into the last bucket, which still folds into the last drift bin
    * (64*63 < 4095). CONTRACT NOTE: p50/p95 are exact nearest-rank for
    * values < 4095 and SATURATE at 4095 above it — min/max_ntok remain
    * exact either way, so a saturated percentile is detectable
    * (p95 == 4095 < max_ntok). */
  val NtokValueBins = 4096

  /** HLL precision: 2^12 registers ≈ 1.6% standard error. */
  val HllP = 12
  val HllM: Int = 1 << HllP

  final class State(bins: Int) {
    var nDocs = 0L
    var nullDoc = 0L
    var sumN = 0L
    var negN = 0L
    var minN: Int = Int.MaxValue
    var maxN: Int = Int.MinValue
    var minTok: Int = Int.MaxValue
    var maxTok: Int = Int.MinValue
    val ntokValueHist: Array[Long] = new Array[Long](NtokValueBins)
    val tokenHist: Array[Long] = new Array[Long](bins)
    val hll: Array[Byte] = new Array[Byte](HllM)

    def mergeFrom(o: State): Unit = {
      nDocs += o.nDocs; nullDoc += o.nullDoc; sumN += o.sumN; negN += o.negN
      if (o.minN < minN) minN = o.minN
      if (o.maxN > maxN) maxN = o.maxN
      if (o.minTok < minTok) minTok = o.minTok
      if (o.maxTok > maxTok) maxTok = o.maxTok
      var i = 0
      while (i < NtokValueBins) { ntokValueHist(i) += o.ntokValueHist(i); i += 1 }
      i = 0
      while (i < tokenHist.length) { tokenHist(i) += o.tokenHist(i); i += 1 }
      i = 0
      while (i < HllM) {
        if (o.hll(i) > hll(i)) hll(i) = o.hll(i)
        i += 1
      }
    }
  }

  /** Every derived per-source statistic, computed ONCE here for both the
    * distributed eval and the driver-side merged-state path (append-delta
    * runs) — a single definition, so the two cannot drift. */
  final case class Summary(
      nDocs: Long, minNtok: Int, maxNtok: Int, avgNtok: Double,
      totalTokens: Long, nullFracDocId: Double, approxDistinctDocId: Long,
      minTokenId: Int, maxTokenId: Int, p50Ntok: Int, p95Ntok: Int,
      ntokHist: Array[Long], tokenHist: Array[Long])

  def summarize(st: State, ntokBins: Int, ntokBinWidth: Int): Summary = {
    val nNtok = st.negN + st.ntokValueHist.sum
    Summary(
      nDocs = st.nDocs,
      // all-null edge: 0, matching the classic getAs[Int]-on-null coercion
      minNtok = if (st.minN == Int.MaxValue) 0 else st.minN,
      maxNtok = if (st.maxN == Int.MinValue) 0 else st.maxN,
      avgNtok = if (nNtok == 0) 0.0 else st.sumN.toDouble / nNtok,
      totalTokens = st.sumN,
      nullFracDocId =
        if (st.nDocs == 0) 0.0 else st.nullDoc.toDouble / st.nDocs,
      approxDistinctDocId = hllEstimate(st.hll),
      minTokenId = if (st.minTok == Int.MaxValue) 0 else st.minTok,
      maxTokenId = if (st.maxTok == Int.MinValue) 0 else st.maxTok,
      p50Ntok = percentile(st, 0.50),
      p95Ntok = percentile(st, 0.95),
      ntokHist = driftNtokHist(st, ntokBins, ntokBinWidth),
      tokenHist = st.tokenHist.clone())
  }

  /** Exact nearest-rank percentile over the value histogram; the negative
    * tail (tracked as one sentinel) reports -1. */
  def percentile(st: State, q: Double): Int = {
    val n = st.negN + st.ntokValueHist.sum
    if (n == 0) return 0
    val target = math.max(1L, math.ceil(q * n).toLong)
    if (target <= st.negN) return -1
    var cum = st.negN
    var v = 0
    while (v < NtokValueBins) {
      cum += st.ntokValueHist(v)
      if (cum >= target) return v
      v += 1
    }
    NtokValueBins - 1
  }

  /** Drift-bin histogram folded from the exact value histogram — identical
    * to per-row min(floorDiv(v, width), bins-1) with negatives dropped,
    * given width * (bins-1) <= NtokValueBins-1 (64*63 < 4095 holds). */
  def driftNtokHist(st: State, ntokBins: Int, ntokBinWidth: Int): Array[Long] = {
    val out = new Array[Long](ntokBins)
    var v = 0
    while (v < NtokValueBins) {
      val c = st.ntokValueHist(v)
      if (c != 0)
        out(math.min(Math.floorDiv(v, ntokBinWidth), ntokBins - 1)) += c
      v += 1
    }
    out
  }

  def serializeStates(
      entries: Seq[(UTF8String, State)], bins: Int): Array[Byte] = {
    val keyBytes = entries.map(_._1.getBytes)
    val perState = 8 * 5 + 4 * 4 + 8 * NtokValueBins + 8 * bins + HllM
    val size = 4 + entries.zip(keyBytes)
      .map { case (_, kb) => 4 + kb.length + perState }.sum
    val bb = java.nio.ByteBuffer.allocate(size)
    bb.putInt(entries.size)
    entries.zip(keyBytes).foreach { case ((_, st), kb) =>
      bb.putInt(kb.length)
      bb.put(kb)
      bb.putLong(st.nDocs); bb.putLong(st.nullDoc); bb.putLong(st.sumN)
      bb.putLong(st.negN)
      bb.putInt(st.minN); bb.putInt(st.maxN)
      bb.putInt(st.minTok); bb.putInt(st.maxTok)
      bb.putLong(0L) // reserved
      var i = 0
      while (i < NtokValueBins) { bb.putLong(st.ntokValueHist(i)); i += 1 }
      i = 0
      while (i < bins) { bb.putLong(st.tokenHist(i)); i += 1 }
      bb.put(st.hll)
    }
    bb.array()
  }

  def deserializeStates(
      bytes: Array[Byte], bins: Int): mutable.HashMap[UTF8String, State] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = mutable.HashMap.empty[UTF8String, State]
    var e = 0
    while (e < n) {
      val klen = bb.getInt
      val kb = new Array[Byte](klen)
      bb.get(kb)
      val st = new State(bins)
      st.nDocs = bb.getLong; st.nullDoc = bb.getLong; st.sumN = bb.getLong
      st.negN = bb.getLong
      st.minN = bb.getInt; st.maxN = bb.getInt
      st.minTok = bb.getInt; st.maxTok = bb.getInt
      bb.getLong // reserved
      var i = 0
      while (i < NtokValueBins) { st.ntokValueHist(i) = bb.getLong; i += 1 }
      i = 0
      while (i < bins) { st.tokenHist(i) = bb.getLong; i += 1 }
      bb.get(st.hll)
      buf.put(UTF8String.fromBytes(kb), st)
      e += 1
    }
    buf
  }

  /** Fold many serialized state blobs (per partition, per run) into one
    * map — the driver-side merge an append-delta run uses to combine the
    * persisted old-files state with the freshly-observed new-files state.
    * Exactly the aggregate's own merge arithmetic. */
  def mergeStateBytes(
      parts: Seq[Array[Byte]], bins: Int): mutable.HashMap[UTF8String, State] = {
    val acc = mutable.HashMap.empty[UTF8String, State]
    parts.foreach { b =>
      deserializeStates(b, bins).foreach { case (k, os) =>
        acc.get(k) match {
          case Some(bs) => bs.mergeFrom(os)
          case None => acc.put(k, os)
        }
      }
    }
    acc
  }

  /** FNV-1a 64-bit over the UTF8String's bytes, allocation-free, finished
    * with a 64-bit avalanche mix (the standard fmix64 finalizer): raw
    * FNV-1a barely diffuses the last bytes into the HIGH bits, and HLL
    * takes its register index from exactly those bits — sequential doc ids
    * collapsed onto a handful of registers without the finalizer. */
  def fnv1a64(s: UTF8String): Long = {
    var h = 0xcbf29ce484222325L
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      h ^= (s.getByte(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Classic HLL estimate: harmonic mean of registers with the
    * linear-counting small-range correction (Flajolet et al. 2007). */
  def hllEstimate(regs: Array[Byte]): Long = {
    val m = regs.length
    var invSum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      invSum += java.lang.Math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val e = alpha * m * m / invSum
    val corrected =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else e
    math.round(corrected)
  }

  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("source", StringType, nullable = false),
    StructField("n_docs", LongType, nullable = false),
    StructField("min_ntok", IntegerType, nullable = false),
    StructField("max_ntok", IntegerType, nullable = false),
    StructField("avg_ntok", DoubleType, nullable = false),
    StructField("total_tokens", LongType, nullable = false),
    StructField("null_frac_doc_id", DoubleType, nullable = false),
    StructField("approx_distinct_doc_id", LongType, nullable = false),
    StructField("min_token_id", IntegerType, nullable = false),
    StructField("max_token_id", IntegerType, nullable = false),
    StructField("p50_ntok", IntegerType, nullable = false),
    StructField("p95_ntok", IntegerType, nullable = false),
    StructField("ntok_hist", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("token_hist", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("state", BinaryType, nullable = false))),
    containsNull = false)

  def agg(source: Column, docId: Column, nTok: Column, tokens: Column,
      bins: Int, vocab: Int, ntokBins: Int, ntokBinWidth: Int): Column =
    GraftColumnBridge.column(
      SourceStatsAggregate(
        GraftColumnBridge.expression(source),
        GraftColumnBridge.expression(docId),
        GraftColumnBridge.expression(nTok),
        GraftColumnBridge.expression(tokens),
        bins, vocab, ntokBins, ntokBinWidth)
        .toAggregateExpression())
}
