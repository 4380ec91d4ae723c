package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel shared by interpreted eval and generated code. */
object ShingleHashUtil {
  private final val Mod = PolyHashUtil.Mod

  /** Distinct polynomial hashes of the n-word shingles of `s` — the fused
    * native equivalent of TextFunctions' expression pipeline
    * `array_distinct(transform(shingles(split(s," "), n), polyHash))`,
    * bit-identical by construction:
    *  - words = s.split(" ", -1) (trailing empties kept, same as Spark's
    *    split with default limit);
    *  - fewer than n words ⇒ empty array;
    *  - shingle hash composed from per-word (hash, 31^codepoints) pairs —
    *    extending a fold h by " "+w is ((h*31+32) mod p)*pow(w)+hash(w)
    *    mod p, identical to hashing the joined string, without EVER
    *    materializing the shingle string;
    *  - distinct keeps first-occurrence order (array_distinct semantics).
    * One pass over the text; the expression pipeline allocated every
    * shingle string and ran interpreted lambdas per element. */
  def hashes(s: UTF8String, n: Int): ArrayData = hashes(s, n, true)

  def hashes(s: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val str = s.toString
    val words = str.split(" ", -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Long])

    val m = words.length
    val wHash = new Array[Long](m)
    val wPow = new Array[Long](m)
    var wi = 0
    while (wi < m) {
      val w = words(wi)
      var h = 0L
      var pow = 1L
      var i = 0
      val len = w.length
      while (i < len) {
        val cp = w.codePointAt(i)
        h = (h * 31L + cp) % Mod
        pow = (pow * 31L) % Mod
        i += Character.charCount(cp)
      }
      wHash(wi) = h
      wPow(wi) = pow
      wi += 1
    }

    if (!distinct && n == 1) return new GenericArrayData(wHash)

    val raw = new Array[Long](m - n + 1)
    var start = 0
    while (start <= m - n) {
      var h = wHash(start)
      var k = 1
      while (k < n) {
        val j = start + k
        h = (((h * 31L + 32L) % Mod) * wPow(j) + wHash(j)) % Mod
        k += 1
      }
      raw(start) = h
      start += 1
    }
    if (!distinct) return new GenericArrayData(raw)

    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < raw.length) { out.add(raw(i)); i += 1 }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var oi = 0
    while (it.hasNext) { arr(oi) = it.next(); oi += 1 }
    new GenericArrayData(arr)
  }
}

/** Static kernel for fixed-grid chunking: consecutive `w`-word chunks of
  * `s` (the last chunk may be shorter; chunk count = ceil(words/w),
  * always ≥ 1 since split(" ", -1) never yields an empty array) — as
  * polynomial hashes of the space-joined chunk (`hashes = true`,
  * bit-identical to `polyHash(concat_ws(" ", slice(...)))` composed from
  * per-word (hash, pow) pairs without materializing the chunk string) or
  * as the chunk strings themselves (`hashes = false`, for the rewrite
  * operator that reassembles documents). Replaces the r05 per-chunk
  * slice+concat(+hash) interpreted lambdas. */
object ChunkUtil {
  private final val Mod = PolyHashUtil.Mod

  def chunkHashes(s: UTF8String, w: Int): ArrayData = {
    val words = s.toString.split(" ", -1)
    val m = words.length
    val n = (m + w - 1) / w
    val out = new Array[Long](n)
    var ci = 0
    while (ci < n) {
      val start = ci * w
      val end = math.min(start + w, m)
      var h = 0L
      var j = start
      while (j < end) {
        if (j > start) h = (h * 31L + 32L) % Mod
        val word = words(j)
        var i = 0
        val len = word.length
        while (i < len) {
          val cp = word.codePointAt(i)
          h = (h * 31L + cp) % Mod
          i += Character.charCount(cp)
        }
        j += 1
      }
      out(ci) = h
      ci += 1
    }
    new GenericArrayData(out)
  }

  def chunkStrings(s: UTF8String, w: Int): ArrayData = {
    val words = s.toString.split(" ", -1)
    val m = words.length
    val n = (m + w - 1) / w
    val out = new Array[Any](n)
    var ci = 0
    while (ci < n) {
      val start = ci * w
      val end = math.min(start + w, m)
      val sb = new java.lang.StringBuilder(words(start))
      var j = start + 1
      while (j < end) { sb.append(' ').append(words(j)); j += 1 }
      out(ci) = UTF8String.fromString(sb.toString)
      ci += 1
    }
    new GenericArrayData(out)
  }
}

/** Native chunk-hash expression over [[ChunkUtil.chunkHashes]]. */
case class ChunkHashes(child: Expression, w: Int)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ChunkUtil.chunkHashes(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ChunkUtil.chunkHashes($c, $w)")
  override protected def withNewChildInternal(
      newChild: Expression): ChunkHashes = copy(child = newChild)
  override def prettyName: String = "chunk_hashes"
}

object ChunkHashes {
  def apply(c: Column, w: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ChunkHashes(org.apache.spark.sql.GraftColumnBridge.expression(c), w))
}

/** Native chunk-string expression over [[ChunkUtil.chunkStrings]]. */
case class ChunkStrings(child: Expression, w: Int)
    extends UnaryExpression with Serializable {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    ChunkUtil.chunkStrings(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ChunkUtil.chunkStrings($c, $w)")
  override protected def withNewChildInternal(
      newChild: Expression): ChunkStrings = copy(child = newChild)
  override def prettyName: String = "chunk_strings"
}

object ChunkStrings {
  def apply(c: Column, w: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ChunkStrings(org.apache.spark.sql.GraftColumnBridge.expression(c), w))
}

/** Static kernel for the exact-span / novelty window keys: every sliding
  * `w`-word window of a text as ONE packed long `h1·2^31 + h2`, where h1
  * is the shared shingle hash (polyHash of the space-joined window, mod
  * 1e9+7) and h2 the independent order-sensitive fold over per-word
  * hashes (a·37 + wHash mod 1e9+9) — bit-identical to the r05 expression
  * pipeline (`zip_with(ShingleHashes.sliding, transform(sequence...,
  * aggregate(slice(wordHashes...))))`), which re-evaluated the word-hash
  * array 3x per row and allocated a slice per window (interpreted HOF
  * lambdas). Both factors are < 2^31 (mods 1e9+7 / 1e9+9), so the packing
  * is injective: grouping/joining on the packed key is exactly
  * grouping/joining on the (h1, h2) pair, in half the key bytes. */
object WindowKeyUtil {
  private final val Mod = PolyHashUtil.Mod
  private final val Mod2 = 1000000009L

  def packedKeys(s: UTF8String, w: Int): ArrayData = {
    val words = s.toString.split(" ", -1)
    val m = words.length
    if (m < w) return new GenericArrayData(Array.empty[Long])
    val wHash = new Array[Long](m)
    val wPow = new Array[Long](m)
    var wi = 0
    while (wi < m) {
      val word = words(wi)
      var h = 0L
      var pow = 1L
      var i = 0
      val len = word.length
      while (i < len) {
        val cp = word.codePointAt(i)
        h = (h * 31L + cp) % Mod
        pow = (pow * 31L) % Mod
        i += Character.charCount(cp)
      }
      wHash(wi) = h
      wPow(wi) = pow
      wi += 1
    }
    val out = new Array[Long](m - w + 1)
    var start = 0
    while (start <= m - w) {
      var h1 = wHash(start)
      var h2 = wHash(start) % Mod2
      var k = 1
      while (k < w) {
        val j = start + k
        h1 = (((h1 * 31L + 32L) % Mod) * wPow(j) + wHash(j)) % Mod
        h2 = (h2 * 37L + wHash(j)) % Mod2
        k += 1
      }
      out(start) = h1 * 2147483648L + h2
      start += 1
    }
    new GenericArrayData(out)
  }
}

/** Static kernel for word n-gram strings: every run of `n` consecutive
  * words of `s` joined with " " — bit-identical to the r05 expression
  * pipeline `transform(sequence(0, size(ws)-n), i => concat_ws(" ",
  * slice(ws, i+1, n)))` over `split(s, " ")` (fewer than n words ⇒
  * empty), without the per-position slice allocation + interpreted
  * lambda. */
object NgramUtil {
  def ngrams(s: UTF8String, n: Int): ArrayData = {
    // same tokenization as ShingleHashUtil: String.split(" ", -1)
    val words = s.toString.split(" ", -1)
    val m = words.length
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression over [[NgramUtil.ngrams]]. */
case class NgramStrings(child: Expression, n: Int)
    extends UnaryExpression with Serializable {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    NgramUtil.ngrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NgramUtil.ngrams($c, $n)")

  override protected def withNewChildInternal(
      newChild: Expression): NgramStrings = copy(child = newChild)

  override def prettyName: String = "ngram_strings"
}

object NgramStrings {
  def apply(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      NgramStrings(org.apache.spark.sql.GraftColumnBridge.expression(c), n))
}

/** Word-bigram convenience over [[NgramStrings]]. */
object BigramStrings {
  def apply(c: Column): Column = NgramStrings(c, 2)
}

/** Static kernel for winnowed fingerprints (Schleimer et al. 2003): the
  * DISTINCT minima of every `w`-long window over the text's sliding
  * `k`-gram hash sequence, first-occurrence order — bit-identical to the
  * r05 expression pipeline `array_distinct(transform(sequence(0,
  * size(hs)-w), i => array_min(slice(hs, i+1, w))))` including both
  * edges (no k-gram ⇒ empty; fewer than w windows ⇒ the single global
  * minimum), without the per-window slice allocation + interpreted
  * lambda. */
object WinnowFpUtil {
  def fps(s: UTF8String, k: Int, w: Int): ArrayData = {
    val hs = ShingleHashUtil.hashes(s, k, false)
    val m = hs.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Long])
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (m < w) {
      var mn = hs.getLong(0)
      var i = 1
      while (i < m) { val v = hs.getLong(i); if (v < mn) mn = v; i += 1 }
      out.add(mn)
    } else {
      var start = 0
      while (start <= m - w) {
        var mn = hs.getLong(start)
        var j = 1
        while (j < w) {
          val v = hs.getLong(start + j); if (v < mn) mn = v; j += 1
        }
        out.add(mn)
        start += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var oi = 0
    while (it.hasNext) { arr(oi) = it.next(); oi += 1 }
    new GenericArrayData(arr)
  }
}

/** Native Catalyst expression over [[WinnowFpUtil.fps]]. */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WinnowFpUtil.fps(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowFpUtil.fps($c, $k, $w)")

  override protected def withNewChildInternal(
      newChild: Expression): WinnowFps = copy(child = newChild)

  override def prettyName: String = "winnow_fps"
}

object WinnowFps {
  def apply(c: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      WinnowFps(org.apache.spark.sql.GraftColumnBridge.expression(c), k, w))
}

/** Native Catalyst expression over [[WindowKeyUtil.packedKeys]]: one
  * codegen'd pass per row, no word-hash re-evaluation, no per-window
  * slice allocation. */
case class WindowKeys(child: Expression, w: Int)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WindowKeyUtil.packedKeys(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WindowKeyUtil.packedKeys($c, $w)")

  override protected def withNewChildInternal(
      newChild: Expression): WindowKeys = copy(child = newChild)

  override def prettyName: String = "window_keys"
}

object WindowKeys {
  def apply(c: Column, w: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      WindowKeys(org.apache.spark.sql.GraftColumnBridge.expression(c), w))
}

/**
 * Native Catalyst expression: distinct n-word-shingle polynomial hashes of
 * a text column in one codegen'd pass (no shingle-string materialization,
 * no interpreted higher-order lambdas). Feeds MinHash signatures and the
 * Jaccard inverted index; semantics (and the DuckDB oracle) are identical
 * to the expression-pipeline specification, which is kept in
 * `shingleHashesHof` in PolyHashSpec and cross-checked there.
 */
case class ShingleHashes(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleHashUtil.hashes(input.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashUtil.hashes($c, $n, $distinct)")

  override protected def withNewChildInternal(
      newChild: Expression): ShingleHashes = copy(child = newChild)

  override def prettyName: String = "shingle_hashes"
}

object ShingleHashes {
  def apply(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ShingleHashes(org.apache.spark.sql.GraftColumnBridge.expression(c), n))

  /** ALL n-word window hashes in POSITION order (duplicates kept) — the
    * sliding-window input of exact-span dedup, where index i is the hash
    * of the window starting at word i+1. */
  def sliding(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ShingleHashes(org.apache.spark.sql.GraftColumnBridge.expression(c),
        n, distinct = false))

  /** ALL word hashes in order (n=1, duplicates kept) — the SimHash input,
    * where vote multiplicity matters. */
  def wordHashes(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ShingleHashes(org.apache.spark.sql.GraftColumnBridge.expression(c),
        1, distinct = false))
}
