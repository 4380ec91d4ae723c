package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Portable text primitives for the training-data pipeline operators
 * (dedup, language-ID, quality scoring, fingerprinting). Everything is a
 * codegen'd Catalyst expression chain — NO UDFs — and every hash is plain
 * integer arithmetic (polynomial rolling hash mod 1e9+7), so an external
 * SQL engine (the DuckDB oracle) can reproduce results bit-for-bit. That is
 * deliberate: content hashes that depend on engine-internal murmur seeds
 * can't be cross-checked.
 */
object TextFunctions {

  val HashMod = 1000000007L

  /** Whitespace tokenization (single-space corpora). */
  def words(text: Column): Column = split(text, " ")

  /** Polynomial rolling hash over characters: fold(h*31 + ascii(c)) mod p.
    * Matches DuckDB `list_reduce(list_prepend(0, [ascii(c) ...]), ...)`.
    * Evaluated by the native codegen'd [[PolyHash]] expression; the
    * expression-only fold (`polyHashHof` in PolyHashSpec) is the executable
    * specification it is cross-checked against. */
  def polyHash(s: Column): Column = PolyHash(s)

  /** n-word shingles of a word array (overlapping, space-joined; empty when
    * the text has fewer than n words — matches the oracle's comprehension
    * bounds). */
  def shingles(wordArr: Column, n: Int): Column =
    when(size(wordArr) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(wordArr) - n),
        i => concat_ws(" ", slice(wordArr, i + 1, lit(n)))))

  /** Distinct shingle hashes of a text (the MinHash universe / Jaccard
    * inverted-index key). Evaluated by the fused native codegen'd
    * [[ShingleHashes]] expression; the expression-pipeline formulation
    * (`shingleHashesHof` in PolyHashSpec) is the executable specification
    * it is cross-checked against. */
  def shingleHashes(text: Column, n: Int): Column = ShingleHashes(text, n)

  /** Word hashes of a text, in order with repeats kept (polyHash of each
    * word). Native single-pass kernel; the transform-pipeline spec is
    * `wordHashesHof` in PolyHashSpec, cross-checked there. */
  def wordHashes(text: Column): Column = ShingleHashes.wordHashes(text)

  /** Exact word-count and distinct-word (type) count. */
  def tokenCount(text: Column): Column = size(words(text))
  def typeCount(text: Column): Column = size(array_distinct(words(text)))

  /** BPE-ish subword segmentation regex: alphanumeric runs are one token
    * each, every other non-space character is its own token — the
    * pre-merge token universe a byte-pair tokenizer starts from. Kept to
    * constructs with identical semantics in Java regex and RE2 so the
    * oracle engine reproduces counts exactly. */
  val subwordPattern = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"

  /** Subword-token count under [[subwordPattern]]. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit(subwordPattern), lit(0)))

  /** English-ish stopword list used by the language-ID heuristic. Fixed
    * and mirrored in the oracle SQL. */
  val enStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "in", "and", "is", "it", "that")

  /** Fraction of tokens that are stopwords (single exact division). */
  def stopwordRatio(text: Column): Column = {
    val w = words(text)
    size(filter(w, x => x.isin(enStopwords.map(v => v: Any): _*)))
      .cast("double") / size(w)
  }

  /** Content fingerprint: polynomial hash over the whole text. */
  def fingerprint(text: Column): Column = polyHash(text)

  /** Canonical text normalization (lowercase, strip non-alphanumerics,
    * collapse whitespace, trim) — the pass "fuzzy-exact" dedup runs
    * before hashing so trivial formatting variants collapse to one key.
    * Constructs restricted to regex features with identical Java/RE2
    * semantics, so the oracle reproduces the normal form exactly. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** PII detector patterns (email / E.164-ish phone / IPv4), restricted
    * to classes + bounded repetition — identical under Java regex and
    * RE2 so detection counts and redacted output oracle exactly. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+[0-9][0-9 ]{6,}[0-9]"
  val ipPattern = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Number of matches of a detector pattern. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Redact all three PII classes, fixed application order
    * (email, then phone, then IP) — the order is part of the spec since
    * replacements can change later matches. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipPattern, "<IP>")

  /** Fingerprints of consecutive `w`-word chunks — the building block of
    * chunk-level passage dedup (the bounded-cost approximation of
    * suffix-array substring dedup; Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — public algorithm
    * family). The final chunk may be shorter; chunk count =
    * ceil(|words| / w). One codegen'd projection, no shuffle. */
  def chunkHashes(text: Column, w: Int): Column = {
    val ws = words(text)
    transform(
      // Column `/` is double division — floor back to int for sequence()
      sequence(lit(0), floor((size(ws) - 1) / w).cast("int")),
      i => polyHash(concat_ws(" ", slice(ws, i * w + 1, lit(w)))))
  }
}
