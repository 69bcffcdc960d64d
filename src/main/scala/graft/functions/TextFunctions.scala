package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus processing.
  *
  * All functions are pure Column expressions (codegen'd builtins — no
  * UDFs), so they run inside whole-stage codegen and scale linearly with
  * the scan: at 100 TB these are embarrassingly parallel map work with
  * zero shuffle.
  *
  * Hashing convention: where an operator needs a portable hash (MinHash,
  * fingerprints) we derive a 32-bit integer from an `md5` prefix instead
  * of Spark's Murmur3 `hash()`. md5 is bit-identical across engines
  * (Spark, DuckDB, any SQL oracle), which makes the dedup operators
  * verifiable end-to-end; Murmur3 seeds differ engine-to-engine.
  */
object TextFunctions {

  /** Stop-word list — union of common English stop words with the
    * domain-noise words the reference filters during keyword scoring
    * (/root/reference/src/services/AutoTagger.ts:131-246). */
  val StopWords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "has", "have", "he", "her", "his", "i", "in", "is", "it", "its", "of",
    "on", "or", "that", "the", "this", "to", "was", "we", "were", "will",
    "with", "you", "your", "not", "no", "so", "if", "then", "than", "they",
    "them", "there", "these", "those", "what", "when", "where", "which",
    "who", "why", "how", "all", "any", "both", "each", "few", "more",
    "most", "other", "some", "such", "only", "own", "same", "too", "very",
    "can", "just", "should", "now", "pdf", "ebook", "edition", "book")

  /** Whitespace tokenization with empty-token removal. Matches the SQL
    * `string_split(text, ' ')` + non-empty filter exactly: `split` never
    * yields a NULL element, so removing "" is that filter, without the
    * interpreted lambda. */
  def tokens(text: Column): Column =
    array_remove(split(text, " "), "")

  /** Distinct non-empty lowercase tokens — the word *set* for Jaccard. */
  def tokenSet(text: Column): Column = array_distinct(tokens(lower(text)))

  /** Token count under a BPE-ish regex lexer: runs of letters, runs of
    * digits, or single non-space symbols each count as one token. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Character k-shingles (contiguous substrings of length k). NULL in,
    * NULL out — matching the native [[graft.plans.ShingleSet]] (the
    * otherwise-branch would turn NULL text into array(NULL)). */
  def shingles(text: Column, k: Int): Column =
    when(text.isNull, lit(null).cast("array<string>"))
      .when(length(text) >= k,
        array_distinct(transform(
          sequence(lit(1), length(text) - (k - 1)),
          i => text.substr(i, lit(k)))))
      .otherwise(array(text))

  /** Word n-grams from the token sequence; empty when fewer than n
    * tokens exist (no n-gram is formable — a whole-text fallback would
    * pair unrelated short docs at jaccard 1.0). NULL in, NULL out,
    * matching the native [[graft.plans.WordNgramSet]]. */
  def wordNgrams(text: Column, n: Int): Column = {
    val ts = tokens(lower(text))
    when(text.isNull, lit(null).cast("array<string>"))
      .when(size(ts) >= n,
        array_distinct(transform(
          sequence(lit(0), size(ts) - n),
          i => concat_ws(" ", slice(ts, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Portable 32-bit hash: first 8 hex chars of md5, as an unsigned int
    * in a long. Identical in any engine with md5 + hex parsing.
    *
    * Round 20: computed by the native [[graft.plans.Md5Hash32]] kernel —
    * bit-identical to `conv(substring(md5(c),1,8),16,10)` (the first 8
    * hex chars ARE the first 4 digest bytes) without the hex-string
    * round-trip and its three per-call allocations. Oracles keep
    * replaying the conv/substring form; only the engine-side evaluation
    * changed. The cast is a no-op for string inputs; non-string inputs
    * (which the old md5 chain REJECTED at analysis — md5 only
    * implicitly casts string to binary) are newly accepted and hash
    * their string rendering. Every call site passes strings, so the
    * widened input domain is unexercised. */
  def portableHash32(c: Column): Column =
    graft.plans.Md5Hash32(c.cast("string"))

  /** One MinHash value: min over the element-wise portable hash of
    * `seed || element`. */
  def minhash(elems: Column, seed: Int): Column =
    array_min(transform(elems, e => portableHash32(concat(lit(s"$seed|"), e))))

  /** Adjacent token pairs (with multiplicity) from a token array, as
    * `struct(prev, cur)` rows — the single source of the bigram
    * construction both the LM-quality and DSIR tiers replay in SQL as
    * `[{prev: t[i], cur: t[i+1]} for i in range(1, len(t))]`. One
    * definition so a tokenization tweak cannot break one oracle's
    * parity and not the other's. */
  def bigramPairs(tokens: Column): Column = {
    val n1 = greatest(size(tokens) - 1, lit(0))
    zip_with(slice(tokens, lit(1), n1), slice(tokens, lit(2), n1),
      (a, b) => struct(a.as("prev"), b.as("cur")))
  }

  /** Adjacent token triples (w_{i-2}, w_{i-1}, w_i) as structs
    * (p2, p1, cur) — the trigram analogue of [[bigramPairs]], built
    * from three aligned slices so it stays a codegen'd array op. */
  def trigramTriples(tokens: Column): Column = {
    val n2 = greatest(size(tokens) - 2, lit(0))
    zip_with(
      zip_with(slice(tokens, lit(1), n2), slice(tokens, lit(2), n2),
        (a, b) => struct(a.as("p2"), b.as("p1"))),
      slice(tokens, lit(3), n2),
      (ab, c) => struct(ab.getField("p2").as("p2"),
        ab.getField("p1").as("p1"), c.as("cur")))
  }

  /** The [[StopWords]] set as a SQL literal list body — shared by every
    * oracle that restates the stopword filter, so quoting lives in ONE
    * place. */
  lazy val stopWordsSql: String = StopWords.map(w => s"'$w'").mkString(", ")

  /** Jaccard similarity of two string arrays (sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** SimHash over the distinct token set, `bits` wide (<= 32): for each
    * bit position, sum +1/-1 over token hashes and keep the sign bit. */
  def simhash(tokenSet: Column, bits: Int): Column = {
    val hashes = transform(tokenSet, t => portableHash32(t))
    (0 until bits).map { b =>
      val votes = aggregate(
        hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Hamming distance between two simhash longs. */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Content fingerprint: md5 of the whitespace-normalized, lowercased
    * text. Two documents with the same fingerprint are exact duplicates
    * up to whitespace/case. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Count non-overlapping regex matches. */
  def countMatches(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  // --- quality scoring (length / punctuation / stopword ratios) ---

  def wordCount(text: Column): Column = size(tokens(text))

  def punctRatio(text: Column): Column =
    countMatches(text, "[^A-Za-z0-9\\s]").cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  def stopwordRatio(text: Column): Column = {
    val ts = tokens(lower(text))
    val stops = filter(ts, t => t.isin(StopWords: _*))
    when(size(ts) > 0, size(stops).cast("double") / size(ts).cast("double"))
      .otherwise(lit(0.0))
  }

  def avgWordLen(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) > 0,
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(ts).cast("double"))
      .otherwise(lit(0.0))
  }
}
