package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Materialize.MatOps

/** Corpus text analysis: language ID, quality scoring, token counting,
  * fingerprinting. Pure narrow transformations (no shuffle) — at 100 TB
  * these run as map-only stages fused into the parquet scan by
  * whole-stage codegen.
  */
object TextAnalysis {

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny — language ID at pipeline scale is a
    * cheap prior, not a model. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "los", "las", "una", "por"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "zai", "you", "ta"))

  private def markerHits(text: Column, markers: Seq[String]): Column = {
    val ts = tokens(lower(text))
    size(filter(ts, t => t.isin(markers: _*)))
  }

  /** Predict language by marker-word hit count; ties break in language-
    * code order, docs with zero hits everywhere get "und" (undetermined). */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val langs = LangMarkers.keys.toSeq.sorted
    val withHits = langs.foldLeft(df.select(col(idCol).as("id"), col(textCol).as("__t"))) {
      (d, l) => d.withColumn(s"hits_$l", markerHits(col("__t"), LangMarkers(l)))
    }
    val best = langs.map(l => col(s"hits_$l")).reduce((a, b) => greatest(a, b))
    val pred = langs.foldRight(lit("und")) { (l, acc) =>
      when(col(s"hits_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    // foldRight gives earlier languages priority on ties (first when wins)
    withHits
      .withColumn("pred_lang", pred)
      .select((col("id") +: langs.map(l => col(s"hits_$l")) :+ col("pred_lang")): _*)
  }

  /** Quality metrics per document: length, word count, mean word length,
    * stopword ratio, punctuation ratio, and a composite keep/drop flag
    * in the spirit of Gopher/C4-style quality rules. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol).as("id"),
      length(t).as("n_chars"),
      wordCount(t).as("n_words"),
      avgWordLen(t).as("avg_word_len"),
      stopwordRatio(t).as("stopword_ratio"),
      punctRatio(t).as("punct_ratio"))
      .withColumn("keep",
        (col("n_words") >= 10 &&
          col("avg_word_len") >= 2.0 && col("avg_word_len") <= 12.0 &&
          col("punct_ratio") <= 0.2).cast("int"))
  }

  /** Token counts: whitespace tokens and BPE-ish lexer tokens. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      wordCount(col(textCol)).as("ws_tokens"),
      bpeishTokenCount(col(textCol)).as("bpe_tokens"))

  /** Content fingerprints (md5 of normalized text). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), fingerprint(col(textCol)).as("fp"))

  /** PII scrubbing for training corpora: emails, phone-like number
    * runs, and IPv4 addresses replaced with typed placeholder tokens.
    * Pure regexp_replace chain — codegen'd, map-only, reversible by
    * re-ingest. Patterns are deliberately conservative (precision over
    * recall); a production pipeline layers NER behind the same shape. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // phone shape with explicit digit-group sizes (3-3-4 with optional
  // country code) — a loose "9+ digit/dash run" class would also eat
  // ISO dates and numeric IDs; no lookaheads (RE2/oracle compatible)
  val PhoneRe = "\\+?[0-9]{1,3}[\\s\\-]?\\(?[0-9]{3}\\)?[\\s\\-]?[0-9]{3}[\\s\\-]?[0-9]{4}"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  def piiScan(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      countMatches(col(textCol), EmailRe).as("n_emails"),
      countMatches(col(textCol), Ipv4Re).as("n_ips"),
      redactPii(col(textCol)).as("redacted"))

  /** Repetition scoring (Gopher-style): how dominated is a document by
    * its single most frequent token? High ratios flag boilerplate/spam. */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts = tokens(lower(col(textCol)))
    val counts = df.select(col(idCol).as("id"), explode(ts).as("word"))
      .groupBy("id", "word").agg(count(lit(1)).as("cnt"))
    counts.groupBy("id")
      .agg(max(col("cnt")).as("max_tf"),
        sum(col("cnt")).as("n_words"),
        countDistinct(col("word")).as("n_unique"))
      .withColumn("top_token_ratio",
        col("max_tf").cast("double") / col("n_words").cast("double"))
      .withColumn("type_token_ratio",
        col("n_unique").cast("double") / col("n_words").cast("double"))
  }

  /** Term-frequency keyword scoring, the reference's AutoTagger content
    * path (/root/reference/src/services/AutoTagger.ts:463-495):
    * tokenize, drop stop words/short words, count, score =
    * count × (0.5 if freq>10% of words else 1) × min(len/8, 1.5),
    * take top n. */
  def topKeywords(df: DataFrame, textCol: String, n: Int): DataFrame = {
    val words = df
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .filter(length(col("word")) > 3 && !col("word").isin(StopWords: _*))
    // one corpus scan: group first (small result), derive the total from
    // the grouped counts instead of a second explode pass
    val counts = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      .materializeOnce(eager = false)
    // coalesce: sum over an empty frame is null, and an all-stop-word
    // corpus must yield an empty result, not an NPE
    val total = math.max(1L,
      counts.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)).toDouble
    counts
      .withColumn("score",
        col("cnt").cast("double") *
          when(col("cnt").cast("double") / total > 0.1, 0.5).otherwise(1.0) *
          least(length(col("word")).cast("double") / 8.0, lit(1.5)))
      .orderBy(desc("score"), asc("word"))
      .limit(n)
  }

  /** Corpus-wide boilerplate n-grams: word n-grams occurring in at
    * least `minDocs` DISTINCT documents (headers, footers, license
    * blurbs, navigation chrome — the text that repeats across a crawl
    * without being a document-level duplicate).
    *
    * Per-doc n-gram sets are distinct ([[graft.plans.TextSetExpressions
    * .WordNgramSet]]), so a plain count per n-gram IS the distinct doc
    * count — one map-only explode and one map-side-combined groupBy; no
    * document text ever shuffles. */
  def boilerplateNgrams(df: DataFrame, idCol: String, textCol: String,
                        n: Int, minDocs: Long): DataFrame =
    df.select(explode(
        graft.plans.TextSetExpressions.wordNgramSet(lower(col(textCol)), n)).as("ng"))
      .groupBy("ng").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document boilerplate contamination: what fraction of each
    * doc's n-grams are corpus-wide boilerplate ([[boilerplateNgrams]]).
    * High fractions flag template/chrome-dominated documents for
    * removal or span-level cleaning.
    *
    * The corpus is scanned twice — both passes are map-only explodes
    * (narrow, fused into the parquet scan) — rather than materializing
    * the exploded n-gram stream, which at 100 TB would be ~10× the
    * text size on local disk. The hot set joins back via broadcast by
    * default: frequency ≥ minDocs caps the set size at
    * totalNgrams/minDocs, which for sane thresholds (minDocs in the
    * hundreds over a crawl) is broadcast-sized.
    *
    * With a SMALL minDocs over a 100 TB corpus that bound is billions
    * of n-grams — far past broadcast range. Pass
    * `broadcastHot = false` there: the hot set then joins via a
    * regular shuffle join on `ng` (same result, corpus-sized shuffle of
    * (id, ng) pairs — the honest cost of a hot set that big), exactly
    * the fallback [[Decontamination]] documents for oversized eval
    * sets. */
  def boilerplateFraction(df: DataFrame, idCol: String, textCol: String,
                          n: Int, minDocs: Long,
                          broadcastHot: Boolean = true): DataFrame = {
    val hot = boilerplateNgrams(df, idCol, textCol, n, minDocs)
      .select(col("ng"), lit(1).as("__hot"))
    df.select(col(idCol).as("id"), explode_outer(
        graft.plans.TextSetExpressions.wordNgramSet(lower(col(textCol)), n)).as("ng"))
      .join(if (broadcastHot) broadcast(hot) else hot, Seq("ng"), "left")
      .groupBy("id")
      .agg(
        count(col("ng")).as("n_ngrams"),
        coalesce(sum(col("__hot")), lit(0L)).cast("long").as("n_boiler"))
      .withColumn("boiler_frac",
        col("n_boiler").cast("double") /
          greatest(col("n_ngrams"), lit(1L)).cast("double"))
  }

  /** Line-level exact dedup (the CCNet tier, Wenzek et al. 2019 §3.1):
    * drop every line whose normalized form (trim + lowercase) appears
    * in at least `minDocs` DISTINCT documents — crawl boilerplate
    * (headers, footers, cookie banners, navigation) that repeats
    * across pages without the pages being document-level duplicates.
    * Output: one row per doc with the cleaned text (original line
    * order and original casing preserved), line counts, and the
    * removed fraction.
    *
    * Shape at scale mirrors [[boilerplateFraction]]: the hot-line set
    * is built from per-doc DISTINCT line sets (map-only explode +
    * map-side-combined count — a plain count IS the distinct-doc
    * count), and joins back by broadcast by default (frequency ≥
    * minDocs caps the set at totalLines/minDocs). For a small minDocs
    * over a 100 TB crawl pass `broadcastHot = false` — the honest
    * shuffle-join fallback. Reconstruction is one groupBy(id) whose
    * per-group sort is bounded by a single document's line count.
    *
    * Lines normalizing to "" (blank/whitespace) are structural, never
    * counted and never removed. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDocs: Long, broadcastHot: Boolean = true): DataFrame = {
    def norm(c: Column): Column = trim(lower(c))
    val lineSet = array_distinct(
      filter(transform(split(col(textCol), "\n"), l => norm(l)), x => x =!= ""))
    val hot = df.select(explode(lineSet).as("key"))
      .groupBy("key").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("key"), lit(1).as("__hot"))
    if (broadcastHot) {
      // round 20 (guide §2.4): the hot set was already assumed
      // broadcast-bounded — collect it once and score each document
      // map-only ([[graft.plans.LineDedupScore]]): the posexplode, the
      // join, and the ObjectHashAggregate(collect_list + array_sort)
      // Exchange are gone. Value parity (incl. the trim/lower key and
      // line order) is pinned against the retained shuffle-join path
      // in CurationOpsSpec; NULL-text docs drop exactly as posexplode
      // dropped them. One output row per input row — idCol is expected
      // unique (ADVICE r20: the legacy join path's groupBy(id) merged
      // duplicate ids as an implementation artifact, not a contract).
      val hotLines = hot.select("key").collect().map(_.getString(0)).toSeq
      df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"),
          graft.plans.LineDedupScore(col(textCol), hotLines).as("__ld"))
        .select(col("id"), col("__ld.cleaned_text").as("cleaned_text"),
          col("__ld.n_lines").as("n_lines"),
          col("__ld.n_removed").as("n_removed"),
          col("__ld.removed_frac").as("removed_frac"))
    } else df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("key", norm(col("line")))
      .join(hot, Seq("key"), "left")
      .groupBy("id")
      .agg(
        // collect_list skips the when()'s nulls -> kept lines only;
        // array_sort on (pos, line) structs restores document order
        array_join(transform(
          array_sort(collect_list(when(col("__hot").isNull,
            struct(col("pos").as("p"), col("line").as("l"))))),
          s => s.getField("l")), "\n").as("cleaned_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("n_removed"))
      .withColumn("removed_frac",
        col("n_removed").cast("double") /
          greatest(col("n_lines"), lit(1L)).cast("double"))
  }

  /** Exact-substring dedup (Lee et al. 2022, arXiv:2107.06499 — the
    * ExactSubstr tier): flag every token covered by a word k-gram that
    * occurs at least `minCount` times across the corpus (all
    * occurrences count, within- and cross-document), merge the flagged
    * `[pos, pos+k)` windows into maximal duplicated spans per document,
    * and emit span stats plus the text with every duplicated span
    * removed.
    *
    * Lee et al. build a corpus-wide suffix array — a multi-stage
    * distributed sort pipeline with no cheap declarative analog. This
    * formulation keeps substring-EXACT semantics at the k-gram
    * granularity: a duplicated substring of ≥ k tokens is exactly the
    * union of its duplicated k-windows, so the interval merge recovers
    * its full extent; substrings shorter than k are below the dedup
    * threshold by definition (Lee et al. use k = 50).
    *
    * Shape at scale: one map-only pass emits each window's md5 digest
    * as two longs ([[graft.plans.WindowDigests]]) into ONE
    * map-side-combined aggregate — the only shuffle, 16-byte keys. The
    * hot set (keys occurring ≥ minCount times) is bounded by
    * totalGrams/minCount; by default it is collected once and every
    * document is scored map-only against it
    * ([[graft.plans.DupSpanScore]]: window hits, the keepFirst
    * exemption, the span fold and the cleaned text in one pass over the
    * row). Pass `broadcastHot = false` for a small minCount over a
    * 100 TB crawl: the hits then reach their documents through a
    * shuffle join on the digest pair and one groupBy(id), and the same
    * fold kernel ([[graft.plans.DupSpanFold]]) scores them. No Window,
    * no sort. Removal semantics, caller's choice:
    *   - `keepFirst = false` (default): ALL copies of a duplicated
    *     span are dropped — deterministic and order-free.
    *   - `keepFirst = true`: Lee et al.'s own semantic — one canonical
    *     copy of each duplicated k-gram survives, chosen as the
    *     globally first occurrence under (id, pos) lexicographic order
    *     (computed as a min(struct) in the same hot-set aggregation —
    *     no extra shuffle). A canonical window's tokens can still fall
    *     to an OVERLAPPING gram's non-canonical window; coverage stays
    *     the deterministic union of non-exempt windows.
    *
    * Grams are keyed by their full 128-bit md5 digest (the 16 bytes the
    * oracle's md5 hex string spells): cross-engine portable and
    * collision-free in practice, so the oracle replays it. Ids must be
    * non-NULL and unique per row: each row is scored on its own (ADVICE
    * r20, as in [[lineDedup]]: the join formulation's groupBy(id) merged
    * duplicate ids as an implementation artifact, not a contract).
    *
    * Output: id, n_tokens, n_dup_tokens, n_dup_spans, dup_frac,
    * cleaned_text. Token-sequence semantics: cleaned_text is the kept
    * tokens joined by single spaces (inter-token whitespace is not
    * preserved — same canonicalization both engines can replay). */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     k: Int, minCount: Long = 2L,
                     broadcastHot: Boolean = true,
                     keepFirst: Boolean = false): DataFrame =
    dedupUnitWindows(
      df.select(col(idCol).as("id"), tokens(lower(col(textCol))).as("t")),
      k, minCount, broadcastHot, keepFirst,
      keySep = " ", outSep = " ")

  /** Duplicate-span removal over caller-defined UNITS — C4's
    * "three-sentence span" dedup tier (Raffel et al. 2020 §2.2 remove
    * every three-sentence span occurring more than once, keeping one
    * copy). [[substringDedup]] is this operator at word granularity;
    * here the caller supplies the unit decomposition (sentences, lines,
    * paragraphs) as an array column, and every k-unit window occurring
    * ≥ `minCount` times across the corpus is removed via the same
    * hot-window + interval-merge machinery — including Lee et al.'s
    * keep-first canonical-copy semantic (`keepFirst = true` is C4's
    * own "keep one copy"). Window keys join units with \u0001 so unit
    * boundaries can't alias into inner whitespace (NULL units are
    * skipped, as `concat_ws` skips them). Scale shape inherited
    * unchanged (one digest-keyed aggregate shuffle + bounded hot set).
    *
    * Output: id, n_units, n_dup_units, n_dup_spans, dup_frac,
    * cleaned_text (kept units in order, joined by `sep`). */
  def spanDedup(df: DataFrame, idCol: String, unitsOf: Column,
                k: Int, minCount: Long = 2L,
                broadcastHot: Boolean = true,
                keepFirst: Boolean = false,
                sep: String = " "): DataFrame =
    dedupUnitWindows(df.select(col(idCol).as("id"), unitsOf.as("t")),
      k, minCount, broadcastHot, keepFirst,
      keySep = "\u0001", outSep = sep)
      .withColumnRenamed("n_tokens", "n_units")
      .withColumnRenamed("n_dup_tokens", "n_dup_units")

  /** Shared core of [[substringDedup]]/[[spanDedup]]: `base` is
    * (id, t: array<string>) — the unit sequence; windows of k units key
    * the corpus-wide hot set (joined by `keySep`), kept units emit
    * joined by `outSep`. The kernels' value contract is in
    * [[graft.plans.DupSpans]]. */
  private def dedupUnitWindows(base: DataFrame, k: Int, minCount: Long,
                               broadcastHot: Boolean, keepFirst: Boolean,
                               keySep: String, outSep: String): DataFrame = {
    require(k >= 2, s"substring/span dedup needs k >= 2, got $k")
    val digests = graft.plans.WindowDigests(col("t"), k, keySep)
    // 1-based window positions, mirroring SQL list slicing; the position
    // and id ride along only where something reads them
    val flat =
      if (keepFirst || !broadcastHot)
        base.select(col("id"), posexplode(digests).as(Seq("p0", "d")))
          .select(col("id"), (col("p0") + 1).cast("long").as("pos"),
            col("d.hi").as("hi"), col("d.lo").as("lo"))
      else base.select(inline(digests))
    val canon = min(struct(col("id"), col("pos"))).as("canon")
    val hot = flat.groupBy("hi", "lo")
      .agg(count(lit(1)).as("c"), (if (keepFirst) Seq(canon) else Nil): _*)
      .filter(col("c") >= minCount)
      .drop("c")
    val scored =
      if (broadcastHot) {
        val rows = hot.collect()
        val toId = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(base.schema("id").dataType)
        val table = new graft.plans.HotDigests(
          rows.map(_.getLong(0)), rows.map(_.getLong(1)),
          if (keepFirst) rows.map(r => toId(r.getStruct(2).get(0))) else null,
          if (keepFirst) rows.map(_.getStruct(2).getLong(1)) else null)
        base.select(col("id"), col("t"),
          graft.plans.DupSpanScore(col("t"), col("id"), table, k, keySep, outSep)
            .as("sc"))
      } else {
        val hits = flat.join(hot, Seq("hi", "lo"))
          .filter(if (keepFirst)
            !(col("canon.id") === col("id") && col("canon.pos") === col("pos"))
          else lit(true))
          .groupBy("id").agg(collect_list(col("pos")).as("ps"))
        base.join(hits, Seq("id"), "left")
          .select(col("id"), col("t"),
            graft.plans.DupSpanFold(col("t"), col("ps"), k, outSep).as("sc"))
      }
    scored.select(col("id"),
      size(col("t")).cast("long").as("n_tokens"),
      col("sc.n_dup").as("n_dup_tokens"),
      col("sc.n_spans").as("n_dup_spans"),
      (col("sc.n_dup").cast("double") /
        greatest(size(col("t")), lit(1)).cast("double")).as("dup_frac"),
      col("sc.cleaned_text").as("cleaned_text"))
  }

  /** Gopher-style rule battery (Rae et al. 2021 §A1.1), the extended
    * tier above [[qualityScore]]: per-doc metrics plus one flag per
    * rule and the composite keep. All pure narrow string/array
    * expressions — map-only, codegen'd, no shuffle at any scale.
    *
    * Rules (published Gopher thresholds):
    *   - word count in [50, 100000]
    *   - mean word length in [3, 10]
    *   - symbol-to-word ratio (# or ellipsis) ≤ 0.1
    *   - fraction of words with ≥1 alphabetic char ≥ 0.8
    *   - stopword hits ≥ 2 (the "has real prose" prior)
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts = tokens(col(textCol))
    val lower_ts = tokens(lower(col(textCol)))
    val nWords = size(ts)
    val safeN = greatest(nWords, lit(1)).cast("double")
    df.select(
      col(idCol).as("id"),
      nWords.as("n_words"),
      (aggregate(ts, lit(0L), (acc, w) => acc + length(w)).cast("double") / safeN)
        .as("mean_word_len"),
      ((countMatches(col(textCol), "#") + countMatches(col(textCol), "\\.\\.\\."))
        .cast("double") / safeN).as("symbol_ratio"),
      (size(filter(ts, w => w.rlike("[A-Za-z]"))).cast("double") / safeN)
        .as("alpha_word_frac"),
      size(filter(lower_ts, w => w.isin(StopWords: _*))).as("stopword_hits"))
      .withColumn("pass_word_count",
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("int"))
      .withColumn("pass_word_len",
        (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).cast("int"))
      .withColumn("pass_symbol", (col("symbol_ratio") <= 0.1).cast("int"))
      .withColumn("pass_alpha", (col("alpha_word_frac") >= 0.8).cast("int"))
      .withColumn("pass_stopword", (col("stopword_hits") >= 2).cast("int"))
      .withColumn("keep",
        (col("pass_word_count") === 1 && col("pass_word_len") === 1 &&
          col("pass_symbol") === 1 && col("pass_alpha") === 1 &&
          col("pass_stopword") === 1).cast("int"))
  }

  /** C4 cleaning battery (Raffel et al. 2020 §2.2 — the heuristics that
    * produced the "Colossal Clean Crawled Corpus"): line-level KEEP
    * rules followed by document-level DROP rules. This is the standard
    * first pass of a web-crawl curation pipeline, upstream of
    * [[gopherRules]] — C4 decides per line, Gopher per document.
    *
    * A line survives iff ALL hold:
    *   - it matches `lineEndRegex` after trimming (C4: ends in a
    *     terminal punctuation mark — `.` `!` `?` `"`)
    *   - it has ≥ `minWordsPerLine` words (C4: 3)
    *   - it contains no `lineDropPatterns` substring, case-insensitive
    *     (C4: "javascript", the cookie/JS-warning boilerplate tell)
    * The document survives iff ALL hold (pattern rules evaluated on
    * the raw text, line budget on the SURVIVING lines — C4's order):
    *   - ≥ `minLines` surviving lines (C4: 5 sentences)
    *   - no `docDropPatterns` substring, case-insensitive (C4:
    *     "lorem ipsum" and the curly brace of leaked source code)
    *   - no token from `badWords`, case-insensitive exact-token match
    *     (C4 uses the public "List of Dirty, Naughty, Obscene or
    *     Otherwise Bad Words"; the list is a parameter — ship yours)
    *
    * Shape at scale: pure narrow string/array expressions — map-only,
    * codegen'd, zero shuffle at any corpus size; fuses into the scan
    * like [[gopherRules]]. Output: id, n_lines, n_kept, cleaned_text
    * (surviving lines in order, joined by \n), has_drop_pattern,
    * has_bad_word, pass_min_lines, keep. */
  def c4Filters(df: DataFrame, idCol: String, textCol: String,
                minWordsPerLine: Int = 3, minLines: Int = 5,
                lineEndRegex: String = "[.!?\"]$",
                lineDropPatterns: Seq[String] = Seq("javascript"),
                docDropPatterns: Seq[String] = Seq("lorem ipsum", "{"),
                badWords: Seq[String] = Seq.empty): DataFrame = {
    val lines = split(col(textCol), "\n")
    // line rules evaluate on trim(l) and the KEPT line is the trimmed
    // form too (C4 keeps sentences, not their surrounding whitespace —
    // ADVICE r12: keeping the untrimmed original diverged on padded
    // crawl lines)
    val keptArr = transform(filter(lines, l => {
      val t = trim(l)
      lineDropPatterns.foldLeft(
        size(tokens(t)) >= minWordsPerLine && t.rlike(lineEndRegex)) {
        (acc, p) => acc && !lower(t).contains(p.toLowerCase)
      }
    }), l => trim(l))
    val lowText = lower(col(textCol))
    val hasDocPattern = docDropPatterns
      .map(p => lowText.contains(p.toLowerCase): Column)
      .reduceOption(_ || _).getOrElse(lit(false))
    // token-exact per LINE (not on the raw text): a newline must be a
    // word boundary, and [[tokens]] splits on single spaces only
    val hasBadWord =
      if (badWords.isEmpty) lit(false)
      else size(filter(flatten(transform(lines, l => tokens(lower(l)))),
        w => w.isin(badWords.map(_.toLowerCase): _*))) > 0
    df.select(
      col(idCol).as("id"),
      size(lines).as("n_lines"),
      size(keptArr).as("n_kept"),
      array_join(keptArr, "\n").as("cleaned_text"),
      hasDocPattern.cast("int").as("has_drop_pattern"),
      hasBadWord.cast("int").as("has_bad_word"))
      .withColumn("pass_min_lines", (col("n_kept") >= minLines).cast("int"))
      .withColumn("keep",
        (col("pass_min_lines") === 1 && col("has_drop_pattern") === 0 &&
          col("has_bad_word") === 0).cast("int"))
  }

  /** Cross-source n-gram overlap matrix — the corpus-composition report
    * a mixture designer reads before weighting sources (and a coarse
    * cross-source contamination scan: a crawl slice that near-includes
    * a curated source shows up as an outlier Jaccard). One row per
    * unordered source pair with distinct-n-gram set sizes, shared
    * count, and Jaccard.
    *
    * Shape at scale: distinct (source, gram) — map-side combined — then
    * per-gram sorted source-sets (bounded by #sources, NOT corpus
    * size), pair expansion by an index-HOF (≤ #sources² rows per gram),
    * and a #sources²-sized aggregate. No gram text ever joins against
    * itself, so there is no per-gram quadratic blowup beyond the
    * source-count bound. */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    // ONE corpus-scale shuffle (the gram stream into per-gram source
    // sets; collect_set dedups, so no pre-distinct pass), then grams
    // COLLAPSE BY SOURCE-SET: every downstream row is a distinct
    // (source-set, gram-count) pair — at most min(#grams, 2^#sources)
    // rows — so the #sources² pair expansion runs per distinct SET,
    // not per gram (this corpus: 100k grams -> a handful of sets;
    // measured 3.5 -> 0.7 s at sf0.1)
    // grams shuffle as xxHash64 longs ([[graft.plans.WordNgramHashSet]]):
    // the matrix never reads a gram back, an 8-byte key shuffles ~3×
    // less than the gram string, and a collision (≈ grams²/2⁶⁵) merges
    // two source sets — far below any count the oracle rounds
    val bySet = df.select(col(srcCol).as("src"),
        explode(graft.plans.TextSetExpressions.wordNgramHashSet(
          lower(col(textCol)), n)).as("g"))
      .groupBy("g").agg(sort_array(collect_set(col("src"))).as("ss"))
      .groupBy("ss").agg(count(lit(1)).as("cnt"))
      .materializeOnce(eager = false) // sizes + pair generation
    val sizes = bySet.select(explode(col("ss")).as("src"), col("cnt"))
      .groupBy("src").agg(sum("cnt").as("n_grams"))
    val pairsOf = (ss: Column) => flatten(transform(ss, (x, i) =>
      transform(slice(ss, i + 2, greatest(size(ss) - i - 1, lit(0))),
        y => struct(x.as("a"), y.as("b")))))
    val shared = bySet
      .filter(size(col("ss")) >= 2)
      .select(explode(pairsOf(col("ss"))).as("pr"), col("cnt"))
      .groupBy(col("pr.a").as("src_a"), col("pr.b").as("src_b"))
      .agg(sum("cnt").as("n_shared"))
    shared
      .join(sizes.select(col("src").as("src_a"), col("n_grams").as("n_a")),
        Seq("src_a"))
      .join(sizes.select(col("src").as("src_b"), col("n_grams").as("n_b")),
        Seq("src_b"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .select("src_a", "src_b", "n_shared", "n_a", "n_b", "jaccard")
  }

  /** Per-source KL divergence from the corpus unigram distribution —
    * the DISTRIBUTIONAL complement to [[sourceOverlap]]'s set overlap:
    * D(source ‖ corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)), the standard
    * "how far does this slice's language drift from the mix" signal a
    * domain-weighting pass reads (sources with outlier divergence are
    * over/under-weighted candidates; a near-duplicate slice reads ~0).
    * p_c covers every source token (p_s's support ⊆ p_c's), so the sum
    * is finite by construction.
    *
    * Shape at scale: one token explode partial-aggregates into
    * (source, token) counts; corpus counts fold from THOSE rows (never
    * a second corpus pass); the divergence sum is one keyed aggregation
    * over vocab-sized rows. Per-term doubles are IEEE-exact; the final
    * sum carries the engine's aggregation-order freedom, absorbed by
    * 6dp rounding at the published scale (the q68/q71 discipline).
    * Output: (src, n_tokens, n_types, kl). */
  /** Collapse runs of consecutive duplicate whitespace tokens to one
    * occurrence — the token-stream `uniq` cleaning pass ("the the",
    * stuttered boilerplate, copy-paste echo). Distinct from corpus-wide
    * line dedup ([[lineDedup]]) and the Gopher repetition SCORE
    * ([[repetitionScore]] flags, this one repairs).
    *
    * Map-only, zero shuffle at any corpus size: one higher-order
    * `filter` keeps each token whose predecessor differs (the
    * index-aware lambda compiles into the same whole-stage-codegen
    * projection as the surrounding expressions; `greatest(i, 1)` keeps
    * ANSI element_at in-bounds on the short-circuit-free first branch).
    *
    * Output: (id, n_tokens, n_kept, removed, clean_text) — clean_text
    * certifies the repaired CONTENT, not just counts. */
  def collapseTokenRuns(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = tokens(col(textCol))
    val kept = filter(t, (x, i) =>
      (i === 0) || (x =!= element_at(t, greatest(i, lit(1)))))
    df.select(col(idCol).as("id"),
        size(t).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, " ").as("clean_text"))
      .withColumn("removed", col("n_tokens") - col("n_kept"))
      .select(col("id"), col("n_tokens"), col("n_kept"), col("removed"),
        col("clean_text"))
  }

  def sourceDivergence(df: DataFrame, srcCol: String,
                       textCol: String): DataFrame = {
    val st = df.select(col(srcCol).as("src"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("src", "tok").agg(count(lit(1)).as("c"))
      .materializeOnce(eager = false) // corpus fold + divergence join
    val corpus = st.groupBy("tok").agg(sum("c").as("cc"))
      .materializeOnce(eager = false) // total + join
    val totalN = corpus.agg(coalesce(sum("cc"), lit(0L))).head().getLong(0)
      .toDouble
    val perSrc = st.groupBy("src").agg(sum("c").as("ns"))
    st.join(corpus, Seq("tok"))
      .join(perSrc, Seq("src"))
      .withColumn("__term", {
        val ps = col("c").cast("double") / col("ns").cast("double")
        val pc = col("cc").cast("double") / lit(totalN)
        ps * log(ps / pc)
      })
      .groupBy("src")
      .agg(max(col("ns")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum("__term").as("kl"))
      .select(col("src"), col("n_tokens"), col("n_types"), col("kl"))
  }

  /** `ln 2` as ONE shared double literal — the oracle SQL embeds this
    * exact value, so neither engine's own `ln(2)` rounding enters. */
  val Ln2: Double = math.log(2.0)

  /** Per-source Jensen–Shannon divergence from the corpus unigram
    * distribution, in BITS — [[sourceDivergence]]'s KL made symmetric
    * and bounded to [0, 1] (Lin 1991): KL explodes on tokens the
    * corpus has that a source lacks and is asymmetric; JSD is the
    * drift score you can threshold and compare across sources.
    *
    * Same one-pass shape as the KL: per-(src, token) counts, the
    * corpus fold, and one join. The out-of-source half of KL(Q‖M)
    * never materializes vocab × sources rows — for tokens absent from
    * the source, m = q/2 exactly, so that tail telescopes to
    * (1 − Σ_in q)·ln 2 with Σ_in q a plain aggregate over the same
    * joined frame. Per-term doubles are IEEE-exact; the sums carry
    * aggregation-order freedom absorbed by 6dp rounding (the q115
    * discipline). Output: (src, n_tokens, n_types, jsd). */
  def sourceJsDivergence(df: DataFrame, srcCol: String,
                         textCol: String): DataFrame = {
    val st = df.select(col(srcCol).as("src"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("src", "tok").agg(count(lit(1)).as("c"))
      .materializeOnce(eager = false)
    val corpus = st.groupBy("tok").agg(sum("c").as("cc"))
      .materializeOnce(eager = false)
    val totalN = corpus.agg(coalesce(sum("cc"), lit(0L))).head().getLong(0)
      .toDouble
    val perSrc = st.groupBy("src").agg(sum("c").as("ns"))
    st.join(corpus, Seq("tok"))
      .join(perSrc, Seq("src"))
      .withColumn("__p", col("c").cast("double") / col("ns").cast("double"))
      .withColumn("__q", col("cc").cast("double") / lit(totalN))
      .withColumn("__m", (col("__p") + col("__q")) / lit(2.0))
      .withColumn("__t",
        col("__p") * log(col("__p") / col("__m")) +
          col("__q") * log(col("__q") / col("__m")))
      .groupBy("src")
      .agg(max(col("ns")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum("__t").as("__in"), sum("__q").as("__qin"))
      .select(col("src"), col("n_tokens"), col("n_types"),
        ((col("__in") + (lit(1.0) - col("__qin")) * lit(Ln2)) / lit(2.0) /
          lit(Ln2)).as("jsd"))
  }

  /** Character-level Shannon entropy per document, in bits — the
    * encoding-garbage / degenerate-repetition tell (random bytes score
    * high, single-character spam scores ~0; natural text sits in a
    * band). A standard cheap quality prior next to [[qualityScore]].
    *
    * Map-only: the character histogram is a per-row fold over the
    * SORTED character array (run-length counting), and the entropy sum
    * adds term-by-term in ascending character order — a fixed
    * sequential fold both engines replay exactly (the q96 ordered-fold
    * discipline); `-Σ p·ln p / ln 2` with ln(2) as a double literal.
    * Output: (id, n_chars, n_unique, entropy). */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    val sortedChars = array_sort(
      when(length(t) >= 1,
        transform(sequence(lit(1), length(t)), i => t.substr(i, lit(1))))
      .otherwise(array().cast("array<string>")))
    val base = df.select(col(idCol).as("id"),
      length(t).cast("long").as("n_chars"), sortedChars.as("cs"))
    val nD = col("n_chars").cast("double")
    def term(run: Column): Column = {
      val p = run.cast("double") / nD
      p * log(p) // natural log; /ln2 once at the end
    }
    val folded = aggregate(
      col("cs"),
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0.0).as("acc"), lit(0L).as("uniq")),
      (st, c) => when(c === st.getField("prev"),
        struct(st.getField("prev").as("prev"),
          (st.getField("run") + 1L).as("run"),
          st.getField("acc").as("acc"), st.getField("uniq").as("uniq")))
        .otherwise(struct(c.as("prev"), lit(1L).as("run"),
          (st.getField("acc") +
            when(st.getField("run") > 0L, term(st.getField("run")))
              .otherwise(lit(0.0))).as("acc"),
          (st.getField("uniq") + 1L).as("uniq"))),
      st => struct(
        (st.getField("acc") +
          when(st.getField("run") > 0L, term(st.getField("run")))
            .otherwise(lit(0.0))).as("acc"),
        st.getField("uniq").as("uniq")))
    val ln2 = 0.6931471805599453
    base.select(col("id"), col("n_chars"), folded.as("f"))
      .select(col("id"), col("n_chars"), col("f.uniq").as("n_unique"),
        // -0.0 normalizes to 0.0 (single-char docs; empty docs): the
        // SQL `= 0` guard both engines share
        when(-col("f.acc") / lit(ln2) === 0.0, lit(0.0))
          .otherwise(-col("f.acc") / lit(ln2)).as("entropy"))
  }

  /** CCNet-style unigram LM quality (Wenzek et al. 2020 use a 5-gram
    * KenLM; the unigram form is the model-free tier): each document
    * scores by the mean log10 probability of its tokens under the
    * corpus unigram distribution, Laplace-smoothed —
    * p(t) = (count(t) + 1) / (total + 1), OOV tokens count 0. Low
    * scores flag token soup (rare-word jumble, encoding garbage);
    * anomalously high scores flag stopword-stuffed boilerplate —
    * both standard pre-training filter signals.
    *
    * Scale shape (the [[boilerplateFraction]] pattern): two map-only
    * explodes, never a materialized corpus-sized token stream. Pass 1
    * aggregates (token, count) — vocab-sized, materialized once for its
    * two consumers (total + top-V). The top-`vocabSize` vocabulary is a
    * bounded TakeOrdered and broadcasts back into pass 2; tokens outside
    * it score as OOV, which at 100 TB is the honest contract (the tail
    * beyond top-64k carries negligible probability mass by Zipf). Total
    * token count is integer — exact and order-independent. Output:
    * (id, n_tokens, avg_logp) with empty docs at (0, 0.0) — one row
    * per input row; `idCol` is expected unique (ADVICE r20: the legacy
    * path's groupBy(id) merged duplicate ids as an artifact). */
  def unigramQuality(df: DataFrame, idCol: String, textCol: String,
                     vocabSize: Int = 65536): DataFrame = {
    val counts = df
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .materializeOnce(eager = false) // two consumers: total + vocab
    val total = counts.agg(coalesce(sum("c"), lit(0L))).head().getLong(0).toDouble
    // round 20 (guide §2.4): the top-V vocabulary was ALREADY a
    // driver-bounded table (TakeOrdered, <= vocabSize rows) feeding a
    // broadcast join; collecting it instead and scoring through the
    // map-only [[graft.plans.UnigramScore]] kernel removes the scoring
    // explode, the broadcast join, and the groupBy(id) shuffle — the
    // same text-order logp fold, value-pinned against the retained
    // column path in TextAnalysisSpec/HashedGramExpressionsSpec.
    val vocab = counts.orderBy(desc("c"), asc("tok")).limit(vocabSize)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    df.select(col(idCol).as("id"),
        graft.plans.UnigramScore(lower(col(textCol)), vocab,
          total + 1.0).as("__u"))
      .select(col("id"),
        // NULL text -> NULL struct; legacy explode_outer scored zeros
        coalesce(col("__u.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("__u.avg_logp"), lit(0.0)).as("avg_logp"))
  }

  /** Interpolated-bigram LM quality — the next tier of the [[
    * unigramQuality]] perplexity filter (CCNet interpolates up to
    * 5-grams; bigrams capture the word-order signal a unigram model is
    * blind to: shuffled-token spam scores identically to prose under
    * unigrams, far lower here). Per position i >= 2:
    * p = lambda * c(w_{i-1} w_i)/ctx(w_{i-1}) + (1-lambda) *
    * (c(w_i)+1)/(N+1); the score is the mean log10 p.
    *
    * Scale shape: unlike the top-V unigram vocab, the bigram table is
    * NOT vocabulary-bounded — it grows with the corpus and cannot
    * broadcast. Scoring is therefore a shuffle join keyed on the
    * (prev, cur) pair: only token-pair rows ever shuffle (never text),
    * counts partial-aggregate map-side, and the context totals derive
    * from the bigram table itself — no third pass over the corpus. A
    * deployment that cannot afford the bigram join swaps in a
    * count-min sketch of the counts; the interpolation contract is
    * unchanged.
    *
    * Output: (id, n_bigrams, avg_logp); docs with < 2 tokens score a
    * neutral (0, 0.0). */
  def bigramQuality(df: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.9): DataFrame = {
    def bigramsOf(textCol2: Column): Column =
      graft.functions.TextFunctions.bigramPairs(tokens(lower(textCol2)))
    val uni = df.select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
      .materializeOnce(eager = false) // two consumers: total + scoring join
    val totalN = uni.agg(coalesce(sum("cu"), lit(0L))).head().getLong(0).toDouble
    val bi = df.select(explode(bigramsOf(col(textCol))).as("bg"))
      .select(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
      .materializeOnce(eager = false) // two consumers: ctx totals + scoring join
    val ctx = bi.groupBy("prev").agg(sum("cb").as("cctx"))
    val stream = df.select(col(idCol).as("id"),
        explode_outer(bigramsOf(col(textCol))).as("bg"))
      .select(col("id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    stream
      .join(bi, Seq("prev", "cur"), "left")
      .join(ctx, Seq("prev"), "left")
      .join(uni.withColumnRenamed("tok", "cur"), Seq("cur"), "left")
      .withColumn("p",
        lit(lambda) * when(col("cctx").isNotNull,
            coalesce(col("cb"), lit(0L)).cast("double") /
              col("cctx").cast("double"))
          .otherwise(lit(0.0)) +
        lit(1.0 - lambda) *
          ((coalesce(col("cu"), lit(0L)).cast("double") + lit(1.0)) /
            lit(totalN + 1.0)))
      .groupBy("id")
      .agg(count(col("prev")).as("n_bigrams"),
        coalesce(avg(when(col("prev").isNotNull, log10(col("p")))), lit(0.0))
          .as("avg_logp"))
  }

  /** Interpolated-TRIGRAM LM quality — the third tier of the LM
    * perplexity filter (CCNet's reference setup is a 5-gram KenLM;
    * Wenzek et al. 2019 §4.3). Per trigram position i >= 3:
    *
    *   p = λ3·c(w_{i-2} w_{i-1} w_i)/ctx2(w_{i-2}, w_{i-1})
    *     + λ2·c(w_{i-1} w_i)/ctx1(w_{i-1})
    *     + (1−λ3−λ2)·(c(w_i)+1)/(N+1)
    *
    * — classic deleted interpolation (Jelinek-Mercer): each tier backs
    * off to the next when its context is unseen, and the unigram floor
    * is add-one smoothed so p never hits 0.
    *
    * Scale shape extends [[bigramQuality]]'s: the trigram and bigram
    * tables grow with the corpus and CANNOT broadcast, so scoring is
    * shuffle joins keyed on the (p2, p1, cur) / (p1, cur) token tuples —
    * only n-gram tuple rows shuffle, never document text, counts
    * partial-aggregate map-side, and both context-total tables derive
    * from the count tables themselves (no extra corpus pass). The
    * trigram table is the biggest object in the job: SCALE.md records
    * its measured growth at 10× (near-linear in corpus tokens — n-gram
    * type counts follow Heaps' law, not combinatorial blowup).
    *
    * Output: (id, n_trigrams, avg_logp); docs with < 3 tokens score a
    * neutral (0, 0.0). */
  def trigramQuality(df: DataFrame, idCol: String, textCol: String,
                     lambda3: Double = 0.6, lambda2: Double = 0.3): DataFrame = {
    def toks(c: Column) = tokens(lower(c))
    def trisOf(c: Column) = graft.functions.TextFunctions.trigramTriples(toks(c))
    def bisOf(c: Column) = graft.functions.TextFunctions.bigramPairs(toks(c))
    val uni = df.select(explode(toks(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
      .materializeOnce(eager = false) // two consumers: total + scoring join
    val totalN = uni.agg(coalesce(sum("cu"), lit(0L))).head().getLong(0).toDouble
    val bi = df.select(explode(bisOf(col(textCol))).as("bg"))
      .select(col("bg.prev").as("p1"), col("bg.cur").as("cur"))
      .groupBy("p1", "cur").agg(count(lit(1)).as("cb"))
      .materializeOnce(eager = false) // two consumers: ctx1 totals + scoring join
    val ctx1 = bi.groupBy("p1").agg(sum("cb").as("cctx1"))
    val tri = df.select(explode(trisOf(col(textCol))).as("tg"))
      .select(col("tg.p2").as("p2"), col("tg.p1").as("p1"), col("tg.cur").as("cur"))
      .groupBy("p2", "p1", "cur").agg(count(lit(1)).as("ctr"))
      .materializeOnce(eager = false) // two consumers: ctx2 totals + scoring join
    val ctx2 = tri.groupBy("p2", "p1").agg(sum("ctr").as("cctx2"))
    val stream = df.select(col(idCol).as("id"),
        explode_outer(trisOf(col(textCol))).as("tg"))
      .select(col("id"), col("tg.p2").as("p2"), col("tg.p1").as("p1"),
        col("tg.cur").as("cur"))
    stream
      .join(tri, Seq("p2", "p1", "cur"), "left")
      .join(ctx2, Seq("p2", "p1"), "left")
      .join(bi, Seq("p1", "cur"), "left")
      .join(ctx1, Seq("p1"), "left")
      .join(uni.withColumnRenamed("tok", "cur"), Seq("cur"), "left")
      .withColumn("p",
        lit(lambda3) * when(col("cctx2").isNotNull,
            coalesce(col("ctr"), lit(0L)).cast("double") /
              col("cctx2").cast("double"))
          .otherwise(lit(0.0)) +
        lit(lambda2) * when(col("cctx1").isNotNull,
            coalesce(col("cb"), lit(0L)).cast("double") /
              col("cctx1").cast("double"))
          .otherwise(lit(0.0)) +
        lit(1.0 - lambda3 - lambda2) *
          ((coalesce(col("cu"), lit(0L)).cast("double") + lit(1.0)) /
            lit(totalN + 1.0)))
      .groupBy("id")
      .agg(count(col("p2")).as("n_trigrams"),
        coalesce(avg(when(col("p2").isNotNull, log10(col("p")))), lit(0.0))
          .as("avg_logp"))
  }

  /** All length-`n` token windows of a token array, as
    * `array<array<string>>` — the generic n-gram extractor behind
    * [[ngramQuality]] (bigramPairs/trigramTriples are the struct-shaped
    * fixed-order forms the certified q74/q87 tiers keep using). */
  private def gramWindows(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - n + 1), i => slice(toks, i, lit(n))))
      .otherwise(typedLit(Seq.empty[Seq[String]]))

  /** Interpolated n-gram LM quality for ANY order — the generalization
    * of [[bigramQuality]]/[[trigramQuality]] that reaches CCNet's
    * published 5-gram operating point (Wenzek et al. 2019 §4.4 score
    * with a 5-gram KenLM). Per position i >= order:
    *
    *   p = λ_n·c_n(w_{i-n+1..i})/ctx_{n-1}
    *     + λ_{n-1}·c_{n-1}(w_{i-n+2..i})/ctx_{n-2} + …
    *     + (1 − Σλ)·(c(w_i)+1)/(N+1)
    *
    * — classic deleted interpolation (Jelinek-Mercer): every tier backs
    * off to the next when its context is unseen, and the add-one
    * unigram floor keeps p > 0. `lambdas` are the weights for tiers
    * order, order−1, …, 2 (so `lambdas.length == order−1`); the unigram
    * weight is the left-fold remainder `1.0 − λ_n − … − λ_2`, restated
    * exactly that way in oracles for IEEE parity.
    *
    * Scale shape is [[trigramQuality]]'s, per tier: each n-gram count
    * table grows with the corpus and CANNOT broadcast, so scoring is
    * one shuffle join per tier keyed on the token window (an
    * `array<string>` equi-join key) — only window rows shuffle, never
    * document text; counts partial-aggregate map-side; each context
    * table derives from its count table (no extra corpus pass). Table
    * growth by order is measured in SCALE.md ("n-gram table growth"):
    * Heaps-law sublinear types per tier, not combinatorial blowup.
    *
    * Output: (id, n_ngrams, avg_logp); docs with < order tokens score a
    * neutral (0, 0.0). */
  def ngramQuality(df: DataFrame, idCol: String, textCol: String,
                   order: Int, lambdas: Seq[Double]): DataFrame = {
    require(order >= 2, s"order must be >= 2, got $order")
    require(lambdas.length == order - 1,
      s"need ${order - 1} lambdas for order $order (tiers $order..2)")
    def toks(c: Column) = tokens(lower(c))
    val uni = df.select(explode(toks(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
      .materializeOnce(eager = false) // two consumers: total + scoring join
    val totalN = uni.agg(coalesce(sum("cu"), lit(0L))).head().getLong(0).toDouble
    // per-tier count + context tables, k = 2..order
    val tiers = (2 to order).map { k =>
      val cnt = df.select(explode(gramWindows(toks(col(textCol)), k)).as("g"))
        .groupBy("g").agg(count(lit(1)).as(s"c$k"))
        .materializeOnce(eager = false) // ctx totals + scoring join
      val ctx = cnt.groupBy(slice(col("g"), 1, k - 1).as("p"))
        .agg(sum(s"c$k").as(s"cctx${k - 1}"))
      (k, cnt, ctx)
    }
    var joined = df.select(col(idCol).as("id"),
      explode_outer(gramWindows(toks(col(textCol)), order)).as("g"))
    for (k <- 2 to order)
      joined = joined
        .withColumn(s"__k$k", slice(col("g"), order - k + 1, k))
        .withColumn(s"__p${k - 1}", slice(col("g"), order - k + 1, k - 1))
    for ((k, cnt, ctx) <- tiers)
      joined = joined
        .join(cnt.withColumnRenamed("g", s"__k$k"), Seq(s"__k$k"), "left")
        .join(ctx.withColumnRenamed("p", s"__p${k - 1}"), Seq(s"__p${k - 1}"), "left")
    joined = joined
      .withColumn("__cur", element_at(col("g"), order))
      .join(uni.withColumnRenamed("tok", "__cur"), Seq("__cur"), "left")
    // interpolation, highest tier first, left-associated — the exact op
    // order [[trigramQuality]] certifies and the oracles restate
    var p: Column = lit(lambdas.head) *
      when(col(s"cctx${order - 1}").isNotNull,
        coalesce(col(s"c$order"), lit(0L)).cast("double") /
          col(s"cctx${order - 1}").cast("double")).otherwise(lit(0.0))
    for ((lam, k) <- lambdas.tail.zip((order - 1) to 2 by -1))
      p = p + lit(lam) *
        when(col(s"cctx${k - 1}").isNotNull,
          coalesce(col(s"c$k"), lit(0L)).cast("double") /
            col(s"cctx${k - 1}").cast("double")).otherwise(lit(0.0))
    val lamUni = lambdas.foldLeft(1.0)(_ - _) // left-fold: oracle restates
    p = p + lit(lamUni) *
      ((coalesce(col("cu"), lit(0L)).cast("double") + lit(1.0)) /
        lit(totalN + 1.0))
    joined.withColumn("__p", p)
      .groupBy("id")
      .agg(count(col("g")).as("n_ngrams"),
        coalesce(avg(when(col("g").isNotNull, log10(col("__p")))), lit(0.0))
          .as("avg_logp"))
  }

  /** Interpolated Kneser-Ney trigram LM quality (Kneser & Ney 1995;
    * Chen & Goodman 1998 §3 interpolated form) — the smoothing family
    * KenLM (CCNet's actual scorer) uses, one tier deeper than the
    * Jelinek-Mercer interpolation of [[trigramQuality]]/[[ngramQuality]]:
    * lower orders use CONTINUATION counts (how many distinct contexts a
    * gram completes) instead of raw frequencies, so "san francisco"'s
    * frequent "francisco" stops inflating unigram backoff mass.
    *
    *   P(w|a,b) = max(c3−D3,0)/ctx3(a,b)
    *            + D3·N1+(a,b,·)/ctx3(a,b) · [
    *                max(cc2(b,w)−D2,0)/cctot2(b)
    *              + D2·N1+'(b,·)/cctot2(b) · cc1(w)/cctot1 ]
    *
    * with cc2(b,w) = |{a : c3(a,b,w)>0}| (trigram-type continuation),
    * cc1(w) = |{b : c2(b,w)>0}| (bigram-type continuation), and the Ney
    * absolute discounts D_k = n1/(n1 + 2·n2) estimated from the
    * count-of-count statistics of each tier's own counts (0.5 when the
    * corpus has no count-1/2 mass to estimate from). Every scored
    * position's denominators are ≥ 1 by construction (self-corpus
    * scoring: the trigram exists, so its suffix types exist), so p > 0
    * with no add-one floor.
    *
    * Scale shape = [[trigramQuality]]'s: tuple-keyed count tables that
    * partial-aggregate map-side and CANNOT broadcast; continuation
    * tables derive FROM the count tables (type-counting groupBys — no
    * extra corpus pass); the three discount/total scalars are one tiny
    * agg each, broadcast into the plan. Output: (id, n_trigrams,
    * avg_logp); docs with < 3 tokens score a neutral (0, 0.0). */
  def knTrigramQuality(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    def toks(c: Column) = tokens(lower(c))
    def trisOf(c: Column) = graft.functions.TextFunctions.trigramTriples(toks(c))
    def bisOf(c: Column) = graft.functions.TextFunctions.bigramPairs(toks(c))
    val tri = df.select(explode(trisOf(col(textCol))).as("tg"))
      .select(col("tg.p2").as("p2"), col("tg.p1").as("p1"), col("tg.cur").as("cur"))
      .groupBy("p2", "p1", "cur").agg(count(lit(1)).as("c3"))
      .materializeOnce(eager = false) // ctx3 + cc2 + discount stats + scoring
    val ctx3 = tri.groupBy("p2", "p1")
      .agg(sum("c3").as("ctx3"), count(lit(1)).as("nfollow"))
    val cc2 = tri.groupBy("p1", "cur").agg(count(lit(1)).as("cc2"))
      .materializeOnce(eager = false) // cctot2 + discount stats + scoring
    val cctot2 = cc2.groupBy("p1")
      .agg(sum("cc2").as("cctot2"), count(lit(1)).as("n1p2"))
    val bi = df.select(explode(bisOf(col(textCol))).as("bg"))
      .select(col("bg.prev").as("p1"), col("bg.cur").as("cur"))
      .groupBy("p1", "cur").agg(count(lit(1)).as("cb"))
      .materializeOnce(eager = false) // cc1 + cctot1
    val cc1 = bi.groupBy("cur").agg(count(lit(1)).as("cc1"))
    // Ney discounts + the unigram-continuation total: three scalar aggs
    def discount(counts: DataFrame, cCol: String): Double = {
      val r = counts.agg(
        coalesce(sum(when(col(cCol) === 1, 1L)), lit(0L)),
        coalesce(sum(when(col(cCol) === 2, 1L)), lit(0L))).head()
      val (n1, n2) = (r.getLong(0), r.getLong(1))
      if (n1 + 2 * n2 == 0) 0.5 else n1.toDouble / (n1 + 2 * n2).toDouble
    }
    val d3 = discount(tri, "c3")
    val d2 = discount(cc2, "cc2")
    val cctot1 = bi.count().toDouble // total bigram TYPES
    val stream = df.select(col(idCol).as("id"),
        explode_outer(trisOf(col(textCol))).as("tg"))
      .select(col("id"), col("tg.p2").as("p2"), col("tg.p1").as("p1"),
        col("tg.cur").as("cur"))
    stream
      .join(tri, Seq("p2", "p1", "cur"), "left")
      .join(ctx3, Seq("p2", "p1"), "left")
      .join(cc2, Seq("p1", "cur"), "left")
      .join(cctot2, Seq("p1"), "left")
      .join(cc1, Seq("cur"), "left")
      .withColumn("__p",
        greatest(col("c3").cast("double") - lit(d3), lit(0.0)) /
          col("ctx3").cast("double") +
        (lit(d3) * col("nfollow").cast("double") / col("ctx3").cast("double")) *
          (greatest(col("cc2").cast("double") - lit(d2), lit(0.0)) /
            col("cctot2").cast("double") +
           (lit(d2) * col("n1p2").cast("double") / col("cctot2").cast("double")) *
             (col("cc1").cast("double") / lit(cctot1))))
      .groupBy("id")
      .agg(count(col("p2")).as("n_trigrams"),
        coalesce(avg(when(col("p2").isNotNull, log10(col("__p")))), lit(0.0))
          .as("avg_logp"))
  }

  /** Interpolated Kneser-Ney for ANY order — [[knTrigramQuality]]'s
    * recursion generalized with window-array tables, reaching KenLM's
    * LITERAL configuration (5-gram modified-KN family; this is the
    * single-discount interpolated form at order 5). Tier k < order uses
    * continuation counts cc_k(g) = |{w : the (k+1)-gram w·g exists}|
    * derived from the raw (k+1)-gram TYPE table (Chen & Goodman 1998
    * eq. 18), discounts D_k = n1/(n1+2·n2) from each tier's own count
    * distribution, and the interpolation nests
    *
    *   P_k = max(cc_k−D_k,0)/S_k + D_k·N1+_k/S_k · P_{k−1}
    *
    * down to the type-ratio unigram. Self-corpus scoring keeps every
    * denominator ≥ 1 (the q119 argument), so p > 0 floor-free.
    *
    * Scale shape: the raw top-order count table + one DISTINCT window
    * pass per lower tier (types ≤ entries, so each is no bigger than
    * the tier tables [[ngramQuality]] already carries); scoring is one
    * window-keyed equi-join per tier; text never shuffles. Output:
    * (id, n_ngrams, avg_logp); docs with < order tokens score (0, 0.0). */
  def knQuality(df: DataFrame, idCol: String, textCol: String,
                order: Int): DataFrame = {
    require(order >= 2, s"order must be >= 2, got $order")
    def toks(c: Column) = tokens(lower(c))
    def winDf(k: Int): DataFrame = df
      .select(explode(gramWindows(toks(col(textCol)), k)).as("g"))
    // top tier: raw counts + context totals
    val topCnt = winDf(order).groupBy("g")
      .agg(count(lit(1)).as(s"c$order"))
      .materializeOnce(eager = false) // ctx + cc(order-1) + D + scoring
    val ctxTop = topCnt.groupBy(slice(col("g"), 1, order - 1).as("p"))
      .agg(sum(s"c$order").as("ctxN"), count(lit(1)).as("nfollowN"))
    def discountOf(counts: DataFrame, cCol: String): Double = {
      val r = counts.agg(
        coalesce(sum(when(col(cCol) === 1, 1L)), lit(0L)),
        coalesce(sum(when(col(cCol) === 2, 1L)), lit(0L))).head()
      val (n1, n2) = (r.getLong(0), r.getLong(1))
      if (n1 + 2 * n2 == 0) 0.5 else n1.toDouble / (n1 + 2 * n2).toDouble
    }
    val dTop = discountOf(topCnt, s"c$order")
    // lower tiers k = order-1 .. 1: continuation counts from the raw
    // (k+1)-gram TYPE table; types at order come from topCnt itself
    case class Tier(k: Int, cc: DataFrame, tot: Option[DataFrame], d: Double)
    val tiers = (1 until order).reverse.map { k =>
      val types =
        if (k + 1 == order) topCnt.select("g")
        else winDf(k + 1).distinct()
      val cc = types.groupBy(slice(col("g"), 2, k).as("s"))
        .agg(count(lit(1)).as(s"cc$k"))
        .materializeOnce(eager = false) // totals + discount + scoring
      if (k >= 2) {
        val tot = cc.groupBy(slice(col("s"), 1, k - 1).as("p"))
          .agg(sum(s"cc$k").as(s"cctot$k"), count(lit(1)).as(s"n1p$k"))
        Tier(k, cc, Some(tot), discountOf(cc, s"cc$k"))
      } else Tier(1, cc, None, 0.0)
    }
    val cctot1 = (if (order == 2) topCnt.select("g") else winDf(2).distinct())
      .count().toDouble
    var joined = df.select(col(idCol).as("id"),
      explode_outer(gramWindows(toks(col(textCol)), order)).as("g"))
    joined = joined
      .join(topCnt, Seq("g"), "left")
      .join(ctxTop.withColumnRenamed("p", "__pt"),
        slice(col("g"), 1, order - 1) === col("__pt"), "left")
      .drop("__pt")
    for (t <- tiers) {
      joined = joined.join(
        t.cc.withColumnRenamed("s", s"__s${t.k}"),
        slice(col("g"), order - t.k + 1, t.k) === col(s"__s${t.k}"), "left")
        .drop(s"__s${t.k}")
      t.tot.foreach { tot =>
        joined = joined.join(
          tot.withColumnRenamed("p", s"__u${t.k}"),
          slice(col("g"), order - t.k + 1, t.k - 1) === col(s"__u${t.k}"), "left")
          .drop(s"__u${t.k}")
      }
    }
    // interpolation, innermost (type-ratio unigram) outward — the q119
    // expression tree at every nesting level
    var p: Column = col("cc1").cast("double") / lit(cctot1)
    for (t <- tiers.reverse if t.k >= 2)
      p = greatest(col(s"cc${t.k}").cast("double") - lit(t.d), lit(0.0)) /
            col(s"cctot${t.k}").cast("double") +
          (lit(t.d) * col(s"n1p${t.k}").cast("double") /
            col(s"cctot${t.k}").cast("double")) * p
    p = greatest(col(s"c$order").cast("double") - lit(dTop), lit(0.0)) /
          col("ctxN").cast("double") +
        (lit(dTop) * col("nfollowN").cast("double") /
          col("ctxN").cast("double")) * p
    joined.withColumn("__p", p)
      .groupBy("id")
      .agg(count(col("g")).as("n_ngrams"),
        coalesce(avg(when(col("g").isNotNull, log10(col("__p")))), lit(0.0))
          .as("avg_logp"))
  }

  /** CCNet's published operating point: interpolated 5-gram LM quality
    * (Wenzek et al. §4.4). Weights 0.4/0.25/0.2/0.1 for tiers 5..2 and
    * the left-fold remainder 0.05 as the add-one unigram floor. */
  def fivegramQuality(df: DataFrame, idCol: String, textCol: String,
                      lambdas: Seq[Double] = Seq(0.4, 0.25, 0.2, 0.1)): DataFrame =
    ngramQuality(df, idCol, textCol, order = 5, lambdas)
      .withColumnRenamed("n_ngrams", "n_fivegrams")

  /** CCNet perplexity bucketing (Wenzek et al. 2019 §4.4): split the
    * corpus into head / middle / tail terciles by LM quality — head is
    * the BEST-scoring third (highest [[unigramQuality]] avg log-prob =
    * lowest perplexity), the tier CCNet keeps for training; tail is
    * what it drops or demotes.
    *
    * Assignment is by GLOBAL RANK with a deterministic (score desc, id
    * asc) tie-break, not by value thresholds — integer-exact, so the
    * bucketing certifies cross-engine with no float boundary beyond the
    * q68-certified 6dp score itself. Scale shape is the
    * [[ImportanceSampling.resampleTop]] distributed prefix pattern,
    * NOT a single-partition window: range-partition + local sort on
    * (key desc, id), per-partition counts prefix-scanned into global
    * rank offsets (driver metadata, `parts` rows), then one map-only
    * pass labels each row from its running rank. Bucket edges are
    * k1 = ceil(n/3), k2 = ceil(2n/3).
    *
    * Output: id, n_tokens, lm_key (the 6dp-rounded avg_logp the rank
    * orders by), rank, bucket — globally sorted by (lm_key desc, id),
    * the order a curation write wants anyway. */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
                   vocabSize: Int = 65536,
                   /** rank key tier: "unigram" (default), "bigram", or
                     * "trigram" — higher tiers see word order, so
                     * shuffled-token spam drops out of the head bucket.
                     * `n_tokens` then counts that tier's scoring units
                     * (tokens / bigram / trigram positions). */
                   tier: String = "unigram"): DataFrame = {
    val scoredTier = tier match {
      case "unigram" => unigramQuality(df, idCol, textCol, vocabSize)
        .select(col("id"), col("n_tokens"), col("avg_logp"))
      case "bigram" => bigramQuality(df, idCol, textCol)
        .select(col("id"), col("n_bigrams").as("n_tokens"), col("avg_logp"))
      case "trigram" => trigramQuality(df, idCol, textCol)
        .select(col("id"), col("n_trigrams").as("n_tokens"), col("avg_logp"))
      case "fivegram" => fivegramQuality(df, idCol, textCol)
        .select(col("id"), col("n_fivegrams").as("n_tokens"), col("avg_logp"))
      case other => throw new IllegalArgumentException(
        s"unknown LM tier '$other' (supported: unigram, bigram, trigram, fivegram)")
    }
    ccnetBucketsFromScores(scoredTier)
  }

  /** [[ccnetBuckets]]'s ranking half over a PRECOMPUTED scoring frame
    * (id, n_tokens, avg_logp) — the LM tier is a deterministic
    * build-once artifact, so a caller running both the quality query
    * and the bucket query should score once and feed the cached frame
    * here instead of paying the n-gram joins twice. */
  def ccnetBucketsFromScores(scoredTier: DataFrame): DataFrame = {
    val spark = scoredTier.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val scored = scoredTier
      .select(col("id"), col("n_tokens"), col("avg_logp"))
      .select(col("id"), col("n_tokens"),
        round(col("avg_logp"), 6).as("lm_key"))
      .materializeOnce(eager = false) // range sampling + shuffle passes
    val ordered = scored
      .repartitionByRange(parts, col("lm_key").desc, col("id").asc)
      .sortWithinPartitions(col("lm_key").desc, col("id").asc)
      .materializeOnce(eager = false) // both passes must see one split
    val counts = ordered
      .select(org.apache.spark.sql.functions.spark_partition_id().as("__pid"))
      .groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L)).toArray
    val n = offsets(parts)
    val k1 = math.ceil(n / 3.0).toLong
    val k2 = math.ceil(2.0 * n / 3.0).toLong
    val outSchema = ordered.schema
      .add("rank", org.apache.spark.sql.types.LongType, nullable = false)
      .add("bucket", org.apache.spark.sql.types.StringType, nullable = false)
    ordered.mapPartitions { it =>
      var rank = offsets(org.apache.spark.TaskContext.getPartitionId())
      it.map { r =>
        rank += 1
        val b = if (rank <= k1) "head" else if (rank <= k2) "middle" else "tail"
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ rank :+ b)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Per-stratum unigram LM quality — CCNet's actual shape (Wenzek et
    * al. 2019 train ONE KenLM PER LANGUAGE and score each document
    * against its own language's model; a single global LM penalizes
    * every minority language as "unlikely text"). Same Laplace-smoothed
    * mean-log10-prob contract as [[unigramQuality]], with counts and
    * totals keyed by (stratum, token).
    *
    * Shape at scale: one token explode partial-aggregates into a
    * (stratum, token)-keyed count table that joins back by key (an
    * equi-join, not a broadcast — per-language vocabs at corpus scale
    * are together bigger than one top-V table, and the join keeps each
    * language's counts co-partitioned with its tokens). Empty docs
    * score (0, 0.0). Output: (id, stratum, n_tokens, avg_logp). */
  def unigramQualityPerStratum(df: DataFrame, idCol: String,
                               textCol: String, strataCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"), col(strataCol).as("stratum"),
        explode_outer(tokens(lower(col(textCol)))).as("tok"))
      .materializeOnce(eager = false) // counts + scoring join
    val counts = toks.filter(col("tok").isNotNull)
      .groupBy("stratum", "tok").agg(count(lit(1)).as("c"))
      .materializeOnce(eager = false) // totals + scoring join
    val totals = counts.groupBy("stratum")
      .agg(sum("c").as("n"))
    toks
      .join(counts, Seq("stratum", "tok"), "left")
      .join(totals, Seq("stratum"), "left")
      .groupBy("id", "stratum")
      .agg(count(col("tok")).as("n_tokens"),
        coalesce(avg(when(col("tok").isNotNull,
          log10((col("c").cast("double") + 1.0) /
            (col("n").cast("double") + 1.0)))), lit(0.0)).as("avg_logp"))
  }

  /** CCNet buckets PER STRATUM — head/middle/tail terciles by LM rank
    * WITHIN each language (Wenzek et al. bucket each language
    * independently; [[ccnetBucketsFromScores]] is the global form).
    * `scoredTier` carries (id, <strataCol>, n_tokens, avg_logp) — feed
    * it [[unigramQualityPerStratum]] for the faithful per-language
    * pipeline. Rank is [[Sampling.stratumRank]]'s distributed
    * per-stratum prefix rank on (lm_key desc, id asc) — integer-exact
    * assignment, never a per-language Window. Edges k1 = ceil(n/3),
    * k2 = ceil(2n/3) per stratum. */
  def ccnetBucketsPerStratum(scoredTier: DataFrame,
                             strataCol: String): DataFrame = {
    val scored = scoredTier
      .select(col("id"), col(strataCol).as("stratum"), col("n_tokens"),
        round(col("avg_logp"), 6).as("lm_key"))
      .materializeOnce(eager = false) // range sampling + shuffle passes
    val ranked = Sampling.stratumRank(scored, "stratum",
      Seq(col("lm_key").desc, col("id").asc), "rank", "__n")
    ranked.withColumn("bucket",
        when(col("rank") <= ceil(col("__n").cast("double") / 3.0), "head")
          .when(col("rank") <= ceil(lit(2.0) * col("__n").cast("double") / 3.0),
            "middle")
          .otherwise("tail"))
      .drop("__n")
  }

  /** TF-IDF per (doc, term): tf * ln(N / df). Two aggregations over one
    * token explode — term frequencies per doc, then document frequencies
    * from the per-doc rows (never a second corpus scan). N (corpus size)
    * is a scalar broadcast into the plan, not a window over everything. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df
      .select(col(idCol).as("id"), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .materializeOnce(eager = false) // reused: df counts + join back
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.select(col(idCol)).distinct().count().toDouble
    tf.join(dfreq, "term")
      .withColumn("tfidf",
        col("tf").cast("double") * log(lit(n) / col("df").cast("double")))
      .select("id", "term", "tf", "df", "tfidf")
  }

  /** Top TF-IDF term per document (ties broken by term). */
  def topTfIdfTerm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(desc("tfidf"), asc("term"))
    tfIdf(df, idCol, textCol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }
}
