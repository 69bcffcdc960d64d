package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Materialize.MatOps

/** Full-text search as a derived postings table + BM25 ranking.
  *
  * The reference maintains an FTS5 inverted index with sync triggers
  * (/root/reference/src/services/LibSQLDatabase.ts:730-733,886-913) and
  * ranks with FTS5's BM25-family `rank` (:437,451). On Spark the inverted
  * index is a *relational* artifact: a postings DataFrame
  * `(term, docId, tf)` built with `explode` + `groupBy`, persisted/bucketed
  * by term at scale so a query term probe is a pruned scan instead of a
  * full pass. "Index maintenance" is an incremental append at ingest —
  * no triggers.
  *
  * Scoring is standard BM25 (k1=1.2, b=0.75 — SURVEY.md §7.3 defines
  * parity at the ranking level, not FTS5's exact constants):
  * `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`,
  * `score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·len/avgdl))`.
  * All inputs (tf, df, N, len, avgdl) are exact integers/ratios, so the
  * double math is per-row deterministic — reproducible across engines.
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

  /** Bucket count for the persisted postings layout: the index is
    * hive-partitioned on `__tb = portableHash32(term) % TermBuckets`, so
    * a query-term probe computes its buckets driver-side and partition
    * pruning skips (TermBuckets - |query buckets|)/TermBuckets of the
    * index files — the relational analog of FTS5's term lookup
    * (reference LibSQLDatabase.ts:410-437). Within each bucket the rows
    * are term-sorted for parquet row-group pruning. */
  val TermBuckets = 32

  /** Driver-side twin of [[graft.functions.TextFunctions.portableHash32]]
    * (first 8 md5 hex chars as an unsigned int) mod [[TermBuckets]] —
    * MUST stay bit-identical to [[termBucketCol]] or probes read the
    * wrong partitions. */
  def termBucket(term: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % TermBuckets).toInt
  }

  /** Column-side bucket id, used when writing the persisted index. */
  def termBucketCol(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(TextFunctions.portableHash32(term), lit(TermBuckets)).cast("int")

  /** Index tokenizer: split on ANY whitespace run. Chunk content keeps
    * newlines (the markdown chunker only collapses spaces/tabs), so a
    * single-space split would glue line-adjacent words into unmatchable
    * terms — every heading word would vanish from the index. */
  private def indexTokens(text: org.apache.spark.sql.Column) =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Build the postings table `(term, id, tf)` plus doc lengths
    * `(id, doclen)` from a corpus `(idCol, textCol)`. */
  def postings(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus
      .select(col(idCol).as("id"),
        explode(indexTokens(col(textCol))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))

  def docLengths(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol).as("id"),
      size(indexTokens(col(textCol))).as("doclen"))

  /** One-pass postings with DENORMALIZED doc length: `(id, term, tf,
    * doclen)`. `doclen` rides the groupBy key (functionally dependent
    * on `id`, so the key cardinality is unchanged — zero extra
    * shuffle), which means a query's probe slice carries its own
    * lengths and scoring never joins a corpus-sized lens table. This is
    * the persisted-index write shape: at 100 TB the per-query cost of
    * the old layout was a full `fts_lens` scan + corpus-wide join;
    * with doclen in the postings row it is zero. Empty documents have
    * no postings rows — corpus-level N/avgdl must come from the stats
    * row / lens table, never from distinct postings ids. */
  def postingsWithLen(corpus: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    corpus
      .select(col(idCol).as("id"), indexTokens(col(textCol)).as("__toks"))
      .select(col("id"), size(col("__toks")).as("doclen"),
        explode(col("__toks")).as("term"))
      .groupBy("id", "doclen", "term")
      .agg(count(lit(1)).as("tf"))

  /** Positional postings `(id, pos, term)` — the phrase-query tier of
    * the index (FTS5 "exact phrase" support). `pos` is the 0-based
    * ordinal in the same token stream as [[postings]]. */
  def positionalPostings(corpus: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    corpus.select(col(idCol).as("id"),
      posexplode(indexTokens(col(textCol))))
      .select(col("id"), col("pos"), col("col").as("term"))

  /** Exact-phrase occurrence counts: the i-th phrase term must sit at
    * start+i, expressed as k-1 equi-joins on (id, start) where each side
    * is pre-filtered to ONE term — a pruned probe per term on a
    * term-bucketed index at scale, never a positional cross product.
    * Returns (id, n_occurrences) for docs containing the phrase. */
  def phraseOccurrences(post: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    // Locale.ROOT: index terms come from Spark's locale-independent
    // lower(); the default locale (tr/az dotted-I) would miss them
    val terms = phrase.map(_.toLowerCase(java.util.Locale.ROOT))
    val base = post.filter(col("term") === terms.head)
      .select(col("id"), col("pos").as("start"))
    val matched = terms.zipWithIndex.drop(1).foldLeft(base) {
      case (acc, (t, i)) =>
        acc.join(post.filter(col("term") === t)
          .select(col("id"), (col("pos") - i).as("start")),
          Seq("id", "start"))
    }
    matched.groupBy("id").agg(count(lit(1)).as("n_occurrences"))
  }

  /** Score the corpus for a bag of query terms; returns `(id, bm25)` for
    * documents matching at least one term, ordered by score desc with a
    * deterministic id tie-break.
    *
    * Plan shape: postings filtered to the query terms (a tiny slice of
    * the index — term-bucketing makes this partition-pruned at scale),
    * one map-side-combinable groupBy on id, a broadcast of the per-term
    * df counts (|terms| rows), and a broadcast join of doc lengths.
    */
  def search(corpus: DataFrame, idCol: String, textCol: String,
             terms: Seq[String], k: Int): DataFrame = {
    // one corpus-tokenize pass reduces to the TWO global numbers BM25
    // needs (N, avgdl) — no lens table is materialized or joined; the
    // second pass builds only the query-term hits slice, which carries
    // its own doclen
    val stats = docLengths(corpus, idCol, textCol)
      .agg(count(lit(1)).as("n"), sum(col("doclen")).as("s")).head()
    val n = stats.getLong(0)
    val totalLen = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val avgdl = if (n > 0) totalLen.toDouble / n.toDouble else 1.0
    val hits = termSlice(postingsWithLen(corpus, idCol, textCol), terms)
    scoreAllDenorm(hits, n, avgdl)
      .orderBy(desc("bm25"), asc("id"))
      .limit(k)
  }

  /** The query-term slice of a postings table (Locale.ROOT-lowered to
    * match the index tokenizer — default-locale lowering would miss
    * terms under tr/az dotted-I). */
  def termSlice(post: DataFrame, terms: Seq[String]): DataFrame =
    post.filter(col("term")
      .isin(terms.map(_.toLowerCase(java.util.Locale.ROOT)): _*))

  /** BM25 over a DENORMALIZED hits slice `(id, term, tf, doclen)` with
    * precomputed corpus stats — the scale path. Every input is the
    * pruned probe slice itself: the only shuffle is the per-doc
    * groupBy, the only join a broadcast of |terms| df counts. */
  def scoreAllDenorm(hits: DataFrame, n: Long, avgdl: Double): DataFrame = {
    // document frequency per query term (tiny: |terms| rows -> broadcast)
    val dfs = hits.groupBy("term").agg(count(lit(1)).as("df"))
    hits
      .join(broadcast(dfs), "term")
      .withColumn("term_score", termScore(n, avgdl))
      .groupBy("id")
      .agg(foldTermScores)
  }

  /** [[scoreAllDenorm]] for a slice small enough for one task — a
    * serving query's probe slice: the slice coalesces to one partition
    * and df comes from a window over it, so the scan, df, scoring and
    * the per-doc fold run as ONE stage with no exchange and no
    * broadcast. Same expressions, so the same doubles. */
  def scoreSlice(hits: DataFrame, n: Long, avgdl: Double): DataFrame =
    hits.coalesce(1)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("term_score", termScore(n, avgdl))
      .groupBy("id")
      .agg(foldTermScores)

  /** One query term's contribution `idf(df) · tfNorm(tf, doclen)` over
    * rows carrying `df`, `tf` and `doclen`. */
  private def termScore(n: Long, avgdl: Double): Column = {
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val tfNorm = (col("tf").cast("double") * (K1 + 1)) /
      (col("tf").cast("double") +
        lit(K1) * (lit(1 - B) + lit(B) * col("doclen").cast("double") / avgdl))
    idf * tfNorm
  }

  /** [[termScore]] for one row on the driver: the same operations in the
    * same order, and `StrictMath.log` as Spark's `log` uses, so the
    * same bits. */
  def termScore(n: Long, avgdl: Double, df: Long, tf: Long,
                doclen: Long): Double = {
    val idf = StrictMath.log(1.0 +
      (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5))
    val tfNorm = (tf.toDouble * (K1 + 1)) /
      (tf.toDouble + K1 * ((1 - B) + B * doclen.toDouble / avgdl))
    idf * tfNorm
  }

  /** The per-doc `bm25` aggregate over `(term, term_score)` rows.
    * Deterministic accumulation: per-term scores are IEEE-exact scalar
    * doubles, but a double SUM is partition-order-sensitive — fold in
    * term order instead (collect the tiny per-doc term list, sort,
    * left-fold). Bit-identical to DuckDB's
    * list_dot_product(list(score ORDER BY term), ones) per the
    * project's verified parity rule. */
  private def foldTermScores: Column =
    aggregate(
      array_sort(collect_list(struct(col("term"), col("term_score")))),
      lit(0.0), (acc, x) => acc + x.getField("term_score")).as("bm25")

  /** BM25 over prebuilt NON-denormalized index tables `(id, term, tf)` +
    * `(id, doclen)`, unlimited: every matching doc with its score. The
    * legacy shape — it pays a corpus-sized lens join per query; new
    * index writes use [[postingsWithLen]] + a stats row and score via
    * [[scoreAllDenorm]] instead. Callers that post-filter (tags) MUST
    * rank/limit after their filter — FTS5 semantics are global scoring,
    * then predicate, then LIMIT (reference LibSQLDatabase.ts:426-437). */
  def scoreAllFromIndex(post: DataFrame, lens: DataFrame,
                        terms: Seq[String]): DataFrame = {
    // corpus size and total length in ONE job over the lens table (a
    // count() + agg() pair would scan it twice per query)
    val stats = lens.agg(count(lit(1)).as("n"), sum(col("doclen")).as("s")).head()
    val n = stats.getLong(0)
    val totalLen = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val avgdl = if (n > 0) totalLen.toDouble / n.toDouble else 1.0
    scoreAllDenorm(termSlice(post, terms).join(lens, "id"), n, avgdl)
  }
}
