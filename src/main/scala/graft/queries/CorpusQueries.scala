package graft.queries

import graft.Tables
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus/vector operator coverage over the `documents` and `embeddings`
  * testdata tables: the reference's search stack (BM25 / vector top-k /
  * hybrid fusion / context expansion) plus the training-data-pipeline
  * operators (dedup in four flavors, similarity search, text analysis).
  *
  * Oracle notes: DuckDB's `list_dot_product` over `DOUBLE[]` is
  * bit-identical to the sequential double left-fold that
  * [[graft.functions.VectorFunctions.dot]] compiles to (verified
  * empirically), so cosine scores compare exactly. MinHash/SimHash use
  * md5-derived 32-bit hashes, identical in both engines.
  */
object CorpusQueries {

  /** SQL fragment: lowercased whitespace tokens with empties removed —
    * mirrors [[TextFunctions.tokens]](lower(_)). */
  private def toksSql(c: String) =
    s"list_filter(string_split(lower($c), ' '), x -> x <> '')"

  /** SQL fragment mirroring the FTS index tokenizer (split on ANY
    * whitespace run — Bm25.indexTokens). The corpus is newline-free so
    * both tokenizers agree on it today, but the oracle must encode the
    * engine's actual semantics, not a coincidence of the data. */
  private def wsToksSql(c: String) =
    s"list_filter(string_split_regex(lower($c), '\\s+'), x -> x <> '')"
  private def toksRawSql(c: String) =
    s"list_filter(string_split($c, ' '), x -> x <> '')"
  private val hash32Sql = (e: String) => s"CAST('0x' || substr(md5($e), 1, 8) AS BIGINT)"
  private val stopwordsSql = TextFunctions.stopWordsSql

  val all: Seq[Q] = Seq(

    // A1: corpus stats (counts + exact-int derived mean)
    Q("q20_doc_stats", Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars
      FROM documents"""),
      (s, d) => Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"))),

    // dedup/exact: fingerprint-group stats
    Q("q21_exact_dedup", Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        CAST(COUNT(DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS BIGINT) AS n_unique,
        CAST(COUNT(*) - COUNT(DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS BIGINT) AS n_dup_rows
      FROM documents"""),
      (s, d) => Dedup.exactDupStats(Tables.documents(s, d), "doc_id", "text")),

    // dedup/minhash: 4-hash signature over 5-char shingles (map-only);
    // hash families derived as (h1 + i*h2) mod 2^32 from two md5 hashes
    Q("q22_minhash_signatures", Some(s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, substr(lower(text), i, 5) AS s
        FROM documents, LATERAL (
          SELECT unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i) t),
      h AS (SELECT doc_id, ${hash32Sql("s")} AS h1, ${hash32Sql("'x|' || s")} AS h2 FROM sh)
      SELECT doc_id,
        ${(0 until 4).map(i => s"MIN((h1 + $i * h2) % 4294967296) AS mh$i").mkString(",\n        ")}
      FROM h GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => Dedup.minhashSignature(Tables.documents(s, d), "doc_id", "text",
        numHashes = 4, shingleK = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // dedup/minhash+LSH: band -> bucket-join candidates -> exact Jaccard
    // verify. 8 hashes in 2 bands of 4: a candidate needs 4 minhash
    // agreements, which keeps the candidate set ~Jaccard-selective
    // (bands of 2 flood the verify stage with false candidates — 50x
    // more pairs at sf0.1)
    Q("q23_minhash_lsh_dups", Some(s"""
      WITH sh AS (
        SELECT DISTINCT doc_id, substr(lower(text), i, 5) AS s
        FROM documents, LATERAL (
          SELECT unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i) t),
      counts AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      h AS (SELECT doc_id, ${hash32Sql("s")} AS h1, ${hash32Sql("'x|' || s")} AS h2 FROM sh),
      sig AS (
        SELECT doc_id,
          ${(0 until 8).map(i => s"MIN((h1 + $i * h2) % 4294967296) AS mh$i").mkString(",\n          ")}
        FROM h GROUP BY doc_id),
      bands AS (
        SELECT doc_id, '0_' || ${(0 to 3).map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || '_' || ")} AS bk FROM sig
        UNION ALL
        SELECT doc_id, '1_' || ${(4 to 7).map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || '_' || ")} AS bk FROM sig),
      keep AS (SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) <= 1000),
      capped AS (SELECT bands.* FROM bands JOIN keep USING (bk)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM capped a JOIN capped b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      inter AS (
        SELECT id_a, id_b, COUNT(*) AS i
        FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b AND y.s = x.s
        GROUP BY id_a, id_b)
      SELECT id_a, id_b,
        CAST(i AS DOUBLE) / CAST(ca.sz + cb.sz - i AS DOUBLE) AS jaccard
      FROM inter JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / CAST(ca.sz + cb.sz - i AS DOUBLE) >= 0.5
      ORDER BY id_a, id_b"""),
      (s, d) => Dedup.minhashDupPairs(Tables.documents(s, d), "doc_id", "text",
        numHashes = 8, numBands = 2, shingleK = 5, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    // dedup/simhash: 16-bit locality hash over the word set
    Q("q24_simhash", Some {
      val sums = (0 until 16).map(b =>
        s"SUM(CASE WHEN ((hv >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s$b").mkString(",\n          ")
      val bits = (0 until 16).map(b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""
      WITH toks AS (
        SELECT DISTINCT doc_id, t
        FROM documents, LATERAL (SELECT unnest(${toksSql("text")}) AS t) u),
      h AS (SELECT doc_id, ${hash32Sql("t")} AS hv FROM toks),
      b AS (SELECT doc_id,
          $sums
        FROM h GROUP BY doc_id)
      SELECT doc_id, CAST($bits AS BIGINT) AS simhash
      FROM b ORDER BY doc_id"""
    },
      (s, d) => Dedup.simhashes(Tables.documents(s, d), "doc_id", "text", bits = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // dedup/n-gram Jaccard: word-3-gram similarity, blocked by source
    // plus a length-difference prune (near-dups are near-length) so the
    // expensive intersections run on a small candidate set
    Q("q25_ngram_jaccard_dups", Some(s"""
      WITH ng AS (
        SELECT doc_id, source, length(text) AS len,
          list_distinct([array_to_string(t[i:i+2], ' ')
                         for i in range(1, greatest(len(t) - 2, 0) + 1)]) AS g
        FROM (SELECT doc_id, source, text, ${toksSql("text")} AS t FROM documents))
      SELECT source, id_a, id_b, jaccard FROM (
        SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
          CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) AS jaccard
        FROM ng a JOIN ng b ON a.source = b.source AND a.doc_id < b.doc_id
          AND abs(a.len - b.len) <= 20
          AND len(a.g) + len(b.g) > 0) p
      WHERE jaccard >= 0.3
      ORDER BY id_a, id_b"""),
      (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        col("source"), n = 3, threshold = 0.3, maxLenDiff = 20)
        .withColumnRenamed("block", "source")
        .select("source", "id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")),

    // similarity search: exact brute-force cosine top-k (TakeOrdered — no
    // shuffle of vectors; the scan parallelizes, k rows/partition merge)
    Q("q26_embedding_knn", Some("""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, label, round(cs, 6) AS cos_sim FROM (
        SELECT vec_id, label,
          list_dot_product(embedding::DOUBLE[], qv) /
          (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
           sqrt(list_dot_product(qv, qv))) AS cs
        FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY cs DESC, vec_id
        LIMIT 10) t
      ORDER BY cos_sim DESC, vec_id"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qv = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        VectorSearch.topK(emb, "embedding", qv, 10, tieCol = "vec_id",
          filterOpt = Some(col("vec_id") =!= 0))
          .withColumn("cos_sim", round(col("cos_sim"), 6))
          .select("vec_id", "label", "cos_sim")
          .orderBy(desc("cos_sim"), asc("vec_id"))
      }),

    // batched similarity search: many queries, ONE corpus scan — the
    // throughput mode that amortizes Spark's per-job cost (the
    // reference answers queries one at a time against its index)
    Q("q29_knn_batch", Some("""
      WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 5)
      SELECT qid, rn, vec_id, cos_sim FROM (
        SELECT qid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn,
          vec_id, round(cs, 6) AS cos_sim
        FROM (
          SELECT q.qid, e.vec_id,
            list_dot_product(e.embedding::DOUBLE[], q.qv) /
            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             sqrt(list_dot_product(q.qv, q.qv))) AS cs
          FROM embeddings e, q
          WHERE e.vec_id <> q.qid) s) t
      WHERE rn <= 3
      ORDER BY qid, rn"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        VectorSearch.topKBatch(emb, "embedding", "vec_id",
          queries, "qid", "qvec", k = 3, excludeSelf = true)
          .withColumn("cos_sim", round(col("cos_sim"), 6))
          .orderBy("qid", "rn")
      }),

    // Hard-negative mining (round 13): q29's batch shape with a
    // label-mismatch predicate BEFORE ranking — for each query vector,
    // the 3 most similar corpus vectors of a DIFFERENT label, the
    // near-boundary negatives contrastive embedding training wants
    Q("q129_hard_negatives", Some("""
      WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                   embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 5)
      SELECT qid, rn, vec_id, label, cos_sim FROM (
        SELECT qid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn,
          vec_id, label, round(cs, 6) AS cos_sim
        FROM (
          SELECT q.qid, e.vec_id, e.label,
            list_dot_product(e.embedding::DOUBLE[], q.qv) /
            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             sqrt(list_dot_product(q.qv, q.qv))) AS cs
          FROM embeddings e, q
          WHERE e.vec_id <> q.qid AND e.label <> q.qlabel) s) t
      WHERE rn <= 3
      ORDER BY qid, rn"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("embedding").as("qvec"))
        VectorSearch.hardNegatives(emb, "vec_id", "embedding", "label",
          queries, "qid", "qvec", "qlabel", k = 3)
          .withColumn("cos_sim", round(col("cos_sim"), 6))
          .orderBy("qid", "rn")
      }),

    // embedding near-dup pairs within a blocking key (label) — the
    // equi-join blocking pattern that replaces O(n²) at scale
    Q("q28_embedding_neardups", Some("""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
      SELECT block, id_a, id_b, cos_sim FROM (
        SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
          list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) p
      WHERE cos_sim >= 0.35
      ORDER BY id_a, id_b"""),
      (s, d) => VectorSearch.nearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", "label", threshold = 0.35)
        .orderBy("id_a", "id_b")),

    // A3: per-cluster centroid components. Deterministic ordered fold
    // (list ORDER BY vec_id + sequential sum) — bit-identical across
    // engines, unlike a plain double SUM
    Q("q27_label_centroids", Some("""
      WITH x AS (
        SELECT label, vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, LATERAL (
          SELECT unnest(generate_series(1, len(embedding))) AS i) t)
      SELECT label, CAST(i - 1 AS INT) AS pos,
        list_dot_product(list(v ORDER BY vec_id),
                         list_transform(list(v ORDER BY vec_id), y -> 1.0)) /
          CAST(COUNT(*) AS DOUBLE) AS centroid_val
      FROM x
      GROUP BY label, i
      ORDER BY label, pos"""),
      (s, d) => VectorSearch.centroids(Tables.embeddings(s, d), "label", "embedding",
        orderCol = "vec_id")
        .orderBy("label", "pos")),

    // text analysis: language ID via marker-word hits
    Q("q30_lang_id", Some {
      val langs = TextAnalysis.LangMarkers.keys.toSeq.sorted
      val hitCols = langs.map { l =>
        val markers = TextAnalysis.LangMarkers(l).map(w => s"'$w'").mkString(", ")
        s"len(list_filter(t, x -> list_contains([$markers], x))) AS hits_$l"
      }.mkString(",\n          ")
      val best = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN hits_$l = $best THEN '$l'").mkString(" ")
      s"""
      WITH toks AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
      h AS (SELECT doc_id,
          $hitCols
        FROM toks)
      SELECT doc_id, ${langs.map(l => s"CAST(hits_$l AS BIGINT) AS hits_$l").mkString(", ")},
        CASE WHEN $best = 0 THEN 'und' $cases END AS pred_lang
      FROM h ORDER BY doc_id"""
    },
      (s, d) => TextAnalysis.langId(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .withColumns(TextAnalysis.LangMarkers.keys.toSeq.sorted
          .map(l => s"hits_$l" -> col(s"hits_$l").cast("long")).toMap)
        .orderBy("doc_id")),

    // text analysis: quality metrics + keep/drop flag
    Q("q31_quality_scores", Some(s"""
      WITH m AS (
        SELECT doc_id, length(text) AS n_chars,
          CAST(len(t) AS BIGINT) AS n_words,
          CASE WHEN len(t) > 0
            THEN CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
                 / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS avg_word_len,
          CASE WHEN len(t) > 0
            THEN CAST(len(list_filter(t, x -> list_contains([$stopwordsSql], lower(x)))) AS DOUBLE)
                 / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
          CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
            greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio
        FROM (SELECT doc_id, text, ${toksRawSql("text")} AS t FROM documents) x)
      SELECT doc_id, CAST(n_chars AS INT) AS n_chars, n_words, avg_word_len,
        stopword_ratio, punct_ratio,
        CAST((n_words >= 10 AND avg_word_len >= 2.0 AND avg_word_len <= 12.0
              AND punct_ratio <= 0.2) AS INT) AS keep
      FROM m ORDER BY doc_id"""),
      (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .withColumn("n_words", col("n_words").cast("long"))
        .orderBy("doc_id")),

    // text analysis: token counting (whitespace + BPE-ish lexer)
    Q("q32_token_counts", Some(s"""
      SELECT doc_id,
        CAST(len(${toksRawSql("text")}) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
      FROM documents ORDER BY doc_id"""),
      (s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .withColumn("ws_tokens", col("ws_tokens").cast("long"))
        .withColumn("bpe_tokens", col("bpe_tokens").cast("long"))
        .orderBy("doc_id")),

    // text analysis: content fingerprints
    Q("q33_fingerprints", Some("""
      SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
      FROM documents ORDER BY doc_id"""),
      (s, d) => TextAnalysis.fingerprints(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // text analysis: PII scan + redaction (emails / IPs / phone runs ->
    // typed placeholders); md5 of the redacted text keeps output small
    Q("q37_pii_scan", Some(s"""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
        md5(regexp_replace(
              regexp_replace(
                regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
                '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
              '${TextAnalysis.PhoneRe}', '<PHONE>', 'g')) AS redacted_fp
      FROM documents ORDER BY doc_id"""),
      (s, d) => TextAnalysis.piiScan(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .withColumn("n_emails", col("n_emails").cast("long"))
        .withColumn("n_ips", col("n_ips").cast("long"))
        .withColumn("redacted_fp", md5(col("redacted")))
        .drop("redacted")
        .orderBy("doc_id")),

    // text analysis: repetition/boilerplate scoring (Gopher-style
    // top-token dominance + type-token ratio)
    Q("q38_repetition", Some(s"""
      WITH counts AS (
        SELECT doc_id, t AS word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents, LATERAL (SELECT unnest(${toksSql("text")}) AS t) u
        GROUP BY doc_id, t)
      SELECT doc_id,
        CAST(MAX(cnt) AS BIGINT) AS max_tf,
        CAST(SUM(cnt) AS BIGINT) AS n_words,
        CAST(COUNT(*) AS BIGINT) AS n_unique,
        CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_token_ratio,
        CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS type_token_ratio
      FROM counts GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => TextAnalysis.repetitionScore(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // dedup/canonicalize: the standard pipeline shape — group candidates
    // by a near-dup key (here: simhash bucket), keep one canonical row
    // per group by a deterministic quality order. Window argmax, the
    // shuffle is on the (small) key, never on pairs.
    Q("q35_dedup_canonicalize", Some {
      val sums = (0 until 16).map(b =>
        s"SUM(CASE WHEN ((hv >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s$b").mkString(",\n          ")
      val bits = (0 until 16).map(b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""
      WITH toks AS (
        SELECT DISTINCT doc_id, t
        FROM documents, LATERAL (SELECT unnest(${toksSql("text")}) AS t) u),
      h AS (SELECT doc_id, ${hash32Sql("t")} AS hv FROM toks),
      b AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
      sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM b),
      ranked AS (
        SELECT d.doc_id, sh.simhash, d.n_chars,
          ROW_NUMBER() OVER (PARTITION BY sh.simhash
                             ORDER BY d.n_chars DESC, d.doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY sh.simhash) AS group_size
        FROM documents d JOIN sh ON d.doc_id = sh.doc_id)
      SELECT doc_id, simhash, CAST(group_size AS BIGINT) AS group_size
      FROM ranked WHERE rn = 1 AND group_size > 1
      ORDER BY doc_id"""
    },
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sh = Dedup.simhashes(docs, "doc_id", "text", bits = 16)
          .withColumnRenamed("id", "doc_id")
        val w = Window.partitionBy("simhash")
        val ranked = docs.select("doc_id", "n_chars").join(sh, Seq("doc_id"))
          .withColumn("rn", row_number().over(
            w.orderBy(desc("n_chars"), asc("doc_id"))))
          .withColumn("group_size", count(lit(1)).over(w))
        ranked.filter(col("rn") === 1 && col("group_size") > 1)
          .select("doc_id", "simhash", "group_size")
          .orderBy("doc_id")
      }),

    // A6: term-frequency keyword scoring (AutoTagger content path):
    // count x (0.5 if >10% of corpus words) x min(len/8, 1.5), top-n
    Q("q34_top_keywords", Some(s"""
      WITH words AS (
        SELECT t AS word FROM documents,
          LATERAL (SELECT unnest(${toksSql("text")}) AS t) u
        WHERE length(t) > 3 AND t NOT IN ($stopwordsSql)),
      tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM words),
      c AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word)
      SELECT word, CAST(cnt AS BIGINT) AS cnt,
        CAST(cnt AS DOUBLE) *
          (CASE WHEN CAST(cnt AS DOUBLE) / n > 0.1 THEN 0.5 ELSE 1.0 END) *
          least(CAST(length(word) AS DOUBLE) / 8.0, 1.5) AS score
      FROM c, tot
      ORDER BY score DESC, word
      LIMIT 15"""),
      (s, d) => TextAnalysis.topKeywords(Tables.documents(s, d), "text", 15)),

    // FTS: BM25 ranking over the derived postings table (K4)
    Q("q41_bm25_search", Some(s"""
      WITH lens AS (
        SELECT doc_id AS id, CAST(len(${wsToksSql("text")}) AS BIGINT) AS doclen FROM documents),
      stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(doclen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM lens),
      post AS (
        SELECT doc_id AS id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM documents, LATERAL (SELECT unnest(${wsToksSql("text")}) AS t) u
        GROUP BY doc_id, t),
      hits AS (SELECT * FROM post WHERE term IN ('hash', 'join')),
      dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY term),
      scored AS (
        SELECT id, term,
          ln(1.0 + (n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
          (CAST(tf AS DOUBLE) * 2.2) /
          (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(doclen AS DOUBLE) / avgdl))
          AS score
        FROM hits JOIN dfs USING (term) JOIN lens USING (id) CROSS JOIN stats),
      agg AS (
        SELECT id AS doc_id,
          list_dot_product(list(score ORDER BY term),
                           list_transform(list(score ORDER BY term), y -> 1.0)) AS bm25
        FROM scored
        GROUP BY id
        ORDER BY bm25 DESC, doc_id
        LIMIT 15)
      SELECT doc_id, round(bm25, 6) AS bm25 FROM agg
      ORDER BY bm25 DESC, doc_id"""),
      // round-6 on the output (and the final order) absorbs the 1-ulp
      // ln() gap between StrictMath and libm, like q26/q43/q44
      (s, d) => Bm25.search(Tables.documents(s, d), "doc_id", "text",
        Seq("hash", "join"), 15)
        .withColumnRenamed("id", "doc_id")
        .withColumn("bm25", round(col("bm25"), 6))
        .orderBy(desc("bm25"), asc("doc_id"))),

    // W1: context expansion around hit rows in an ordered sequence
    Q("q42_error_context", Some("""
      WITH ranked AS (
        SELECT event_id, user_id, event_type, value,
          ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts) // 1000000, event_id) AS ord
        FROM events),
      hits AS (
        SELECT user_id, event_id AS hit_event_id, ord AS hit_ord
        FROM ranked WHERE event_type = 'error')
      SELECT hit_event_id, CAST(COUNT(*) AS BIGINT) AS n_context,
        CAST(SUM(CAST(r.value AS DECIMAL(18,2))) AS DOUBLE) AS ctx_value
      FROM hits h JOIN ranked r ON r.user_id = h.user_id
        AND abs(r.ord - h.hit_ord) <= 2
      GROUP BY hit_event_id
      ORDER BY hit_event_id"""),
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("sec", col("ts").cast("long"))
        graft.operators.ContextExpansion.neighbors(ev, "user_id",
          Seq(col("sec"), col("event_id")),
          col("event_type") === "error", window = 2,
          hitCarry = Seq("event_id" -> "hit_event_id"))
          .groupBy("hit_event_id")
          .agg(count(lit(1)).as("n_context"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("ctx_value"))
          .orderBy("hit_event_id")
      }),

    // J9/K5: hybrid fusion of vector top-k and BM25 top-k (flagship shape)
    Q("q43_hybrid_search", Some(s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      vec AS (
        SELECT vec_id AS doc_id,
          (1.0 + list_dot_product(embedding::DOUBLE[], qv) /
           (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
            sqrt(list_dot_product(qv, qv)))) / 2.0 AS vec_score
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY vec_score DESC, vec_id LIMIT 20),
      lens AS (
        SELECT doc_id AS id, CAST(len(${wsToksSql("text")}) AS BIGINT) AS doclen FROM documents),
      stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(doclen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM lens),
      post AS (
        SELECT doc_id AS id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM documents, LATERAL (SELECT unnest(${wsToksSql("text")}) AS t) u
        GROUP BY doc_id, t),
      hits AS (SELECT * FROM post WHERE term IN ('hash', 'join')),
      dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY term),
      term_scored AS (
        SELECT id, term,
          ln(1.0 + (n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
          (CAST(tf AS DOUBLE) * 2.2) /
          (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(doclen AS DOUBLE) / avgdl))
          AS tscore
        FROM hits JOIN dfs USING (term) JOIN lens USING (id) CROSS JOIN stats),
      fts AS (
        SELECT id AS doc_id,
          list_dot_product(list(tscore ORDER BY term),
                           list_transform(list(tscore ORDER BY term), y -> 1.0))
            AS fts_score
        FROM term_scored
        GROUP BY id ORDER BY fts_score DESC, doc_id LIMIT 20),
      fused AS (
        SELECT COALESCE(v.doc_id, f.doc_id) AS doc_id,
          CASE WHEN v.doc_id IS NOT NULL AND f.doc_id IS NOT NULL THEN 'hybrid'
               WHEN v.doc_id IS NOT NULL THEN 'vector' ELSE 'fts' END AS match_type,
          CASE WHEN v.doc_id IS NOT NULL AND f.doc_id IS NOT NULL
                 THEN LEAST(1.0, vec_score * 1.2)
               WHEN v.doc_id IS NOT NULL THEN vec_score
               ELSE fts_score END AS score
        FROM vec v FULL OUTER JOIN fts f ON v.doc_id = f.doc_id)
      SELECT doc_id, match_type, round(score, 6) AS score
      FROM (SELECT * FROM fused ORDER BY score DESC, doc_id LIMIT 15) t
      ORDER BY round(score, 6) DESC, doc_id"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qv = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val vec = VectorSearch.topK(emb, "embedding", qv, 20, tieCol = "vec_id",
          filterOpt = Some(col("vec_id") =!= 0))
          .select(col("vec_id").as("doc_id"),
            ((lit(1.0) + col("cos_sim")) / lit(2.0)).as("score"))
        val fts = Bm25.search(Tables.documents(s, d), "doc_id", "text",
          Seq("hash", "join"), 20)
          .select(col("id").as("doc_id"), col("bm25").as("score"))
        HybridSearch.fuseTopK(vec, fts, Seq("doc_id"), 15)
          .select(col("doc_id"), col("match_type"), round(col("score"), 6).as("score"))
          .orderBy(desc("score"), asc("doc_id"))
      }),

    // M5-extractive analog: representative summary per group
    Q("q53_group_summaries", Some("""
      SELECT lang,
        'This cluster covers: ' ||
          array_to_string((list_filter(string_split(min_by(text, doc_id), ' '),
                                       x -> x <> ''))[1:8], ' ') AS summary
      FROM documents GROUP BY lang ORDER BY lang"""),
      (s, d) => Tables.documents(s, d)
        .groupBy("lang")
        .agg(min_by(col("text"), col("doc_id")).as("rep"))
        .select(col("lang"),
          concat(lit("This cluster covers: "),
            concat_ws(" ", slice(TextFunctions.tokens(col("rep")), 1, 8)))
            .as("summary"))
        .orderBy("lang")),

    // K4 extension — FTS phrase queries (FTS5 "exact phrase"): adjacency
    // joins on positional postings, each side pre-filtered to one term.
    // Spark pos is 0-based and the oracle's 1-based, but the offset
    // cancels in the adjacency equation; only counts are emitted
    Q("q57_phrase_search", Some(s"""
      WITH pos AS (
        SELECT doc_id AS id, lst[i] AS term, i AS pos
        FROM (SELECT doc_id, ${wsToksSql("text")} AS lst FROM documents) d,
          LATERAL (SELECT unnest(generate_series(1, len(lst))) AS i) t),
      a AS (SELECT id, pos AS start FROM pos WHERE term = 'hash'),
      b AS (SELECT id, pos - 1 AS start FROM pos WHERE term = 'join')
      SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM a JOIN b USING (id, start)
      GROUP BY id ORDER BY doc_id"""),
      (s, d) => Bm25.phraseOccurrences(
        Bm25.positionalPostings(Tables.documents(s, d), "doc_id", "text"),
        Seq("hash", "join"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Real language ID (round-12): char-trigram Naive Bayes + script
    // detection, integer-exact across engines. The oracle replays the
    // profile literals as a VALUES table (q50/q69 literal-replay
    // precedent); discriminating power on genuine multilingual text is
    // certified in LangIdSpec (the synthetic corpus is en-ish word
    // salad, so here both engines must agree on every score, not just
    // the argmax).
    Q("q86_langid_ngram", Some(LangId.oracleSql("documents", "doc_id", "text")),
      (s, d) => LangId.detect(Tables.documents(s, d), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // EXACT heavy-hitter bigrams (round 12, template/boilerplate
    // mining): Misra-Gries candidate pre-pass per partition (pigeonhole
    // superset, loud failure if the summary saturates) + broadcast
    // semi-join exact verify — the shuffle carries candidates only,
    // never the full n-gram vocabulary. Output bit-identical to the
    // naive GROUP BY the oracle runs
    Q("q94_heavy_bigrams", Some("""
      WITH tok AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        FROM documents),
      bg AS (SELECT unnest(t[1:len(t)-1]) || ' ' || unnest(t[2:len(t)]) AS ngram
             FROM tok WHERE len(t) >= 2)
      SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
      FROM bg GROUP BY ngram HAVING count(*) >= 36
      ORDER BY cnt DESC, ngram"""),
      (s, d) => HeavyHitters.heavyNgrams(Tables.documents(s, d), "text",
        n = 2, threshold = 36L)
        .orderBy(desc("cnt"), asc("ngram"))),

    // STREAMING LSH near-dup (round 12): minhash signatures in band-
    // bucket GroupState, arriving docs compare against bucket-mates
    // only, verified by signature agreement (>= 4 of 8 components).
    // Executed here over the bounded frame — same semantics, empty
    // initial state — so the oracle replays the full batch equivalent:
    // q22's signature algebra, band candidates, component agreement.
    // Incremental state continuity is certified in StreamingDedupSpec
    Q("q95_stream_lsh_dedup", Some(s"""
      WITH $streamLshCtes
      SELECT id_a, id_b, CAST(n_agree AS INT) AS n_agree,
        CAST(n_agree AS DOUBLE) / 8.0 AS est_jaccard
      FROM agr WHERE n_agree >= 4 ORDER BY id_a, id_b"""),
      (s, d) => graft.streaming.StreamingDedup.lshDupPairsStream(
        Tables.documents(s, d), "doc_id", "text",
        numHashes = 8, numBands = 2, shingleK = 5, minAgree = 4)
        .dropDuplicates("id_a", "id_b")
        .orderBy("id_a", "id_b")),

    // Streaming-dedup DECISION path (round 12 composition): the q95
    // pair stream through connected components to one canonical id per
    // dup cluster — what a continuous-crawl pipeline actually persists.
    // Both stages certified (q95 pairs, q56 components); the oracle
    // replays pairs + recursive-CTE closure over every document
    Q("q100_stream_dedup_canonical", Some(s"""
      WITH RECURSIVE $streamLshCtes,
      pairs AS (SELECT id_a, id_b FROM agr WHERE n_agree >= 4),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT a AS n FROM edges),
      reach(node, lab) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
      cc AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
      SELECT d.doc_id,
        CAST(coalesce(cc.component, d.doc_id) AS BIGINT) AS canon_id,
        CAST(CASE WHEN coalesce(cc.component, d.doc_id) <> d.doc_id
             THEN 1 ELSE 0 END AS INT) AS is_dup
      FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
      ORDER BY d.doc_id"""),
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = graft.streaming.StreamingDedup.lshDupPairsStream(
          docs, "doc_id", "text",
          numHashes = 8, numBands = 2, shingleK = 5, minAgree = 4)
          .dropDuplicates("id_a", "id_b").select("id_a", "id_b")
        val cc = Components.connectedComponents(pairs, "id_a", "id_b")
        docs.select("doc_id")
          .join(cc, docs("doc_id") === cc("node"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).cast("long")
              .as("canon_id"),
            (coalesce(col("component"), col("doc_id")) =!= col("doc_id"))
              .cast("int").as("is_dup"))
          .orderBy("doc_id")
      }),

    // winnowed document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    // the MOSS scheme): positional char-16-gram hashes, rightmost
    // minimum per window of 8 — position-dense fingerprints with the
    // w+k-1 substring-coverage guarantee MinHash signatures don't
    // have. The oracle replays the window scan as list comprehensions
    // (rightmost tie-break = last position of the min in the window)
    Q("q104_winnow_fingerprints", Some(s"""
      WITH base AS (
        SELECT doc_id, lower(text) AS t,
          CAST(greatest(length(text) - 15, 0) AS INT) AS m
        FROM documents),
      hs AS (
        SELECT doc_id, m,
          CASE WHEN m >= 1 THEN [${hash32Sql("substr(t, i, 16)")}
                                 for i in range(1, m + 1)]
               ELSE CAST([] AS BIGINT[]) END AS h
        FROM base),
      sel AS (
        SELECT doc_id,
          CASE WHEN m >= 1 THEN
            [{'p': CAST(j + len(h[j:j+7]) -
                        list_position(list_reverse(h[j:j+7]),
                                      list_min(h[j:j+7])) AS BIGINT),
              'v': list_min(h[j:j+7])}
             for j in range(1, greatest(m - 7, 1) + 1)]
          ELSE CAST([] AS STRUCT(p BIGINT, v BIGINT)[]) END AS s
        FROM hs)
      SELECT DISTINCT doc_id, u.st.p AS pos, u.st.v AS fp
      FROM sel, LATERAL (SELECT unnest(sel.s) AS st) u
      ORDER BY doc_id, pos, fp"""),
      (s, d) => Dedup.winnowedFingerprints(Tables.documents(s, d),
          "doc_id", "text", k = 16, w = 8)
        .select(col("id").as("doc_id"), col("pos"), col("fp"))
        .orderBy("doc_id", "pos", "fp")),

    // near-dup pairs by shared winnowed fingerprints (the corpus-level
    // MOSS use): fingerprint values in 2..64 docs generate candidate
    // pairs (the hot-value cap bounds per-value fanout at any corpus
    // size — this corpus's hottest value sits in 730 docs at sf0.1,
    // which uncapped would be ~10^8 pairs); >= 2 shared values emit
    // with the fingerprint-set Jaccard. Single-division double, q63
    // discipline
    Q("q105_winnow_dups", Some(s"""
      WITH base AS (
        SELECT doc_id, lower(text) AS t,
          CAST(greatest(length(text) - 15, 0) AS INT) AS m
        FROM documents),
      hs AS (
        SELECT doc_id, m,
          CASE WHEN m >= 1 THEN [${hash32Sql("substr(t, i, 16)")}
                                 for i in range(1, m + 1)]
               ELSE CAST([] AS BIGINT[]) END AS h
        FROM base),
      sel AS (
        SELECT doc_id,
          CASE WHEN m >= 1 THEN
            [list_min(h[j:j+7]) for j in range(1, greatest(m - 7, 1) + 1)]
          ELSE CAST([] AS BIGINT[]) END AS s
        FROM hs),
      fp AS (SELECT DISTINCT doc_id, u.v AS fp
             FROM sel, LATERAL (SELECT unnest(sel.s) AS v) u),
      sizes AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
      adm AS (SELECT fp FROM fp GROUP BY fp
              HAVING count(*) BETWEEN 2 AND 64),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              count(*) AS n_shared
            FROM fp a JOIN adm USING (fp) JOIN fp b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
        CAST(sa.n_fp AS BIGINT) AS n_a, CAST(sb.n_fp AS BIGINT) AS n_b,
        round(CAST(n_shared AS DOUBLE) /
              CAST(sa.n_fp + sb.n_fp - n_shared AS DOUBLE), 6) AS jaccard
      FROM p
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      ORDER BY id_a, id_b"""),
      (s, d) => Dedup.winnowingDupPairs(Tables.documents(s, d),
          "doc_id", "text", k = 16, w = 8, minShared = 2L, maxDocFreq = 64L)
        .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
          col("n_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")),

    // the winnowing family closed end to end (the q100 decision-path
    // shape): shared-fingerprint pairs -> connected components ->
    // min-id canonical per overlap cluster, every document assigned —
    // what a MOSS-style crawl-overlap pass persists. Stages certified
    // by q104/q105 and q56's components battery; the oracle replays
    // pairs + a recursive-CTE closure
    Q("q110_winnow_canonical", Some(s"""
      WITH RECURSIVE base AS (
        SELECT doc_id, lower(text) AS t,
          CAST(greatest(length(text) - 15, 0) AS INT) AS m
        FROM documents),
      hs AS (
        SELECT doc_id, m,
          CASE WHEN m >= 1 THEN [${hash32Sql("substr(t, i, 16)")}
                                 for i in range(1, m + 1)]
               ELSE CAST([] AS BIGINT[]) END AS h
        FROM base),
      sel AS (
        SELECT doc_id,
          CASE WHEN m >= 1 THEN
            [list_min(h[j:j+7]) for j in range(1, greatest(m - 7, 1) + 1)]
          ELSE CAST([] AS BIGINT[]) END AS s
        FROM hs),
      fp AS (SELECT DISTINCT doc_id, u.v AS fp
             FROM sel, LATERAL (SELECT unnest(sel.s) AS v) u),
      adm AS (SELECT fp FROM fp GROUP BY fp
              HAVING count(*) BETWEEN 2 AND 64),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM fp a JOIN adm USING (fp) JOIN fp b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2),
      edges AS (SELECT id_a AS a, id_b AS b FROM p
                UNION SELECT id_b, id_a FROM p),
      nodes AS (SELECT DISTINCT a AS n FROM edges),
      reach(node, lab) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
      cc AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
      SELECT d.doc_id,
        CAST(coalesce(cc.component, d.doc_id) AS BIGINT) AS canon_id,
        CAST(CASE WHEN coalesce(cc.component, d.doc_id) <> d.doc_id
             THEN 1 ELSE 0 END AS INT) AS is_dup
      FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
      ORDER BY d.doc_id"""),
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.winnowingDupPairs(docs, "doc_id", "text",
          k = 16, w = 8, minShared = 2L, maxDocFreq = 64L)
          .select("id_a", "id_b")
        val cc = Components.connectedComponents(pairs, "id_a", "id_b")
        docs.select("doc_id")
          .join(cc, docs("doc_id") === cc("node"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).cast("long")
              .as("canon_id"),
            (coalesce(col("component"), col("doc_id")) =!= col("doc_id"))
              .cast("int").as("is_dup"))
          .orderBy("doc_id")
      }),

    // reciprocal-rank fusion (Cormack et al. 2009) — the scale-free
    // fusion next to the reference's boost/cap merge (q43): vector and
    // BM25 retrievers contribute 1/(60 + rank); incomparable score
    // scales never meet. Both rank keys are the certified 6dp-rounded
    // scores (q85 discipline), so ranks are integer-exact cross-engine;
    // the windows rank BOUNDED top-k candidate lists, not the corpus
    Q("q111_rrf_fusion", Some(s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      vs AS (
        SELECT e.vec_id AS doc_id,
          round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             sqrt(list_dot_product(q.qv, q.qv))), 6) AS key
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
      vrank AS (
        SELECT doc_id, rk FROM (
          SELECT doc_id, row_number() OVER (ORDER BY key DESC, doc_id) AS rk
          FROM vs) WHERE rk <= 20),
      lens AS (
        SELECT doc_id AS id, CAST(len(${wsToksSql("text")}) AS BIGINT) AS doclen FROM documents),
      stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(doclen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM lens),
      post AS (
        SELECT doc_id AS id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM documents, LATERAL (SELECT unnest(${wsToksSql("text")}) AS t) u
        GROUP BY doc_id, t),
      hits AS (SELECT * FROM post WHERE term IN ('hash', 'join')),
      dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY term),
      scored AS (
        SELECT id, term,
          ln(1.0 + (n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
          (CAST(tf AS DOUBLE) * 2.2) /
          (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(doclen AS DOUBLE) / avgdl))
          AS score
        FROM hits JOIN dfs USING (term) JOIN lens USING (id) CROSS JOIN stats),
      fs AS (
        SELECT id AS doc_id,
          round(list_dot_product(list(score ORDER BY term),
                list_transform(list(score ORDER BY term), y -> 1.0)), 6) AS key
        FROM scored GROUP BY id),
      frank AS (
        SELECT doc_id, rk FROM (
          SELECT doc_id, row_number() OVER (ORDER BY key DESC, doc_id) AS rk
          FROM fs) WHERE rk <= 20),
      fused AS (
        SELECT coalesce(v.doc_id, f.doc_id) AS doc_id,
          CAST(v.rk AS BIGINT) AS rank_vec, CAST(f.rk AS BIGINT) AS rank_fts,
          coalesce(1.0 / (60.0 + CAST(v.rk AS DOUBLE)), 0.0) +
          coalesce(1.0 / (60.0 + CAST(f.rk AS DOUBLE)), 0.0) AS score
        FROM vrank v FULL OUTER JOIN frank f ON v.doc_id = f.doc_id)
      SELECT doc_id, rank_vec, rank_fts, round(score, 6) AS rrf_score
      FROM fused ORDER BY score DESC, doc_id LIMIT 10"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qv = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        // cut to 20 FIRST (TakeOrderedAndProject — k rows per
        // partition, corpus-safe), then rank the bounded list: same
        // order key, so top-20-then-rank ≡ rank-then-filter-20
        val vec = emb.filter(col("vec_id") =!= 0)
          .select(col("vec_id").as("doc_id"),
            round(graft.plans.CosineSimilarity(col("embedding"),
              VectorSearch.queryVec(qv)), 6).as("key"))
          .orderBy(col("key").desc, col("doc_id").asc).limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("key").desc, col("doc_id").asc)))
        // candidate pool ≥ the corpus row count (metadata-cheap on
        // parquet), so EVERY matching doc is ranked at any SF and the
        // 20-cut below happens on the ROUNDED key — the oracle's exact
        // boundary (ADVICE r12: a fixed 10000 silently diverged once
        // >10000 docs matched)
        val docs = Tables.documents(s, d)
        val pool = math.max(docs.count(), 10000L).toInt
        val fts = Bm25.search(docs, "doc_id", "text",
            Seq("hash", "join"), pool)
          .select(col("id").as("doc_id"), round(col("bm25"), 6).as("key"))
          .orderBy(col("key").desc, col("doc_id").asc).limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("key").desc, col("doc_id").asc)))
        HybridSearch.rrfFuseTopK(Seq(vec, fts), "doc_id", k = 10, c = 60)
          .select(col("doc_id"), col("rank_0").as("rank_vec"),
            col("rank_1").as("rank_fts"),
            round(col("rrf_score"), 6).as("rrf_score"))
          .orderBy(desc("rrf_score"), asc("doc_id"))
      }),

    // Hamming-nearest signatures: popcount(sig XOR query) top-k over
    // the 16-bit simhash tier (q24's signatures) — duplicate triage
    // from one signature, codes-only, no text touched. bit_count/xor
    // are integer-exact in both engines; ties break by id
    Q("q112_hamming_nn", Some {
      val sums = (0 until 16).map(b =>
        s"SUM(CASE WHEN ((hv >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s$b").mkString(",\n          ")
      val bits = (0 until 16).map(b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""
      WITH toks AS (
        SELECT DISTINCT doc_id, t
        FROM documents, LATERAL (SELECT unnest(${toksSql("text")}) AS t) u),
      h AS (SELECT doc_id, ${hash32Sql("t")} AS hv FROM toks),
      b AS (SELECT doc_id,
          $sums
        FROM h GROUP BY doc_id),
      sig AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM b),
      qs AS (SELECT simhash AS qsig FROM sig WHERE doc_id = 0)
      SELECT s.doc_id, s.simhash,
        CAST(bit_count(xor(s.simhash, qs.qsig)) AS INT) AS hamming
      FROM sig s CROSS JOIN qs
      WHERE s.doc_id <> 0
      ORDER BY hamming, s.doc_id LIMIT 10"""
    },
      (s, d) => {
        val sigs = Dedup.simhashes(Tables.documents(s, d), "doc_id", "text",
          bits = 16)
        val qsig = sigs.filter(col("id") === 0)
          .select("simhash").head().getLong(0)
        Dedup.hammingTopK(sigs.filter(col("id") =!= 0), "id", "simhash",
            qsig, k = 10)
          .select(col("id").as("doc_id"), col("sig").as("simhash"),
            col("hamming"))
          .orderBy(asc("hamming"), asc("doc_id"))
      }),

    // MMR diversified re-ranking (Carbonell & Goldstein 1998): greedy
    // λ·rel − (1−λ)·max-sim-to-selected over the exact top-50
    // shortlist — the standard fix for k near-copies in a result page.
    // The oracle UNROLLS the greedy loop (one CTE block per pick, k=5)
    // over the same shortlist; every similarity is the bit-parity
    // cosine fold and the (1−λ) literal is Scala's own printed double,
    // so each argmax replays exactly. The distributed part is the
    // shortlist TakeOrderedAndProject; the greedy is driver-side over
    // a BOUNDED candidate set (PQ train-sample discipline)
    {
      val lambda = 0.7
      val l = lambda.toString
      val oml = (1.0 - lambda).toString
      val steps = (2 to 5).map { i => s"""
      m$i AS (SELECT c.id, c.cs AS rel, $l*c.cs - $oml*max(s.s) AS sc
             FROM cand c JOIN sims s ON s.ia = c.id
               AND s.ib IN (SELECT id FROM sel${i - 1})
             WHERE c.id NOT IN (SELECT id FROM sel${i - 1})
             GROUP BY c.id, c.cs),
      p$i AS (SELECT id, rel, sc FROM m$i ORDER BY sc DESC, id LIMIT 1),
      sel$i AS (SELECT id FROM sel${i - 1} UNION ALL SELECT id FROM p$i)"""
      }.mkString(",")
      val picks = (1 to 5).map(i =>
        s"SELECT id AS vec_id, round(rel, 6) AS rel, round(sc, 6) AS mmr_score, $i AS pick FROM p$i")
        .mkString("\n      UNION ALL ")
      Q("q113_mmr_rerank", Some(s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      rel0 AS (
        SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS v,
          list_dot_product(e.embedding::DOUBLE[], q.qv) /
            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             sqrt(list_dot_product(q.qv, q.qv))) AS cs
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
      cand AS (SELECT id, v, cs FROM rel0 ORDER BY cs DESC, id LIMIT 50),
      sims AS (
        SELECT a.id AS ia, b.id AS ib,
          list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS s
        FROM cand a JOIN cand b ON a.id <> b.id),
      p1 AS (SELECT id, cs AS rel, $l*cs AS sc FROM cand
             ORDER BY $l*cs DESC, id LIMIT 1),
      sel1 AS (SELECT id FROM p1),$steps
      $picks
      ORDER BY pick"""),
        (s, d) => {
          val emb = Tables.embeddings(s, d)
          val qv = emb.filter(col("vec_id") === 0)
            .select("embedding").head().getSeq[Float](0)
          VectorSearch.mmrTopK(emb.filter(col("vec_id") =!= 0), "vec_id",
              "embedding", qv, k = 5, shortlist = 50, lambda = lambda)
            .select(col("id").as("vec_id"), round(col("rel"), 6).as("rel"),
              round(col("mmr_score"), 6).as("mmr_score"), col("pick"))
            .orderBy("pick")
        })
    },

    // Corpus distributional audit (round 13): top-25 token
    // rank-frequency spectrum + the OLS Zipf slope of ln(freq)~ln(rank)
    // (natural text ~ -1; flat heads flag boilerplate/generated spam).
    // Vocabulary-sized aggregate -> distributed TakeOrdered head; all
    // float sums are rank-ordered folds over the BOUNDED head on both
    // engines (Spark sequential aggregate vs DuckDB list_dot_product,
    // the q96/q97 discipline); round-6 absorbs the shared 1-ulp ln gap
    Q("q126_zipf_spectrum", Some(s"""
      WITH tok AS (
        SELECT unnest(${toksRawSql("lower(text)")}) AS token FROM documents),
      cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
              FROM tok GROUP BY token),
      top AS (SELECT token, freq FROM cnt ORDER BY freq DESC, token LIMIT 25),
      rk AS (SELECT token, freq,
               CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
             FROM top),
      l AS (SELECT rank, token, freq,
              ln(CAST(rank AS DOUBLE)) AS lnr,
              ln(CAST(freq AS DOUBLE)) AS lnf
            FROM rk),
      s AS (SELECT
              CAST(count(*) AS BIGINT) AS n,
              list_dot_product(list(lnr ORDER BY rank),
                list_transform(list(lnr ORDER BY rank), x -> 1.0)) AS sx,
              list_dot_product(list(lnf ORDER BY rank),
                list_transform(list(lnf ORDER BY rank), x -> 1.0)) AS sy,
              list_dot_product(list(lnr ORDER BY rank),
                list(lnr ORDER BY rank)) AS sxx,
              list_dot_product(list(lnr ORDER BY rank),
                list(lnf ORDER BY rank)) AS sxy
            FROM l)
      SELECT l.rank, l.token, l.freq,
        round((CAST(s.n AS DOUBLE) * s.sxy - s.sx * s.sy) /
              (CAST(s.n AS DOUBLE) * s.sxx - s.sx * s.sx), 6) AS zipf_slope
      FROM l, s ORDER BY l.rank"""),
      (s, d) => graft.operators.CorpusStats.zipfSpectrum(
          Tables.documents(s, d), "text", topN = 25)
        .orderBy("rank"))
    ,

    // KMV distinct-cardinality sketch (round 13): the 100 TB answer to
    // "how many distinct 5-grams does this corpus have" WITHOUT an
    // exact global distinct — k smallest portable-hash values, est =
    // (k-1)*2^32/h_(k) (Bar-Yossef et al. 2002). Deterministic by
    // construction (md5 hash, integer k-th minimum, ONE division), so
    // unlike HLL the sketch itself replays exactly in SQL. True count
    // at sf0.01 is 23995; the k=256 estimate lands within ~1/sqrt(254)
    Q("q132_kmv_distinct", Some(s"""
      WITH g AS (
        SELECT DISTINCT CAST('0x' || substr(md5(gr), 1, 8) AS BIGINT) AS h
        FROM (SELECT unnest(list_distinct([array_to_string(t[i:i+4], ' ')
                       for i in range(1, greatest(len(t) - 4, 0) + 1)])) AS gr
              FROM (SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
                    FROM documents))),
      topk AS (SELECT h FROM g ORDER BY h LIMIT 256),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n_tracked,
              CAST(max(h) AS BIGINT) AS kth_hash FROM topk)
      SELECT n_tracked, kth_hash,
        CASE WHEN n_tracked < 256 THEN CAST(n_tracked AS DOUBLE)
             ELSE ${(255 * 4294967296.0).toString} / CAST(kth_hash AS DOUBLE)
        END AS est_distinct
      FROM a"""),
      (s, d) => graft.operators.CorpusStats.kmvDistinct(
        Tables.documents(s, d).select(explode(
          graft.plans.TextSetExpressions.wordNgramSet(lower(col("text")), 5))
          .as("g")),
        col("g"), k = 256)),

    // Exact per-source length percentiles (round 13) by DISTRIBUTED
    // rank — nearest-rank method, value at rank ceil(q*n). Spark's own
    // exact percentile aggregate buffers each group in executor
    // memory; the q103/q108 prefix-rank machinery never materializes a
    // stratum, so the same plan serves a billion-row source. Integer
    // picks — no interpolation, bit-exact on any engine
    Q("q135_length_percentiles", Some("""
      WITH r AS (
        SELECT source, n_chars,
          row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
          count(*) OVER (PARTITION BY source) AS n
        FROM documents)
      SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        CAST(max(CASE WHEN rk = CAST(ceil(0.25 * n) AS BIGINT)
                 THEN n_chars END) AS BIGINT) AS p25,
        CAST(max(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT)
                 THEN n_chars END) AS BIGINT) AS p50,
        CAST(max(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT)
                 THEN n_chars END) AS BIGINT) AS p90
      FROM r GROUP BY source ORDER BY source"""),
      (s, d) => graft.operators.CorpusStats.exactPercentiles(
          Tables.documents(s, d).select(col("source"), col("n_chars")),
          "n_chars", "source", Seq(0.25, 0.5, 0.9))
        .orderBy("source"))
    ,

    // Adaptive threshold filter (round 13): data-DRIVEN cleaning —
    // drop each source's shortest quartile using ITS OWN measured p25
    // (a fixed global length bar over- or under-cleans sources with
    // different length regimes; CCNet/RefinedWeb tune per-shard for
    // the same reason). Composes q135's distributed percentile into a
    // broadcast threshold join — the percentile table is one row per
    // source, so the filter itself is map-only at any corpus size
    Q("q137_adaptive_length_filter", Some("""
      WITH r AS (
        SELECT doc_id, source, n_chars,
          row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
          count(*) OVER (PARTITION BY source) AS n
        FROM documents),
      thr AS (
        SELECT source,
          CAST(max(CASE WHEN rk = CAST(ceil(0.25 * n) AS BIGINT)
                   THEN n_chars END) AS BIGINT) AS threshold
        FROM r GROUP BY source)
      SELECT d.doc_id, d.source, d.n_chars, thr.threshold
      FROM documents d JOIN thr USING (source)
      WHERE d.n_chars >= thr.threshold
      ORDER BY d.doc_id"""),
      (s, d) => {
        val docs = Tables.documents(s, d)
        val thr = graft.operators.CorpusStats.exactPercentiles(
            docs.select(col("source"), col("n_chars")),
            "n_chars", "source", Seq(0.25))
          .select(col("source"), col("p25").as("threshold"))
        docs.join(broadcast(thr), Seq("source"))
          .filter(col("n_chars") >= col("threshold"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("threshold"))
          .orderBy("doc_id")
      }),

    // Graph centrality over the embedding kNN graph (round 14): the
    // quality-propagation signal web-corpus curation runs over link /
    // similarity structure (PageRank, Page et al. 1999). The rank is
    // INTEGER micro-unit arithmetic end to end (GraphRank.Scale mass,
    // left-to-right long division per transfer, exact long sums), so
    // the oracle's 5 unrolled rounds replay bit-for-bit — the output
    // is all BIGINT, no float column at all. Graph = exact kNN
    // (k=8, cos desc) from ONE corpus-scan batch; the 100 TB candidate
    // path swaps in the IVF probe with the same edge contract
    Q("q140_knn_pagerank", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.oracleSqlCtes(rounds = 5)}
      SELECT id AS vec_id, score FROM pr
      ORDER BY score DESC, id LIMIT 20"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", k = 8)
        GraphRank.pagerank(emb.select("vec_id"), "vec_id",
            edges, "src", "dst", rounds = 5)
          .select(col("id").as("vec_id"), col("score"))
          .orderBy(desc("score"), asc("vec_id")).limit(20)
      }),

    // KMV sketch set algebra (round 14, Beyer et al. 2007): pairwise
    // cross-source 5-gram union/intersection/Jaccard ESTIMATES from
    // per-source k-min sketches — q106's exact overlap matrix at
    // sketch cost (the sketches are k hashes per source; the exact
    // matrix shuffles every shared gram). Deterministic md5 hash +
    // integer ranks + one division = the sketch replays exactly in
    // SQL, 32-bit collisions included; estimates are round-6
    Q("q141_kmv_source_overlap", Some(s"""
      WITH g AS (
        SELECT DISTINCT source,
          CAST('0x' || substr(md5(gr), 1, 8) AS BIGINT) AS h
        FROM (SELECT source,
                unnest(list_distinct([array_to_string(t[i:i+4], ' ')
                  for i in range(1, greatest(len(t) - 4, 0) + 1)])) AS gr
              FROM (SELECT source,
                      list_filter(string_split(lower(text), ' '),
                        x -> x <> '') AS t
                    FROM documents))),
      sk AS (SELECT source, h FROM (
               SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rk
               FROM g) WHERE rk <= 128),
      srcs AS (SELECT DISTINCT source FROM sk),
      m AS (
        SELECT DISTINCT a.source AS src_a, b.source AS src_b, x.h
        FROM srcs a JOIN srcs b ON a.source < b.source
        JOIN sk x ON x.source = a.source OR x.source = b.source),
      u AS (SELECT src_a, src_b, h,
              row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
            FROM m),
      t AS (SELECT src_a, src_b, h FROM u WHERE rk <= 128),
      agg AS (
        SELECT t.src_a, t.src_b,
          CAST(count(*) AS BIGINT) AS n_tracked,
          CAST(max(t.h) AS BIGINT) AS union_kth,
          CAST(sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_common
        FROM t
        LEFT JOIN sk a ON a.source = t.src_a AND a.h = t.h
        LEFT JOIN sk b ON b.source = t.src_b AND b.h = t.h
        GROUP BY t.src_a, t.src_b),
      est AS (
        SELECT src_a, src_b, n_common, union_kth,
          CASE WHEN n_tracked < 128 THEN CAST(n_tracked AS DOUBLE)
               ELSE ${(127 * 4294967296.0).toString} /
                    CAST(union_kth AS DOUBLE) END AS eu,
          CAST(n_common AS DOUBLE) / CAST(n_tracked AS DOUBLE) AS ej
        FROM agg)
      SELECT src_a, src_b, n_common, union_kth,
        round(eu, 6) AS est_union, round(ej, 6) AS jaccard_est,
        round(ej * eu, 6) AS est_intersect
      FROM est ORDER BY src_a, src_b"""),
      (s, d) => CorpusStats.kmvPairOverlap(
          Tables.documents(s, d).select(col("source"), explode(
            graft.plans.TextSetExpressions.wordNgramSet(lower(col("text")), 5))
            .as("g")),
          "source", col("g"), k = 128)
        .select(col("src_a"), col("src_b"), col("n_common"),
          col("union_kth"), round(col("est_union"), 6).as("est_union"),
          round(col("jaccard_est"), 6).as("jaccard_est"),
          round(col("est_intersect"), 6).as("est_intersect"))
        .orderBy("src_a", "src_b")),

    // Token-run collapse (round 14): the token-stream `uniq` repair —
    // consecutive duplicate tokens ("the the", stuttered boilerplate)
    // collapse to one occurrence. Complements the Gopher repetition
    // SCORE (q63 flags; this repairs) and corpus-wide line dedup (q79
    // dedups across docs; this within). Map-only, zero shuffle at any
    // scale: one index-aware higher-order filter inside whole-stage
    // codegen. clean_text is in the output so the oracle certifies the
    // repaired CONTENT, not just the counts
    Q("q143_token_run_collapse", Some("""
      WITH t AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
                 FROM documents),
      k AS (SELECT doc_id, len(w) AS n_tokens,
              list_filter(w, (x, i) -> i = 1 OR x <> w[i-1]) AS kept
            FROM t)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(len(kept) AS BIGINT) AS n_kept,
        CAST(n_tokens - len(kept) AS BIGINT) AS removed,
        array_to_string(kept, ' ') AS clean_text
      FROM k ORDER BY doc_id"""),
      (s, d) => TextAnalysis.collapseTokenRuns(
          Tables.documents(s, d), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          col("removed"), col("clean_text"))
        .orderBy("doc_id")),

    // TrustRank (round 14, Gyöngyi et al. VLDB 2004): q140's integer
    // PageRank with the teleport restricted to a trusted SEED set —
    // the seed-expansion curation move ("these documents are vetted;
    // rank the rest by similarity-flow from them"). Seeds = the
    // label-0 embedding cluster; graph = the same exact-kNN edges.
    // Integer micro-unit arithmetic end to end, 5 unrolled oracle
    // rounds, BIGINT-only output
    Q("q147_trustrank", Some(s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      seeds AS (SELECT vec_id AS id FROM e WHERE label = 0),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.trustRankOracleCtes(rounds = 5)}
      SELECT id AS vec_id, score FROM pr
      ORDER BY score DESC, id LIMIT 30"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", k = 8)
        GraphRank.trustRank(emb.select("vec_id"), "vec_id",
            emb.filter(col("label") === 0).select("vec_id"), "vec_id",
            edges, "src", "dst", rounds = 5)
          .select(col("id").as("vec_id"), col("score"))
          .orderBy(desc("score"), asc("vec_id")).limit(30)
      }),

    // Label propagation (round 14, Zhu & Ghahramani 2002): the
    // semi-supervised classify move completing the graph family (q140
    // rank / q147 trust / q148 classify) — 20% of nodes keep their
    // true label as clamped seeds, 3 synchronous integer-vote rounds
    // spread them over the kNN graph, ties to the smallest label. The
    // output carries pred vs true per node, so the oracle certifies
    // the full labeling AND the implied accuracy
    Q("q148_label_propagation", Some(s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      seeds AS (SELECT vec_id AS id, label FROM e WHERE vec_id % 5 = 0),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.labelPropagateOracleCtes(rounds = 3)}
      SELECT lp.id AS vec_id, lp.label AS pred_label, t.label AS true_label,
        CAST(CASE WHEN lp.id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS is_seed,
        CAST(CASE WHEN lp.label = t.label THEN 1 ELSE 0 END AS INT) AS correct
      FROM lp JOIN e t ON t.vec_id = lp.id
      ORDER BY vec_id"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", k = 8)
        GraphRank.labelPropagate(emb.select("vec_id"), "vec_id",
            emb.filter(col("vec_id") % 5 === 0)
              .select(col("vec_id"), col("label")), "vec_id", "label",
            edges, "src", "dst", rounds = 3)
          .join(emb.select(col("vec_id"), col("label").as("true_label")),
            col("id") === col("vec_id"))
          .select(col("vec_id"), col("label").as("pred_label"),
            col("true_label"),
            when(col("vec_id") % 5 === 0, 1).otherwise(0).as("is_seed"),
            when(col("label") === col("true_label"), 1).otherwise(0)
              .as("correct"))
          .orderBy("vec_id")
      }),

    // HyperLogLog cardinality (round 14, Flajolet 2007): per-source
    // distinct token-3-gram estimate vs the exact count — the sketch
    // the 100 TB tier actually ships (fixed 2^8-register state,
    // mergeable across shards) next to q132's KMV order-statistic
    // sketch. Registers are integer-exact off the portable hash; the
    // harmonic sum is dyadic-exact in any fold order; the one ln (the
    // linear-counting branch) is round-6-absorbed. rel_err is computed
    // FROM the rounded estimate so it is deterministic too
    Q("q149_hll_distinct", Some("""
      WITH tok AS (SELECT source,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
            FROM documents),
      g AS (SELECT source,
              unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                for i in range(1, greatest(len(t) - 2, 0) + 1)])) AS gr
            FROM tok),
      h AS (SELECT source,
              CAST('0x' || substr(md5(gr), 1, 8) AS BIGINT) AS h FROM g),
      regs AS (SELECT source, h // 16777216 AS bucket,
                 CASE WHEN h % 16777216 = 0 THEN 25
                      ELSE 25 - length(bin(h % 16777216)) END AS rho
               FROM h),
      mx AS (SELECT source, bucket, max(rho) AS m
             FROM regs GROUP BY source, bucket),
      agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_hit,
                sum(power(2.0, -m)) AS s_hit
              FROM mx GROUP BY source),
      est AS (SELECT source, n_hit, CAST(256 - n_hit AS BIGINT) AS n_zero,
                s_hit + CAST(256 - n_hit AS DOUBLE) AS s
              FROM agg),
      fin AS (SELECT source, n_hit, n_zero,
                CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 / s
                          <= 640.0 AND n_zero > 0
                     THEN 256.0 * ln(256.0 / CAST(n_zero AS DOUBLE))
                     ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 / s
                END AS e
              FROM est),
      ex AS (SELECT source, CAST(count(DISTINCT gr) AS BIGINT) AS exact_distinct
             FROM g GROUP BY source)
      SELECT f.source, f.n_hit, f.n_zero,
        round(f.e, 6) AS est_distinct, x.exact_distinct,
        round((round(f.e, 6) - CAST(x.exact_distinct AS DOUBLE)) /
          CAST(x.exact_distinct AS DOUBLE), 6) AS rel_err
      FROM fin f JOIN ex x ON x.source = f.source
      ORDER BY f.source"""),
      (s, d) => {
        val docs = Tables.documents(s, d)
        val grams = docs.select(col("source"), explode(
          graft.plans.TextSetExpressions.wordNgramSet(lower(col("text")), 3))
          .as("gr"))
        val exact = grams.groupBy("source")
          .agg(countDistinct(col("gr")).as("exact_distinct"))
        CorpusStats.hllDistinct(grams, "source", col("gr"), p = 8)
          .withColumn("est_r", round(col("est_distinct"), 6))
          .join(exact, Seq("source"))
          .select(col("source"), col("n_hit"), col("n_zero"),
            col("est_r").as("est_distinct"), col("exact_distinct"),
            round((col("est_r") - col("exact_distinct").cast("double")) /
              col("exact_distinct").cast("double"), 6).as("rel_err"))
          .orderBy("source")
      }),

    // Triangle census of the embedding kNN graph (round 14, Watts &
    // Strogatz 1998): per-node triangle count + local clustering
    // coefficient over the MUTUAL kNN edges — the graph-density audit
    // completing the graph family (q140 rank / q147 trust / q148
    // classify / q150 structure). Counts are exact longs; lcc is one
    // division of exact integers, round-6 for display
    Q("q150_knn_triangles", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.triangleOracleCtes}
      SELECT id AS vec_id, degree, n_tri, round(lcc, 6) AS lcc
      FROM tstats ORDER BY vec_id"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", k = 8)
        GraphRank.triangleStats(emb.select("vec_id"), "vec_id",
            edges, "src", "dst")
          .select(col("id").as("vec_id"), col("degree"), col("n_tri"),
            round(col("lcc"), 6).as("lcc"))
          .orderBy("vec_id")
      }),

    // Token-frequency Gini concentration (round 14): per-source
    // inequality of the token-frequency distribution — the
    // vocabulary-concentration audit (template/boilerplate sources
    // concentrate mass in few types). Exact integer arithmetic in
    // decimal/HUGEINT up to ONE final division, round-6
    Q("q151_token_gini", Some("""
      WITH tok AS (SELECT source,
              unnest(list_filter(string_split(lower(text), ' '),
                x -> x <> '')) AS t
            FROM documents),
      cnt AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY source, t),
      rk AS (SELECT source, t, c,
               row_number() OVER (PARTITION BY source ORDER BY c, t) AS rk,
               count(*) OVER (PARTITION BY source) AS n
             FROM cnt),
      agg AS (SELECT source, CAST(max(n) AS BIGINT) AS vocab_n,
                CAST(sum(c) AS BIGINT) AS total_count,
                sum(CAST(rk AS HUGEINT) * CAST(c AS HUGEINT)) AS s1
              FROM rk GROUP BY source)
      SELECT source, vocab_n, total_count,
        round(CAST(2 * s1 - (CAST(vocab_n AS HUGEINT) + 1) *
                     CAST(total_count AS HUGEINT) AS DOUBLE) /
              CAST(CAST(vocab_n AS HUGEINT) *
                   CAST(total_count AS HUGEINT) AS DOUBLE), 6) AS gini
      FROM agg ORDER BY source"""),
      (s, d) => CorpusStats.giniConcentration(
          Tables.documents(s, d).select(col("source"),
            explode(TextFunctions.tokens(lower(col("text")))).as("t")),
          "source", col("t"))
        .select(col("source"), col("vocab_n"), col("total_count"),
          round(col("gini"), 6).as("gini"))
        .orderBy("source")),

    // PMI collocations (round 14, Church & Hanks 1990): top adjacent
    // pairs by pointwise mutual information with a min-count cut —
    // the multiword-unit / boilerplate-phrase audit. Counts exact;
    // the PMI float is the identical division/ln chain on both
    // engines, round-6 BEFORE it becomes the sort key
    Q("q152_pmi_collocations", Some("""
      WITH tok AS (SELECT
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
            FROM documents),
      uni AS (SELECT unnest(t) AS w FROM tok),
      uc AS (SELECT w, CAST(count(*) AS BIGINT) AS w_n FROM uni GROUP BY w),
      bi AS (SELECT t[i] AS w1, t[i+1] AS w2
             FROM tok, LATERAL (SELECT unnest(
               generate_series(1, len(t) - 1)) AS i) s
             WHERE len(t) >= 2),
      bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_n
             FROM bi GROUP BY w1, w2),
      nu AS (SELECT CAST(sum(w_n) AS BIGINT) AS nu FROM uc),
      nb AS (SELECT CAST(sum(pair_n) AS BIGINT) AS nb FROM bc)
      SELECT w1, w2, pair_n, u1.w_n AS w1_n, u2.w_n AS w2_n,
        round(ln((CAST(pair_n AS DOUBLE) / CAST(nb AS DOUBLE)) /
          (CAST(u1.w_n AS DOUBLE) / CAST(nu AS DOUBLE) *
           (CAST(u2.w_n AS DOUBLE) / CAST(nu AS DOUBLE)))), 6) AS pmi
      FROM bc JOIN uc u1 ON u1.w = bc.w1
      JOIN uc u2 ON u2.w = bc.w2
      CROSS JOIN nu CROSS JOIN nb
      WHERE pair_n >= 10
      ORDER BY pmi DESC, w1, w2 LIMIT 30"""),
      (s, d) => CorpusStats.pmiCollocations(
          Tables.documents(s, d), "text", minCount = 10L)
        .orderBy(desc("pmi"), asc("w1"), asc("w2")).limit(30)),

    // Distinct-n diversity (round 14, Li et al. 2016): per-source
    // type/token ratio over 1/2/3-grams — the cross-document
    // repetitiveness audit (templated sources score low on
    // distinct-2/3 even when per-document repetition looks clean).
    // Integer counts + one division
    Q("q154_distinct_ngrams", Some("""
      WITH tok AS (SELECT source,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
            FROM documents),
      g AS (SELECT source, nn.n,
              unnest([array_to_string(t[i:i+nn.n-1], ' ')
                for i in range(1, greatest(len(t) - nn.n + 1, 0) + 1)]) AS gr
            FROM tok CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) nn),
      agg AS (SELECT source, n, CAST(count(*) AS BIGINT) AS total_ngrams,
                CAST(count(DISTINCT gr) AS BIGINT) AS distinct_ngrams
              FROM g GROUP BY source, n)
      SELECT source, CAST(n AS INT) AS n, total_ngrams, distinct_ngrams,
        CAST(distinct_ngrams AS DOUBLE) / CAST(total_ngrams AS DOUBLE)
          AS distinct_ratio
      FROM agg ORDER BY source, n"""),
      (s, d) => CorpusStats.distinctNgramDiversity(
          Tables.documents(s, d), "source", "text", maxN = 3)
        .orderBy("source", "n")),

    // Frequency-of-frequencies + raw Good-Turing (round 14, Good 1953
    // / Gale & Sampson 1995): per-source N_c spectrum with the Turing
    // re-estimate c* = (c+1)N_{c+1}/N_c — the LM-smoothing front
    // table and the hapax audit in one shape. Counts exact; c* is one
    // division of an integer product; N_{c+1} via keyed self-join
    Q("q155_freq_of_freqs", Some(s"""
      WITH tok AS (SELECT source, unnest(${toksSql("text")}) AS t
                   FROM documents),
      cnt AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
      ff AS (SELECT source, c, CAST(count(*) AS BIGINT) AS n_types
             FROM cnt GROUP BY 1, 2)
      SELECT f.source, CAST(f.c AS BIGINT) AS c, f.n_types,
        round(CAST((f.c + 1) * n2.n_types AS DOUBLE) /
              CAST(f.n_types AS DOUBLE), 6) AS gt_cstar
      FROM ff f LEFT JOIN ff n2
        ON n2.source = f.source AND n2.c = f.c + 1
      WHERE f.c <= 100
      ORDER BY f.source, c"""),
      (s, d) => CorpusStats.freqOfFreqs(
          Tables.documents(s, d).select(col("source"),
            explode(TextFunctions.tokens(lower(col("text")))).as("t")),
          "source", col("t"), maxC = 100)
        .select(col("source"), col("c"), col("n_types"),
          round(col("gt_cstar"), 6).as("gt_cstar"))
        .orderBy("source", "c")),

    // Degree assortativity of the kNN graph (round 14, Newman 2002):
    // do similarity hubs attach to hubs? Over the symmetric
    // ordered-pair mutual edge list, r = (M·Σjk − (Σj)²)/(M·Σj² −
    // (Σj)²) — every operand an exact integer (HUGEINT/decimal sums),
    // ONE double division, bit-identical replay
    Q("q156_degree_assortativity", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ord AS (SELECT e1.src AS a, e1.dst AS b FROM edges e1
              JOIN edges e2 ON e2.src = e1.dst AND e2.dst = e1.src),
      deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
              FROM ord GROUP BY a),
      p AS (SELECT da.deg AS ja, db.deg AS jb
            FROM ord JOIN deg da ON da.id = ord.a
            JOIN deg db ON db.id = ord.b),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS m,
                sum(CAST(ja AS HUGEINT)) AS sj,
                sum(CAST(ja AS HUGEINT) * CAST(jb AS HUGEINT)) AS sjk,
                sum(CAST(ja AS HUGEINT) * CAST(ja AS HUGEINT)) AS sj2
              FROM p)
      SELECT m AS m_ordered_edges,
        CASE WHEN CAST(m AS HUGEINT) * sj2 - sj * sj <> 0
             THEN round(CAST(CAST(m AS HUGEINT) * sjk - sj * sj AS DOUBLE) /
                        CAST(CAST(m AS HUGEINT) * sj2 - sj * sj AS DOUBLE), 6)
             ELSE NULL END AS assortativity
      FROM agg"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", k = 8)
        GraphRank.degreeAssortativity(edges, "src", "dst")
          .select(col("m_ordered_edges"),
            round(col("assortativity"), 6).as("assortativity"))
      }),

    // kNN label purity (round 14): per class, the fraction of kNN
    // edges whose endpoint shares the source's label — the embedding-
    // quality / class-separation audit (the graph-side 1-NN accuracy
    // generalized to k). Exact integer counts + one division
    Q("q160_knn_label_purity", Some(s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      j AS (SELECT ls.label AS label,
              CASE WHEN ls.label = ld.label THEN 1 ELSE 0 END AS same
            FROM edges eg
            JOIN e ls ON ls.vec_id = eg.src
            JOIN e ld ON ld.vec_id = eg.dst)
      SELECT label, CAST(count(*) AS BIGINT) AS n_edges,
        CAST(sum(same) AS BIGINT) AS same_label_edges,
        CAST(sum(same) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS purity
      FROM j GROUP BY label ORDER BY label"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", k = 8)
        val lab = emb.select(col("vec_id"), col("label"))
        edges
          .join(lab.select(col("vec_id").as("src"),
            col("label").as("__ls")), Seq("src"))
          .join(lab.select(col("vec_id").as("dst"),
            col("label").as("__ld")), Seq("dst"))
          .groupBy(col("__ls").as("label"))
          .agg(count(lit(1)).as("n_edges"),
            sum(when(col("__ls") === col("__ld"), 1L).otherwise(0L))
              .as("same_label_edges"))
          .select(col("label"), col("n_edges"), col("same_label_edges"),
            (col("same_label_edges").cast("double") /
              col("n_edges").cast("double")).as("purity"))
          .orderBy("label")
      }),

    // Unsupervised community detection over the kNN graph (round 14,
    // Raghavan 2007 LPA): topic/near-dup partitions with no trained
    // model and no seed set — every node starts as its own community,
    // 5 synchronous argmax rounds (exact long votes, smallest-label
    // ties, voteless nodes keep their label). The deterministic
    // synchronous form is the oracle-replayable one; per-round traffic
    // is (id, label) long pairs over the shared edge artifact
    Q("q161_knn_communities", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.communityOracleCtes(rounds = 5)},
      sz AS (SELECT community, CAST(count(*) AS BIGINT) AS n_members
             FROM comm GROUP BY community)
      SELECT comm.id AS vec_id, comm.community, sz.n_members
      FROM comm JOIN sz USING (community)
      ORDER BY vec_id"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", k = 8)
        val comm = GraphRank.communityDetect(emb.select("vec_id"),
          "vec_id", edges, "src", "dst", rounds = 5)
        val sz = comm.groupBy("community").agg(count(lit(1)).as("n_members"))
        comm.join(sz, Seq("community"))
          .select(col("id").as("vec_id"), col("community"),
            col("n_members"))
          .orderBy("vec_id")
      }),

    // Vocabulary richness (round 14, Chao 1984 + Good 1953): per
    // source, bias-corrected Chao1 (how many types the sample hasn't
    // seen) and Good's coverage 1 - N1/N (the unseen probability
    // mass) — the "is more data from this source buying diversity"
    // audit, read straight off the q155 frequency spectrum's moments.
    // Counts exact; each estimate is one division (+ one add)
    Q("q162_vocab_richness", Some(s"""
      WITH tok AS (SELECT source, unnest(${toksSql("text")}) AS t
                   FROM documents),
      cnt AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
      agg AS (SELECT source, CAST(count(*) AS BIGINT) AS v_types,
                CAST(sum(c) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
              FROM cnt GROUP BY source)
      SELECT source, v_types, n_tokens, n1, n2,
        round(CAST(v_types AS DOUBLE) +
              CAST(n1 * (n1 - 1) AS DOUBLE) /
              CAST(2 * (n2 + 1) AS DOUBLE), 6) AS chao1,
        round(1.0 - CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
          AS coverage
      FROM agg ORDER BY source"""),
      (s, d) => CorpusStats.vocabRichness(
          Tables.documents(s, d).select(col("source"),
            explode(TextFunctions.tokens(lower(col("text")))).as("t")),
          "source", col("t"))
        .select(col("source"), col("v_types"), col("n_tokens"),
          col("n1"), col("n2"),
          round(col("chao1"), 6).as("chao1"),
          round(col("coverage"), 6).as("coverage"))
        .orderBy("source")),

    // Token dispersion across sources (round 14, Gries 2008 DP): for
    // the top-40 corpus tokens, is the token spread like the corpus
    // (DP~0, function words) or concentrated in one source (DP->1,
    // boilerplate/jargon)? Exact integer cross-products to ONE double
    // division; absent (token, source) pairs telescope into a closed
    // tail (the q146 move) so the frame never leaves present pairs
    Q("q163_token_dispersion", Some(s"""
      WITH tok AS (SELECT source, unnest(${toksSql("text")}) AS t
                   FROM documents),
      cnt AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
      sizes AS (SELECT source, CAST(sum(c) AS BIGINT) AS s
                FROM cnt GROUP BY source),
      nn AS (SELECT CAST(sum(s) AS BIGINT) AS n FROM sizes),
      tot AS (SELECT t, CAST(sum(c) AS BIGINT) AS c_total
              FROM cnt GROUP BY t
              ORDER BY c_total DESC, t LIMIT 40),
      pairs AS (SELECT cnt.t, tot.c_total, nn.n, sizes.s, cnt.c
                FROM cnt JOIN tot ON tot.t = cnt.t
                JOIN sizes ON sizes.source = cnt.source
                CROSS JOIN nn),
      agg AS (SELECT t, c_total, n,
                CAST(count(*) AS BIGINT) AS n_strata_present,
                sum(abs(CAST(c AS HUGEINT) * CAST(n AS HUGEINT) -
                        CAST(c_total AS HUGEINT) * CAST(s AS HUGEINT)))
                  AS num_present,
                sum(CAST(s AS HUGEINT)) AS sp
              FROM pairs GROUP BY t, c_total, n)
      SELECT t AS token, c_total, n_strata_present,
        round(CAST(num_present + CAST(c_total AS HUGEINT) *
                     (CAST(n AS HUGEINT) - sp) AS DOUBLE) /
              CAST(2 * CAST(c_total AS HUGEINT) * CAST(n AS HUGEINT)
                   AS DOUBLE), 6) AS dp
      FROM agg ORDER BY c_total DESC, token"""),
      (s, d) => CorpusStats.tokenDispersion(
          Tables.documents(s, d).select(col("source"),
            explode(TextFunctions.tokens(lower(col("text")))).as("t")),
          "source", col("t"), topK = 40)
        .select(col("token"), col("c_total"), col("n_strata_present"),
          round(col("dp"), 6).as("dp"))
        .orderBy(desc("c_total"), asc("token"))),

    // Count-Min frequency sketch (round 14, Cormode & Muthukrishnan
    // 2005): the fixed-state frequency estimator completing the sketch
    // tier (q132 KMV order statistics, q149 HLL cardinality, this one
    // point frequency) — per source, the d=4 × w=512 sketch's estimate
    // for the source's top-5 exact tokens vs their exact counts, with
    // the one-sided guarantee surfaced (overestimate >= 0 always).
    // Every counter is an exact long; the per-source rank rides the
    // distributed prefix rank, never a vocabulary window
    Q("q165_cms_frequency", Some(s"""
      WITH tok AS (SELECT source, unnest(${toksSql("text")}) AS t
                   FROM documents),
      cnt AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
      top AS (SELECT source, t, c FROM (
                SELECT source, t, c,
                  row_number() OVER (PARTITION BY source
                    ORDER BY c DESC, t) AS rn
                FROM cnt) WHERE rn <= 5),
      h AS (SELECT source, ${hash32Sql("t")} AS h1,
              ${hash32Sql("'x|' || t")} AS h2
            FROM tok),
      occ AS (SELECT source, h1, h2, unnest(generate_series(0, 3)) AS r
              FROM h),
      cms AS (SELECT source, r, (h1 + r * h2) % 512 AS b,
                CAST(count(*) AS BIGINT) AS cnt
              FROM occ GROUP BY 1, 2, 3),
      qh AS (SELECT source, t, c, ${hash32Sql("t")} AS h1,
               ${hash32Sql("'x|' || t")} AS h2
             FROM top),
      qp AS (SELECT source, t, c, r, (h1 + r * h2) % 512 AS b
             FROM qh, LATERAL (
               SELECT unnest(generate_series(0, 3)) AS r) x),
      est AS (SELECT qp.source, qp.t, qp.c,
                CAST(min(cms.cnt) AS BIGINT) AS cms_est
              FROM qp JOIN cms ON cms.source = qp.source
                AND cms.r = qp.r AND cms.b = qp.b
              GROUP BY 1, 2, 3)
      SELECT source, t AS token, c AS exact_n, cms_est,
        cms_est - c AS overestimate
      FROM est ORDER BY source, token"""),
      (s, d) => {
        import graft.util.Materialize.MatOps
        val tok = Tables.documents(s, d).select(col("source"),
            explode(TextFunctions.tokens(lower(col("text")))).as("t"))
          .materializeOnce(eager = false) // feeds the counts AND the sketch
        val cnt = tok.groupBy("source", "t").agg(count(lit(1)).as("c"))
        val top = graft.operators.Sampling.stratumRank(cnt, "source",
            Seq(col("c").desc, col("t").asc), "__rk", "__n")
          .filter(col("__rk") <= 5).select("source", "t", "c")
        val cms = CorpusStats.cmsTable(tok, "source", col("t"),
          d = 4, w = 512)
        CorpusStats.cmsEstimate(cms, "source", top, "t")
          .join(top, Seq("source", "t"))
          .select(col("source"), col("t").as("token"),
            col("c").as("exact_n"), col("cms_est"),
            (col("cms_est") - col("c")).as("overestimate"))
          .orderBy("source", "token")
      }),

    // Class-affinity matrix in embedding space (round 14): for every
    // label pair, the cosine between the classes' int8-code resultant
    // vectors — WHICH classes collide, the pairwise complement to
    // q160's purity (how separated overall). Rides the q48-certified
    // max-abs quantization (its scale has NO accumulation, so codes
    // are bit-identical cross-engine); per-dim sums exact longs, pair
    // dot/norms exact HUGEINT, one double chain per pair
    Q("q166_label_affinity", Some(s"""
      WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT label,
              127.0 / greatest(list_max(list_transform(v, x -> abs(x))),
                               1e-30) AS qs, v
            FROM e),
      codes AS (SELECT label, i AS dim,
                  CAST(floor(v[i] * qs) AS BIGINT) AS c
                FROM q, LATERAL (
                  SELECT unnest(generate_series(1, len(v))) AS i) t),
      sums AS (SELECT label, dim, CAST(sum(c) AS BIGINT) AS s
               FROM codes GROUP BY 1, 2),
      norms AS (SELECT label,
                  sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS n2
                FROM sums GROUP BY label),
      dots AS (SELECT a.label AS label_a, b.label AS label_b,
                 sum(CAST(a.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS dot
               FROM sums a JOIN sums b ON b.dim = a.dim
                 AND a.label < b.label
               GROUP BY 1, 2)
      SELECT d.label_a, d.label_b,
        round(CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0.0
          ELSE CAST(d.dot AS DOUBLE) /
            (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
          END, 6) AS affinity
      FROM dots d
      JOIN norms na ON na.label = d.label_a
      JOIN norms nb ON nb.label = d.label_b
      ORDER BY label_a, label_b"""),
      (s, d) => graft.operators.Quantization.codeSumAffinity(
          Tables.embeddings(s, d).select(col("label"), col("embedding")),
          "label", "embedding")
        .select(col("group_a").as("label_a"), col("group_b").as("label_b"),
          round(col("affinity"), 6).as("affinity"))
        .orderBy("label_a", "label_b")),

    // IVF-built kNN edge artifact (round 15, VERDICT r14 #1): the same
    // integer PageRank regime as q140, but the edge list comes from the
    // DISTRIBUTED candidate path — GraphRank.knnGraphIvf: seeded k-means
    // cells, in-plan probe ranking against the broadcast centroid table,
    // cell-keyed candidate equi-join, per-src top-k — with ZERO driver
    // collects anywhere in the build (the exact q140 builder broadcasts
    // the whole corpus; this is the shape a 100 TB corpus uses). At full
    // probe (nProbe = nCells) the candidate set is all pairs, so edges
    // are bit-identical to exact and the oracle is the same kNN-window
    // replay. 4 rounds / k=8 / top 24 to make the row distinct from q140
    Q("q167_knn_pagerank_ivf", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.oracleSqlCtes(rounds = 4)}
      SELECT id AS vec_id, score FROM pr
      ORDER BY score DESC, id LIMIT 24"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding",
          k = 8, edgeSource = "ivf", nCells = 8, nProbe = 8)
        GraphRank.pagerank(emb.select("vec_id"), "vec_id",
            edges, "src", "dst", rounds = 4)
          .select(col("id").as("vec_id"), col("score"))
          .orderBy(desc("score"), asc("vec_id")).limit(24)
      }),

    // The MAINTAINED edge artifact certified end to end (round 16,
    // VERDICT r15 #3): the corpus arrives as an old corpus + a 10%
    // ingest batch; the old IVF artifact (full probe, with its frozen
    // centroid companion) materializes first, then
    // knnGraphArtifactAppend lands the post-append artifact via the
    // O(corpus·batch) frozen-clustering delta — and PageRank over THAT
    // maintained graph must hash-match the oracle's from-scratch exact
    // kNN over the full corpus (full probe ≡ exact, append ≡ rebuild).
    // A hash here certifies the whole ingest-maintenance chain.
    Q("q177_knn_pagerank_append", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.oracleSqlCtes(rounds = 4)}
      SELECT id AS vec_id, score FROM pr
      ORDER BY score DESC, id LIMIT 24"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ids = emb.select(col("vec_id").cast("long")).orderBy(desc("vec_id"))
          .limit((emb.count() / 10).toInt.max(1))
          .collect().map(_.getLong(0)).toSeq
        val old = emb.filter(!col("vec_id").isInCollection(ids))
        // the pre-ingest state an earlier session would have built
        GraphRank.knnGraphArtifact(old, "vec_id", "embedding", k = 8,
          edgeSource = "ivf", nCells = 8, nProbe = 8).count()
        val edges = GraphRank.knnGraphArtifactAppend(emb, "vec_id",
          "embedding", k = 8, newIds = ids, edgeSource = "ivf",
          nCells = 8, nProbe = 8)
        GraphRank.pagerank(emb.select("vec_id"), "vec_id",
            edges, "src", "dst", rounds = 4)
          .select(col("id").as("vec_id"), col("score"))
          .orderBy(desc("score"), asc("vec_id")).limit(24)
      }),

    // Sharded-HNSW edge source certified end to end (round 17, VERDICT
    // r16 #5): the graph-ANN candidate generator with ZERO driver
    // collects anywhere — shards build in mapGroups over the frozen
    // k-means cells, the corpus queries itself as one cogrouped batch
    // at FULL coverage, candidates re-rank by the exact codegen cosine
    // — and PageRank over that artifact must hash-match the oracle's
    // from-scratch exact kNN window (at full coverage the beam covers
    // each bounded shard, so edges equal exact). The LAST uncertified
    // edge source: exact (q140), ivf (q167), hnsw-sharded here
    Q("q178_knn_pagerank_sharded", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.oracleSqlCtes(rounds = 4)}
      SELECT id AS vec_id, score FROM pr
      ORDER BY score DESC, id LIMIT 22"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding",
          k = 8, edgeSource = "hnsw-sharded", nCells = 8)
        GraphRank.pagerank(emb.select("vec_id"), "vec_id",
            edges, "src", "dst", rounds = 4)
          .select(col("id").as("vec_id"), col("score"))
          .orderBy(desc("score"), asc("vec_id")).limit(22)
      }),

    // The sharded-HNSW MAINTAINED artifact end to end (round 17,
    // VERDICT r16 #2): the corpus arrives as an old corpus + a 10%
    // ingest batch; the old hnsw-sharded artifact (with its persisted
    // shard-table + meta companions) materializes first, then
    // knnGraphArtifactAppend inserts the batch into the FROZEN
    // clustering + fan (only touched shards rewrite) and lands the
    // edge delta via the exact O(corpus·batch) decomposability pass —
    // and PageRank over THAT maintained graph must hash-match the
    // oracle's from-scratch exact kNN over the full corpus (full
    // coverage ≡ exact, append ≡ rebuild). The q177 chain for the
    // graph-ANN tier. k=6 (not q178's 8) so the artifact KIND differs
    // from q178's — the append branch must actually run, not serve
    // the full-corpus artifact q178 already landed under this stamp
    Q("q179_knn_pagerank_sharded_append", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 6),
      ${graft.operators.GraphRank.oracleSqlCtes(rounds = 4)}
      SELECT id AS vec_id, score FROM pr
      ORDER BY score DESC, id LIMIT 26"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ids = emb.select(col("vec_id").cast("long")).orderBy(desc("vec_id"))
          .limit((emb.count() / 10).toInt.max(1))
          .collect().map(_.getLong(0)).toSeq
        val old = emb.filter(!col("vec_id").isInCollection(ids))
        // the pre-ingest state an earlier session would have built
        GraphRank.knnGraphArtifact(old, "vec_id", "embedding", k = 6,
          edgeSource = "hnsw-sharded", nCells = 8).count()
        val edges = GraphRank.knnGraphArtifactAppend(emb, "vec_id",
          "embedding", k = 6, newIds = ids, edgeSource = "hnsw-sharded",
          nCells = 8)
        GraphRank.pagerank(emb.select("vec_id"), "vec_id",
            edges, "src", "dst", rounds = 4)
          .select(col("id").as("vec_id"), col("score"))
          .orderBy(desc("score"), asc("vec_id")).limit(26)
      }),

    // The PERSISTED sharded-HNSW serving chain end to end (round 18,
    // VERDICT r17 #1/#3 certification): build over 90% of the corpus,
    // SAVE as the manifest-committed warehouse form, maintain with the
    // 10% batch through insertPersisted (epoch commit, O(touched)
    // leaves), RELOAD (pinning the new manifest), and answer a query
    // batch at full coverage — and the served (qid, rn, id) ranking
    // must hash-match the oracle's from-scratch exact kNN over the
    // FULL corpus computed by DuckDB. Exactness argument: full
    // coverage probes every (cell, sub) and exact mode scans each
    // probed shard exhaustively (graph-shape independent — a beam is
    // exhaustive only over CONNECTED structure), so the global window
    // equals the exact ranking — the q178/q179 argument, now for the
    // SERVING tier (they certify the edge-artifact path). Cos-dist
    // stays internal; the output carries only integer ranks and ids.
    Q("q180_sharded_serving_persisted", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 30),
      knn AS (
        SELECT q.vec_id AS qid, e.vec_id AS id,
          row_number() OVER (PARTITION BY q.vec_id ORDER BY
            1.0 - list_dot_product(q.v, e.v) /
              (sqrt(list_dot_product(q.v, q.v)) *
               sqrt(list_dot_product(e.v, e.v))) ASC,
            e.vec_id ASC) AS rn
        FROM q CROSS JOIN e)
      SELECT qid, CAST(rn AS INT) AS rn, id FROM knn WHERE rn <= 5
      ORDER BY qid, rn"""),
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        // per-run scratch (ADVICE r18): a fixed tmpdir path races
        // concurrent suite runs on one host and leaks the tier
        val root = java.nio.file.Files
          .createTempDirectory("graft-q180-tier").toFile
        val shards = new java.io.File(root, "shards").getAbsolutePath
        val meta = new java.io.File(root, "meta").getAbsolutePath
        val fs = graft.util.TableSwap.fileSystem(s, shards)
        val ids = emb.select(col("vec_id").cast("long"))
          .orderBy(desc("vec_id"))
          .limit((emb.count() / 10).toInt.max(1))
          .collect().map(_.getLong(0)).toSeq
        val old = emb.filter(!col("vec_id").isInCollection(ids))
        val sh0 = graft.operators.ShardedHnsw.build(old, "vec_id",
          "embedding", nCells = 8, maxCellSize = 64)
        graft.operators.ShardedHnsw.save(sh0, shards, meta)
        val batch = emb.filter(col("vec_id").isInCollection(ids))
          .select(col("vec_id").cast("long"), col("embedding"))
          .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
        graft.operators.ShardedHnsw.insertPersisted(s, shards, meta, batch)
        val re = graft.operators.ShardedHnsw.load(s, shards, meta)
        val queries = emb.select(col("vec_id").as("qid"),
          col("embedding").as("qv")).orderBy("qid").limit(30)
        // materialize before deleting the tier — the result frame reads
        // the blobs lazily, so the scratch must outlive the collect
        val rows = graft.operators.ShardedHnsw
          .searchBatch(re, queries, "qid", "qv",
            k = 5, nProbe = re.centers.length, ef = 256, exact = true)
          .select(col("qid"), col("rn"), col("id"))
          .orderBy("qid", "rn")
          .as[(Long, Int, Long)].collect().toSeq
        graft.util.TableSwap.delete(fs,
          new org.apache.hadoop.fs.Path(root.getAbsolutePath))
        rows.toDF("qid", "rn", "id")
      }),

    // The maintained kNN-edge tier THROUGH THE LIBRARY FACADE with a
    // PERSISTED bounded edge source (round 19, VERDICT r18 #1b):
    // enableKnnEdges records edgeSource=ivf (+nCells/nProbe) in
    // knn_edges_meta; then the corpus changes OUT OF BAND (a filtered
    // rewrite of the embeddings table — the delete/external-rewrite
    // class the content stamp exists for) and knnEdges() must rebuild
    // through the PERSISTED bounded source — never the N² path — and
    // still hash-match DuckDB's from-scratch exact kNN on the changed
    // corpus (ivf at full probe is edge-for-edge exact). Certifies the
    // exact facade chain a 100 TB user runs: enable bounded once,
    // every later read routes bounded.
    Q("q181_knn_edges_facade_persisted_source", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                 WHERE vec_id % 10 <> 0),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id)
      SELECT src, dst, CAST(rn AS INT) AS rn FROM knn WHERE rn <= 7
      ORDER BY src, rn"""),
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        val wh = java.nio.file.Files
          .createTempDirectory("graft-q181-wh").toString
        def asWarehouse(df: org.apache.spark.sql.DataFrame): Unit = df
          .select(col("vec_id").cast("string").as("chunkId"),
            col("embedding"))
          .write.mode("overwrite").parquet(s"$wh/embeddings")
        val lib = new graft.Library(s, wh) // stamps the empty warehouse
        asWarehouse(emb)
        // k=7 keeps the artifact KIND distinct from q167/q178/q179 —
        // the facade build must actually run for this stamp
        lib.enableKnnEdges(k = 7, edgeSource = "ivf", nCells = 8,
          nProbe = 8)
        // out-of-band corpus change: the content stamp moves, so the
        // next read rebuilds — through the persisted ivf source
        asWarehouse(emb.filter(col("vec_id") % 10 =!= 0))
        val lib2 = new graft.Library(s, wh)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("src").orderBy(desc("cos_sim"), asc("dst"))
        val rows = lib2.knnEdges()
          .select(col("src_chunk").cast("long").as("src"),
            col("dst_chunk").cast("long").as("dst"), col("cos_sim"))
          .withColumn("rn", row_number().over(w))
          .select(col("src"), col("dst"), col("rn"))
          .orderBy("src", "rn")
          .as[(Long, Long, Int)].collect().toSeq
        val fs = graft.util.TableSwap.fileSystem(s, wh)
        graft.util.TableSwap.delete(fs,
          new org.apache.hadoop.fs.Path(wh))
        rows.toDF("src", "dst", "rn")
      }),

    // Maintained HLL state under ingest-batch merging (round 15,
    // VERDICT r14 #4): the corpus arrives as THREE batches (doc_id mod
    // 3 — the ingest simulation), each batch sketches independently,
    // and the states fold with hllMerge (per-bucket register MAX — the
    // Library.addMarkdown maintenance path). Register max is an EXACT
    // merge, so the folded state is bit-identical to sketching the
    // whole corpus at once — which is exactly what the oracle computes
    // from scratch. A hash match here certifies the ingest-merge path
    // end to end cross-engine
    Q("q168_hll_ingest_merge", Some(s"""
      WITH tok AS (SELECT source, unnest(${toksSql("text")}) AS t
                   FROM documents),
      h AS (SELECT DISTINCT source, ${hash32Sql("t")} AS h FROM tok),
      regs AS (SELECT source, h // 16777216 AS bucket,
                 CASE WHEN h % 16777216 = 0 THEN 25
                      ELSE 25 - length(bin(h % 16777216)) END AS rho
               FROM h),
      mx AS (SELECT source, bucket, max(rho) AS m
             FROM regs GROUP BY source, bucket),
      agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_hit,
                sum(power(2.0, -m)) AS s_hit
              FROM mx GROUP BY source),
      fin AS (SELECT source, n_hit, CAST(256 - n_hit AS BIGINT) AS n_zero,
                s_hit + CAST(256 - n_hit AS DOUBLE) AS s
              FROM agg)
      SELECT source, n_hit, n_zero,
        round(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 / s
                        <= 640.0 AND n_zero > 0
                   THEN 256.0 * ln(256.0 / CAST(n_zero AS DOUBLE))
                   ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 / s
              END, 6) AS est_distinct
      FROM fin ORDER BY source"""),
      (s, d) => {
        val tok = Tables.documents(s, d).select(col("source"),
            col("doc_id"),
            explode(TextFunctions.tokens(lower(col("text")))).as("t"))
        val merged = (0 until 3).map(b =>
            CorpusStats.hllRegisters(
              tok.filter(pmod(col("doc_id"), lit(3)) === b),
              "source", col("t"), p = 8))
          .reduce(CorpusStats.hllMerge)
        CorpusStats.hllEstimate(merged, "source", p = 8)
          .select(col("source"), col("n_hit"), col("n_zero"),
            round(col("est_distinct"), 6).as("est_distinct"))
          .orderBy("source")
      }),

    // Maintained CMS state under ingest-batch merging (round 15,
    // VERDICT r14 #4): three doc_id-mod-3 batches sketch independently
    // and fold with cmsMerge (element-wise counter SUM — exact), then
    // the top-3 tokens per source probe the FOLDED state; the oracle
    // probes a from-scratch whole-corpus sketch. Counter sums are
    // exact longs, so estimates match bit-for-bit — and the one-sided
    // guarantee (est >= truth) survives the merge
    Q("q169_cms_ingest_merge", Some(s"""
      WITH tok AS (SELECT source, unnest(${toksSql("text")}) AS t
                   FROM documents),
      cnt AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
      top AS (SELECT source, t, c FROM (
                SELECT source, t, c,
                  row_number() OVER (PARTITION BY source
                    ORDER BY c DESC, t) AS rn
                FROM cnt) WHERE rn <= 3),
      h AS (SELECT source, ${hash32Sql("t")} AS h1,
              ${hash32Sql("'x|' || t")} AS h2
            FROM tok),
      occ AS (SELECT source, h1, h2, unnest(generate_series(0, 3)) AS r
              FROM h),
      cms AS (SELECT source, r, (h1 + r * h2) % 512 AS b,
                CAST(count(*) AS BIGINT) AS cnt
              FROM occ GROUP BY 1, 2, 3),
      qh AS (SELECT source, t, c, ${hash32Sql("t")} AS h1,
               ${hash32Sql("'x|' || t")} AS h2
             FROM top),
      qp AS (SELECT source, t, c, r, (h1 + r * h2) % 512 AS b
             FROM qh, LATERAL (
               SELECT unnest(generate_series(0, 3)) AS r) x),
      est AS (SELECT qp.source, qp.t, qp.c,
                CAST(min(cms.cnt) AS BIGINT) AS cms_est
              FROM qp JOIN cms ON cms.source = qp.source
                AND cms.r = qp.r AND cms.b = qp.b
              GROUP BY 1, 2, 3)
      SELECT source, t AS token, c AS exact_n, cms_est
      FROM est ORDER BY source, token"""),
      (s, d) => {
        import graft.util.Materialize.MatOps
        val tok = Tables.documents(s, d).select(col("source"),
            col("doc_id"),
            explode(TextFunctions.tokens(lower(col("text")))).as("t"))
          .materializeOnce(eager = false) // counts + three batch sketches
        val cnt = tok.groupBy("source", "t").agg(count(lit(1)).as("c"))
        val top = graft.operators.Sampling.stratumRank(cnt, "source",
            Seq(col("c").desc, col("t").asc), "__rk", "__n")
          .filter(col("__rk") <= 3).select("source", "t", "c")
        val merged = (0 until 3).map(b =>
            CorpusStats.cmsTable(
              tok.filter(pmod(col("doc_id"), lit(3)) === b),
              "source", col("t"), d = 4, w = 512))
          .reduce(CorpusStats.cmsMerge(_, _, "source"))
        CorpusStats.cmsEstimate(merged, "source", top, "t")
          .join(top, Seq("source", "t"))
          .select(col("source"), col("t").as("token"),
            col("c").as("exact_n"), col("cms_est"))
          .orderBy("source", "token")
      }),

    // Maintained KMV state under ingest-batch merging (round 15,
    // VERDICT r14 #4): three doc_id-mod-3 batches keep their k smallest
    // distinct token hashes; the states fold by union + re-rank (min-k
    // of a union is the min-k of the per-batch min-ks — exact), and the
    // per-source estimate runs off the folded state. The oracle ranks
    // the whole corpus's distinct hashes at once. k = 64 so every
    // source overflows the sketch and the (k-1)*2^32/h_k estimator is
    // exercised, not the exact-count degenerate branch
    Q("q170_kmv_ingest_merge", Some(s"""
      WITH tok AS (SELECT source, unnest(${toksSql("text")}) AS t
                   FROM documents),
      h AS (SELECT DISTINCT source, ${hash32Sql("t")} AS h FROM tok),
      rk AS (SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rk
             FROM h),
      sk AS (SELECT source, h FROM rk WHERE rk <= 64),
      agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tracked,
                CAST(max(h) AS BIGINT) AS kth_hash
              FROM sk GROUP BY source)
      SELECT source, n_tracked, kth_hash,
        round(CASE WHEN n_tracked < 64 THEN CAST(n_tracked AS DOUBLE)
                   ELSE ${(63 * 4294967296.0).toString} /
                        CAST(kth_hash AS DOUBLE) END, 6) AS est_distinct
      FROM agg ORDER BY source"""),
      (s, d) => {
        val k = 64
        val tok = Tables.documents(s, d).select(col("source"),
            col("doc_id"),
            explode(TextFunctions.tokens(lower(col("text")))).as("t"))
        val batchMins = (0 until 3).map { b =>
          val hb = tok.filter(pmod(col("doc_id"), lit(3)) === b)
            .select(col("source"),
              TextFunctions.portableHash32(col("t")).as("h"))
            .filter(col("h").isNotNull).distinct()
          graft.operators.Sampling.stratumRank(hb, "source",
              Seq(col("h").asc), "__rk", "__n")
            .filter(col("__rk") <= k).select("source", "h")
        }
        val folded = graft.operators.Sampling.stratumRank(
            batchMins.reduce(_ union _).distinct(), "source",
            Seq(col("h").asc), "__rk", "__n")
          .filter(col("__rk") <= k).select("source", "h")
        folded.groupBy("source")
          .agg(count(lit(1)).as("n_tracked"), max("h").as("kth_hash"))
          .select(col("source"), col("n_tracked"), col("kth_hash"),
            round(when(col("n_tracked") < k,
                col("n_tracked").cast("double"))
              .otherwise(lit((k - 1).toDouble * 4294967296.0) /
                col("kth_hash").cast("double")), 6).as("est_distinct"))
          .orderBy("source")
      }),

    // k-core membership of the embedding kNN graph (round 15, Seidman
    // 1983): which nodes sit in densely-interconnected mutual
    // neighborhoods (near-duplicate / template mass) vs the sparse
    // periphery — the density CUT the q150 lcc only scores. Fixed-round
    // SIMULTANEOUS peeling (the sequential peel is order-dependent;
    // this form unrolls identically in both engines, converged or
    // not); per round one map-only degree count over the mutual pairs,
    // partitioned once
    Q("q171_kcore", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.kCoreOracleCtes(coreK = 4, rounds = 5)}
      SELECT id AS vec_id, in_core FROM kc ORDER BY id"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding",
          k = 8)
        GraphRank.kCore(emb.select("vec_id"), "vec_id",
            edges, "src", "dst", coreK = 4, rounds = 5)
          .select(col("id").as("vec_id"), col("in_core"))
          .orderBy("vec_id")
      }),

    // Integer HITS over the embedding kNN graph (round 15, Kleinberg
    // 1999): hub = consistently points at strong authorities,
    // authority = chosen by many strong hubs — the centrality
    // complementary to q140's teleport-damped flow (PageRank rewards
    // being reachable; HITS separates the chooser/chosen roles). Every
    // round renormalizes to HitsScale by the same left-to-right long
    // division in both engines — zero float freedom
    Q("q172_hits", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.hitsOracleCtes(rounds = 3)}
      SELECT id AS vec_id, hub, authority FROM ht
      ORDER BY authority DESC, id LIMIT 25"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding",
          k = 8)
        GraphRank.hits(emb.select("vec_id"), "vec_id",
            edges, "src", "dst", rounds = 3)
          .select(col("id").as("vec_id"), col("hub"), col("authority"))
          .orderBy(desc("authority"), asc("vec_id")).limit(25)
      }),

    // Seed-hop distance over the embedding kNN graph (round 15,
    // unrolled Bellman-Ford): how many similarity hops from the
    // label-0 trusted set — q147's structural cousin (trust MASS vs
    // trust DISTANCE), and the "keep everything within h hops of
    // vetted data" curation cut. Integer hop counts, NULL past the
    // 3-round horizon; (id, dist) shuffles only
    Q("q173_seed_distance", Some(s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      seeds AS (SELECT vec_id AS id FROM e WHERE label = 0),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.seedDistanceOracleCtes(rounds = 3)}
      SELECT id AS vec_id, hops FROM sd ORDER BY id"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding",
          k = 8)
        GraphRank.seedDistance(emb.select("vec_id"), "vec_id",
            emb.filter(col("label") === 0).select("vec_id"), "vec_id",
            edges, "src", "dst", rounds = 3)
          .select(col("id").as("vec_id"), col("hops"))
          .orderBy("vec_id")
      }),

    // Similarity-WEIGHTED PageRank (round 15): q140's integer rank
    // with per-edge transfer proportional to the quantized cosine —
    // a near-duplicate neighbor receives more rank than a marginal
    // one. Weights are floor(cos·10^6) (floor, never round: Spark's
    // round() goes through shortest-string BigDecimal and can diverge
    // from an exact-binary engine on ties; floor of the identical
    // IEEE product is bit-safe), non-positive weights dropped on both
    // sides by the same integer predicate
    Q("q174_weighted_pagerank", Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) AS c
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      knn AS (
        SELECT src, dst, c,
          row_number() OVER (PARTITION BY src ORDER BY c DESC, dst) AS rn
        FROM scored),
      nodes AS (SELECT vec_id AS id FROM e),
      edges AS (
        SELECT src, dst, CAST(floor(c * 1000000) AS BIGINT) AS w
        FROM knn WHERE rn <= 8 AND CAST(floor(c * 1000000) AS BIGINT) > 0),
      ${graft.operators.GraphRank.weightedOracleCtes(rounds = 5)}
      SELECT id AS vec_id, score FROM wpr
      ORDER BY score DESC, id LIMIT 20"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding",
            k = 8)
          .withColumn("w",
            floor(col("cos_sim") * lit(1000000.0)).cast("long"))
          .filter(col("w") > 0)
        GraphRank.weightedPagerank(emb.select("vec_id"), "vec_id",
            edges, "src", "dst", "w", rounds = 5)
          .select(col("id").as("vec_id"), col("score"))
          .orderBy(desc("score"), asc("vec_id")).limit(20)
      }),

    // Per-node graph scorecard (round 15): the one-page graph-side
    // report a curation run opens with — q157's per-source scorecard
    // re-expressed per NODE over the shared kNN edge artifact: core
    // membership (q171's density cut), hub/authority (q172's
    // chooser/chosen split), and hops-from-vetted (q173's trust
    // distance), composed from the three certified stages in one
    // output. All three stages read the SAME materialized artifact;
    // the oracle replays all three unrolled-round families over one
    // kNN CTE (disjoint CTE namespaces, every round single-reference)
    Q("q175_graph_scorecard", Some(s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      knn AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) DESC, b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      nodes AS (SELECT vec_id AS id FROM e),
      seeds AS (SELECT vec_id AS id FROM e WHERE label = 0),
      edges AS (SELECT src, dst FROM knn WHERE rn <= 8),
      ${graft.operators.GraphRank.kCoreOracleCtes(coreK = 4, rounds = 5)},
      ${graft.operators.GraphRank.hitsOracleCtes(rounds = 3)},
      ${graft.operators.GraphRank.seedDistanceOracleCtes(rounds = 3)}
      SELECT n.id AS vec_id, kc.in_core, ht.hub, ht.authority, sd.hops
      FROM nodes n
      JOIN kc ON kc.id = n.id
      JOIN ht ON ht.id = n.id
      JOIN sd ON sd.id = n.id
      ORDER BY n.id"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val edges = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding",
          k = 8)
        val ids = emb.select("vec_id")
        // round 20 (guide §2.6 — overlap independent jobs): the three
        // scorecard algorithms are independent given the edge artifact;
        // their iterative checkpoint chains used to run back to back,
        // each leaving most of the local[N] executor idle during its
        // per-round tail. Materialize them concurrently (FIFO scheduler
        // back-fills the tails); each algorithm's own computation — and
        // therefore every emitted value — is unchanged.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        import graft.util.Materialize.MatOps
        val fCore = Future(GraphRank.kCore(ids, "vec_id", edges, "src",
          "dst", coreK = 4, rounds = 5).materializeOnce())
        val fHt = Future(GraphRank.hits(ids, "vec_id", edges, "src", "dst",
          rounds = 3).materializeOnce())
        val fSd = Future(GraphRank.seedDistance(ids, "vec_id",
          emb.filter(col("label") === 0).select("vec_id"), "vec_id",
          edges, "src", "dst", rounds = 3).materializeOnce())
        // await the THREE as one future (ADVICE r20): if one algorithm
        // throws, awaiting it alone would leave the two siblings'
        // Spark jobs running (and their own failures unobserved) while
        // the query unwinds — sequence them so every branch is awaited
        // and the first error surfaces only after all three settled
        val (core, ht, sd) = try {
          val settled = Await.result(
            Future.sequence(Seq(fCore, fHt, fSd)
              .map(_.transform(scala.util.Success(_)))), Duration.Inf)
          val all = settled.map(_.get) // first error surfaces AFTER all settled
          (all(0), all(1), all(2))
        } finally pool.shutdown()
        core.join(ht, Seq("id")).join(sd, Seq("id"))
          .select(col("id").as("vec_id"), col("in_core"),
            col("hub"), col("authority"), col("hops"))
          .orderBy("vec_id")
      }),

    // Per-language ID inside the Cyrillic and Arabic script buckets
    // (round 16, VERDICT r15 #6): the script ratio used to collapse to
    // 'ru'/'ar'; it now routes into per-script trigram profiles. The
    // synthetic documents table is English-ish, so the corpus is a
    // LITERAL table both engines read verbatim (the q50/q69
    // literal-replay precedent extended to the input): held-out
    // sentences per script-bucket language + Latin/Han controls. The
    // oracle replays all three normalizations, the three profile
    // tables and the bucketed decision chain.
    Q("q176_langid_scripts", Some {
      val rows = LangScriptDocs.map { case (i, t) =>
        s"($i, '${t.replace("'", "''")}')" }.mkString(",\n        ")
      LangId.oracleSql("ldocs", "doc_id", "text",
        prelude = s"""ldocs AS (
        SELECT CAST(v.c0 AS BIGINT) AS doc_id, v.c1 AS text
        FROM (VALUES
        $rows) v(c0, c1)), """)
    },
      (s, d) => {
        import s.implicits._
        LangId.detect(LangScriptDocs.toDF("doc_id", "text"),
            "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      })
  )

  /** The q176 literal corpus: one held-out sentence per script-bucket
    * language plus Latin and Han controls — both engines read these
    * SAME strings (Spark as a local relation, DuckDB as a VALUES CTE),
    * so the certification is engine parity on real multilingual text,
    * not synthetic word salad. */
  private lazy val LangScriptDocs: Seq[(Long, String)] = Seq(
    1L -> "Осенью в парке дети собирают жёлтые листья и несут их домой, чтобы сделать красивый букет для бабушки.",
    2L -> "Восени в парку діти збирають жовте листя та несуть його додому, щоб зробити гарний букет для бабусі.",
    3L -> "През есента в парка децата събират жълти листа и ги носят вкъщи, за да направят красив букет за баба си.",
    4L -> "У јесен у парку деца скупљају жуто лишће и носе га кући да направе леп букет за баку.",
    5L -> "في الخريف يجمع الأطفال أوراق الشجر الصفراء في الحديقة ويحملونها إلى البيت ليصنعوا باقة جميلة لجدتهم.",
    6L -> "در پاییز کودکان در پارک برگ های زرد را جمع می کنند و به خانه می برند تا دسته گلی زیبا برای مادربزرگ خود بسازند.",
    7L -> "خزاں میں بچے پارک میں پیلے پتے جمع کرتے ہیں اور گھر لے جاتے ہیں تاکہ اپنی دادی کے لیے خوبصورت گلدستہ بنائیں۔",
    8L -> "The quick brown fox jumps over the lazy dog near the river bank every sunny morning in spring.",
    9L -> "北京是中华人民共和国的首都，也是全国的政治和文化中心，有着悠久的历史。",
    10L -> "शरद ऋतु में बच्चे बगीचे में पीले पत्ते इकट्ठा करते हैं और दादी के लिए सुंदर गुलदस्ता बनाने घर ले जाते हैं।",
    11L -> "शरद ऋतूत मुले बागेत पिवळी पाने गोळा करतात आणि आजीसाठी सुंदर पुष्पगुच्छ करण्यासाठी घरी नेतात.",
    12L -> "शरद ऋतुमा केटाकेटीहरू बगैंचामा पहेंला पातहरू बटुल्छन् र हजुरआमाका लागि राम्रो गुच्छा बनाउन घर लैजान्छन्।",
    // round 17 (VERDICT r16 #3): the Greek/Hebrew/Bengali
    // single-language script buckets — before them these rows exited
    // via the Latin zero-trigram prior as 'en'
    13L -> "Το φθινόπωρο τα παιδιά μαζεύουν κίτρινα φύλλα στο πάρκο και τα πηγαίνουν σπίτι για να φτιάξουν ένα όμορφο μπουκέτο για τη γιαγιά τους.",
    14L -> "בסתיו הילדים אוספים עלים צהובים בפארק ולוקחים אותם הביתה כדי להכין זר יפה לסבתא שלהם.",
    15L -> "শরৎকালে শিশুরা পার্কে হলুদ পাতা কুড়িয়ে বাড়িতে নিয়ে যায় যাতে দাদির জন্য সুন্দর একটি তোড়া বানাতে পারে।",
    // round 17 widening: the remaining single-language script blocks
    // (ta te kn ml gu pa or si ka hy am lo km my) — same held-out
    // register, one sentence per block
    16L -> "இலையுதிர் காலத்தில் குழந்தைகள் பூங்காவில் மஞ்சள் இலைகளை சேகரித்து பாட்டிக்காக அழகான பூங்கொத்து செய்ய வீட்டிற்கு கொண்டு செல்கிறார்கள்.",
    17L -> "శరదృతువులో పిల్లలు పార్కులో పసుపు ఆకులను సేకరించి అమ్మమ్మ కోసం అందమైన పూలగుత్తిని చేయడానికి ఇంటికి తీసుకెళ్తారు.",
    18L -> "ಶರತ್ಕಾಲದಲ್ಲಿ ಮಕ್ಕಳು ಉದ್ಯಾನದಲ್ಲಿ ಹಳದಿ ಎಲೆಗಳನ್ನು ಸಂಗ್ರಹಿಸಿ ಅಜ್ಜಿಗೆ ಸುಂದರವಾದ ಹೂಗುಚ್ಛ ಮಾಡಲು ಮನೆಗೆ ಒಯ್ಯುತ್ತಾರೆ.",
    19L -> "ശരത്കാലത്ത് കുട്ടികൾ പാർക്കിൽ മഞ്ഞ ഇലകൾ ശേഖരിച്ച് മുത്തശ്ശിക്ക് മനോഹരമായ പൂച്ചെണ്ട് ഉണ്ടാക്കാൻ വീട്ടിലേക്ക് കൊണ്ടുപോകുന്നു.",
    20L -> "પાનખરમાં બાળકો બગીચામાં પીળાં પાંદડાં ભેગાં કરે છે અને દાદી માટે સુંદર ગુલદસ્તો બનાવવા ઘરે લઈ જાય છે.",
    21L -> "ਪਤਝੜ ਵਿੱਚ ਬੱਚੇ ਪਾਰਕ ਵਿੱਚ ਪੀਲੇ ਪੱਤੇ ਇਕੱਠੇ ਕਰਦੇ ਹਨ ਅਤੇ ਦਾਦੀ ਲਈ ਸੁੰਦਰ ਗੁਲਦਸਤਾ ਬਣਾਉਣ ਲਈ ਘਰ ਲੈ ਜਾਂਦੇ ਹਨ।",
    22L -> "ଶରତ ଋତୁରେ ପିଲାମାନେ ଉଦ୍ୟାନରେ ହଳଦିଆ ପତ୍ର ସଂଗ୍ରହ କରନ୍ତି ଏବଂ ଜେଜେମା ପାଇଁ ସୁନ୍ଦର ଫୁଲତୋଡ଼ା ତିଆରି କରିବାକୁ ଘରକୁ ନିଅନ୍ତି।",
    23L -> "සරත් සෘතුවේදී ළමයි උද්‍යානයේ කහ පැහැති කොළ එකතු කර ආච්චිට ලස්සන මල් කළඹක් සෑදීමට ගෙදර ගෙන යති.",
    24L -> "შემოდგომაზე ბავშვები პარკში ყვითელ ფოთლებს აგროვებენ და სახლში მიაქვთ, რომ ბებიისთვის ლამაზი თაიგული გააკეთონ.",
    25L -> "Աշնանը երեխաները այգում դեղին տերևներ են հավաքում և տանում տուն, որպեսզի տատիկի համար գեղեցիկ ծաղկեփունջ պատրաստեն։",
    26L -> "በመኸር ወቅት ልጆች በፓርኩ ውስጥ ቢጫ ቅጠሎችን ይሰበስባሉ እና ለአያታቸው ቆንጆ የአበባ እቅፍ ለመሥራት ወደ ቤት ይወስዳሉ።",
    27L -> "ໃນລະດູໃບໄມ້ຫຼົ່ນ ເດັກນ້ອຍເກັບໃບໄມ້ສີເຫຼືອງຢູ່ສວນສາທາລະນະ ແລະ ນຳກັບບ້ານເພື່ອເຮັດຊໍ່ດອກໄມ້ງາມໃຫ້ແມ່ເຖົ້າ.",
    28L -> "នៅរដូវស្លឹកឈើជ្រុះ ក្មេងៗប្រមូលស្លឹកឈើពណ៌លឿងនៅសួនច្បារ ហើយយកទៅផ្ទះដើម្បីធ្វើបាច់ផ្កាស្អាតសម្រាប់ជីដូន។",
    29L -> "ဆောင်းဦးရာသီတွင် ကလေးများသည် ပန်းခြံထဲတွင် အဝါရောင်သစ်ရွက်များကို စုဆောင်းပြီး အဖွားအတွက် လှပသော ပန်းစည်းလုပ်ရန် အိမ်သို့ ယူသွားကြသည်။",
    // round 17: the Bengali block is now a TRIGRAM bucket (bn/as) —
    // row 15 above stays bn, this held-out Assamese row must label as
    30L -> "শৰৎ কালত ল'ৰা-ছোৱালীবোৰে উদ্যানত হালধীয়া পাত গোটাই আইতাৰ বাবে ধুনীয়া ফুলৰ থোপা বনাবলৈ ঘৰলৈ লৈ যায়।",
    // round 18 (VERDICT r17 #5): Ethiopic is now a TRIGRAM bucket —
    // row 26 above stays am, this held-out Tigrinya row must label ti
    31L -> "ኣብ ክረምቲ ብዙሕ ግዜ ምስ መዓር ውዑይ ሻሂ ንሰቲ ኣብ ጥቓ መስኮት ከኣ ኣረጊት መጻሕፍቲ ነንብብ።",
    // round 18: the Latin-bucket additions (af az eu gl ms sq sw) —
    // each previously labeled as its wrong near-neighbor
    32L -> "Die boer het vroeg opgestaan om die koeie te melk en het daarna brood en koffie vir ontbyt geniet.",
    33L -> "Balıqçılar səhər tezdən dənizə çıxdılar və axşam kəndə təzə balıqlarla qayıtdılar.",
    34L -> "Arrantzaleak goizean goiz itsasoratu ziren eta iluntzean arrain freskoekin itzuli ziren herrira.",
    35L -> "O panadeiro prepara cada noite pan fresco que os veciños mercan pola mañá cedo na praza da vila.",
    36L -> "Para nelayan keluar ke laut awal pagi lagi dan balik ke kampung dengan ikan segar sebelum senja kerana hendak mengelakkan ribut.",
    37L -> "Peshkatarët dolën në det herët në mëngjes dhe u kthyen në fshat me peshq të freskët para mbrëmjes.",
    38L -> "Wavuvi walitoka baharini asubuhi na mapema na kurudi kijijini na samaki safi kabla ya giza kuingia.",
    // round 20 (VERDICT r19 #4): the tt/ba/cv Cyrillic and ug/sd
    // Arabic-script additions — each previously labeled as its wrong
    // near-neighbor (tt/ba→kk, cv→ru, ug→fa/ur, sd→ur/ar)
    39L -> "Көздә паркта балалар сары яфракларны җыялар һәм әбиләренә матур бәйләм ясар өчен өйгә алып кайталар.",
    40L -> "Көҙөн паркта балалар һары япраҡтарҙы йыя һәм өләсәйҙәренә матур гөлләмә яһау өсөн өйгә алып ҡайта.",
    41L -> "Кӗркунне паркра ачасем сарӑ ҫулҫӑсем пуҫтараҫҫӗ те асламӑшӗ валли илемлӗ ҫыхӑ тума киле илсе каяҫҫӗ.",
    42L -> "كۈزدە بالىلار باغچىدا سېرىق يوپۇرماقلارنى يىغىپ، مومىسىغا چىرايلىق گۈل باغلىمى ياساش ئۈچۈن ئۆيگە ئېلىپ بارىدۇ.",
    43L -> "سرءُ ۾ ٻار پارڪ ۾ پيلا پن گڏ ڪن ٿا ۽ ڏاڏيءَ لاءِ سهڻو گلدستو ٺاهڻ لاءِ گهر کڻي وڃن ٿا.")

  /** q95's batch-equivalent scoring CTEs (signature algebra → band
    * candidates → component agreement), shared with the q100
    * composition. */
  private def streamLshCtes: String = s"""sh AS (
        SELECT DISTINCT doc_id, substr(lower(text), i, 5) AS s
        FROM documents, LATERAL (
          SELECT unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i) t),
      h AS (SELECT doc_id, ${hash32Sql("s")} AS h1, ${hash32Sql("'x|' || s")} AS h2 FROM sh),
      sig AS (
        SELECT doc_id,
          ${(0 until 8).map(i => s"MIN((h1 + $i * h2) % 4294967296) AS mh$i").mkString(",\n          ")}
        FROM h GROUP BY doc_id),
      bands AS (
        SELECT doc_id, '0_' || ${(0 to 3).map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || '_' || ")} AS bk FROM sig
        UNION ALL
        SELECT doc_id, '1_' || ${(4 to 7).map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || '_' || ")} AS bk FROM sig),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      agr AS (
        SELECT c.id_a, c.id_b,
          (${(0 until 8).map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END").mkString(" + ")}) AS n_agree
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b)"""
}
