package graft.queries

import graft.Tables
import graft.operators.{ClusteringOps, Decontamination, ImportanceSampling, IvfIndex, Multimodal, Packing, ProductQuantization, Sampling, SemDedup, TextAnalysis}
import graft.streaming.EventStreams
import graft.util.Materialize.MatOps
import org.apache.spark.sql.functions._

/** ML (MLlib k-means / IVF-ANN), multimodal-stub, and streaming-operator
  * coverage. k-means itself has no SQL oracle (driver records rows-only
  * checks for those); the IVF probe with nProbe = nCells is exact, so it
  * shares the brute-force KNN oracle — validating the index plumbing
  * end-to-end against SQL.
  */
object MlQueries {

  /** k-means models are deterministic (fixed seed) index artifacts —
    * build once per (dataset, k) and share across the queries that
    * consume them, as a real deployment would. */
  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), org.apache.spark.ml.clustering.KMeansModel]
  private def cachedModel(s: org.apache.spark.sql.SparkSession, d: String, k: Int) =
    modelCache.getOrElseUpdate((d, k),
      // random init: skips the k-means|| passes (each a full scan at
      // corpus scale); quality only shifts cluster balance here
      ClusteringOps.fit(Tables.embeddings(s, d), "embedding", k,
        maxIter = 30, initMode = "random"))

  /** The IVF index is likewise a build-once artifact. Coarse-centroid
    * quality only affects pruning efficiency — with nProbe = nCells the
    * probe is exact for ANY centroids — so the build uses few Lloyd's
    * iterations (each is a full distributed pass at scale). */
  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), IvfIndex]
  private def cachedIvf(s: org.apache.spark.sql.SparkSession, d: String, nCells: Int) =
    ivfCache.getOrElseUpdate((d, nCells),
      IvfIndex.build(Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", nCells, maxIter = 10))

  /** q81's index covers ALL vectors (the batch queries are corpus
    * members and self-hits stay in — q29's contract without
    * excludeSelf), so it cannot share [[cachedIvf]]'s vec_id≠0 build. */
  private val ivfAllCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), IvfIndex]
  private def cachedIvfAll(s: org.apache.spark.sql.SparkSession, d: String, nCells: Int) =
    ivfAllCache.getOrElseUpdate((d, nCells),
      IvfIndex.build(Tables.embeddings(s, d),
        "vec_id", "embedding", nCells, maxIter = 10))

  /** q182's persisted 8-cell IVF index over `emb`, registered for
    * `ann_topk`, and its path. The index is a build-once artifact keyed
    * by the corpus stamp of `emb`: a run finding
    * `<tmpdir>/graft-q182-ivf-<stamp>/_SUCCESS` reuses it (re-registering
    * the saved centroids) instead of refitting k-means. A build writes
    * to a unique scratch dir and renames it into place, so concurrent
    * runs never read a half-written index; a run that loses the rename
    * race drops its scratch and uses the winner's. */
  private def ivfIndexFor(s: org.apache.spark.sql.SparkSession,
                          emb: org.apache.spark.sql.DataFrame): String = {
    val nCells = 8
    val stamp = graft.util.DiskArtifact.corpusStamp(emb, "vec_id", "embedding")
    val root = new java.io.File(sys.props("java.io.tmpdir"), s"graft-q182-ivf-$stamp")
    if (!new java.io.File(root, "_SUCCESS").exists()) {
      val scratch = new java.io.File(root.getParentFile,
        s"${root.getName}.tmp-${java.util.UUID.randomUUID()}")
      val idx = IvfIndex.build(emb, "vec_id", "embedding", nCells, cache = false)
      idx.assigned.write.partitionBy("__cell")
        .parquet(new java.io.File(scratch, "emb").getAbsolutePath)
      s.createDataFrame(idx.model.clusterCenters.zipWithIndex.toSeq
          .map { case (c, i) => (i, c.toArray.toSeq) })
        .toDF("cell", "center")
        .write.parquet(new java.io.File(scratch, "centers").getAbsolutePath)
      new java.io.File(scratch, "_SUCCESS").createNewFile()
      if (!scratch.renameTo(root))
        org.apache.commons.io.FileUtils.deleteDirectory(scratch)
    }
    val idxPath = new java.io.File(root, "emb").getAbsolutePath
    val centers = s.read.parquet(new java.io.File(root, "centers").getAbsolutePath)
      .orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("center").toArray)
    graft.plans.IvfRegistry.register(idxPath, centers, nProbe = nCells,
      idCol = "vec_id", vecCol = "embedding")
    idxPath
  }

  /** The k=10 fit as DuckDB list literals — `(cid, [c0, c1, ...])` VALUES
    * rows. Available only AFTER the fit ran in this JVM: Verify dumps
    * `oracleSql` after executing every query, so by dump time the cache
    * holds exactly one model and the q50/q52 oracles can assert the
    * assignment/softmax math in SQL against the fitted centroids (the
    * fit itself stays rows-only — k-means in ANSI SQL is not a
    * reasonable oracle). Before any fit (or with fits for multiple
    * dirs in one JVM) this is None and both queries stay rows-only. */
  private def centroidValues: Option[String] = {
    val fits = modelCache.snapshot().toSeq
    if (fits.size != 1) None
    else Some(fits.head._2.clusterCenters.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.toArray.mkString(", ")}])"
    }.mkString(", "))
  }

  /** `all` is a def so the q50/q52 oracle SQL regenerates at access time
    * — see [[centroidValues]] for why construction must be lazy. */
  def all: Seq[Q] = Seq(

    // M1/M4: seeded distributed k-means, cluster size histogram. The
    // oracle replays assignment (argmin Euclidean distance, ties to the
    // lowest cluster id — MLlib's findClosest order) and the per-cluster
    // size/avg-distance aggregate against the fitted centroid literals
    Q("q50_kmeans_sizes", centroidValues.map { cv => s"""
      WITH centroids(cid, c) AS (VALUES $cv),
      d AS (
        SELECT e.vec_id, c.cid,
          list_distance(e.embedding::DOUBLE[], c.c) AS dist,
          row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY list_distance(e.embedding::DOUBLE[], c.c), c.cid) AS rn
        FROM embeddings e CROSS JOIN centroids c)
      SELECT CAST(cid AS INT) AS clusterId,
        CAST(COUNT(*) AS BIGINT) AS n,
        round(avg(dist), 6) AS avg_distance
      FROM d WHERE rn = 1
      GROUP BY cid ORDER BY clusterId"""},
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val model = cachedModel(s, d, 10)
        ClusteringOps.assign(model, emb, "vec_id", "embedding")
          .groupBy("clusterId")
          .agg(count(lit(1)).as("n"),
            round(avg(col("distance")), 6).as("avg_distance"))
          .orderBy("clusterId")
      }),

    // K2 scale path: IVF probe with nProbe = nCells ≡ exact brute force —
    // same oracle as q26 (validates the coarse-quantize + prune + rerank
    // plan produces identical results when nothing is pruned)
    Q("q51_ivf_knn", Some("""
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
          .select("embedding").head().getSeq[Float](0).toArray
        val index = cachedIvf(s, d, nCells = 8)
        index.topK(qv, k = 10, nProbe = 8) // nProbe = nCells -> exact
          .withColumn("cos_sim", round(col("cos_sim"), 6))
          .select("vec_id", "label", "cos_sim")
          .orderBy(desc("cos_sim"), asc("vec_id"))
      }),

    // K2 scale path, batched: the IVF-probed analog of q29 — many
    // queries, each scanning only its probed cells, one job for the
    // whole set. nProbe = nCells ≡ exact, so the q29 batch oracle
    // certifies the probe-map build + cell equi-join + re-rank plumbing
    // end to end (the corpus × queries cross join never exists in the
    // probed plan — asserted in PlanShapeSpec)
    Q("q81_ivf_knn_batch", Some("""
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
          FROM embeddings e, q) s) t
      WHERE rn <= 3
      ORDER BY qid, rn"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        cachedIvfAll(s, d, nCells = 8)
          .topKBatch(queries, "qid", "qvec", k = 3, nProbe = 8)
          .withColumn("cos_sim", round(col("cos_sim"), 6))
          .orderBy("qid", "rn")
      }),

    // Round 20 (VERDICT r19 #6): the ANN SQL surface end to end —
    // `ann_topk` from plain spark.sql over a per-run persisted IVF
    // index. Full probe (nProbe = nCells) is provably exact, so the
    // q51-style brute-force oracle certifies the whole TVF chain:
    // parse → registry lookup → driver-side probe ranking → pruned
    // scan → cosine top-k. (The partial-probe pruning and the plan
    // shape — PartitionFilters, no Window — are pinned in
    // GraftSqlExtensionSpec.)
    Q("q182_sql_ann_topk", Some("""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, round(cs, 6) AS cos_sim FROM (
        SELECT vec_id,
          list_dot_product(embedding::DOUBLE[], qv) /
          (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
           sqrt(list_dot_product(qv, qv))) AS cs
        FROM embeddings, q
        ORDER BY cs DESC, vec_id
        LIMIT 10) t
      ORDER BY cos_sim DESC, vec_id"""),
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qv = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        val idxPath = ivfIndexFor(s, emb)
        graft.plans.GraftSqlFunctions.registerOn(s)
        val qSql = qv.map(v => s"cast($v AS FLOAT)")
          .mkString("array(", ", ", ")")
        s.sql(s"""
          SELECT vec_id, round(cos_sim, 6) AS cos_sim
          FROM ann_topk('$idxPath', $qSql, 10, 8)
          ORDER BY cos_sim DESC, vec_id""")
      }),

    // M3: soft clustering membership counts (softmax over -dist/T). The
    // oracle replays the softmax (T = 0.5, keep p >= 0.01) against the
    // fitted centroid literals; per-row scalar double math (exp, sqrt)
    // is IEEE-deterministic cross-engine, and the softmax denominator's
    // summation-order sensitivity is ~1e-15 relative — far from the
    // 0.01 membership cutoff on this data
    Q("q52_soft_membership", centroidValues.map { cv => s"""
      WITH centroids(cid, c) AS (VALUES $cv),
      d AS (
        SELECT e.vec_id, c.cid,
          list_distance(e.embedding::DOUBLE[], c.c) AS dist
        FROM embeddings e CROSS JOIN centroids c),
      p AS (
        SELECT vec_id, cid,
          exp(-dist / 0.5) / SUM(exp(-dist / 0.5)) OVER (PARTITION BY vec_id) AS prob
        FROM d),
      m AS (
        SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_memberships
        FROM p WHERE prob >= 0.01 GROUP BY vec_id)
      SELECT n_memberships, CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM m GROUP BY n_memberships ORDER BY n_memberships"""},
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val model = cachedModel(s, d, 10)
        ClusteringOps.softAssign(model, emb, "vec_id", "embedding")
          .groupBy("chunkId")
          .agg(count(lit(1)).as("n_memberships"))
          .groupBy("n_memberships")
          .agg(count(lit(1)).as("n_vectors"))
          .orderBy("n_memberships")
      }),

    // multimodal stub: binary column -> per-partition batched "decode" ->
    // feature vector; bytes here are the utf-8 text (ASCII corpus), so
    // the byte-histogram features are SQL-expressible and oracle-checked
    Q("q54_media_features", Some("""
      WITH b AS (SELECT doc_id, text, length(text) AS len FROM documents),
      h AS (SELECT doc_id, (ascii(substr(text, i, 1)) >> 4) AS bucket
            FROM b, LATERAL (SELECT unnest(generate_series(1, len)) AS i) t),
      c AS (SELECT doc_id,
              SUM(CASE WHEN bucket = 2 THEN 1 ELSE 0 END) AS c2,
              SUM(CASE WHEN bucket = 6 THEN 1 ELSE 0 END) AS c6,
              SUM(CASE WHEN bucket = 7 THEN 1 ELSE 0 END) AS c7
            FROM h GROUP BY doc_id)
      SELECT b.doc_id AS media_id,
        CAST(len % 1024 AS INT) AS width,
        CAST(len // 1024 + 1 AS INT) AS height,
        3 AS channels,
        CAST(CAST(CAST(coalesce(c2, 0) AS DOUBLE) / greatest(CAST(len AS DOUBLE), 1.0) AS REAL) AS DOUBLE) AS f2,
        CAST(CAST(CAST(coalesce(c6, 0) AS DOUBLE) / greatest(CAST(len AS DOUBLE), 1.0) AS REAL) AS DOUBLE) AS f6,
        CAST(CAST(CAST(coalesce(c7, 0) AS DOUBLE) / greatest(CAST(len AS DOUBLE), 1.0) AS REAL) AS DOUBLE) AS f7
      -- LEFT join + coalesce: an empty-text doc has no h rows, but the
      -- engine still emits its (zero-feature) media row
      FROM b LEFT JOIN c ON b.doc_id = c.doc_id
      ORDER BY media_id"""),
      (s, d) => {
        val media = Tables.documents(s, d).select(
          col("doc_id").as("media_id"),
          lit("image").as("modality"),
          encode(col("text"), "utf-8").as("bytes"))
        Multimodal.extractFeatures(media)
          .select(col("media_id"), col("width"), col("height"), col("channels"),
            element_at(col("features"), 3).cast("double").as("f2"),
            element_at(col("features"), 7).cast("double").as("f6"),
            element_at(col("features"), 8).cast("double").as("f7"))
          .orderBy("media_id")
      }),

    // streaming operator (batch-mode execution of the same plan):
    // watermarked tumbling-window counts over the event stream
    Q("q55_stream_windows", Some("""
      SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M') AS win_start,
        event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY win_start, event_type"""),
      (s, d) => EventStreams.windowedCounts(Tables.events(s, d))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")),

    // product-quantized ANN (IVF-PQ's compression half): codes-only ADC
    // scan -> TakeOrderedAndProject. Only the codebook TRAINING is not
    // SQL-expressible; the oracle replays encode (per-subspace argmin
    // over codebook literals) and ADC scoring in DuckDB — see
    // [[pqOracle]] — so the whole query path is hash-checked once the
    // fit has run in this JVM
    Q("q66_pq_knn", pqOracle,
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val model = cachedQ66Model(s, d)
        val query = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val encoded = ProductQuantization.encode(
          emb.filter(col("vec_id") =!= 0), "embedding", model)
        ProductQuantization.topK(encoded, query, model, 10, tieCol = "vec_id")
          // round AFTER top-k selection: ordering uses full precision,
          // output is cross-engine-comparable at 6dp
          .withColumn("adc_dist", round(col("adc_dist"), 6))
          .select("vec_id", "label", "adc_dist")
      }),

    // IVF-PQ composed (the promised K2×PQ scale shape): probe nProbe of
    // nCells coarse cells, ADC-shortlist codes only, exact cosine
    // re-rank of the shortlist. The oracle ([[ivfPqOracle]]) replays the
    // full composition — coarse assignment, cell probe, ADC shortlist,
    // exact re-rank — against the fitted centroid + codebook literals;
    // the recall contract is additionally spec-asserted in
    // ProductQuantizationSpec
    Q("q67_ivfpq_knn", ivfPqOracle,
      (s, d) => {
        val query = Tables.embeddings(s, d).filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val index = cachedIvf(s, d, nCells = 8)
        val (model, encoded) = cachedPq(s, d)
        ProductQuantization.ivfPqTopK(encoded, index, model, query,
          k = 10, nProbe = 4, rerank = 50)
          .withColumn("cos_sim", round(col("cos_sim"), 6))
          .select("vec_id", "label", "cos_sim")
          .orderBy(desc("cos_sim"), asc("vec_id"))
      }),

    // RESIDUAL IVF-PQ — the actual FAISS IVFPQ recipe (Jégou et al.
    // 2011 §IV.C): PQ quantizes x − coarse_centroid(cell), so the same
    // m×k byte budget resolves fine structure (spec-measured 0.57 vs
    // 0.22 ADC shortlist recall against raw codes on clustered data).
    // The probe scores every probed cell in ONE codes-only pass with
    // per-cell ADC tables (PqAdcByCell). Oracle replays the whole
    // path — residuals, encode argmin, the per-cell query-residual ADC
    // as an exact-fold dot product, shortlist, exact cosine re-rank —
    // against the fitted centroid + codebook literals (q67 contract)
    Q("q109_residual_ivfpq", residualIvfPqOracle,
      (s, d) => {
        val query = Tables.embeddings(s, d).filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val index = cachedIvf(s, d, nCells = 8)
        val (model, encoded) = cachedResidualPq(s, d)
        ProductQuantization.ivfPqResidualTopK(encoded, index, model, query,
          k = 10, nProbe = 4, rerank = 50)
          .withColumn("cos_sim", round(col("cos_sim"), 6))
          .select("vec_id", "label", "cos_sim")
          .orderBy(desc("cos_sim"), asc("vec_id"))
      }),

    // SemDeDup (Abbas et al. 2023): semantic near-dup removal within
    // k-means clusters, keeping the member farthest from its centroid.
    // The oracle replays the whole path against the fitted centroid
    // literals: argmin assignment (MLlib tie order), within-cluster
    // cosine pairs, the farther-from-centroid domination rule (exact
    // ties keep the lower id). Decisions compare full-precision values
    // in both engines (cosine is the bit-parity fold); only the
    // reported centroid_dist is rounded, after every decision is made
    Q("q69_semdedup", centroidValues.map { cv => s"""
      WITH centroids(cid, c) AS (VALUES $cv),
      d AS (
        SELECT e.vec_id, c.cid,
          list_distance(e.embedding::DOUBLE[], c.c) AS dist,
          row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY list_distance(e.embedding::DOUBLE[], c.c), c.cid) AS rn
        FROM embeddings e CROSS JOIN centroids c),
      a AS (SELECT vec_id, cid, dist FROM d WHERE rn = 1),
      v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      pairs AS (
        SELECT xa.vec_id AS ia, ya.vec_id AS ib, xa.dist AS da, ya.dist AS db
        FROM a xa JOIN a ya ON xa.cid = ya.cid AND xa.vec_id < ya.vec_id
        JOIN v x ON x.vec_id = xa.vec_id
        JOIN v y ON y.vec_id = ya.vec_id
        WHERE list_dot_product(x.v, y.v) /
          (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.3),
      removed AS (
        SELECT DISTINCT CASE WHEN da > db THEN ib
                             WHEN db > da THEN ia
                             ELSE greatest(ia, ib) END AS vec_id
        FROM pairs)
      SELECT a.vec_id, CAST(a.cid AS INT) AS cluster_id,
        round(a.dist, 6) AS centroid_dist,
        CAST(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
      FROM a LEFT JOIN removed r USING (vec_id)
      ORDER BY a.vec_id"""},
      (s, d) => {
        val model = cachedModel(s, d, 10)
        SemDedup.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
            model.clusterCenters.map(_.toArray).toSeq, threshold = 0.3)
          .select(col("id").as("vec_id"), col("cluster_id"),
            round(col("centroid_dist"), 6).as("centroid_dist"), col("kept"))
          .orderBy("vec_id")
      }),

    // the round-6 curation tier composed end to end: Gopher gate ->
    // Bloom-prefilter decontamination -> SemDeDup over the survivors'
    // embeddings -> DSIR target-likeness admission -> sequence packing
    // of the admitted set in train order. Every stage is individually
    // certified (q63/q70/q69/q71/q72 semantics); the oracle restates
    // the full composition, including the centroid-literal SemDeDup
    // replay. DSIR weights round to 6dp in BOTH engines BEFORE the
    // admission comparison, so the one sum-order-sensitive double in
    // the pipeline can never flip a keep/drop decision cross-engine
    Q("q73_curation_v2", centroidValues.map { cv => s"""
      WITH centroids(cid, c) AS (VALUES $cv),
      base AS (
        SELECT doc_id, text, lang,
          list_filter(string_split(text, ' '), x -> x <> '') AS t,
          list_filter(string_split(lower(text), ' '), x -> x <> '') AS lt
        FROM documents),
      gate AS (
        SELECT doc_id FROM (
          SELECT doc_id,
            CAST(len(t) AS INT) AS n_words,
            CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
              / CAST(greatest(len(t), 1) AS DOUBLE) AS mean_word_len,
            CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
              / CAST(greatest(len(t), 1) AS DOUBLE) AS symbol_ratio,
            CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
              / CAST(greatest(len(t), 1) AS DOUBLE) AS alpha_word_frac,
            CAST(len(list_filter(lt, x -> list_contains([$q73Stopwords], x))) AS INT) AS stopword_hits
          FROM base) m
        WHERE n_words >= 50 AND n_words <= 100000
          AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
          AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
          AND stopword_hits >= 2),
      ng AS (
        SELECT doc_id, list_distinct([array_to_string(lt[i:i+4], ' ')
                       for i in range(1, greatest(len(lt) - 4, 0) + 1)]) AS g
        FROM base),
      ev AS (SELECT DISTINCT unnest(g) AS ng FROM ng WHERE doc_id % 10 = 0),
      tr AS (SELECT n.doc_id, unnest(n.g) AS ng
             FROM ng n JOIN gate USING (doc_id) WHERE n.doc_id % 10 <> 0),
      clean AS (
        SELECT g.doc_id FROM gate g
        WHERE g.doc_id % 10 <> 0
          AND NOT EXISTS (SELECT 1 FROM tr JOIN ev USING (ng)
                          WHERE tr.doc_id = g.doc_id)),
      a AS (
        SELECT vec_id, cid, dist FROM (
          SELECT e.vec_id, c.cid,
            list_distance(e.embedding::DOUBLE[], c.c) AS dist,
            row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_distance(e.embedding::DOUBLE[], c.c), c.cid) AS rn
          FROM embeddings e JOIN clean cl ON e.vec_id = cl.doc_id
          CROSS JOIN centroids c) x WHERE rn = 1),
      v AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v
            FROM embeddings e JOIN clean cl ON e.vec_id = cl.doc_id),
      prs AS (
        SELECT xa.vec_id AS ia, ya.vec_id AS ib, xa.dist AS da, ya.dist AS db
        FROM a xa JOIN a ya ON xa.cid = ya.cid AND xa.vec_id < ya.vec_id
        JOIN v x ON x.vec_id = xa.vec_id
        JOIN v y ON y.vec_id = ya.vec_id
        WHERE list_dot_product(x.v, y.v) /
          (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.3),
      removed AS (
        SELECT DISTINCT CASE WHEN da > db THEN ib
                             WHEN db > da THEN ia
                             ELSE greatest(ia, ib) END AS vec_id FROM prs),
      dd AS (SELECT cl.doc_id FROM clean cl
             WHERE cl.doc_id NOT IN (SELECT vec_id FROM removed)),
      g2 AS (
        SELECT b.doc_id, CASE WHEN b.lang = 'en' THEN 1 ELSE 0 END AS is_target,
          list_concat(b.lt, [b.lt[i] || ' ' || b.lt[i+1] for i in range(1, len(b.lt))]) AS gs
        FROM base b JOIN dd USING (doc_id)),
      e2 AS (SELECT doc_id, is_target, unnest(gs) AS gr FROM g2),
      pd AS (SELECT doc_id, is_target,
               CAST('0x' || substr(md5(gr), 1, 8) AS BIGINT) % 4096 AS b2,
               CAST(count(*) AS BIGINT) AS n
             FROM e2 GROUP BY 1, 2, 3),
      st AS (SELECT b2,
               CAST(sum(CASE WHEN is_target = 1 THEN n ELSE 0 END) AS BIGINT) AS ct,
               CAST(sum(CASE WHEN is_target = 0 THEN n ELSE 0 END) AS BIGINT) AS cs
             FROM pd GROUP BY b2),
      tot AS (SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS nt,
                     CAST(coalesce(sum(cs), 0) AS DOUBLE) AS ns FROM st),
      r AS (SELECT b2,
              log10((CAST(ct AS DOUBLE) + 1.0) / (tot.nt + 4096.0)) -
              log10((CAST(cs AS DOUBLE) + 1.0) / (tot.ns + 4096.0)) AS lr
            FROM st CROSS JOIN tot),
      w AS (SELECT pd.doc_id, sum(CAST(pd.n AS DOUBLE) * r.lr) AS weight
            FROM pd JOIN r USING (b2) GROUP BY pd.doc_id),
      adm AS (SELECT doc_id, round(weight, 6) AS weight
              FROM w WHERE round(weight, 6) >= 0.0),
      tk AS (SELECT b.doc_id, CAST(len(b.t) AS BIGINT) AS ws_tokens, adm.weight,
               CAST('0x' || substr(md5('0|' || CAST(b.doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS ord
             FROM base b JOIN adm USING (doc_id)),
      p AS (SELECT doc_id, ws_tokens, weight,
              CAST(sum(ws_tokens) OVER (ORDER BY ord, doc_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM tk)
      SELECT doc_id, ws_tokens, weight, cum AS cum_tokens,
        CAST((cum - ws_tokens) // 512 AS BIGINT) AS seq_id
      FROM p ORDER BY doc_id"""},
      (s, d) => {
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val cents = cachedModel(s, d, 10).clusterCenters.map(_.toArray).toSeq
        val keep = TextAnalysis.gopherRules(docs, "doc_id", "text")
          .filter(col("keep") === 1).select(col("id").as("doc_id"))
        val gated = docs.join(keep, Seq("doc_id"), "left_semi")
        val train = gated.filter(col("doc_id") % 10 =!= 0)
          .materializeOnce(eager = false) // consumers: bloom build + clean
        val evalDf = docs.filter(col("doc_id") % 10 === 0)
        val cleanIds = Decontamination.bloomContamination(train, "doc_id",
            "text", evalDf, "text", n = 5, expectedEvalNgrams = 1L << 16)
          .filter(col("n_hit") === 0).select(col("id").as("doc_id"))
        // stage boundaries with two consumers materialize once — without
        // this every downstream stage re-runs the whole upstream
        // pipeline (gopher + bloom + ...) from the scan
        val clean = train.join(cleanIds, Seq("doc_id"), "left_semi")
          .materializeOnce(eager = false) // consumers: cleanEmb + deduped
        val cleanEmb = emb.join(clean.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        // anti-join on the REMOVED set (not semi-join on kept): a clean
        // doc with no embedding row cannot be a semantic dup and must
        // survive — the oracle's NOT IN (removed) semantics
        val removedIds = SemDedup.semDedup(cleanEmb, "vec_id", "embedding",
            cents, threshold = 0.3)
          .filter(col("kept") === 0).select(col("id").as("doc_id"))
        val deduped = clean.join(removedIds, Seq("doc_id"), "left_anti")
          .materializeOnce(eager = false) // consumers: weights + admitted
        // n_grams > 0 makes the admission semantics match the oracle
        // EXPLICITLY: the oracle's `w` CTE is built from exploded grams,
        // so a gram-less doc has no row in `w` and the inner `JOIN adm`
        // drops it — whereas dsirWeights coalesces its weight to 0.0,
        // which would pass `>= 0.0`. Upstream the Gopher gate (n_words
        // >= 50) already excludes gram-less docs, but the parity must
        // not depend on stage ordering.
        val weights = ImportanceSampling.dsirWeights(deduped, "doc_id",
            "text", col("lang") === "en", buckets = 4096)
          .filter(col("n_grams") > 0)
          .select(col("id").as("doc_id"), round(col("weight"), 6).as("weight"))
          .filter(col("weight") >= 0.0)
        val admitted = deduped
          .select(col("doc_id"), graft.functions.TextFunctions
            .wordCount(col("text")).cast("long").as("ws_tokens"))
          .join(weights, Seq("doc_id"))
        Packing.packSequences(admitted, "doc_id", "ws_tokens",
            Seq(Sampling.trainOrder(col("doc_id"))), seqLen = 512)
          .select("doc_id", "ws_tokens", "weight", "cum_tokens", "seq_id")
          .orderBy("doc_id")
      }),

    // J10/M7: RAPTOR multi-scale search, exercising Library
    // .multiScaleSearch UNCHANGED against a warehouse derived
    // deterministically from the testdata tables (chunks = vectors,
    // docs = label groups, cluster-summary embeddings = the cached
    // k=10 fit's centroids — "summaries live in the same vector
    // space", Library.buildClusterSummaries contract; reference
    // LibSQLDatabase.ts:224-322). The oracle replays both scales:
    // chunk-ANN over the embeddings table ∪ summary-ANN over the
    // centroid literals (float-cast, exactly the values the warehouse
    // stores), the threshold applied to BOTH scales, the synthetic
    // summary identity (docId='', title='Cluster Summary', page=0,
    // chunkIndex=clusterId), per-scale top-k, and the fused re-rank.
    // Selection compares full-precision scores in both engines (the
    // bit-parity cosine fold); output rounds at 6dp after every
    // decision, q43-style.
    Q("q76_multiscale_search", summaryValues.map { sv => s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      sums(cid, sv) AS (VALUES $sv),
      chunk_scored AS (
        SELECT 'd' || CAST(label AS VARCHAR) AS docId,
          'Doc ' || CAST(label AS VARCHAR) AS title,
          0 AS page,
          CAST(vec_id AS INT) AS chunkIndex,
          'vector ' || CAST(vec_id AS VARCHAR) AS content,
          1.0 - (1.0 - list_dot_product(embedding::DOUBLE[], qv) /
            (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
             sqrt(list_dot_product(qv, qv)))) / 2.0 AS score,
          'vector' AS matchType
        FROM embeddings, q WHERE vec_id <> 0),
      chunk_hits AS (
        SELECT * FROM chunk_scored WHERE score >= 0.5
        ORDER BY score DESC, docId, chunkIndex LIMIT 12),
      sum_scored AS (
        SELECT '' AS docId, 'Cluster Summary' AS title, 0 AS page,
          CAST(cid AS INT) AS chunkIndex,
          'Cluster summary ' || CAST(cid AS VARCHAR) AS content,
          1.0 - (1.0 - list_dot_product(sv::DOUBLE[], qv) /
            (sqrt(list_dot_product(sv::DOUBLE[], sv::DOUBLE[])) *
             sqrt(list_dot_product(qv, qv)))) / 2.0 AS score,
          'cluster' AS matchType
        FROM sums CROSS JOIN q),
      sum_hits AS (
        SELECT * FROM sum_scored WHERE score >= 0.5
        ORDER BY score DESC, chunkIndex LIMIT 12),
      fused AS (SELECT * FROM chunk_hits UNION ALL SELECT * FROM sum_hits)
      SELECT docId, title, page, chunkIndex, content,
        round(score, 6) AS score, matchType
      FROM (SELECT * FROM fused ORDER BY score DESC, docId, chunkIndex LIMIT 12) t
      ORDER BY round(score, 6) DESC, docId, chunkIndex"""},
      (s, d) => {
        multiScaleSearch(multiScaleLibrary(s, d))
          .select(col("docId"), col("title"), col("page"), col("chunkIndex"),
            col("content"), round(col("score"), 6).as("score"), col("matchType"))
          .orderBy(desc("score"), asc("docId"), asc("chunkIndex"))
      }),

    // J3: concept ANN search, exercising TaxonomyStore
    // .findSimilarConcepts UNCHANGED over the scratch warehouse's
    // taxonomy tables (one concept per vector; reference
    // TaxonomyService.ts:603-631). The oracle replays the scoring
    // ((1 + cos)/2 >= minScore), the top-k cut on full-precision
    // scores, and the broadcast label join; output rounds at 6dp
    // after selection, ties break on conceptId (binary string order
    // in both engines).
    Q("q78_concept_ann", Some("""
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT 'c' || CAST(vec_id AS VARCHAR) AS conceptId,
          'Concept ' || CAST(vec_id AS VARCHAR) AS prefLabel,
          'def ' || CAST(vec_id AS VARCHAR) AS definition,
          (1.0 + list_dot_product(embedding::DOUBLE[], qv) /
            (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
             sqrt(list_dot_product(qv, qv)))) / 2.0 AS score
        FROM embeddings, q WHERE vec_id <> 0)
      SELECT conceptId, prefLabel, definition, round(score, 6) AS score
      FROM (SELECT * FROM scored WHERE score >= 0.5
            ORDER BY score DESC, conceptId LIMIT 15) t
      ORDER BY round(score, 6) DESC, conceptId"""),
      (s, d) => {
        val wh = multiScaleWarehouse(s, d)
        val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        val tax = new graft.TaxonomyStore(s, wh, new FixedEmbedder(qv))
        tax.findSimilarConcepts(qv, minScore = 0.5, limit = 15)
          .select(col("conceptId"), col("prefLabel"), col("definition"),
            round(col("score"), 6).as("score"))
          .orderBy(desc("score"), asc("conceptId"))
      }),

    // BPE tokenizer training (round-12: the last COVERAGE exclusion,
    // Sennrich 2016): a driver loop over DISTRIBUTED pair counts trains
    // the merge table once per (dir) — a build-once index artifact like
    // the k-means/PQ fits above — and the query counts per-doc BPE
    // tokens under it. The oracle (q50 lazy-literal precedent) replays
    // the trained merges as a chain of literal `replace` calls over a
    // space-delimited symbol encoding whose invariant makes sequential
    // string replace ≡ BPE's left-to-right pair merge.
    // BPE at a REAL merge budget (round-13, VERDICT r12 #1): 1000
    // merges over customer names — the merge table comes from
    // trainAuto's driver-local tier (vocab is Heaps-small here), which
    // BpeTrainingSpec pins merge-for-merge to the distributed batched
    // trainer at the same budget. The oracle replays all 1000 merges
    // through a recursive CTE indexed into two list literals (constant
    // expression depth), over the DISTINCT word vocab, then joins token
    // counts back to rows.
    Q("q116_bpe_1k_token_counts",
      bpe1kLiterals.map(m =>
        graft.operators.BpeTraining.oracleSqlRecursive(
          "customer", "c_custkey", "c_name", m)),
      (s, d) => graft.operators.BpeTraining.tokenCounts(
          Tables.customer(s, d), "c_custkey", "c_name", cachedBpe1k(s, d))
        .withColumnRenamed("id", "c_custkey")
        .orderBy("c_custkey")),

    // Unigram-LM tokenizer (round-13 depth: Kudo 2018, the
    // SentencePiece unigram model — the OTHER tokenizer family next to
    // q89/q116's BPE). Deterministic integer-cost Viterbi-EM; the
    // oracle replays the trained pieces as literals through the exact
    // integer Viterbi DP as a recursive CTE (combined cost*1000+n key)
    Q("q121_unigram_lm_tokens",
      ulmLiterals.map(p =>
        graft.operators.UnigramLm.oracleSql(
          "customer", "c_custkey", "c_name", p)),
      (s, d) => graft.operators.UnigramLm.tokenCounts(
          Tables.customer(s, d), "c_custkey", "c_name", cachedUlm(s, d))
        .withColumnRenamed("id", "c_custkey")
        .orderBy("c_custkey")),

    Q("q89_bpe_token_counts",
      bpeLiterals.map(m =>
        graft.operators.BpeTraining.oracleSql("documents", "doc_id", "text", m)),
      (s, d) => graft.operators.BpeTraining.tokenCounts(
          Tables.documents(s, d), "doc_id", "text", cachedBpe(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // COMPOSED multimodal pipeline (round-12 stretch): q54's decoded
    // histogram features consumed end-to-end — 4-diagonal-grid blocking
    // (pigeonhole-exact for L∞ < cell/8, the SimHash rotated-prefix
    // argument in grid form), exact |Δf| <= eps verify, connected
    // components, min-id canonicalization. Float parity: features cross
    // the boundary through q54's certified REAL-cast dance; grid keys
    // use only exact binary fractions (1/512, x128) so floor() agrees;
    // eps compares as DOUBLE in both engines
    Q("q90_media_histogram_dedup", Some("""
      WITH RECURSIVE b AS (
        SELECT doc_id, text, length(text) AS len FROM documents),
      h AS (SELECT doc_id, (ascii(substr(text, i, 1)) >> 4) AS bucket
            FROM b, LATERAL (SELECT unnest(generate_series(1, len)) AS i) t),
      c AS (SELECT doc_id,
              SUM(CASE WHEN bucket = 2 THEN 1 ELSE 0 END) AS c2,
              SUM(CASE WHEN bucket = 6 THEN 1 ELSE 0 END) AS c6,
              SUM(CASE WHEN bucket = 7 THEN 1 ELSE 0 END) AS c7
            FROM h GROUP BY doc_id),
      f AS (SELECT b.doc_id AS id,
              CAST(CAST(CAST(coalesce(c2, 0) AS DOUBLE) / greatest(CAST(len AS DOUBLE), 1.0) AS REAL) AS DOUBLE) AS f0,
              CAST(CAST(CAST(coalesce(c6, 0) AS DOUBLE) / greatest(CAST(len AS DOUBLE), 1.0) AS REAL) AS DOUBLE) AS f1,
              CAST(CAST(CAST(coalesce(c7, 0) AS DOUBLE) / greatest(CAST(len AS DOUBLE), 1.0) AS REAL) AS DOUBLE) AS f2
            FROM b LEFT JOIN c ON b.doc_id = c.doc_id),
      g(j) AS (VALUES (0), (1), (2), (3)),
      keyed AS (
        SELECT f.id, g.j,
          CAST(floor((f0 + j * (1.0/512.0)) * 128.0) AS BIGINT) AS k0,
          CAST(floor((f1 + j * (1.0/512.0)) * 128.0) AS BIGINT) AS k1,
          CAST(floor((f2 + j * (1.0/512.0)) * 128.0) AS BIGINT) AS k2
        FROM f CROSS JOIN g),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b2.id AS id_b
        FROM keyed a JOIN keyed b2 ON a.j = b2.j AND a.k0 = b2.k0
          AND a.k1 = b2.k1 AND a.k2 = b2.k2 AND a.id < b2.id),
      pairs AS (
        SELECT cn.id_a, cn.id_b
        FROM cand cn JOIN f x ON x.id = cn.id_a JOIN f y ON y.id = cn.id_b
        WHERE abs(x.f0 - y.f0) <= CAST(0.0009 AS DOUBLE)
          AND abs(x.f1 - y.f1) <= CAST(0.0009 AS DOUBLE)
          AND abs(x.f2 - y.f2) <= CAST(0.0009 AS DOUBLE)),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT a AS n FROM edges),
      reach(node, lab) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
      cc AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
      SELECT f.id AS media_id,
        CAST(coalesce(cc.component, f.id) AS BIGINT) AS canon_id,
        CAST(CASE WHEN coalesce(cc.component, f.id) <> f.id THEN 1 ELSE 0 END AS INT) AS is_dup
      FROM f LEFT JOIN cc ON cc.node = f.id
      ORDER BY media_id"""),
      (s, d) => {
        val media = Tables.documents(s, d).select(
          col("doc_id").as("media_id"),
          lit("image").as("modality"),
          encode(col("text"), "utf-8").as("bytes"))
        Multimodal.histogramDedup(media).orderBy("media_id")
      }),

    // q90's LINEAR-regime sibling: shifted-grid cell EQUALITY dedup
    // (perceptual-hash semantics — bucket members are mutually dup by
    // definition, so star edges to the bucket min replace the pair
    // enumeration; candidates linear in rows at any density). Same
    // feature dance and grid constants as q90
    Q("q91_media_cell_dedup", Some("""
      WITH RECURSIVE b AS (
        SELECT doc_id, text, length(text) AS len FROM documents),
      h AS (SELECT doc_id, (ascii(substr(text, i, 1)) >> 4) AS bucket
            FROM b, LATERAL (SELECT unnest(generate_series(1, len)) AS i) t),
      c AS (SELECT doc_id,
              SUM(CASE WHEN bucket = 2 THEN 1 ELSE 0 END) AS c2,
              SUM(CASE WHEN bucket = 6 THEN 1 ELSE 0 END) AS c6,
              SUM(CASE WHEN bucket = 7 THEN 1 ELSE 0 END) AS c7
            FROM h GROUP BY doc_id),
      f AS (SELECT b.doc_id AS id,
              CAST(CAST(CAST(coalesce(c2, 0) AS DOUBLE) / greatest(CAST(len AS DOUBLE), 1.0) AS REAL) AS DOUBLE) AS f0,
              CAST(CAST(CAST(coalesce(c6, 0) AS DOUBLE) / greatest(CAST(len AS DOUBLE), 1.0) AS REAL) AS DOUBLE) AS f1,
              CAST(CAST(CAST(coalesce(c7, 0) AS DOUBLE) / greatest(CAST(len AS DOUBLE), 1.0) AS REAL) AS DOUBLE) AS f2
            FROM b LEFT JOIN c ON b.doc_id = c.doc_id),
      g(j) AS (VALUES (0), (1), (2), (3)),
      keyed AS (
        SELECT f.id, g.j,
          CAST(floor((f0 + j * (1.0/512.0)) * 128.0) AS BIGINT) AS k0,
          CAST(floor((f1 + j * (1.0/512.0)) * 128.0) AS BIGINT) AS k1,
          CAST(floor((f2 + j * (1.0/512.0)) * 128.0) AS BIGINT) AS k2
        FROM f CROSS JOIN g),
      reps AS (
        SELECT j, k0, k1, k2, min(id) AS rep, count(*) AS n
        FROM keyed GROUP BY 1, 2, 3, 4),
      pairs AS (
        SELECT DISTINCT r.rep AS id_a, k.id AS id_b
        FROM keyed k JOIN reps r USING (j, k0, k1, k2)
        WHERE r.n > 1 AND k.id <> r.rep),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT a AS n FROM edges),
      reach(node, lab) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
      cc AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
      SELECT f.id AS media_id,
        CAST(coalesce(cc.component, f.id) AS BIGINT) AS canon_id,
        CAST(CASE WHEN coalesce(cc.component, f.id) <> f.id THEN 1 ELSE 0 END AS INT) AS is_dup
      FROM f LEFT JOIN cc ON cc.node = f.id
      ORDER BY media_id"""),
      (s, d) => {
        val media = Tables.documents(s, d).select(
          col("doc_id").as("media_id"),
          lit("image").as("modality"),
          encode(col("text"), "utf-8").as("bytes"))
        Multimodal.histogramDedup(media, mode = "cell").orderBy("media_id")
      }),

    // Model-based quality classifier (round 12, the GPT-3-style LR
    // filter — closing COVERAGE's "model-based classifiers" boundary
    // in-engine): MLlib logistic regression over DSIR's hashed
    // unigram+bigram count features, lang='en' as the target label.
    // Only the FIT is not SQL; scoring replays the fitted coefficients
    // as a 1024-row VALUES literal table with a bucket-ordered
    // list fold (bit-identical dot product), sigmoid rounded 6dp
    Q("q97_lr_quality", lrOracle,
      (s, d) => graft.operators.QualityClassifier.score(
        Tables.documents(s, d), "doc_id", "text", cachedLr(s, d))
        .select(col("id").as("doc_id"), col("n_grams"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id")),

    // Curation v4 (round-12 composition): LR quality gate (q97's
    // fitted model, score >= 0.5) → exact-dedup canonical keep →
    // UniMax token budget over the SURVIVORS — the allocation sees
    // only gated, deduped availability, which is the stage interaction
    // no single-stage query certifies. The gate compare runs on the
    // full-precision score (sigmoid is monotone; the underlying z is
    // a bit-exact ordered fold, so the 0.5 boundary is the 1-ulp exp
    // freedom only)
    Q("q99_curation_v4", lrV4Oracle,
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = cachedLr(s, d)
        val kept = graft.operators.QualityClassifier.score(
            docs, "doc_id", "text", m)
          .filter(col("score") >= 0.5).select(col("id").as("doc_id"))
        // stage boundary with two consumers (fingerprints + survivors)
        val gated = docs.join(kept, Seq("doc_id"), "left_semi")
          .materializeOnce(eager = false)
        val canonical = TextAnalysis.fingerprints(gated, "doc_id", "text")
          .groupBy("fp").agg(min(col("id")).as("doc_id")).select("doc_id")
        val base = gated.join(canonical, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("source"),
            graft.functions.TextFunctions.wordCount(col("text"))
              .cast("long").as("ws_tokens"))
        graft.operators.Mixture.unimaxSample(base, "source", "ws_tokens",
          order = Seq(Sampling.trainOrder(col("doc_id")).asc,
            col("doc_id").asc),
          budget = 6000L, maxEpochs = 1.0)
          .select(col("doc_id"), col("source"), col("ws_tokens"),
            col("alloc_tokens"), col("cum_tokens"))
          .orderBy("doc_id")
      }),

    // Classifier evaluation (round 13): the q97 LR filter's measured
    // operating points — confusion/precision/recall at nine score
    // thresholds plus exact Mann-Whitney ROC-AUC, all one engine pass.
    // AUC ranks on the pre-sigmoid margin z (deterministic ordered
    // fold, order-stable across engines — the sigmoid would add the
    // exp library's 1-ulp freedom on top) via a distributed prefix
    // rank over DISTINCT margins — integer average-rank arithmetic
    // (2x rank sum), one double division at the end. Thresholding
    // compares the q97 round-6 score against exact double literals
    Q("q124_classifier_roc", lrRocOracle,
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = cachedLr(s, d)
        val scored = graft.operators.QualityClassifier
          .scoreWithMargin(docs, "doc_id", "text", m)
          .join(docs.select(col("doc_id").as("id"),
            (col("lang") === "en").cast("int").as("label")), Seq("id"))
        val auc = graft.operators.Evaluation.aucByRank(scored, "z", "label")
          .select("auc")
        graft.operators.Evaluation.confusionAtThresholds(
            scored.withColumn("rs", round(col("score"), 6)), "rs", "label",
            (1 to 9).map(_ / 10.0))
          .crossJoin(broadcast(auc))
          .orderBy("threshold")
      }),

    // Tokenizer fertility per language (round 13): the multilingual
    // bias audit — chars and whitespace words per subword token, per
    // lang, under the q89-certified 40-merge BPE table. A vocab
    // trained on a dominant language fragments the others (higher
    // tokens_per_word = inflated sequence cost); the ratios are single
    // divisions of exact integer sums, the counts ride the certified
    // BpeTokenCount expression, and the oracle replays the SAME merge
    // chain through the shared CTE block
    Q("q127_tokenizer_fertility",
      bpeLiterals.map(m => s"""
      WITH ${graft.operators.BpeTraining.oracleSqlCtes(
        "documents", "doc_id", "text", m)},
      j AS (SELECT b.id, b.bpe_tokens, d.lang,
              CAST(length(d.text) AS BIGINT) AS nc,
              CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS BIGINT) AS ws
            FROM bpe b JOIN documents d ON d.doc_id = b.id)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(nc) AS BIGINT) AS n_chars,
        CAST(sum(ws) AS BIGINT) AS ws_tokens,
        CAST(sum(bpe_tokens) AS BIGINT) AS subword_tokens,
        CASE WHEN sum(bpe_tokens) > 0
          THEN CAST(sum(nc) AS DOUBLE) / CAST(sum(bpe_tokens) AS DOUBLE)
        END AS chars_per_token,
        CASE WHEN sum(ws) > 0
          THEN CAST(sum(bpe_tokens) AS DOUBLE) / CAST(sum(ws) AS DOUBLE)
        END AS tokens_per_word
      FROM j GROUP BY lang ORDER BY lang"""),
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.CorpusStats.tokenizerFertility(docs, "doc_id",
            "text", "lang",
            graft.operators.BpeTraining.tokenCounts(docs, "doc_id", "text",
              cachedBpe(s, d)))
          .orderBy("lang")
      }),

    // The FULL ROC curve (round 13, completing q124's tier): one
    // operating point per DISTINCT margin — tp/fp cumulative counts
    // descending z, tpr/fpr single divisions. Curve size is the
    // distinct-margin count, never corpus rows; the cumulative counts
    // ride the same distributed prefix sum as the AUC rank-sum.
    // Cross-engine: z is deterministic per engine and ORDER-stable
    // across engines (q124's rank-sum equality pins every tp down the
    // curve), but DuckDB's dot fold carries a 1-ulp freedom vs Spark's
    // sequential fold — so the DISPLAYED margin rounds to 6dp (q97's
    // round-6 score discipline) while ranking stays on raw z
    Q("q131_roc_curve", lrRocCurveOracle,
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = cachedLr(s, d)
        val scored = graft.operators.QualityClassifier
          .scoreWithMargin(docs, "doc_id", "text", m)
          .join(docs.select(col("doc_id").as("id"),
            (col("lang") === "en").cast("int").as("label")), Seq("id"))
        graft.operators.Evaluation.rocCurve(scored, "z", "label")
          .select(round(col("score"), 6).as("margin"), col("tp"), col("fp"),
            col("tpr"), col("fpr"))
          .orderBy(desc("margin"), asc("tp"))
      }),

    // Decile lift/gains table (round 14, completing the q124/q131
    // evaluation tier): rows ranked by the raw LR margin into 10
    // equal-depth bins; per bin the positive rate, cumulative capture
    // and lift over the base rate — the report card a curation gate is
    // actually operated by ("keep the top 3 deciles" = read cum_capture
    // at bin 3). Ranks are distributed prefix ranks, bin assignment is
    // integer ceiling division, and every ratio is ONE division of
    // exact integer products, so the table replays bit-for-bit in SQL
    Q("q142_classifier_lift", lrLiftOracle,
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = cachedLr(s, d)
        val scored = graft.operators.QualityClassifier
          .scoreWithMargin(docs, "doc_id", "text", m)
          .join(docs.select(col("doc_id").as("id"),
            (col("lang") === "en").cast("int").as("label")), Seq("id"))
        graft.operators.Evaluation.liftTable(scored, "z", "label", "id",
            nBins = 10)
          .orderBy("bin")
      }),

    // Multi-signal quality fusion (round 13): ensemble curation — the
    // q85 unigram-LM corpus rank and the q97 classifier rank fused by
    // RRF (1/(60+r_lm) + 1/(60+r_lr)), then terciled on the fused
    // rank. Model-free and model-based quality signals disagree
    // exactly where either alone misfilters; RRF needs no score
    // calibration between them (the q111 argument, corpus-wide). All
    // three ranks are distributed prefix ranks — never a corpus
    // window; the rrf double is two correctly-rounded divisions and
    // one add, bit-identical on any engine
    Q("q133_fused_quality", lrFusedOracle,
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = cachedLr(s, d)
        val lm = graft.operators.TextAnalysis
          .ccnetBuckets(docs, "doc_id", "text")
          .select(col("id").as("doc_id"), col("rank").as("rank_lm"))
        val scoredLr = graft.operators.QualityClassifier
          .score(docs, "doc_id", "text", m)
          .select(col("id").as("doc_id"), round(col("score"), 6).as("rs"))
        val lr = Sampling.stratumRank(
            scoredLr.withColumn("__s", lit("all")), "__s",
            Seq(col("rs").desc, col("doc_id").asc), "rank_lr", "__n")
          .select(col("doc_id"), col("rank_lr"))
        val fused = lm.join(lr, Seq("doc_id"))
          .withColumn("rrf",
            lit(1.0) / (lit(60.0) + col("rank_lm")) +
              lit(1.0) / (lit(60.0) + col("rank_lr")))
        Sampling.stratumRank(fused.withColumn("__s2", lit("all")), "__s2",
            Seq(col("rrf").desc, col("doc_id").asc), "fused_rank", "__n2")
          .select(col("doc_id"), col("rank_lm"), col("rank_lr"),
            col("rrf"), col("fused_rank"),
            when(col("fused_rank") <= ceil(col("__n2") / 3.0), "head")
              .when(col("fused_rank") <= ceil(lit(2.0) * col("__n2") / 3.0),
                "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      }),

    // Tokenizer fertility, unigram-LM edition (round 13): the SAME
    // audit operator as q127 fed by the OTHER tokenizer family — a
    // Kudo unigram model trained on the documents corpus, scored by
    // the certified integer-Viterbi expression. One operator shape
    // serving both families is the genericity claim, certified twice
    Q("q136_ulm_fertility",
      ulmDocsLiterals.map(p => s"""
      WITH RECURSIVE
      ${graft.operators.UnigramLm.oracleSqlCtes(
        "documents", "doc_id", "text", p)},
      j AS (SELECT u.id, u.ulm_tokens, d.lang,
              CAST(length(d.text) AS BIGINT) AS nc,
              CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS BIGINT) AS ws
            FROM ulm u JOIN documents d ON d.doc_id = u.id)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(nc) AS BIGINT) AS n_chars,
        CAST(sum(ws) AS BIGINT) AS ws_tokens,
        CAST(sum(ulm_tokens) AS BIGINT) AS subword_tokens,
        CASE WHEN sum(ulm_tokens) > 0
          THEN CAST(sum(nc) AS DOUBLE) / CAST(sum(ulm_tokens) AS DOUBLE)
        END AS chars_per_token,
        CASE WHEN sum(ws) > 0
          THEN CAST(sum(ulm_tokens) AS DOUBLE) / CAST(sum(ws) AS DOUBLE)
        END AS tokens_per_word
      FROM j GROUP BY lang ORDER BY lang"""),
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.CorpusStats.tokenizerFertility(docs, "doc_id",
            "text", "lang",
            graft.operators.UnigramLm.tokenCounts(docs, "doc_id", "text",
              cachedUlmDocs(s, d)),
            countCol = "ulm_tokens")
          .orderBy("lang")
      }),

    // Curation v5 (round-13 capstone): the DATA-CONSTRAINED training
    // stream end to end — LR quality gate -> exact-dedup canonical
    // keep -> per-LANGUAGE UniMax allocation at <= 2 epochs
    // MATERIALIZED as the repeated stream (epoch-salted permutation
    // per pass) -> 256-token sequence layout over the epoch-major
    // order. The stage interaction no single query certifies: the
    // allocation sees only gated+deduped availability AND the packer
    // sees repeated rows whose order interleaves languages within
    // each epoch
    Q("q138_curation_v5", lrV5Oracle,
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = cachedLr(s, d)
        val kept = graft.operators.QualityClassifier.score(
            docs, "doc_id", "text", m)
          .filter(col("score") >= 0.5).select(col("id").as("doc_id"))
        val gated = docs.join(kept, Seq("doc_id"), "left_semi")
          .materializeOnce(eager = false)
        val canonical = TextAnalysis.fingerprints(gated, "doc_id", "text")
          .groupBy("fp").agg(min(col("id")).as("doc_id")).select("doc_id")
        val base = gated.join(canonical, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.wordCount(col("text"))
              .cast("long").as("ws_tokens"))
        val stream = graft.operators.Mixture.materializeEpochs(base,
          "lang", "doc_id", "ws_tokens", budget = 12000L, maxEpochs = 2.0)
        Packing.packSequences(
            stream.select("doc_id", "lang", "ws_tokens", "epoch"),
            "doc_id", "ws_tokens",
            order = Seq(col("epoch").asc,
              Sampling.trainOrder(col("doc_id"), col("epoch")).asc,
              col("doc_id").asc),
            seqLen = 256)
          .select(col("doc_id"), col("lang"), col("ws_tokens"),
            col("epoch"), col("cum_tokens"), col("seq_id"))
          .orderBy("doc_id", "epoch")
      }),

    // Quality-aware canonicalization (round 13): min-id canonical
    // (q56/q110) keeps an ARBITRARY cluster member; a curation run
    // should keep the BEST one — argmax LR score per near-dup cluster
    // (ties to the lower id). One max-struct aggregate over the
    // certified pairs->components labeling; the dedup x quality stage
    // interaction in one query
    Q("q139_quality_canonical", lrCanonOracle,
      (s, d) => {
        val docs = Tables.documents(s, d)
        val m = cachedLr(s, d)
        val pairs = graft.operators.Dedup.ngramJaccardPairs(docs,
          "doc_id", "text", col("source"), n = 3, threshold = 0.3,
          maxLenDiff = 20).select("id_a", "id_b")
        val cc = graft.operators.Components
          .connectedComponents(pairs, "id_a", "id_b")
        val scored = graft.operators.QualityClassifier.score(
            docs, "doc_id", "text", m)
          .select(col("id").as("node"), round(col("score"), 6).as("rs"))
        val j = cc.join(scored, Seq("node"))
        val best = j
          .withColumn("__k", struct(col("rs"),
            (-col("node")).as("negid")))
          .groupBy("component").agg(max(col("__k")).as("__b"))
          .select(col("component"),
            (-col("__b.negid")).cast("long").as("canonical_id"))
        j.join(best, Seq("component"))
          .select(col("node").as("doc_id"),
            col("component").cast("long").as("component"),
            col("rs").as("score"), col("canonical_id"),
            (col("node") =!= col("canonical_id")).cast("int").as("is_dup"))
          .orderBy("doc_id")
      })
  )

  /** q97's LR fit, once per (JVM, dataset) — the q50 cached-fit
    * contract: the oracle's coefficient literals come from the SAME fit
    * the query scored with, so L-BFGS's run-to-run float freedom can
    * never split the two sides. */
  private val lrCache = scala.collection.concurrent.TrieMap
    .empty[String, graft.operators.QualityClassifier.LrQualityModel]
  private def cachedLr(s: org.apache.spark.sql.SparkSession, d: String) =
    lrCache.getOrElseUpdate(d,
      graft.operators.QualityClassifier.train(Tables.documents(s, d),
        "doc_id", "text", isTarget = col("lang") === "en", buckets = 1024))
  /** The q97 scoring pipeline as shared WITH-clause fragments
    * (weight literals → gram explode → bucket counts → ordered-fold
    * dot), reused verbatim by the q99 composition. */
  private def lrScoreCtes(m: graft.operators.QualityClassifier.LrQualityModel)
      : String = {
    val wvals = m.weights.zipWithIndex
      .map { case (w, b) => s"($b, ${w}::DOUBLE)" }.mkString(", ")
    s"""wt(b, w) AS (SELECT * FROM (VALUES $wvals)),
      g AS (
        SELECT doc_id,
          list_concat(t, [t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS gs
        FROM (SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents)),
      e AS (SELECT doc_id, unnest(gs) AS gr FROM g),
      pd AS (SELECT doc_id,
               CAST('0x' || substr(md5(gr), 1, 8) AS BIGINT) % ${m.buckets} AS b,
               CAST(count(*) AS BIGINT) AS n
             FROM e GROUP BY 1, 2),
      z AS (SELECT pd.doc_id, CAST(sum(pd.n) AS BIGINT) AS n_grams,
              list_dot_product(
                list(CAST(pd.n AS DOUBLE) * wt.w ORDER BY pd.b),
                list_transform(list(wt.w ORDER BY pd.b), x -> 1.0)) AS dot
            FROM pd JOIN wt ON wt.b = pd.b GROUP BY pd.doc_id),
      sc AS (SELECT d.doc_id, CAST(coalesce(z.n_grams, 0) AS BIGINT) AS n_grams,
               (${m.intercept}::DOUBLE + coalesce(z.dot, 0.0)) AS zz,
               1.0 / (1.0 + exp(-(${m.intercept}::DOUBLE + coalesce(z.dot, 0.0)))) AS score,
               d.lang AS lang
             FROM documents d LEFT JOIN z USING (doc_id))"""
  }

  /** Fitted coefficients as oracle literals — Some only after exactly
    * one fit ran in this JVM ([[centroidValues]] contract). */
  private def lrOracle: Option[String] = {
    val fits = lrCache.snapshot().toSeq
    if (fits.size != 1) None else {
      val m = fits.head._2
      Some(s"""
      WITH ${lrScoreCtes(m)}
      SELECT doc_id, n_grams, round(score, 6) AS score
      FROM sc ORDER BY doc_id""")
    }
  }

  /** q124's oracle: the q97 scoring fragments, then the same
    * average-rank AUC arithmetic (integer 2x rank sums over distinct
    * margins — DuckDB's window cumsum stands in for the engine's
    * distributed prefix sum; both are exact integers) and the same
    * single-division confusion ratios. */
  private def lrRocOracle: Option[String] = {
    val fits = lrCache.snapshot().toSeq
    if (fits.size != 1) None else {
      val m = fits.head._2
      Some(s"""
      WITH ${lrScoreCtes(m)},
      th(threshold) AS (SELECT * FROM (VALUES
        (CAST(0.1 AS DOUBLE)), (CAST(0.2 AS DOUBLE)), (CAST(0.3 AS DOUBLE)),
        (CAST(0.4 AS DOUBLE)), (CAST(0.5 AS DOUBLE)), (CAST(0.6 AS DOUBLE)),
        (CAST(0.7 AS DOUBLE)), (CAST(0.8 AS DOUBLE)), (CAST(0.9 AS DOUBLE)))),
      lab AS (SELECT doc_id, zz, round(score, 6) AS rs,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l
              FROM sc),
      per AS (SELECT zz AS s, CAST(count(*) AS BIGINT) AS c,
                CAST(sum(l) AS BIGINT) AS p
              FROM lab GROUP BY zz),
      cum AS (SELECT s, c, p,
                CAST(sum(c) OVER (ORDER BY s
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc
              FROM per),
      a AS (SELECT CAST(sum(p * (2 * (cumc - c) + c + 1)) AS BIGINT) AS r2,
              CAST(sum(p) AS BIGINT) AS npos,
              CAST(sum(c - p) AS BIGINT) AS nneg
            FROM cum),
      conf AS (
        SELECT th.threshold,
          CAST(sum(CASE WHEN rs >= th.threshold THEN l ELSE 0 END) AS BIGINT) AS tp,
          CAST(sum(CASE WHEN rs >= th.threshold THEN 1 - l ELSE 0 END) AS BIGINT) AS fp,
          CAST(sum(CASE WHEN rs < th.threshold THEN l ELSE 0 END) AS BIGINT) AS fn,
          CAST(sum(CASE WHEN rs < th.threshold THEN 1 - l ELSE 0 END) AS BIGINT) AS tn
        FROM lab CROSS JOIN th GROUP BY th.threshold)
      SELECT threshold, tp, fp, fn, tn,
        CASE WHEN tp + fp > 0
          THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
        CASE WHEN tp + fn > 0
          THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
        CASE WHEN npos > 0 AND nneg > 0
          THEN CAST(r2 - npos * (npos + 1) AS DOUBLE) / (2.0 * npos * nneg)
        END AS auc
      FROM conf, a ORDER BY threshold""")
    }
  }

  /** q131's oracle: cumulative tp/fp down the distinct-margin curve —
    * DuckDB's descending window cumsum stands in for the engine's
    * distributed prefix sum; ratios are the same single divisions. */
  private def lrRocCurveOracle: Option[String] = {
    val fits = lrCache.snapshot().toSeq
    if (fits.size != 1) None else {
      val m = fits.head._2
      Some(s"""
      WITH ${lrScoreCtes(m)},
      per AS (SELECT zz AS margin, CAST(count(*) AS BIGINT) AS c,
                CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
              FROM sc GROUP BY zz),
      cum AS (SELECT margin, c, p,
                CAST(sum(p) OVER (ORDER BY margin DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                CAST(sum(c - p) OVER (ORDER BY margin DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
              FROM per),
      tot AS (SELECT CAST(sum(p) AS BIGINT) AS npos,
                CAST(sum(c - p) AS BIGINT) AS nneg FROM per)
      SELECT round(margin, 6) AS margin, tp, fp,
        CASE WHEN npos > 0
          THEN CAST(tp AS DOUBLE) / CAST(npos AS DOUBLE) END AS tpr,
        CASE WHEN nneg > 0
          THEN CAST(fp AS DOUBLE) / CAST(nneg AS DOUBLE) END AS fpr
      FROM cum, tot ORDER BY round(margin, 6) DESC, tp""")
    }
  }

  /** q142's oracle: the q97 scoring fragments, ranked descending on the
    * raw margin (the q124/q131 order-stability discipline), equal-depth
    * bins by integer ceiling division, per-bin integer counts, and each
    * ratio as ONE division of exact integer products (lift = p·N / n·P,
    * never a quotient of quotients). The window rank stands in for the
    * engine's distributed prefix rank; the cumulative pass runs over
    * ≤ nBins rows on both engines. */
  private def lrLiftOracle: Option[String] = {
    val fits = lrCache.snapshot().toSeq
    if (fits.size != 1) None else {
      val m = fits.head._2
      Some(s"""
      WITH ${lrScoreCtes(m)},
      lab AS (SELECT doc_id, zz,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l
              FROM sc),
      rk AS (SELECT doc_id, l,
               row_number() OVER (ORDER BY zz DESC, doc_id) AS r,
               count(*) OVER () AS n
             FROM lab),
      pb AS (SELECT (r * 10 + n - 1) // n AS bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(l) AS BIGINT) AS positives,
               CAST(max(n) AS BIGINT) AS nt
             FROM rk GROUP BY 1),
      tot AS (SELECT CAST(sum(l) AS BIGINT) AS p FROM lab),
      cum AS (SELECT bin, n_docs, positives, nt,
                CAST(sum(positives) OVER (ORDER BY bin
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
              FROM pb)
      SELECT CAST(bin AS BIGINT) AS bin, n_docs, positives,
        CAST(positives AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pos_rate,
        CASE WHEN tot.p > 0
          THEN CAST(c AS DOUBLE) / CAST(tot.p AS DOUBLE) END AS cum_capture,
        CASE WHEN tot.p > 0
          THEN CAST(positives * nt AS DOUBLE) /
               CAST(n_docs * tot.p AS DOUBLE) END AS lift
      FROM cum, tot ORDER BY bin""")
    }
  }

  /** q133's oracle: the q85 unigram-LM rank CTEs + the q97 scoring
    * fragments, fused with the RRF formula and re-ranked — all three
    * ranks as window row_numbers (the oracle-side stand-in for the
    * engine's distributed prefix ranks). */
  private def lrFusedOracle: Option[String] = {
    val fits = lrCache.snapshot().toSeq
    if (fits.size != 1) None else {
      val m = fits.head._2
      Some(s"""
      WITH ${lrScoreCtes(m)},
      tok AS (
        SELECT doc_id,
          unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
        FROM documents),
      cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
      tot AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS n FROM cnt),
      vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 65536),
      scoredlm AS (
        SELECT t.doc_id,
          log10((CAST(coalesce(v.c, 0) AS DOUBLE) + 1.0) / (tot.n + 1.0)) AS logp
        FROM tok t LEFT JOIN vocab v USING (tok) CROSS JOIN tot),
      agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          avg(logp) AS avg_logp
        FROM scoredlm GROUP BY doc_id),
      keyed AS (
        SELECT d.doc_id, round(coalesce(a.avg_logp, 0.0), 6) AS lm_key
        FROM documents d LEFT JOIN agg a USING (doc_id)),
      lmr AS (SELECT doc_id,
                row_number() OVER (ORDER BY lm_key DESC, doc_id) AS rank_lm
              FROM keyed),
      lrr AS (SELECT doc_id,
                row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank_lr
              FROM sc),
      fz AS (SELECT l.doc_id, CAST(l.rank_lm AS BIGINT) AS rank_lm,
               CAST(r2.rank_lr AS BIGINT) AS rank_lr,
               1.0 / (60.0 + l.rank_lm) + 1.0 / (60.0 + r2.rank_lr) AS rrf
             FROM lmr l JOIN lrr r2 USING (doc_id)),
      rr AS (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS fr,
               count(*) OVER () AS n
             FROM fz)
      SELECT doc_id, rank_lm, rank_lr, rrf, CAST(fr AS BIGINT) AS fused_rank,
        CASE WHEN fr <= ceil(n / 3.0) THEN 'head'
             WHEN fr <= ceil(2.0 * n / 3.0) THEN 'middle'
             ELSE 'tail' END AS bucket
      FROM rr ORDER BY doc_id""")
    }
  }

  /** q139's oracle: the q56 pairs→closure CTEs + the q97 scoring
    * fragments, canonical = rank-1 by (score DESC, id) per component
    * — the same argmax the engine computes as one max-struct. */
  private def lrCanonOracle: Option[String] = {
    val fits = lrCache.snapshot().toSeq
    if (fits.size != 1) None else {
      val m = fits.head._2
      Some(s"""
      WITH RECURSIVE ${lrScoreCtes(m)},
      ng AS (
        SELECT doc_id, source, length(text) AS len,
          list_distinct([array_to_string(t[i:i+2], ' ')
                         for i in range(1, greatest(len(t) - 2, 0) + 1)]) AS g
        FROM (SELECT doc_id, source, text,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents)),
      pairs AS (
        SELECT id_a, id_b FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
            CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) AS jaccard
          FROM ng a JOIN ng b ON a.source = b.source AND a.doc_id < b.doc_id
            AND abs(a.len - b.len) <= 20
            AND len(a.g) + len(b.g) > 0) p
        WHERE jaccard >= 0.3),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT a AS n FROM edges),
      reach(node, lab) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
      cc AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
      sc2 AS (SELECT doc_id AS node, round(score, 6) AS rs FROM sc),
      j AS (SELECT cc.node, cc.component, sc2.rs
            FROM cc JOIN sc2 USING (node)),
      best AS (
        SELECT component, node AS canonical_id FROM (
          SELECT component, node,
            row_number() OVER (PARTITION BY component
                               ORDER BY rs DESC, node) AS rk
          FROM j) b WHERE rk = 1)
      SELECT j.node AS doc_id, CAST(j.component AS BIGINT) AS component,
        j.rs AS score, CAST(best.canonical_id AS BIGINT) AS canonical_id,
        CAST(CASE WHEN j.node <> best.canonical_id THEN 1 ELSE 0 END AS INT) AS is_dup
      FROM j JOIN best USING (component) ORDER BY doc_id""")
    }
  }

  /** q138's composed oracle: q99's gate+dedup fragments, then the
    * q125 epoch-materialization CTEs over per-LANGUAGE availability,
    * then the q72 pack window over the epoch-major stream. */
  private def lrV5Oracle: Option[String] = {
    val fits = lrCache.snapshot().toSeq
    if (fits.size != 1) None else {
      val m = fits.head._2
      Some(s"""
      WITH ${lrScoreCtes(m)},
      gate AS (SELECT doc_id FROM sc WHERE score >= 0.5),
      fp2 AS (
        SELECT d.doc_id, md5(lower(regexp_replace(d.text, '\\s+', ' ', 'g'))) AS f
        FROM documents d JOIN gate USING (doc_id)),
      canon AS (SELECT min(doc_id) AS doc_id FROM fp2 GROUP BY f),
      tkn AS (
        SELECT d.doc_id, d.lang,
          CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS BIGINT) AS ws_tokens
        FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM canon)),
      k AS (SELECT lang, CAST(sum(ws_tokens) AS BIGINT) AS avail
            FROM tkn GROUP BY lang),
      c AS (SELECT lang, avail, CAST(avail AS DOUBLE) * 2.0 AS cap FROM k),
      w2 AS (
        SELECT lang, avail, cap,
          row_number() OVER (ORDER BY cap, lang) AS rn,
          coalesce(sum(cap) OVER (ORDER BY cap, lang
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre,
          count(*) OVER () AS n
        FROM c),
      f2 AS (SELECT max((12000.0 - pre) / CAST(n - rn + 1 AS DOUBLE)) AS fstar
             FROM w2),
      alloc AS (
        SELECT lang, avail,
          CAST(floor(least(cap, greatest(fstar, 0.0))) AS BIGINT) AS alloc_tokens
        FROM w2, f2),
      fe AS (
        SELECT lang, avail, alloc_tokens,
          CAST(alloc_tokens // avail AS BIGINT) AS nfull,
          CAST(alloc_tokens - (alloc_tokens // avail) * avail AS BIGINT) AS rem
        FROM alloc WHERE avail > 0),
      full_rows AS (
        SELECT t.doc_id, t.lang, t.ws_tokens, CAST(e.epoch AS BIGINT) AS epoch
        FROM tkn t JOIN fe USING (lang),
          LATERAL (SELECT unnest(generate_series(0, fe.nfull - 1)) AS epoch) e
        WHERE fe.nfull > 0),
      part_sel AS (
        SELECT t.doc_id, t.lang, t.ws_tokens, fe.rem,
          CAST(fe.nfull AS BIGINT) AS epoch,
          CAST(sum(t.ws_tokens) OVER (PARTITION BY t.lang
            ORDER BY CAST('0x' || substr(md5(CAST(fe.nfull AS VARCHAR) || '|' || CAST(t.doc_id AS VARCHAR)), 1, 8) AS BIGINT),
              t.doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM tkn t JOIN fe USING (lang) WHERE fe.rem > 0),
      part_rows AS (
        SELECT doc_id, lang, ws_tokens, epoch FROM part_sel WHERE cum <= rem),
      stream AS (
        SELECT doc_id, lang, ws_tokens, epoch FROM full_rows
        UNION ALL
        SELECT doc_id, lang, ws_tokens, epoch FROM part_rows),
      packed AS (
        SELECT doc_id, lang, ws_tokens, epoch,
          CAST(sum(ws_tokens) OVER (ORDER BY epoch,
            CAST('0x' || substr(md5(CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT),
            doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM stream)
      SELECT doc_id, lang, ws_tokens, epoch, cum_tokens,
        CAST((cum_tokens - ws_tokens) // 256 AS BIGINT) AS seq_id
      FROM packed ORDER BY doc_id, epoch""")
    }
  }

  /** q99's composed oracle: the q97 scoring fragments, then the gate,
    * canonical-dedup, and UniMax allocation/admission over survivors
    * (q93's closed-form SQL restated per stage). */
  private def lrV4Oracle: Option[String] = {
    val fits = lrCache.snapshot().toSeq
    if (fits.size != 1) None else {
      val m = fits.head._2
      Some(s"""
      WITH ${lrScoreCtes(m)},
      gate AS (SELECT doc_id FROM sc WHERE score >= 0.5),
      fp AS (
        SELECT d.doc_id, md5(lower(regexp_replace(d.text, '\\s+', ' ', 'g'))) AS f
        FROM documents d JOIN gate USING (doc_id)),
      canon AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
      tkn AS (
        SELECT d.doc_id, d.source,
          CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS BIGINT) AS ws_tokens
        FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM canon)),
      k AS (SELECT source, CAST(sum(ws_tokens) AS BIGINT) AS avail
            FROM tkn GROUP BY source),
      c AS (SELECT source, CAST(avail AS DOUBLE) * 1.0 AS cap FROM k),
      wdw AS (
        SELECT source, cap,
          row_number() OVER (ORDER BY cap, source) AS rn,
          coalesce(sum(cap) OVER (ORDER BY cap, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre,
          count(*) OVER () AS n
        FROM c),
      f AS (SELECT max((6000.0 - pre) / CAST(n - rn + 1 AS DOUBLE)) AS fstar
            FROM wdw),
      alloc AS (
        SELECT source,
          CAST(floor(least(cap, greatest(fstar, 0.0))) AS BIGINT) AS alloc_tokens
        FROM wdw, f),
      sel AS (
        SELECT tkn.doc_id, tkn.source, tkn.ws_tokens, a.alloc_tokens,
          CAST(sum(tkn.ws_tokens) OVER (PARTITION BY tkn.source
            ORDER BY CAST('0x' || substr(md5('0|' || CAST(tkn.doc_id AS VARCHAR)), 1, 8) AS BIGINT),
              tkn.doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM tkn JOIN alloc a USING (source))
      SELECT doc_id, source, ws_tokens, alloc_tokens, cum_tokens
      FROM sel WHERE cum_tokens <= alloc_tokens ORDER BY doc_id""")
    }
  }

  /** BPE merge tables are deterministic build-once artifacts (seeded by
    * nothing — pure argmax with total tie-break), cached per dir. */
  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[graft.operators.BpeTraining.BpeMerge]]
  private def cachedBpe(s: org.apache.spark.sql.SparkSession, d: String) =
    bpeCache.getOrElseUpdate(d,
      // trainAuto's local tier: merge-for-merge identical to the
      // distributed loop (BpeTrainingSpec pins all three trainers) at
      // ~100x less first-run latency on this vocab size
      graft.operators.BpeTraining.trainAuto(Tables.documents(s, d), "text",
        numMerges = 40))

  /** Round-13 1000-merge table over customer names — a REAL merge
    * budget (q89 stops at 40). Trained via [[BpeTraining.trainAuto]]:
    * at these SFs the vocab is driver-sized so the local tier runs;
    * BpeTrainingSpec pins the distributed batched trainer to the SAME
    * table at 1000 merges, so this query certifies the shared merge
    * semantics for both. minPairCount=1 because the synthetic name
    * corpus exhausts count>=2 pairs near 143 (measured). */
  private val bpe1kCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[graft.operators.BpeTraining.BpeMerge]]
  private def cachedBpe1k(s: org.apache.spark.sql.SparkSession, d: String) =
    bpe1kCache.getOrElseUpdate(d,
      graft.operators.BpeTraining.trainAuto(Tables.customer(s, d), "c_name",
        numMerges = 1000, minPairCount = 1))
  private def bpe1kLiterals: Option[Seq[graft.operators.BpeTraining.BpeMerge]] = {
    val fits = bpe1kCache.snapshot().toSeq
    if (fits.size != 1) None else Some(fits.head._2)
  }

  /** Round-13 unigram-LM tokenizer (Kudo 2018): deterministic
    * Viterbi-EM with integer scaled costs — same lazy-literal oracle
    * contract as the BPE tables. */
  private val ulmCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[graft.operators.UnigramLm.Piece]]
  private def cachedUlm(s: org.apache.spark.sql.SparkSession, d: String) =
    ulmCache.getOrElseUpdate(d,
      graft.operators.UnigramLm.train(Tables.customer(s, d), "c_name",
        vocabSize = 200))
  private def ulmLiterals: Option[Seq[graft.operators.UnigramLm.Piece]] = {
    val fits = ulmCache.snapshot().toSeq
    if (fits.size != 1) None else Some(fits.head._2)
  }
  /** A SECOND unigram-LM tokenizer, trained on the documents corpus
    * (q136's fertility subject — the customer-name tokenizer's pieces
    * say nothing about document text). Own cache, same contract. */
  private val ulmDocsCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[graft.operators.UnigramLm.Piece]]
  private def cachedUlmDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    ulmDocsCache.getOrElseUpdate(d,
      graft.operators.UnigramLm.train(Tables.documents(s, d), "text",
        vocabSize = 200))
  private def ulmDocsLiterals: Option[Seq[graft.operators.UnigramLm.Piece]] = {
    val fits = ulmDocsCache.snapshot().toSeq
    if (fits.size != 1) None else Some(fits.head._2)
  }
  /** Trained merges as oracle literals — Some only after exactly one
    * training ran in this JVM (q50's [[centroidValues]] contract). */
  private def bpeLiterals: Option[Seq[graft.operators.BpeTraining.BpeMerge]] = {
    val fits = bpeCache.snapshot().toSeq
    if (fits.size != 1) None else Some(fits.head._2)
  }

  /** q76's `Library` over [[multiScaleWarehouse]], embedding every query
    * as the testdata's query row. */
  private[graft] def multiScaleLibrary(s: org.apache.spark.sql.SparkSession,
                                       d: String): graft.Library = {
    val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    new graft.Library(s, multiScaleWarehouse(s, d), new FixedEmbedder(qv))
  }

  /** q76's call. */
  private[graft] def multiScaleSearch(lib: graft.Library) =
    lib.multiScaleSearch("raptor multi-scale probe",
      graft.model.SearchOptions(limit = 12, threshold = Some(0.5)))

  /** Embeds every query as one fixed vector — the q76 bridge between
    * multiScaleSearch's text API and the testdata's pre-embedded query
    * row (vec_id = 0), keeping the Library path itself unchanged. */
  private final class FixedEmbedder(v: Array[Float]) extends graft.sources.Embedder {
    def dim: Int = v.length
    def embed(text: String): Array[Float] = v
  }

  /** q76's scratch warehouse, derived deterministically from the
    * testdata: one chunk per vector (chunkId = vec_id, content =
    * "vector N"), one document per label ("dL"/"Doc L"), embeddings
    * minus the query row, and cluster_summaries whose embeddings ARE
    * the cached k=10 centroids (float-cast — the literal values
    * [[summaryValues]] emits). Built once per (JVM, dataset);
    * SaveMode.Overwrite makes re-runs idempotent. */
  private val q76Wh = scala.collection.concurrent.TrieMap.empty[String, String]
  private def multiScaleWarehouse(s: org.apache.spark.sql.SparkSession,
                                  d: String): String =
    q76Wh.getOrElseUpdate(d, {
      import s.implicits._
      import org.apache.spark.sql.SaveMode
      // name scratch by a hash of the FULL dataset path: two datasets
      // sharing a basename (e.g. .../a/sf0.01 and .../b/sf0.01) must
      // not silently share or clobber the derived warehouse
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_q76_" + graft.Library.docId(
          new java.io.File(d).getAbsolutePath)).toString
      val emb = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      emb.select(col("label")).distinct().as[Int]
        .map(l => graft.model.Document(s"d$l", s"Doc $l", s"/q76/d$l",
          new java.sql.Timestamp(0L), 1, 0L, Nil, "markdown", Map.empty))
        .write.mode(SaveMode.Overwrite).parquet(s"$wh/documents")
      emb.select(col("vec_id"), col("label")).as[(Long, Int)]
        .map { case (v, l) =>
          graft.model.Chunk(v.toString, s"d$l", 0, v.toInt, s"vector $v") }
        .write.mode(SaveMode.Overwrite).parquet(s"$wh/chunks")
      emb.select(col("vec_id").cast("string").as("chunkId"), col("embedding"))
        .write.mode(SaveMode.Overwrite).parquet(s"$wh/embeddings")
      val sums = cachedModel(s, d, 10).clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) =>
          (i, s"Cluster summary $i", c.toArray.map(_.toFloat)) }
      s.createDataset(sums).toDF("clusterId", "summary", "embedding")
        .write.mode(SaveMode.Overwrite).parquet(s"$wh/cluster_summaries")
      // q78's taxonomy tier: one concept per vector, vectors reused as
      // concept embeddings (J3 == K2 over a different relation)
      emb.select(concat(lit("c"), col("vec_id")).as("id"),
          concat(lit("Concept "), col("vec_id")).as("prefLabel"),
          array().cast("array<string>").as("altLabels"),
          concat(lit("def "), col("vec_id")).as("definition"))
        .write.mode(SaveMode.Overwrite).parquet(s"$wh/concepts")
      emb.select(concat(lit("c"), col("vec_id")).as("conceptId"),
          col("embedding"))
        .write.mode(SaveMode.Overwrite).parquet(s"$wh/concept_embeddings")
      // the tables above are the current layout, written by hand
      graft.util.WarehouseFormat.stamp(graft.util.TableSwap.fileSystem(s, wh), wh)
      wh
    })

  /** The k=10 centroids as float-cast list literals — the exact values
    * the q76 warehouse stores as summary embeddings (parquet holds
    * FLOAT; printing the double value of the float round-trips exactly
    * into DuckDB's DOUBLE, same rule as [[codebookValues]]). Lazy like
    * [[centroidValues]], and under the same exactly-one-fit guard. */
  private def summaryValues: Option[String] = {
    val fits = modelCache.snapshot().toSeq
    if (fits.size != 1) None
    else Some(fits.head._2.clusterCenters.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.toArray.map(x => x.toFloat.toDouble).mkString(", ")}])"
    }.mkString(", "))
  }

  private val q73Stopwords = graft.functions.TextFunctions.stopWordsSql

  /** PQ codebooks + the PQ-encoded IVF table are build-once index
    * artifacts, same lifecycle as [[cachedIvf]]. */
  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[String, (ProductQuantization.PqModel, org.apache.spark.sql.DataFrame)]
  private def cachedPq(s: org.apache.spark.sql.SparkSession, d: String) =
    pqCache.getOrElseUpdate(d, {
      val index = cachedIvf(s, d, nCells = 8)
      val model = ProductQuantization.train(
        Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
        "embedding", m = 16, k = 64)
      (model, ProductQuantization.encodeIndex(index, model).cache())
    })

  /** q109's residual IVF-PQ artifacts (FAISS IVFPQ recipe: codes
    * quantize x − coarse_centroid), same lifecycle as [[cachedPq]]. */
  private val resPqCache = scala.collection.concurrent.TrieMap
    .empty[String, (ProductQuantization.PqModel, org.apache.spark.sql.DataFrame)]
  private def cachedResidualPq(s: org.apache.spark.sql.SparkSession, d: String) =
    resPqCache.getOrElseUpdate(d, {
      val index = cachedIvf(s, d, nCells = 8)
      val model = ProductQuantization.trainResidual(index, m = 16, k = 64)
      (model, ProductQuantization.encodeIndexResidual(index, model).cache())
    })

  /** q66's standalone-PQ codebook (m=8, k=16, trained over the full
    * table), cached so [[pqOracle]] can emit the same codebook the
    * query encoded with. */
  private val q66Cache = scala.collection.concurrent.TrieMap
    .empty[String, ProductQuantization.PqModel]
  private def cachedQ66Model(s: org.apache.spark.sql.SparkSession, d: String) =
    q66Cache.getOrElseUpdate(d,
      ProductQuantization.train(Tables.embeddings(s, d), "embedding",
        m = 8, k = 16))

  /** Codebook as `(j, c, [subvector])` VALUES rows. Floats print via
    * their exact double value (float->double is exact; printing the
    * FLOAT string instead would re-parse to a different double in
    * DuckDB). Ragged codebooks (k_j <= k after duplicate-centroid
    * dedup) emit naturally — one row per surviving centroid. */
  private def codebookValues(m: ProductQuantization.PqModel): String =
    m.codebook.zipWithIndex.flatMap { case (cents, j) =>
      cents.zipWithIndex.map { case (cent, c) =>
        s"($j, $c, [${cent.map(_.toDouble).mkString(", ")}])"
      }
    }.mkString(", ")

  private def singleton[V](c: scala.collection.concurrent.TrieMap[_, V]): Option[V] =
    c.snapshot().values.toSeq match { case Seq(v) => Some(v); case _ => None }

  /** q66 oracle: replay PQ encode (per-subspace argmin over the
    * codebook literals, ties to the lowest index — PqEncode's contract)
    * and ADC scoring (sum of squared query-slice-to-centroid
    * distances) in SQL. Engine arithmetic is float-cast-to-double
    * throughout, so DuckDB's DOUBLE math matches to ulps; output rounds
    * at 6dp AFTER top-k selection on both sides. Lazy for the same
    * reason as [[centroidValues]]. */
  private def pqOracle: Option[String] = singleton(q66Cache).map { m =>
    val sub = m.sub
    s"""
      WITH cb(j, c, v) AS (VALUES ${codebookValues(m)}),
      q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      enc AS (
        SELECT e.vec_id, e.label, cb.j, cb.c,
          list_distance((e.embedding::DOUBLE[])[(cb.j*$sub+1):(cb.j*$sub+$sub)], cb.v) AS dist
        FROM embeddings e CROSS JOIN cb
        WHERE e.vec_id <> 0),
      codes AS (
        SELECT vec_id, label, j, c FROM (
          SELECT vec_id, label, j, c,
            row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
          FROM enc) WHERE rn = 1),
      adc AS (
        SELECT x.vec_id, x.label,
          sum(pow(list_distance(q.qv[(x.j*$sub+1):(x.j*$sub+$sub)], cb.v), 2)) AS d
        FROM codes x
        JOIN cb ON cb.j = x.j AND cb.c = x.c
        CROSS JOIN q
        GROUP BY x.vec_id, x.label)
      SELECT vec_id, label, round(d, 6) AS adc_dist
      FROM adc ORDER BY d, vec_id LIMIT 10"""
  }

  /** q67 oracle: the full IVF-PQ composition in SQL — coarse assignment
    * (argmin over the IVF centroid literals, MLlib findClosest tie
    * order), nProbe-cell probe, ADC shortlist of 50 over the PQ
    * codebook literals, exact cosine re-rank (same formula the q51
    * oracle certifies). */
  private def ivfPqOracle: Option[String] = for {
    (pq, _) <- singleton(pqCache)
    ivf <- singleton(ivfCache)
  } yield {
    val sub = pq.sub
    val ivfValues = ivf.model.clusterCenters.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.toArray.mkString(", ")}])"
    }.mkString(", ")
    s"""
      WITH ivf(cid, ic) AS (VALUES $ivfValues),
      cb(j, c, v) AS (VALUES ${codebookValues(pq)}),
      q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      probe AS (
        SELECT cid FROM ivf CROSS JOIN q
        ORDER BY list_distance(qv, ic), cid LIMIT 4),
      assign AS (
        SELECT vec_id, label, embedding, cid FROM (
          SELECT e.vec_id, e.label, e.embedding, ivf.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_distance(e.embedding::DOUBLE[], ivf.ic), ivf.cid) AS rn
          FROM embeddings e CROSS JOIN ivf
          WHERE e.vec_id <> 0) WHERE rn = 1),
      cand AS (
        SELECT * FROM assign WHERE cid IN (SELECT cid FROM probe)),
      enc AS (
        SELECT cand.vec_id, cb.j, cb.c,
          list_distance((cand.embedding::DOUBLE[])[(cb.j*$sub+1):(cb.j*$sub+$sub)], cb.v) AS dist
        FROM cand CROSS JOIN cb),
      codes AS (
        SELECT vec_id, j, c FROM (
          SELECT vec_id, j, c,
            row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
          FROM enc) WHERE rn = 1),
      adc AS (
        SELECT x.vec_id,
          sum(pow(list_distance(q.qv[(x.j*$sub+1):(x.j*$sub+$sub)], cb.v), 2)) AS d
        FROM codes x
        JOIN cb ON cb.j = x.j AND cb.c = x.c
        CROSS JOIN q
        GROUP BY x.vec_id),
      short AS (SELECT vec_id FROM adc ORDER BY d, vec_id LIMIT 50),
      rer AS (
        SELECT a.vec_id, a.label,
          list_dot_product(a.embedding::DOUBLE[], q.qv) /
            (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             sqrt(list_dot_product(q.qv, q.qv))) AS cs
        FROM cand a JOIN short s ON a.vec_id = s.vec_id CROSS JOIN q)
      SELECT vec_id, label, round(cs, 6) AS cos_sim
      FROM rer ORDER BY cs DESC, vec_id LIMIT 10"""
  }

  /** q109 oracle: the RESIDUAL IVF-PQ composition in SQL — coarse
    * assignment, per-doc residual in DOUBLE (bit-parity with the
    * engine's `zip_with` subtraction), per-subspace encode argmin over
    * the residual codebook literals, per-CELL query-residual ADC via
    * the `list_dot_product(diff, diff)` fold (exactly the engine's
    * ascending Σ(q−ic−v)² loop — no sqrt round-trip on the scoring
    * path), shortlist 50, exact cosine re-rank. */
  private def residualIvfPqOracle: Option[String] = for {
    (pq, _) <- singleton(resPqCache)
    ivf <- singleton(ivfCache)
  } yield {
    val sub = pq.sub
    val ivfValues = ivf.model.clusterCenters.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.toArray.mkString(", ")}])"
    }.mkString(", ")
    s"""
      WITH ivf(cid, ic) AS (VALUES $ivfValues),
      cb(j, c, v) AS (VALUES ${codebookValues(pq)}),
      q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      probe AS (
        SELECT cid, ic FROM ivf CROSS JOIN q
        ORDER BY list_distance(qv, ic), cid LIMIT 4),
      assign AS (
        SELECT vec_id, label, embedding, cid, ic FROM (
          SELECT e.vec_id, e.label, e.embedding, ivf.cid, ivf.ic,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_distance(e.embedding::DOUBLE[], ivf.ic), ivf.cid) AS rn
          FROM embeddings e CROSS JOIN ivf
          WHERE e.vec_id <> 0) WHERE rn = 1),
      cand AS (
        SELECT a.vec_id, a.label, a.embedding, a.cid,
          [(a.embedding::DOUBLE[])[i] - a.ic[i] for i in range(1, ${pq.dim} + 1)] AS r
        FROM assign a WHERE a.cid IN (SELECT cid FROM probe)),
      enc AS (
        SELECT cand.vec_id, cb.j, cb.c,
          list_distance(cand.r[(cb.j*$sub+1):(cb.j*$sub+$sub)], cb.v) AS dist
        FROM cand CROSS JOIN cb),
      codes AS (
        SELECT vec_id, j, c FROM (
          SELECT vec_id, j, c,
            row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
          FROM enc) WHERE rn = 1),
      diffs AS (
        SELECT cd.vec_id,
          [q.qv[cb.j*$sub + i] - p.ic[cb.j*$sub + i] - cb.v[i]
           for i in range(1, $sub + 1)] AS l
        FROM codes cd
        JOIN cand ON cand.vec_id = cd.vec_id
        JOIN probe p ON p.cid = cand.cid
        JOIN cb ON cb.j = cd.j AND cb.c = cd.c
        CROSS JOIN q),
      adc AS (
        SELECT vec_id, sum(list_dot_product(l, l)) AS d
        FROM diffs GROUP BY vec_id),
      short AS (SELECT vec_id FROM adc ORDER BY d, vec_id LIMIT 50),
      rer AS (
        SELECT a.vec_id, a.label,
          list_dot_product(a.embedding::DOUBLE[], q.qv) /
            (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
             sqrt(list_dot_product(q.qv, q.qv))) AS cs
        FROM cand a JOIN short s ON a.vec_id = s.vec_id CROSS JOIN q)
      SELECT vec_id, label, round(cs, 6) AS cos_sim
      FROM rer ORDER BY cs DESC, vec_id LIMIT 10"""
  }
}
