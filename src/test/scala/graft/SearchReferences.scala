package graft

import graft.functions.VectorFunctions
import graft.model.SearchOptions
import graft.operators.{Bm25, HybridSearch, VectorSearch}
import graft.util.Materialize.MatOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The join formulations of `Library`'s serving paths that the
  * chunk-directory paths replaced, kept only as the bit-identity
  * reference `SearchParitySpec` pins them against. Each leg joins the
  * live `chunks` for its locators, broadcast-joins the tag-filtered
  * live `documents` for titles, and anti-joins the tombstones, before
  * its top-k; hybrid search fuses the two content-carrying legs. */
object SearchReferences {

  private def chunkTombstones(lib: Library): Option[DataFrame] =
    if (lib.serving().has("tombstones"))
      Some(lib.spark.read.parquet(s"${lib.warehouse}/tombstones")
        .filter(col("kind") === "chunk").select("id"))
    else None

  private def docsTagged(lib: Library, tags: Seq[String]): DataFrame = {
    val d = lib.documents
    (if (tags.isEmpty) d else d.filter(arrays_overlap(col("tags"), lit(tags.toArray))))
      .select(col("id").as("docId"), col("title"))
  }

  def vectorSearch(lib: Library, queryVec: Array[Float],
                   opts: SearchOptions): DataFrame = {
    val ch = lib.chunks
    val docs = docsTagged(lib, opts.tags)
    val base = lib.serving().ivf.map { ivf =>
      val cells = graft.plans.IvfRegistry.probeCells(
        ivf.centers, queryVec.map(_.toDouble), ivf.nProbe)
      Library.antiTomb(ivf.cells.filter(col("__cell")
        .isin((cells :+ graft.plans.IvfRegistry.DeltaCell): _*)),
        "chunkId", chunkTombstones(lib))
    }.getOrElse(lib.embeddings)
    val scored = base.withColumn("score",
      VectorFunctions.distToScore(lit(1.0) -
        graft.plans.CosineSimilarity(col("embedding"),
          VectorSearch.queryVec(queryVec.toSeq))))
    val thresholded = opts.threshold.map(t => scored.filter(col("score") >= t))
      .getOrElse(scored)
    val ranked = thresholded
      .join(ch.select("id", "docId", "page", "chunkIndex"),
        col("chunkId") === ch("id"))
      .join(broadcast(docs), Seq("docId"))
      .select(col("chunkId"), col("docId"), col("title"), col("page"),
        col("chunkIndex"), col("score"))
      .orderBy(desc("score"), asc("docId"), asc("chunkIndex"))
      .limit(opts.limit)
    ranked
      .join(ch.select(col("id").as("chunkId"), col("content")), Seq("chunkId"))
      .select(col("docId"), col("title"), col("page"),
        col("chunkIndex"), col("content"), col("score"),
        lit("vector").as("matchType"))
      .orderBy(desc("score"), asc("docId"), asc("chunkIndex"))
      .limit(opts.limit)
  }

  /** The graph tiers' tail over a `(chunkId, score)` hit frame. */
  def rankAnnHits(lib: Library, hitDf: DataFrame,
                  opts: SearchOptions): DataFrame = {
    val thresholded = opts.threshold
      .map(t => hitDf.filter(col("score") >= t)).getOrElse(hitDf)
    thresholded
      .join(lib.chunks.select(col("id").as("chunkId"), col("docId"), col("page"),
        col("chunkIndex"), col("content")), Seq("chunkId"))
      .join(broadcast(docsTagged(lib, opts.tags)), Seq("docId"))
      .select(col("docId"), col("title"), col("page"), col("chunkIndex"),
        col("content"), col("score"), lit("vector").as("matchType"))
      .orderBy(desc("score"), asc("docId"), asc("chunkIndex"))
      .limit(opts.limit)
  }

  /** The HNSW tier's hits for `queryVec`, as `Library.hnswSearch`
    * computes them. */
  def hnswHits(lib: Library, queryVec: Array[Float],
               opts: SearchOptions, ef: Int = 64): DataFrame = {
    import lib.spark.implicits._
    val (g, cids) = lib.loadHnsw().get
    graft.operators.Hnsw
      .searchKnn(g, queryVec, math.max(opts.limit * 2, 16),
        math.max(ef, opts.limit * 2))
      .map { case (sid, d) => (cids(sid.toInt), 1.0 - d / 2.0) }
      .toSeq.toDF("chunkId", "score")
  }

  def ftsSearch(lib: Library, query: String, opts: SearchOptions): DataFrame = {
    val snap = lib.serving()
    val ch = lib.chunks
    val docs = docsTagged(lib, opts.tags)
    val terms = query.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).toSeq
    val hits = snap.ftsPostings match {
      case Some(postings) =>
        val (n, totalLen) = snap.ftsStats
        val avgdl = if (n > 0) totalLen.toDouble / n.toDouble else 1.0
        val buckets = terms
          .map(t => Bm25.termBucket(t.toLowerCase(java.util.Locale.ROOT))).distinct
        val pruned = postings.filter(col("__tb").isin(buckets: _*)).drop("__tb")
        Bm25.scoreAllDenorm(Library.antiTomb(Bm25.termSlice(pruned, terms),
          "id", chunkTombstones(lib)), n, avgdl)
      case None =>
        val lens = Bm25.docLengths(ch, "id", "content").materializeOnce(eager = false)
        Bm25.scoreAllFromIndex(Bm25.postings(ch, "id", "content"), lens, terms)
    }
    val ranked = hits
      .join(ch.select("id", "docId", "page", "chunkIndex"), Seq("id"))
      .join(broadcast(docs), Seq("docId"))
      .orderBy(desc("bm25"), asc("docId"), asc("chunkIndex"))
      .limit(opts.limit)
    ranked
      .join(ch.select(col("id"), col("content")), Seq("id"))
      .select(col("docId"), col("title"), col("page"),
        col("chunkIndex"), col("content"), col("bm25").as("score"),
        lit("fts").as("matchType"))
      .orderBy(desc("score"), asc("docId"), asc("chunkIndex"))
  }

  /** Hybrid search over a content-carrying vector leg `vecLeg` (the
    * exact scan's or a graph tier's rows for the query). */
  def search(lib: Library, query: String, opts: SearchOptions,
             vecLeg: DataFrame): DataFrame = {
    val vec = vecLeg
      .select(col("docId"), col("page"), col("chunkIndex"),
        col("title").as("v_title"), col("content").as("v_content"),
        col("score"))
    val ranked =
      if (!opts.hybrid)
        vec.select(col("docId"), col("v_title").as("title"), col("page"),
          col("chunkIndex"), col("v_content").as("content"), col("score"),
          lit("vector").as("matchType"))
      else {
        val fts = ftsSearch(lib, query, opts)
          .select(col("docId"), col("page"), col("chunkIndex"),
            col("title").as("f_title"), col("content").as("f_content"),
            col("score"))
        HybridSearch.fuseTopK(
          vec, fts, Seq("docId", "page", "chunkIndex"), opts.limit)
          .select(col("docId"),
            coalesce(col("v_title"), col("f_title")).as("title"),
            col("page"), col("chunkIndex"),
            coalesce(col("v_content"), col("f_content")).as("content"),
            col("score"), col("match_type").as("matchType"))
      }
    opts.expandContext match {
      case None => ranked
      case Some(maxChars) =>
        val hits = ranked.materializeOnce()
        val expanded = lib.expandContext(
          hits.select(col("docId"), col("chunkIndex")), maxChars, window = 32)
          .select(col("doc").as("docId"), col("hit_idx").as("chunkIndex"),
            col("context"), col("start_index"), col("end_index"))
        hits.drop("content")
          .join(expanded, Seq("docId", "chunkIndex"), "left_outer")
          .withColumnRenamed("context", "content")
          .orderBy(desc("score"), asc("docId"), asc("chunkIndex"))
    }
  }
}
