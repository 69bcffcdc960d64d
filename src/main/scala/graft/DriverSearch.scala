package graft

import graft.model.SearchOptions
import graft.operators.{Bm25, HybridSearch}
import graft.plans.{CosineSimilarity, IvfRegistry}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Warm searches answered on the driver from an in-process
  * [[ServingSnapshot]], bit for bit what [[Library]]'s Spark plans
  * return: the same probe cells, the cosine loop the Catalyst
  * expression runs ([[CosineSimilarity.cosine]]), BM25 with the same
  * operations ([[Bm25.termScore]]) and its per-doc fold in term order,
  * liveness and tags from [[ChunkDirectory.locate]], and Spark's
  * ordering: score descending with NaN first and nulls last, then
  * strings in UTF-8 byte order. Each answer is a `LocalRelation` of the
  * ranked rows with no operator on top, so `collect` reads it on the
  * driver and runs no Spark job. */
private[graft] object DriverSearch {

  /** A ranked row. `score` is null where Spark's would be (a vector of
    * another dimension); `content` is null until [[withContent]]. */
  final case class Hit(chunkId: String, loc: ChunkDirectory.Hit,
                       score: java.lang.Double, matchType: String,
                       content: String = null)

  /** Spark's double order: NaN above everything, -0.0 equal to 0.0. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private def cmpDesc(a: java.lang.Double, b: java.lang.Double): Int =
    if (a == null) { if (b == null) 0 else 1 }
    else if (b == null) -1
    else cmp(b, a)

  private def cmpUtf8(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** `orderBy(desc("score"), asc("docId"), asc("chunkIndex"))`. */
  private val ByScore: Ordering[Hit] = (x, y) => {
    val c = cmpDesc(x.score, y.score)
    if (c != 0) c
    else {
      val d = cmpUtf8(x.loc.docId, y.loc.docId)
      if (d != 0) d else Integer.compare(x.loc.chunkIndex, y.loc.chunkIndex)
    }
  }

  /** `HybridSearch.fuseTopK`'s order: the fuse keys break score ties. */
  private val ByScoreAndKey: Ordering[Hit] = (x, y) => {
    val c = cmpDesc(x.score, y.score)
    if (c != 0) c
    else {
      val d = cmpUtf8(x.loc.docId, y.loc.docId)
      if (d != 0) d
      else {
        val p = Integer.compare(x.loc.page, y.loc.page)
        if (p != 0) p else Integer.compare(x.loc.chunkIndex, y.loc.chunkIndex)
      }
    }
  }

  /** Spark's `score >= t`: null fails, NaN passes. */
  private def atLeast(threshold: Option[Double])(s: java.lang.Double): Boolean =
    threshold.forall(t => s != null && cmp(s, t) >= 0)

  /** `distToScore(1 - cosine(v, q))`, null for a missing vector or one of
    * another dimension. */
  private def vectorScore(v: Array[Float], q: Array[Float]): java.lang.Double =
    if (v == null || v.length != q.length) null
    else 1.0 - (1.0 - CosineSimilarity.cosine(v, q)) / 2.0

  /** `(chunkId, score)` of every vector in the probed IVF cells (the
    * delta cell always), or of every vector when no index is built. */
  def scan(snap: ServingSnapshot, q: Array[Float]): Iterator[(String, java.lang.Double)] = {
    val cells = snap.ivf.fold(snap.vectors.valuesIterator) { ivf =>
      (IvfRegistry.probeCells(ivf.centers, q.map(_.toDouble), ivf.nProbe) :+
        IvfRegistry.DeltaCell).distinct.iterator.flatMap(snap.vectors.get)
    }
    cells.flatMap(c => c.ids.indices.iterator.map(i => c.ids(i) -> vectorScore(c.vecs(i), q)))
  }

  /** `(chunkId, bm25)` of every live chunk holding a query term: df over
    * the term's live postings, each chunk's term scores folded from 0.0
    * in `(term, score)` order. */
  def bm25(snap: ServingSnapshot, query: String): Iterator[(String, java.lang.Double)] = {
    val terms = query.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).distinct
    val (n, totalLen) = snap.ftsStats
    val avgdl = if (n > 0) totalLen.toDouble / n.toDouble else 1.0
    val dead = snap.directory.deadChunks
    val perChunk = scala.collection.mutable.HashMap
      .empty[String, List[(UTF8String, Double)]]
    for (t <- terms; p <- snap.postings.get(t)) {
      val live = p.ids.indices.filterNot(i => dead(p.ids(i)))
      val term = UTF8String.fromString(t)
      live.foreach { i =>
        val s = Bm25.termScore(n, avgdl, live.size, p.tf(i), p.doclen(i))
        perChunk.update(p.ids(i), (term, s) :: perChunk.getOrElse(p.ids(i), Nil))
      }
    }
    val termOrder: Ordering[(UTF8String, Double)] = (x, y) => {
      val c = x._1.compareTo(y._1)
      if (c != 0) c else cmp(x._2, y._2)
    }
    perChunk.iterator.map { case (id, ts) =>
      id -> java.lang.Double.valueOf(ts.sorted(termOrder).foldLeft(0.0)(_ + _._2))
    }
  }

  /** The top `opts.limit` of `scored` that pass `threshold` and resolve
    * to a live chunk of a document carrying any of `opts.tags`. */
  def rank(snap: ServingSnapshot, scored: Iterator[(String, java.lang.Double)],
           opts: SearchOptions, threshold: Option[Double],
           matchType: String): Seq[Hit] = {
    val dir = snap.directory
    val tags = opts.tags.toSet
    scored.filter(s => atLeast(threshold)(s._2))
      .flatMap { case (id, s) => dir.locate(id, tags).map(Hit(id, _, s, matchType)) }
      .toVector.sorted(ByScore).take(opts.limit)
  }

  /** `HybridSearch.fuseTopK` over two ranked lists: a full outer join on
    * `(docId, page, chunkIndex)`, the match type from which scores are
    * non-null, the capped boost for a hit on both sides. */
  def fuse(vec: Seq[Hit], fts: Seq[Hit], k: Int): Seq[Hit] = {
    def key(h: Hit) = (h.loc.docId, h.loc.page, h.loc.chunkIndex)
    val ftsByKey = fts.map(h => key(h) -> h).toMap
    val vecKeys = vec.map(key).toSet
    val pairs = vec.map(v => (Some(v), ftsByKey.get(key(v)))) ++
      fts.filterNot(f => vecKeys(key(f))).map(f => (None, Some(f)))
    pairs.map { case (v, f) =>
      val vs = v.map(_.score).orNull
      val fs = f.map(_.score).orNull
      val (matchType, score) =
        if (vs != null && fs != null) {
          val boosted = vs * HybridSearch.Boost // least(1.0, boosted)
          ("hybrid", java.lang.Double.valueOf(if (cmp(boosted, 1.0) < 0) boosted else 1.0))
        } else if (vs != null) ("vector", vs)
        else ("fts", fs)
      val side = v.getOrElse(f.get)
      val title = v.flatMap(h => Option(h.loc.title)).orElse(f.map(_.loc.title)).orNull
      Hit(side.chunkId, side.loc.copy(title = title), score, matchType)
    }.sorted(ByScoreAndKey).take(k)
  }

  /** Each ranked row with its chunk's content, re-ranked and cut to `k`. */
  def withContent(snap: ServingSnapshot, ranked: Seq[Hit], k: Int): Seq[Hit] = {
    val content = snap.content
    ranked.flatMap(h => content.get(h.chunkId).map(c => h.copy(content = c)))
      .sorted(ByScore).take(k)
  }

  /** [[Library.multiScaleSearch]]: the chunk top-k and the cluster
    * summaries' top-k, merged and cut to `opts.limit`. */
  def multiScale(snap: ServingSnapshot, q: Array[Float],
                 opts: SearchOptions): Seq[Hit] = {
    val chunks = withContent(snap,
      rank(snap, scan(snap, q), opts, opts.threshold, "vector"), opts.limit)
    val summaries = snap.summaries.iterator
      .map { case (cluster, summary, v) =>
        Hit(null, ChunkDirectory.Hit("", "Cluster Summary", 0, cluster),
          vectorScore(v, q), "cluster", summary)
      }
      .filter(h => atLeast(opts.threshold)(h.score))
      .toVector.sorted(ByScore).take(opts.limit)
    (chunks ++ summaries).sorted(ByScore).take(opts.limit)
  }

  /** `(docId, chunkIndex, content)` of every live chunk within `window`
    * of a ranked row of its document: all of the corpus that
    * `ContextExpansion.expand` reads for those rows. */
  def neighbourhood(spark: SparkSession, snap: ServingSnapshot,
                    hits: Seq[Hit], window: Int): DataFrame = {
    val near = hits.groupBy(_.loc.docId).map { case (d, hs) => d -> hs.map(_.loc.chunkIndex) }
    val content = snap.content
    local(spark, snap.directory.chunks.iterator.collect {
      case (id, l) if near.get(l.docId).exists(_.exists(i => math.abs(i - l.chunkIndex) <= window)) =>
        Row(l.docId, l.chunkIndex, content(id))
    }.toSeq, Neighbourhood)
  }

  private val Neighbourhood = StructType(Seq(
    StructField("docId", StringType), StructField("chunkIndex", IntegerType),
    StructField("content", StringType)))

  private val Narrow = StructType(Seq(
    StructField("chunkId", StringType), StructField("docId", StringType),
    StructField("title", StringType), StructField("page", IntegerType),
    StructField("chunkIndex", IntegerType), StructField("score", DoubleType),
    StructField("matchType", StringType)))

  private val Output = StructType(Seq(
    StructField("docId", StringType), StructField("title", StringType),
    StructField("page", IntegerType), StructField("chunkIndex", IntegerType),
    StructField("content", StringType), StructField("score", DoubleType),
    StructField("matchType", StringType)))

  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Ranked rows in `Library.topHits`'s narrow shape, for the plans that
    * still run on Spark over them. */
  def narrowFrame(spark: SparkSession, hits: Seq[Hit]): DataFrame =
    local(spark, hits.map(h => Row(h.chunkId, h.loc.docId, h.loc.title,
      h.loc.page, h.loc.chunkIndex, h.score, h.matchType)), Narrow)

  /** Rows with content in the search output contract. */
  def outputFrame(spark: SparkSession, hits: Seq[Hit]): DataFrame =
    local(spark, hits.map(h => Row(h.loc.docId, h.loc.title, h.loc.page,
      h.loc.chunkIndex, h.content, h.score, h.matchType)), Output)
}
