package graft

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The search path's view of a warehouse at one committed state.
  *
  * Before its query can run, a search needs `_SUCCESS` probes, a parquet
  * listing and schema-inference job per `spark.read.parquet`, the IVF
  * centroid collect and the BM25 stats aggregate — more time and Spark
  * jobs than the query itself, which reads a few KB. A snapshot resolves
  * each of those once and [[Library]] reuses it until the warehouse
  * changes, so a warm search runs no Spark job before its final action.
  *
  * It holds driver-side values only: resolved base frames (file listing
  * and schema, no data), the tombstone frames, the IVF centroids and
  * `nProbe`, the BM25 `n`/`total_len`, the [[ChunkDirectory]] and its
  * broadcast, and which tables exist. Nothing is cached in Spark (a
  * broadcast is not a persisted RDD), so `Materialize.releaseAll` has
  * nothing to drop. Every value is a `lazy val`: a call builds only what
  * it reads, once per snapshot, thread-safely.
  *
  * When the warehouse fits the driver ([[inProcess]], decided once per
  * snapshot against `budget` bytes of heap) the snapshot also holds the
  * rest of the serving data — chunk content, the vectors by IVF cell,
  * the postings by term and the cluster summaries — and [[DriverSearch]]
  * answers warm searches from it with no Spark job at all.
  *
  * The [[key]] is the commit marker (`_SUCCESS` modification time) of
  * every table in [[ServingSnapshot.Tables]]. Spark writes and
  * `TableSwap` rewrite that marker; the paths that rename or delete
  * partition leaves rewrite it through `Library.recommit`. Probing the
  * markers on every call sees writes from any `Library` instance or
  * process on the same warehouse, with no version counter that every
  * writer must remember to bump. */
private[graft] final class ServingSnapshot(spark: SparkSession,
                                           warehouse: String,
                                           val key: Map[String, Long],
                                           val budget: Long) {
  import spark.implicits._

  def has(t: String): Boolean = key.contains(t)
  private def read(t: String): DataFrame = spark.read.parquet(s"$warehouse/$t")

  private lazy val tombstones: Option[DataFrame] =
    if (has("tombstones")) Some(read("tombstones")) else None
  private lazy val chunkTombstones: Option[DataFrame] =
    tombstones.map(_.filter(col("kind") === "chunk").select("id"))

  /** The physical `chunks` and `embeddings`, tombstones NOT applied:
    * the ranked search paths resolve liveness through [[directory]]. */
  lazy val chunksRaw: DataFrame = read("chunks")
  lazy val embeddingsRaw: DataFrame = read("embeddings")
  lazy val chunks: DataFrame =
    Library.antiTomb(chunksRaw, "id", chunkTombstones)
  lazy val clusterSummaries: DataFrame = read("cluster_summaries")

  private lazy val documentsRaw: DataFrame = read("documents")

  /** Whether this snapshot serves warm searches from driver memory: the
    * on-disk bytes of every table the tier loads, read off the pinned
    * listings (no job), times [[ServingSnapshot.DecodeFactor]], fit in
    * `budget`. The sharded tier always serves on Spark. */
  lazy val inProcess: Boolean = !shardedTier && has("chunks") && {
    val frames = Seq(chunksRaw, documentsRaw) ++ tombstones ++
      ivf.map(_.cells).orElse(Option.when(has("embeddings"))(embeddingsRaw)) ++
      ftsPostings ++ Option.when(has("cluster_summaries"))(clusterSummaries)
    ServingSnapshot.DecodeFactor * frames.map(ServingSnapshot.onDiskBytes).sum <= budget
  }

  /** One collect of the physical `chunks`: the live locators and, for an
    * [[inProcess]] snapshot, every live chunk's content. */
  private lazy val liveChunks: (Map[String, ChunkDirectory.Loc], Map[String, String]) = {
    val dead = deadIds.collect { case ("chunk", id) => id }.toSet
    val withContent = inProcess
    val rows = chunksRaw.select(Seq("id", "docId", "page", "chunkIndex")
        .map(col) ++ Option.when(withContent)(col("content")): _*)
      .collect().filterNot(r => dead(r.getString(0)))
    (rows.iterator.map(r => r.getString(0) ->
      ChunkDirectory.Loc(r.getString(1), r.getInt(2), r.getInt(3))).toMap,
      if (withContent) rows.iterator.map(r => r.getString(0) -> r.getString(4)).toMap
      else Map.empty)
  }

  private lazy val deadIds: Array[(String, String)] =
    tombstones.fold(Array.empty[(String, String)])(
      _.select("kind", "id").collect().map(r => (r.getString(0), r.getString(1))))

  /** The live corpus's chunk locators and document titles and tags. */
  lazy val directory: ChunkDirectory = {
    val deadDocs = deadIds.collect { case ("doc", id) => id }.toSet
    val docs = documentsRaw.select("id", "title", "tags").collect()
      .iterator.map(r => r.getString(0) -> ChunkDirectory.Doc(r.getString(1),
        Option(r.getSeq[String](2)).map(_.toSet).orNull))
      .filterNot(e => deadDocs(e._1)).toMap
    new ChunkDirectory(liveChunks._1, docs,
      deadIds.collect { case ("chunk", id) => id }.toSet)
  }

  /** [[directory]] for the Spark plans, shipped by
    * `SparkContext.broadcast`, which runs no job. */
  private lazy val directoryBroadcast: Broadcast[ChunkDirectory] =
    spark.sparkContext.broadcast(directory)

  /** Live chunk id -> content; empty unless [[inProcess]]. */
  def content: Map[String, String] = liveChunks._2

  /** The `(docId, title, page, chunkIndex)` struct of chunk `id`, null
    * unless the chunk is live and its document is live and carries any
    * of `tags` (every document when `tags` is empty). */
  def locate(id: Column, tags: Seq[String]): Column = {
    val dir = directoryBroadcast
    val wanted = tags.toSet
    udf((c: String) => dir.value.locate(c, wanted)).apply(id)
  }

  /** `df` without the rows whose `idCol` chunk is tombstoned. */
  def dropDeadChunks(df: DataFrame, idCol: String): DataFrame = {
    val dir = directoryBroadcast
    if (dir.value.deadChunks.isEmpty) df
    else df.filter(udf((c: String) => !dir.value.deadChunks(c)).apply(col(idCol)))
  }

  /** The IVF layout: centroids in cell order, the build's `nProbe`,
    * and the (unfiltered) cell table. None when no index is built. */
  lazy val ivf: Option[ServingSnapshot.Ivf] =
    if (!has("embeddings_ivf_meta")) None
    else {
      val meta = read("embeddings_ivf_meta").orderBy("cell").collect()
      Some(ServingSnapshot.Ivf(
        meta.map(_.getAs[scala.collection.Seq[Double]]("center").toArray),
        meta.head.getAs[Int]("nProbe"), read("embeddings_ivf")))
    }

  lazy val ftsPostings: Option[DataFrame] =
    if (has("fts_postings")) Some(read("fts_postings")) else None

  /** BM25 corpus stats `(n_docs, total_len)`: the sum of the append-only
    * `fts_stats` ledger. */
  lazy val ftsStats: (Long, Long) = {
    val r = read("fts_stats")
      .agg(coalesce(sum(col("n_docs")), lit(0L)),
        coalesce(sum(col("total_len")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The physical vectors a vector search scores (tombstoned ones
    * included, as on Spark), by IVF cell; one group when no index is
    * built. Loaded for an [[inProcess]] snapshot only. */
  lazy val vectors: Map[Int, ServingSnapshot.Vectors] =
    ivf.fold(embeddingsRaw.select(lit(0).as("__cell"), col("chunkId"), col("embedding")))(
        _.cells.select("__cell", "chunkId", "embedding"))
      .as[(Int, String, Array[Float])].collect()
      .groupBy(_._1).map { case (cell, rs) =>
        cell -> ServingSnapshot.Vectors(rs.map(_._2), rs.map(_._3))
      }

  /** The physical `fts_postings` rows by term. Loaded for an
    * [[inProcess]] snapshot only. */
  lazy val postings: Map[String, ServingSnapshot.Postings] =
    ftsPostings.fold(Map.empty[String, ServingSnapshot.Postings])(
      _.select(col("term"), col("id"), col("tf").cast("long"),
          col("doclen").cast("long"))
        .as[(String, String, Long, Long)].collect()
        .groupBy(_._1).map { case (term, rs) =>
          term -> ServingSnapshot.Postings(rs.map(_._2), rs.map(_._3), rs.map(_._4))
        })

  /** `(clusterId, summary, embedding)` of every cluster summary. Loaded
    * for an [[inProcess]] snapshot only. */
  lazy val summaries: Array[(Int, String, Array[Float])] =
    clusterSummaries.select("clusterId", "summary", "embedding")
      .as[(Int, String, Array[Float])].collect()

  /** The sharded-HNSW id map: (xxhash64 surrogate id, chunkId). */
  lazy val shardedIds: DataFrame = read("embeddings_hnsw_sharded_ids")
    .select(xxhash64(col("chunkId")).as("id"), col("chunkId"))

  def shardedTier: Boolean = has("embeddings_hnsw_sharded_meta") &&
    has("embeddings_hnsw_sharded") && has("embeddings_hnsw_sharded_ids")
  def hnswTier: Boolean = has("embeddings_hnsw_meta")
}

/** The serving path's driver-side index of the live corpus: each live
  * chunk id's `(docId, page, chunkIndex)`, each live document's title
  * and tags, and the tombstoned chunk ids. A search leg scores its slice
  * and resolves liveness, tags and the `(score desc, docId, chunkIndex)`
  * tie-break keys from it map-side, where it used to join `chunks`,
  * `documents` and the tombstones. Content stays out: the Spark plans
  * read it for the ranked rows only, and an in-process snapshot holds
  * it beside the directory. */
private[graft] final class ChunkDirectory(
    val chunks: Map[String, ChunkDirectory.Loc],
    docs: Map[String, ChunkDirectory.Doc],
    val deadChunks: Set[String]) extends Serializable {

  def locate(id: String, tags: Set[String]): Option[ChunkDirectory.Hit] =
    for {
      l <- chunks.get(id)
      d <- docs.get(l.docId)
      if tags.isEmpty || (d.tags != null && d.tags.exists(tags))
    } yield ChunkDirectory.Hit(l.docId, d.title, l.page, l.chunkIndex)
}

private[graft] object ChunkDirectory {
  final case class Loc(docId: String, page: Int, chunkIndex: Int)
  final case class Doc(title: String, tags: Set[String])
  final case class Hit(docId: String, title: String, page: Int, chunkIndex: Int)
}

private[graft] object ServingSnapshot {
  final case class Ivf(centers: Array[Array[Double]], nProbe: Int,
                       cells: DataFrame)
  /** One IVF cell's vectors; `vecs(i)` is chunk `ids(i)`'s, null when
    * the row has none. */
  final case class Vectors(ids: Array[String], vecs: Array[Array[Float]])
  /** One term's postings, columnar: chunk `ids(i)` has the term `tf(i)`
    * times in `doclen(i)` tokens. */
  final case class Postings(ids: Array[String], tf: Array[Long],
                            doclen: Array[Long])

  /** Share of the driver heap the serving tiers may hold. */
  val HeapFraction = 0.25

  /** The default driver budget, in bytes. */
  def defaultBudget: Long =
    (Runtime.getRuntime.maxMemory * HeapFraction).toLong

  /** Heap bytes of the in-process tier per on-disk byte of the tables it
    * loads: 12.3 measured on the serving benchmark's corpus (1,074
    * chunks of 1024-dim hashed vectors, which parquet compresses ~26x;
    * SCALE.md), rounded up. */
  val DecodeFactor = 13L

  /** Heap bytes of one `dim`-float vector on the driver. */
  def vectorBytes(dim: Int): Long = 16L + 4L * dim

  /** Bytes on disk of the files a pinned parquet frame lists: the file
    * index's total, read without a job. */
  def onDiskBytes(df: DataFrame): Long = df.queryExecution.analyzed.collect {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation => r.location.sizeInBytes
      case _ => 0L
    }
  }.sum

  /** Every table a search reads or dispatches on. */
  val Tables: Seq[String] = Seq("documents", "chunks", "embeddings",
    "tombstones", "embeddings_ivf", "embeddings_ivf_meta", "fts_postings",
    "fts_stats", "cluster_summaries", "embeddings_hnsw_meta",
    "embeddings_hnsw_sharded", "embeddings_hnsw_sharded_meta",
    "embeddings_hnsw_sharded_ids")

  /** Commit-marker modification time of each committed table in
    * [[Tables]]; an absent table has no entry. */
  def probe(fs: FileSystem, warehouse: String): Map[String, Long] =
    Tables.flatMap { t =>
      try Some(t -> fs.getFileStatus(
        new HPath(s"$warehouse/$t/_SUCCESS")).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    }.toMap
}
