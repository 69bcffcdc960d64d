package graft

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * `nProbe`, the BM25 `n`/`total_len`, and which tables exist. Nothing
  * is cached in Spark, so `Materialize.releaseAll` has nothing to drop.
  * Every value is a `lazy val`: a call builds only what it reads, once
  * per snapshot, thread-safely.
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
                                           val key: Map[String, Long]) {
  def has(t: String): Boolean = key.contains(t)
  private def read(t: String): DataFrame = spark.read.parquet(s"$warehouse/$t")

  private lazy val tombstones: Option[DataFrame] =
    if (has("tombstones")) Some(read("tombstones")) else None
  lazy val docTombstones: Option[DataFrame] =
    tombstones.map(_.filter(col("kind") === "doc").select("id"))
  lazy val chunkTombstones: Option[DataFrame] =
    tombstones.map(_.filter(col("kind") === "chunk").select("id"))

  lazy val documents: DataFrame =
    Library.antiTomb(read("documents"), "id", docTombstones)
  lazy val chunks: DataFrame =
    Library.antiTomb(read("chunks"), "id", chunkTombstones)
  lazy val embeddings: DataFrame =
    Library.antiTomb(read("embeddings"), "chunkId", chunkTombstones)
  lazy val clusterSummaries: DataFrame = read("cluster_summaries")

  /** Documents carrying any of `tags` (all documents when empty). */
  def docsTagged(tags: Seq[String]): DataFrame =
    if (tags.isEmpty) documents
    else documents.filter(arrays_overlap(col("tags"), lit(tags.toArray)))

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

  /** The sharded-HNSW id map: (xxhash64 surrogate id, chunkId). */
  lazy val shardedIds: DataFrame = read("embeddings_hnsw_sharded_ids")
    .select(xxhash64(col("chunkId")).as("id"), col("chunkId"))

  def shardedTier: Boolean = has("embeddings_hnsw_sharded_meta") &&
    has("embeddings_hnsw_sharded") && has("embeddings_hnsw_sharded_ids")
  def hnswTier: Boolean = has("embeddings_hnsw_meta")
}

private[graft] object ServingSnapshot {
  final case class Ivf(centers: Array[Array[Double]], nProbe: Int,
                       cells: DataFrame)

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
