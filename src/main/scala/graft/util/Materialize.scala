package graft.util

import org.apache.spark.sql.Dataset

/** The engine's single mid-plan materialization primitive.
  *
  * Operators need materialized snapshots in three situations: write paths
  * that read a table and then append/overwrite it (the snapshot must not
  * observe the write), iterative loops whose plans grow without lineage
  * truncation (taxonomy closure, label propagation), and small frames
  * feeding several consumers that would otherwise each recompute a corpus
  * scan.
  *
  * `localCheckpoint` is the fast form of all three, but its blocks are
  * unreplicated executor-local state with lineage truncated — on a
  * multi-executor cluster one lost executor fails the job with no
  * recompute path. That is an availability bug at 100 TB, so the mode is
  * a deployment decision made here once, not per call site:
  *
  *  - `local` (default when the master is `local[*]`, e.g. tests and the
  *    bench): `localCheckpoint`. In a single JVM executor loss is process
  *    death anyway, so the availability caveat is vacuous and the speed
  *    is free.
  *  - `reliable` (default on any non-local master; forceable either way
  *    via `spark.graft.materialize`): RDD checkpoint to
  *    `spark.graft.checkpointDir` (or `<tmpdir>/graft-ckpt`). Blocks
  *    land on shared storage and survive executor loss.
  *
  * Eager by default: write-path snapshot semantics REQUIRE the rows to be
  * materialized before the caller mutates the source table. Pass
  * `eager = false` only for pure fan-out reuse. It defers less than its
  * name says: `Dataset.checkpoint` calls `physicalPlan.execute()` at
  * once, and under AQE that runs every shuffle and broadcast stage of
  * the plan as its own job right there; only the final stage waits for
  * the first action. A loop of lazy checkpoints therefore runs its jobs
  * while the caller is still building the DataFrame: the 5-round k-core
  * of q171, with four lazy checkpoints per round, ran 21 of its 24 jobs
  * inside the query's build span (1.67 s, 1.0 s of it driver time
  * between jobs) in a traced perfbench curate run on 4 cores, before
  * it became a co-partitioned iteration.
  */
object Materialize {
  /** Postfix form so call sites read like the plan they sit in. */
  implicit class MatOps[T](val ds: Dataset[T]) extends AnyVal {
    def materializeOnce(eager: Boolean = true): Dataset[T] = once(ds, eager)
  }

  def once[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val spark = ds.sparkSession
    val mode = spark.conf.get("spark.graft.materialize",
      if (spark.sparkContext.isLocal) "local" else "reliable")
    mode match {
      case "local" => ds.localCheckpoint(eager)
      case _ =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(spark.conf.get("spark.graft.checkpointDir",
            new java.io.File(
              sys.props("java.io.tmpdir"), "graft-ckpt").toString))
        ds.checkpoint(eager)
    }
  }

  /** Drops every persisted/checkpointed block in the session: cached
    * DataFrames via the cache manager, then all persistent RDDs (which
    * includes `localCheckpoint` blocks — localCheckpoint persists its
    * RDD). Queries build fresh plans, so releasing between queries is
    * safe; the bench calls this between measured runs so block
    * accumulation across a 60+-query suite cannot skew later medians. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
