package graft.streaming

import graft.SparkSpec
import graft.operators.ShardedHnsw
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ANN serving over the persisted sharded tier: streamed
  * answers ≡ one batch call, and leaves swapped in by a concurrent
  * persisted insert become servable at the next micro-batch. */
class StreamingAnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")

  private def tempTier(): (String, String, String) = {
    val dir = tempDir("sann").toString
    (s"$dir/shards", s"$dir/shards_meta", s"$dir/ckpt")
  }

  private type Hit = (Long, Int, Long, Double)
  private def collectHits(rows: Seq[org.apache.spark.sql.Row]): Set[Hit] =
    rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getDouble(3))).toSet

  test("streamed micro-batches answer identically to one batch searchBatch call") {
    val (shardsPath, metaPath, ckpt) = tempTier()
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 8)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    val queries = emb.as[(Long, Array[Float])].collect().take(40)
      .map { case (id, v) => (id, v.toSeq) }
    val results = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.searchSink(in.toDF().toDF("qid", "qv"),
        "qid", "qv", shardsPath, metaPath, k = 5, nProbe = 8, ckpt) {
      df => results.synchronized { results ++= df.collect() }
    }
    // two micro-batches
    in.addData(queries.take(20).toSeq)
    q.processAllAvailable()
    in.addData(queries.drop(20).toSeq)
    q.processAllAvailable()
    q.stop()
    val batchWant = collectHits(
      ShardedHnsw.searchBatch(
        ShardedHnsw.load(spark, shardsPath, metaPath),
        queries.toSeq.toDF("qid", "qv"), "qid", "qv", 5, 8).collect())
    assert(collectHits(results.toSeq) === batchWant)
  }

  test("a persisted insert between triggers is servable at the next micro-batch") {
    val (shardsPath, metaPath, ckpt) = tempTier()
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    // a genuinely new vector near center 0 (unique perturbation)
    val nv = sh.centers(0).map(_.toFloat)
    nv(0) += 1e-3f
    val newId = 7_700_000L
    val results = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.searchSink(in.toDF().toDF("qid", "qv"),
        "qid", "qv", shardsPath, metaPath, k = 1, nProbe = 0, ckpt) {
      df => results.synchronized { results ++= df.collect() }
    }
    // trigger 1: the new vector is NOT indexed yet — nearest is someone else
    in.addData(Seq((1L, nv.toSeq)))
    q.processAllAvailable()
    val before = results.map(r => r.getLong(2)).toSet
    assert(!before.contains(newId))
    // maintenance lands between triggers: only the routed leaf rewrites
    ShardedHnsw.insertPersisted(spark, shardsPath, metaPath,
      Seq((newId, nv)))
    results.clear()
    // trigger 2: the SAME query now finds the inserted vector itself —
    // the reload picked up the swapped leaf without a query restart
    in.addData(Seq((2L, nv.toSeq)))
    q.processAllAvailable()
    q.stop()
    assert(results.map(r => r.getLong(2)).toSet === Set(newId))
  }

  test("maintenance committing MID-trigger: the pinned trigger serves its epoch's snapshot; the next trigger serves the insert") {
    // the interleaving the round-17 design could only forbid by
    // convention: the trigger has LOADED (pinning an epoch) but not
    // yet READ when a persisted insert commits and GC runs. Under the
    // manifest design the trigger's read must return the pinned
    // epoch's exact answer — no missed leaf, no torn file — and the
    // new vector becomes servable at the next trigger.
    val (shardsPath, metaPath, ckpt) = tempTier()
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    val nv = sh.centers(0).map(_.toFloat)
    nv(0) += 1e-3f
    val newId = 7_800_000L
    val preWant = ShardedHnsw.searchBatch(
        ShardedHnsw.load(spark, shardsPath, metaPath),
        Seq((1L, nv.toSeq)).toDF("qid", "qv"), "qid", "qv", 3, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val results = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnn.searchSink(in.toDF().toDF("qid", "qv"),
        "qid", "qv", shardsPath, metaPath, k = 3, nProbe = 0, ckpt) { df =>
      // the sink receives a LAZY frame over the pinned handle; landing
      // the maintenance batch here — after the load, before the
      // collect — IS the mid-trigger race
      if (raced.compareAndSet(false, true))
        ShardedHnsw.insertPersisted(spark, shardsPath, metaPath,
          Seq((newId, nv)))
      results.synchronized { results ++= df.collect() }
    }
    in.addData(Seq((1L, nv.toSeq)))
    q.processAllAvailable()
    assert(collectHits(results.toSeq) === preWant,
      "the pinned trigger must serve its epoch's snapshot, untorn")
    assert(!results.exists(_.getLong(2) == newId))
    results.clear()
    in.addData(Seq((2L, nv.toSeq)))
    q.processAllAvailable()
    q.stop()
    assert(results.map(_.getLong(2)).contains(newId),
      "the racing insert must be servable at the next trigger")
  }
}
