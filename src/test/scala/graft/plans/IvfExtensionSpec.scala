package graft.plans

import graft.SparkSpec
import graft.operators.{IvfIndex, VectorSearch}
import org.apache.spark.sql.functions._

/** The optimizer-rule tier: a plain declarative top-k over the persisted
  * IVF table must get rewritten into a cell-pruned probe, visible as a
  * partition filter in the physical scan, while a full probe stays exact
  * vs brute force. */
class IvfExtensionSpec extends SparkSpec {

  private def topkDf(path: String, q: Array[Float], k: Int) =
    spark.read.parquet(path)
      .withColumn("cos_sim", CosineSimilarity(col("embedding"), lit(q)))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)

  test("probe rule injects partition pruning; full probe stays exact") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0).toArray
    val idxPath = tempDir("graft-ivf").toString + "/emb"
    IvfIndex.persist(emb, "vec_id", "embedding", nCells = 8,
      path = idxPath, nProbe = 2)

    spark.experimental.extraOptimizations = Seq(IvfProbeRule())
    try {
      // nProbe=2 of 8: plan must scan only the probed cells
      val pruned = topkDf(idxPath, q, 5)
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters: [__cell"), scan)
      val prunedIds = pruned.collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(prunedIds.contains(7L)) // query's own cell always probed

      // full probe (nProbe = nCells): rule no-ops -> identical to brute force
      IvfRegistry.register(idxPath,
        Array.fill(8)(Array.fill(64)(0.0)), nProbe = 8)
      val full = topkDf(idxPath, q, 5)
      assert(!full.queryExecution.executedPlan.toString
        .contains("PartitionFilters: [__cell"))
      val exact = VectorSearch.topK(emb, "embedding", q.toSeq, 5, "vec_id")
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(full.collect().map(_.getAs[Long]("vec_id")).toSeq === exact)
    } finally {
      spark.experimental.extraOptimizations = Nil
      IvfRegistry.clear()
    }
  }

  test("probe rule always probes the delta bucket: appends stay visible") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = Array.fill(64)(0.5f) // nowhere near any corpus vector
    val idxPath = tempDir("graft-ivf4").toString + "/emb"
    IvfIndex.persist(emb, "vec_id", "embedding", nCells = 8,
      path = idxPath, nProbe = 2)
    // append a vector equal to the query into the delta bucket, the way
    // Library.appendToVectorIndex does
    import spark.implicits._
    Seq((99999L, q.toSeq)).toDF("vec_id", "embedding")
      .withColumn("__cell", lit(IvfRegistry.DeltaCell))
      .write.mode("append").partitionBy("__cell").parquet(idxPath)

    spark.experimental.extraOptimizations = Seq(IvfProbeRule())
    try {
      val top = topkDf(idxPath, q, 3)
      val scan = top.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters: [__cell"), scan) // still pruned
      val ids = top.collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(ids.head === 99999L,
        s"appended delta vector must win the rule-rewritten top-k, got $ids")
    } finally {
      spark.experimental.extraOptimizations = Nil
      IvfRegistry.clear()
    }
  }

  test("probe rule is idempotent: re-applying adds no second filter") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    val idxPath = tempDir("graft-ivf2").toString + "/emb"
    IvfIndex.persist(emb, "vec_id", "embedding", nCells = 4,
      path = idxPath, nProbe = 1)
    try {
      val rule = IvfProbeRule()
      val plan0 = topkDf(idxPath, q, 5).queryExecution.analyzed
      val once = rule(plan0)
      val twice = rule(once)
      // the fixed-point optimizer re-runs rules on their own output; a
      // non-idempotent rewrite stacks filters until the iteration cap
      assert(once.toString.contains("__cell IN") ||
        once.toString.contains("__cell#"), once.toString)
      assert(twice.toString === once.toString,
        "second application must be a no-op")
    } finally IvfRegistry.clear()
  }

  test("probe rule leaves joins sorted by the OTHER side's vectors alone") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    val idxPath = tempDir("graft-ivf3").toString + "/emb"
    IvfIndex.persist(emb, "vec_id", "embedding", nCells = 4,
      path = idxPath, nProbe = 1)
    try {
      val rule = IvfProbeRule()
      val ivf = spark.read.parquet(idxPath).select(col("vec_id"), col("__cell"))
      // sort key scores the NON-indexed side's vectors
      val other = emb.select(col("vec_id"), col("embedding").as("other_vec"))
      val joined = ivf.join(other, "vec_id")
        .withColumn("cos_sim", CosineSimilarity(col("other_vec"), lit(q)))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(5)
      val plan = joined.queryExecution.analyzed
      assert(rule(plan).toString === plan.toString,
        "rule must not prune the IVF side against an unrelated query")
    } finally IvfRegistry.clear()
  }

  test("nearestCell agrees with probeCells(nProbe=1) — the fold and the probe share one rule") {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(9)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    (1 to 200).foreach { _ =>
      val v = Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)
      assert(IvfRegistry.nearestCell(centers, v) ===
        IvfRegistry.probeCells(centers, v.map(_.toDouble), 1).head)
    }
    // tie-break: equidistant centroids resolve to the lowest cell id
    val tied = Array(Array(1.0, 0.0), Array(-1.0, 0.0))
    assert(IvfRegistry.nearestCell(tied, Array(0f, 5f)) === 0)
  }
}
