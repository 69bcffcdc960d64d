package graft.plans

import graft.SparkSpec
import graft.operators.{IvfIndex, VectorSearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** The SQL surface of the ANN tier (VERDICT r19 #6): `spark.sql(...)`
  * must build the SAME pruned plans the Scala facade builds —
  * `nearest_cells` assigns map-only (no Window, no Exchange), and
  * `ann_topk` reads only the probed cells' files. */
class GraftSqlExtensionSpec extends SparkSpec {

  private def physical(df: DataFrame) = df.queryExecution.executedPlan

  private def assertNoWindowNoExchange(df: DataFrame): Unit = {
    val plan = physical(df)
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"SQL assignment plan must not window:\n$plan")
    assert(plan.collect { case e: Exchange => e }.isEmpty,
      s"SQL assignment plan must not shuffle:\n$plan")
  }

  test("nearest_cells from spark.sql: map-only plan, same answers as the Scala API") {
    GraftSqlFunctions.registerOn(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.createOrReplaceTempView("sql_emb")
    // a real centroid table, passed as a SQL literal (driver-known,
    // exactly like the Scala API's Array[Array[Double]])
    val centers = IvfIndex.build(emb, "vec_id", "embedding", nCells = 4,
      seed = 42L, cache = false).model.clusterCenters.map(_.toArray)
    val centersSql = centers.map(_.mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    val viaSql = spark.sql(s"""
      SELECT vec_id, nearest_cells(embedding, $centersSql, 2) AS cells,
             assign_cell(embedding, $centersSql) AS cell
      FROM sql_emb""")
    assertNoWindowNoExchange(viaSql)
    // whole-stage codegen must cover the assignment (the expression is
    // codegen'd — a SQL user pays the same plan as the Scala user)
    assert(physical(viaSql).collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty, s"assignment must stay in codegen:\n${physical(viaSql)}")
    val viaScala = emb.select(col("vec_id"),
      NearestCells(col("embedding"), centers, 2).as("cells"))
    val sqlRows = viaSql.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2))).toSeq.sortBy(_._1)
    val scalaRows = viaScala.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq.sortBy(_._1)
    assert(sqlRows.map(t => (t._1, t._2)) === scalaRows)
    // assign_cell = first probe rank
    sqlRows.foreach { case (_, cells, cell) => assert(cell === cells.head) }
  }

  test("nearest_cells rejects a non-foldable centroid table loudly") {
    GraftSqlFunctions.registerOn(spark)
    spark.read.parquet(s"$sf/embeddings.parquet")
      .limit(3).createOrReplaceTempView("sql_emb2")
    val e = intercept[Exception] {
      spark.sql("""SELECT nearest_cells(embedding,
        array(array(cast(vec_id AS DOUBLE))), 1) FROM sql_emb2""").collect()
    }
    assert(e.getMessage.contains("foldable") ||
      Option(e.getCause).exists(_.getMessage.contains("foldable")),
      s"wanted the foldable-centers contract surfaced, got: ${e.getMessage}")
  }

  test("ann_topk from spark.sql: partition-pruned probe, exact at full probe, delta bucket visible") {
    GraftSqlFunctions.registerOn(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0).toArray
    val qSql = q.map(_.toDouble).mkString("array(", ", ", ")")
    val idxPath = tempDir("graft-sqltvf").toString + "/emb"
    IvfIndex.persist(emb, "vec_id", "embedding", nCells = 8,
      path = idxPath, nProbe = 2)
    try {
      // partial probe: the scan must read ONLY probed cells (partition
      // filter on __cell), sort through TakeOrderedAndProject (no Window)
      val probed = spark.sql(
        s"SELECT vec_id, cos_sim FROM ann_topk('$idxPath', $qSql, 5)")
      val plan = physical(probed).toString
      assert(plan.contains("PartitionFilters: [__cell"), plan)
      assert(plan.contains("TakeOrderedAndProject"), plan)
      assert(physical(probed).collect { case w: WindowExec => w }.isEmpty)
      val ids = probed.collect().map(_.getLong(0)).toSeq
      assert(ids.contains(7L), s"query's own cell must be probed: $ids")

      // full probe (explicit nProbe >= nCells): no filter, provably
      // exact vs the brute-force scan
      val full = spark.sql(
        s"SELECT vec_id FROM ann_topk('$idxPath', $qSql, 5, 8)")
      assert(!physical(full).toString.contains("PartitionFilters: [__cell"))
      val exact = VectorSearch.topK(emb, "embedding", q.toSeq, 5, "vec_id")
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(full.collect().map(_.getLong(0)).toSeq === exact)

      // appends land in the delta bucket and stay visible to the
      // pruned SQL probe (the IvfProbeRule contract, honored here too)
      val far = Array.fill(64)(0.5f)
      import spark.implicits._
      Seq((99999L, far.toSeq)).toDF("vec_id", "embedding")
        .withColumn("__cell", lit(IvfRegistry.DeltaCell))
        .write.mode("append").partitionBy("__cell").parquet(idxPath)
      val farSql = far.map(_.toDouble).mkString("array(", ", ", ")")
      val top = spark.sql(
        s"SELECT vec_id FROM ann_topk('$idxPath', $farSql, 3)")
      assert(physical(top).toString.contains("PartitionFilters: [__cell"))
      assert(top.collect().map(_.getLong(0)).head === 99999L)

      // an unregistered path fails with the actionable message, not a
      // wrong silent scan
      val err = intercept[Exception] {
        spark.sql(s"SELECT * FROM ann_topk('/no/such/index', $qSql, 5)")
          .collect()
      }
      assert(err.getMessage.contains("not a registered IVF index") ||
        Option(err.getCause).exists(_.getMessage.contains("not a registered IVF index")))
    } finally IvfRegistry.clear()
  }

  test("GraftExtensions wires the same surface into a fresh session (spark.sql.extensions path)") {
    // a second session on the same SparkContext, built THROUGH the
    // extension — the deployment shape
    // (spark.sql.extensions=graft.plans.GraftExtensions). getOrCreate
    // reuses the live SparkContext once no default session is set.
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    assert(s2 ne spark, "fixture: must be a fresh session")
    try {
      val one = s2.sql(
        """SELECT nearest_cells(array(cast(0.1 AS FLOAT), cast(0.2 AS FLOAT)),
          array(array(1.0d, 1.0d), array(0.0d, 0.0d)), 2) AS cells""")
        .head().getSeq[Int](0)
      assert(one === Seq(1, 0))
      assert(s2.sql(
        "SELECT cosine_similarity(array(cast(1.0 AS FLOAT)), array(cast(1.0 AS FLOAT)))")
        .head().getDouble(0) === 1.0)
      // the optimizer rule rides along: registry + ORDER BY cosine
      // DESC LIMIT k prunes partitions from plain SQL
      val emb = s2.read.parquet(s"$sf/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 7).select("embedding")
        .head().getSeq[Float](0).toArray
      val idxPath = tempDir("graft-sqlext").toString + "/emb"
      IvfIndex.persist(emb, "vec_id", "embedding", nCells = 8,
        path = idxPath, nProbe = 2)
      s2.read.parquet(idxPath).createOrReplaceTempView("ivf_emb")
      val qSql = q.map(v => s"cast($v AS FLOAT)").mkString("array(", ", ", ")")
      val topk = s2.sql(s"""
        SELECT vec_id FROM ivf_emb
        ORDER BY cosine_similarity(embedding, $qSql) DESC LIMIT 5""")
      val plan = topk.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [__cell"), plan)
      assert(topk.collect().map(_.getLong(0)).contains(7L))
    } finally {
      IvfRegistry.clear()
      // restore the shared session other suites depend on
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }
}
