package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Ports the reference clustering behavior tests
  * (Clustering.test.ts:70-487) onto MLlib-backed operators. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated blobs around (0,0,..) and (10,10,..)
  private lazy val blobs = {
    val rnd = new scala.util.Random(7)
    val near0 = (0 until 20).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextGaussian().toFloat * 0.1f)))
    val near10 = (20 until 40).map(i =>
      (i.toLong, Array.fill(4)(10f + rnd.nextGaussian().toFloat * 0.1f)))
    (near0 ++ near10).toDF("id", "vec")
  }

  test("k=2 recovers the separated blobs; seeded runs are identical") {
    val m1 = ClusteringOps.fit(blobs, "vec", 2)
    val a1 = ClusteringOps.assign(m1, blobs, "id", "vec")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lows = (0L until 20L).map(a1)
    val highs = (20L until 40L).map(a1)
    assert(lows.distinct.size === 1)
    assert(highs.distinct.size === 1)
    assert(lows.head !== highs.head)

    val m2 = ClusteringOps.fit(blobs, "vec", 2)
    val a2 = ClusteringOps.assign(m2, blobs, "id", "vec")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 === a2) // determinism with fixed seed
  }

  test("BIC model selection picks small k for well-separated data") {
    val best = ClusteringOps.fitBestK(blobs, "vec", maxK = 6)
    assert(best.getK === 2)
  }

  test("soft assignment: probabilities sum to ~1 and multi-membership works") {
    val model = ClusteringOps.fit(blobs, "vec", 2)
    val soft = ClusteringOps.softAssign(model, blobs, "id", "vec",
      temperature = 0.5, minProbability = 0.0)
    val sums = soft.groupBy("chunkId").agg(sum("probability").as("p"))
      .collect().map(_.getDouble(1))
    sums.foreach(p => assert(math.abs(p - 1.0) < 1e-9))
  }

  test("extractive summaries take first sentences of lowest-id members") {
    val assignments = Seq(("c1", 0, 0.1), ("c2", 0, 0.2), ("c3", 1, 0.1))
      .toDF("chunkId", "clusterId", "distance")
    val corpus = Seq(
      ("c1", "First sentence one. More text."),
      ("c2", "Second doc opener! Extra."),
      ("c3", "Other cluster text. Tail.")).toDF("id", "text")
    val sums = ClusteringOps.extractiveSummaries(assignments, corpus, "id", "text")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(sums(0) === "This cluster covers: First sentence one Second doc opener")
    assert(sums(1) === "This cluster covers: Other cluster text")
  }

  test("abstractive summaries: LLM tier parses the reference schema (M5)") {
    val assignments = Seq(("c1", 0, 0.1), ("c2", 0, 0.2), ("c3", 1, 0.1))
      .toDF("chunkId", "clusterId", "distance")
    val corpus = Seq(
      ("c1", "Vector search fundamentals. More."),
      ("c2", "Approximate nearest neighbors! Extra."),
      ("c3", "Unrelated streaming text. Tail.")).toDF("id", "text")
    // the mock asserts the prompt carries the combined [Chunk i] content
    val chat = new graft.sources.ChatModel {
      def complete(prompt: String): String = {
        assert(prompt.contains("[Chunk 1]"))
        """```json
          |{"summary": "Covers vector search.", "keyTopics": ["ann", "search"],
          | "representativeQuote": "Vector search fundamentals."}
          |```""".stripMargin
      }
    }
    val out = ClusteringOps.abstractiveSummaries(
      assignments, corpus, "id", "text", chat)
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out(0).getAs[String]("summary") === "Covers vector search.")
    assert(out(0).getAs[Seq[String]]("keyTopics") === Seq("ann", "search"))
    assert(out(0).getAs[String]("representativeQuote") ===
      "Vector search fundamentals.")
    assert(out(0).getAs[String]("tier") === "llm")
    assert(out(0).getAs[Long]("chunkCount") === 2L)
    assert(out(1).getAs[Long]("chunkCount") === 1L)
  }

  test("abstractive summaries: any LLM failure falls back to extractive per cluster (M5)") {
    val assignments = Seq(("c1", 0, 0.1), ("c2", 0, 0.2), ("c3", 1, 0.1))
      .toDF("chunkId", "clusterId", "distance")
    val corpus = Seq(
      ("c1", "First sentence one. More text."),
      ("c2", "Second doc opener! Extra."),
      ("c3", "tiny. x")).toDF("id", "text")
    val dead = new graft.sources.ChatModel {
      def complete(prompt: String): String =
        throw new RuntimeException("model down")
    }
    val out = ClusteringOps.abstractiveSummaries(
      assignments, corpus, "id", "text", dead)
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out(0).getAs[String]("summary") ===
      "This cluster covers: First sentence one. Second doc opener.")
    assert(out(0).getAs[String]("tier") === "extractive")
    // every first sentence <= 10 chars -> the reference's fragments message
    assert(out(1).getAs[String]("summary") ===
      "Cluster contains very short text fragments.")
    // unparseable responses (not a transport failure) also fall back
    val garbage = new graft.sources.ChatModel {
      def complete(prompt: String): String = "no json here"
    }
    val g = ClusteringOps.abstractiveSummaries(
      assignments, corpus, "id", "text", garbage)
      .collect().map(r => r.getInt(0) -> r.getAs[String]("tier")).toMap
    assert(g(0) === "extractive" && g(1) === "extractive")
  }

  test("cluster->concept mapping: argmax above threshold, suggest-label fallback (M6)") {
    val centroids = Seq(
      (0, Array(1f, 0f, 0f)),   // aligns with concept A
      (1, Array(0f, 0f, 1f))    // aligns with nothing
    ).toDF("clusterId", "centroid")
    val summaries = Seq(
      (0, "Vector search techniques. And more."),
      (1, "A very long first sentence that should be trimmed to fifty characters exactly! Tail.")
    ).toDF("clusterId", "summary")
    val concepts = Seq(
      ("concept/a", Array(0.9f, 0.1f, 0f)),
      ("concept/b", Array(0f, 1f, 0f))
    ).toDF("conceptId", "embedding")
    val out = ClusteringOps.mapClustersToConcepts(centroids, summaries, concepts,
      threshold = 0.5)
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out(0).getAs[String]("conceptId") === "concept/a")
    assert(out(0).getAs[Double]("similarity") > 0.9)
    assert(out(0).getAs[String]("suggestedLabel") === null)
    assert(out(1).getAs[String]("conceptId") === null)
    val label = out(1).getAs[String]("suggestedLabel")
    assert(label.length <= 50)
    assert(label.startsWith("A very long first sentence"))
  }

  test("IVF with full probe equals brute force; partial probe is a subset scan") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0).toArray
    val index = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    val exact = VectorSearch.topK(emb, "embedding", q.toSeq, 5, "vec_id")
      .collect().map(_.getLong(0)).toSeq
    val full = index.topK(q, 5, nProbe = 8).collect().map(_.getLong(0)).toSeq
    assert(full === exact)
    val partial = index.topK(q, 5, nProbe = 2).collect().map(_.getLong(0)).toSeq
    assert(partial.contains(1L)) // query point's own cell is always probed
  }

  test("batched IVF probe at nProbe=nCells equals the exact batch; partial probe finds self") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val index = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val exact = rows(VectorSearch.topKBatch(emb, "embedding", "vec_id",
      queries, "qid", "qvec", k = 4).orderBy("qid", "rn"))
    val probed = rows(index.topKBatch(queries, "qid", "qvec", k = 4, nProbe = 8)
      .orderBy("qid", "rn"))
    assert(probed === exact)
    // partial probe: every query's own cell ranks first, so each query
    // still finds itself at rank 1 (cos_sim = 1 with itself)
    val partial = index.topKBatch(queries, "qid", "qvec", k = 1, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    (0L until 5L).foreach(q => assert(partial(q) === q))
    // the probed plan must pair queries with candidate CELLS, never the
    // full corpus: its scanned-row bound is corpus × nProbe/nCells per
    // query — certified here by nProbe=1 returning ≤ one cell's rows
    val oneCell = index.topKBatch(queries.limit(1), "qid", "qvec",
      k = 1000000, nProbe = 1).count()
    val largestCell = index.assigned.groupBy("__cell").count()
      .agg(max("count")).head().getLong(0)
    assert(oneCell <= largestCell)
  }

  test("file-backed batch probe prunes the partitioned scan dynamically (DPP)") {
    // the 100 TB claim for the BATCH path: over a __cell-partitioned
    // warehouse table, the broadcast probe-map join must reach the
    // scan as a dynamic partition filter, so the batch reads only the
    // union of probed cells' files — not the whole index
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val index = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8)
    val dir = tempDir("ivf_dpp").toString
    index.assigned.write.partitionBy("__cell").mode("overwrite").parquet(dir)
    val diskIdx = new IvfIndex(index.model,
      spark.read.parquet(dir), "embedding", "vec_id")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = diskIdx.topKBatch(queries, "qid", "qvec", k = 2, nProbe = 1)
    val got = out.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      "partitioned scan must carry a dynamic pruning filter on __cell:\n" + p)
    // and the disk-backed result matches the cached-index result exactly
    val want = index.topKBatch(queries, "qid", "qvec", k = 2, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.sorted === want.sorted)
  }
}
