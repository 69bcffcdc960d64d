package graft

import graft.model.SearchOptions
import java.nio.file.Files
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** End-to-end facade test: ingest markdown -> hybrid search -> expand ->
  * doc ops — the reference's minimum end-to-end slice (SURVEY.md §7.1
  * step 3). */
class LibrarySpec extends SparkSpec {
  import spark.implicits._

  private lazy val lib = {
    val wh = tempDir("graft-wh").toString
    val l = new Library(spark, wh)
    val docA = "---\ntitle: Spark Joins\ntags: [spark, sql]\n---\n# Joins\n" +
      ("Spark supports hash join and sort merge join strategies for large tables. " * 10) +
      "\n# Broadcast\n" +
      ("Broadcast hash join ships the small side to every executor node. " * 10)
    val docB = "# Cooking\n" +
      ("A recipe for tomato soup with basil and garlic croutons on top. " * 10)
    l.addMarkdown(Seq(
      ("/docs/spark-joins.md", docA),
      ("/docs/cooking.md", docB)).toDS())
    l
  }

  test("ingest writes all three tables with consistent keys") {
    val (nd, nc, ne) = lib.stats()
    assert(nd === 2)
    assert(nc > 2)
    assert(ne === nc)
    val (oc, oe) = lib.repair()
    assert(oc === 0 && oe === 0)
  }

  test("ingest is idempotent by path (anti-join dedup)") {
    lib.addMarkdown(Seq(("/docs/spark-joins.md", "# Joins\nchanged content here")).toDS())
    assert(lib.stats()._1 === 2)
  }

  test("hybrid search returns relevant ranked results") {
    val res = lib.search("hash join strategies", SearchOptions(limit = 5)).collect()
    assert(res.nonEmpty)
    val titles = res.map(_.getAs[String]("title")).toSet
    assert(titles.contains("Spark Joins"))
    // scores descending
    val scores = res.map(_.getAs[Double]("score")).toSeq
    assert(scores === scores.sorted.reverse)
    assert(res.head.getAs[String]("content").contains("join"))
  }

  test("tag filter restricts results (F2)") {
    val res = lib.search("join", SearchOptions(limit = 5, tags = Seq("spark")))
    assert(res.collect().forall(_.getAs[String]("title") === "Spark Joins"))
    val none = lib.search("join", SearchOptions(limit = 5, tags = Seq("nonexistent")))
    assert(none.count() === 0)
  }

  test("getDocument: id / title-substring / prefix lookup (F5)") {
    val id = Library.docId("/docs/spark-joins.md")
    assert(lib.getDocument(id).head().getAs[String]("title") === "Spark Joins")
    assert(lib.getDocument("spark jo").head().getAs[String]("id") === id)
    assert(lib.getDocument(id.take(6)).head().getAs[String]("id") === id)
  }

  test("setTags + listDocuments by tag (S14/F1)") {
    val id = Library.docId("/docs/cooking.md")
    lib.setTags(id, Seq("food", "recipes"))
    val tagged = lib.listDocuments(tag = Some("food")).collect()
    assert(tagged.length === 1)
    assert(tagged.head.getAs[String]("id") === id)
  }

  test("fts matches words adjacent to newlines (markdown keeps line breaks)") {
    // two short paragraphs pack into ONE chunk joined by \n\n; a
    // single-space tokenizer would glue "okay.\n\nSecond" into one
    // unmatchable term, hiding every paragraph-initial word
    val wh = tempDir("graft-nl").toString
    val l = new Library(spark, wh)
    l.addMarkdown(Seq(("/nl.md",
      "Kumquat zested flavors appear here nicely okay.\n\n" +
        "Second paragraph mentions tangerine and some more text.")).toDS())
    val chunk = l.chunks.head().getAs[String]("content")
    assert(chunk.contains("\n\n"), s"premise: newline inside chunk, got: $chunk")
    val res = l.ftsSearch("second", SearchOptions(limit = 5)).collect()
    assert(res.nonEmpty)
  }

  test("tag-filtered fts ranks within the tagged set, not after a global cut") {
    val wh = tempDir("graft-tagfts").toString
    val l = new Library(spark, wh)
    // many untagged docs score much higher for "pepper"; the single
    // tagged doc mentions it once — it must still be found
    val loud = (1 to 30).map(i => (s"/loud$i.md",
      "# Loud\n" + ("pepper pepper pepper pepper filler words here. " * 8)))
    val tagged = Seq(("/quiet.md",
      "---\ntags: [cooking]\n---\n# Quiet\n" +
        ("a recipe that uses pepper once among other words. " * 8)))
    l.addMarkdown((loud ++ tagged).toDS())
    val res = l.ftsSearch("pepper",
      SearchOptions(limit = 3, tags = Seq("cooking"))).collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getAs[String]("title") === "Quiet"))
  }

  test("persisted FTS probe is partition-pruned to the query terms' buckets") {
    val wh = tempDir("graft-ftsb").toString
    val l = new Library(spark, wh)
    l.addMarkdown(Seq(
      ("/a.md", "# A\n" + ("kumquat flavors appear in this document nicely. " * 10)),
      ("/b.md", "# B\n" + ("tangerine words fill this other document fully. " * 10))).toDS())
    // results must be identical with and without the persisted index
    val opts = SearchOptions(limit = 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("docId"), r.getAs[Int]("chunkIndex"),
        r.getAs[Double]("score"))).toSeq
    val fallback = rows(l.ftsSearch("kumquat document", opts))
    l.rebuildFtsIndex()
    assert(rows(l.ftsSearch("kumquat document", opts)) === fallback)
    // over the driver budget the probe scans the postings on Spark, and
    // that scan must be pruned on the __tb hive partition — the
    // docstring's "term-bucketed at scale" promise, asserted
    l.driverBudget = 0L
    val probe = l.ftsSearch("kumquat document", opts)
    assert(rows(probe) === fallback)
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [__tb"),
      s"postings probe not partition-pruned:\n$p")
    l.driverBudget = ServingSnapshot.defaultBudget
    // append path keeps the layout: new terms remain findable
    l.addMarkdown(Seq(
      ("/c.md", "# C\n" + ("persimmon content arrives after the build. " * 10))).toDS())
    assert(l.ftsSearch("persimmon", opts).collect().nonEmpty)
    // __tb stayed a hive partition column, not a data column; doclen is
    // denormalized into the postings row (the no-lens-join scale path)
    assert(spark.read.parquet(s"$wh/fts_postings").columns.toSet ===
      Set("id", "term", "tf", "doclen", "__tb"))
    // the O(#writes) stats table exists and matches the lens table —
    // N counts ALL docs (empty ones have no postings rows but do count)
    val st = spark.read.parquet(s"$wh/fts_stats")
      .agg(org.apache.spark.sql.functions.sum("n_docs"),
        org.apache.spark.sql.functions.sum("total_len")).head()
    val lens = spark.read.parquet(s"$wh/fts_lens")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("doclen")).head()
    assert(st.getLong(0) === lens.getLong(0))
    assert(st.getLong(1) === lens.getLong(1))
  }

  test("duplicate paths within one ingest batch collapse to one document") {
    val wh = tempDir("graft-dup").toString
    val l = new Library(spark, wh)
    l.addMarkdown(Seq(
      ("/same.md", "# Same\n" + ("identical content for the batch. " * 8)),
      ("/same.md", "# Same\n" + ("identical content for the batch. " * 8))).toDS())
    val (nd, nc, ne) = l.stats()
    assert(nd === 1)
    assert(nc === ne)
    assert(l.chunks.select("id").distinct().count() === nc)
  }

  test("getDocument precedence: exact id beats a title-substring match") {
    val wh = tempDir("graft-prec").toString
    val l = new Library(spark, wh)
    l.addMarkdown(Seq(
      ("/b.md", "# Target\n" + ("target doc content words here okay. " * 8))).toDS())
    val targetId = Library.docId("/b.md")
    // a doc whose title CONTAINS the target's id, with a smaller own id
    l.addMarkdown(Seq(
      ("/a.md", s"# Notes on $targetId\n" + ("decoy doc content words. " * 8))).toDS())
    assert(l.getDocument(targetId).head().getAs[String]("id") === targetId)
  }

  test("fts-only hits arrive complete through hybrid fusion") {
    // a high threshold empties the vector side, so every surviving hit
    // is fts-only — each must still carry title and content
    val res = lib.search("broadcast join",
      SearchOptions(limit = 5, threshold = Some(0.999))).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getAs[String]("matchType") === "fts")
      assert(r.getAs[String]("title") != null)
      assert(r.getAs[String]("content") != null && r.getAs[String]("content").nonEmpty)
    }
  }

  test("search with expandContext returns budgeted neighborhoods (W1 wired)") {
    val res = lib.search("broadcast executor",
      SearchOptions(limit = 3, expandContext = Some(600))).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val content = r.getAs[String]("content")
      assert(content != null && content.nonEmpty)
      assert(content.length <= (600 * 1.2).toInt + 10) // budget + overflow rule
      assert(r.getAs[Int]("start_index") <= r.getAs[Int]("chunkIndex"))
      assert(r.getAs[Int]("end_index") >= r.getAs[Int]("chunkIndex"))
    }
  }

  test("RAPTOR: cluster summaries build and join multi-scale search (J10/M7)") {
    lib.buildClusterSummaries(k = 2)
    val sums = lib.clusterSummaries.collect()
    assert(sums.length === 2)
    assert(sums.forall(_.getAs[String]("summary").startsWith("This cluster covers: ")))
    val res = lib.multiScaleSearch("hash join strategies",
      graft.model.SearchOptions(limit = 8)).collect()
    assert(res.nonEmpty)
    val types = res.map(_.getAs[String]("matchType")).toSet
    assert(types.contains("vector"))
    assert(types.contains("cluster")) // summary rows fused into ranking
    val clusterRow = res.find(_.getAs[String]("matchType") === "cluster").get
    assert(clusterRow.getAs[String]("docId") === "")
    assert(clusterRow.getAs[String]("title") === "Cluster Summary")
  }

  test("RAPTOR: chat-backed build takes the LLM tier, dead chat degrades (M5)") {
    val chat = new graft.sources.ChatModel {
      def complete(prompt: String): String =
        """{"summary": "Abstractive cluster synopsis.", "keyTopics": ["t1"]}"""
    }
    lib.buildClusterSummaries(k = 2, chat = Some(chat))
    val sums = lib.clusterSummaries.collect()
    assert(sums.length === 2)
    assert(sums.forall(_.getAs[String]("tier") === "llm"))
    assert(sums.forall(_.getAs[String]("summary") === "Abstractive cluster synopsis."))
    // summary embeddings still built -> multi-scale search fuses them
    val res = lib.multiScaleSearch("hash join strategies",
      graft.model.SearchOptions(limit = 8)).collect()
    assert(res.map(_.getAs[String]("matchType")).toSet.contains("cluster"))
    // a model that fails its liveness probe never gets a completion call:
    // the build is indistinguishable from the no-model extractive path
    val down = new graft.sources.ChatModel {
      def complete(prompt: String): String = fail("must not be called")
      override def available: Boolean = false
    }
    lib.buildClusterSummaries(k = 2, chat = Some(down))
    assert(lib.clusterSummaries.collect()
      .forall(_.getAs[String]("tier") === "extractive"))
    lib.buildClusterSummaries(k = 2) // restore the shared fixture's layer
  }

  test("ingest maintains the kNN edge artifact: fresh without a rebuild, delta == scratch (VERDICT r15 #3)") {
    val wh = tempDir("graft-wh-knn").toString
    val l = new Library(spark, wh)
    // the temp-dir suffix salts the corpus so its DiskArtifact stamp is
    // unique per run — a prior run's cached artifact would otherwise
    // satisfy the append's getOrBuild and skip the delta under test
    val salt = wh.split('/').last.takeRight(8)
    l.addMarkdown(Seq(
      ("/k1.md", s"# One $salt\n" + (s"alpha beta gamma delta epsilon words $salt. " * 12)),
      ("/k2.md", s"# Two $salt\n" + (s"zeta eta theta iota kappa tokens here $salt. " * 12))).toDS())
    val k = 2
    l.enableKnnEdges(k)
    val nOld = l.embeddings.count()
    // ingest a batch: the hook must materialize the post-append
    // artifact via the O(corpus x batch) delta
    l.addMarkdown(Seq(
      ("/k3.md", s"# Three $salt\n" + (s"lambda mu nu xi omicron fresh text $salt. " * 12))).toDS())
    val nFull = l.embeddings.count()
    val nBatch = nFull - nOld
    assert(nBatch >= 1)
    val accOpt = graft.operators.GraphRank.lastAppendScored
    assert(accOpt.isDefined, "the ingest hook must take the APPEND path " +
      "(a prior-stamp artifact was missing, or the full rebuild ran)")
    val scored = accOpt.get.value
    assert(scored === nFull * nBatch - nBatch,
      s"ingest hook scored $scored pairs - not the O(corpus x batch) delta")
    // the artifact for the CURRENT corpus already exists (the hook
    // built it) — reading it is not a rebuild
    val emb = l.embeddings.select(
      org.apache.spark.sql.functions.xxhash64(col("chunkId")).as("id"),
      col("embedding"))
    val stamp = graft.util.DiskArtifact.corpusStamp(emb, "id", "embedding")
    assert(graft.util.DiskArtifact.exists(s"knn$k-edges", stamp),
      "first graph query after ingest must not pay a rebuild")
    // ...and it matches a from-scratch exact build, chunk-keyed
    val viaLib = l.knnEdges().collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val idMap = l.embeddings.select(
        org.apache.spark.sql.functions.xxhash64(col("chunkId")).as("id"),
        col("chunkId"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val scratch = graft.operators.GraphRank
      .knnGraph(emb, "id", "embedding", k)
      .collect()
      .map(r => (idMap(r.getLong(0)), idMap(r.getLong(1)), r.getDouble(2)))
      .toSet
    assert(viaLib === scratch)
  }

  test("enableKnnEdges persists the edge source: bounded sources route the facade AND the ingest hook (VERDICT r18 #1b)") {
    val wh = tempDir("graft-wh-knnsrc").toString
    val l = new Library(spark, wh)
    val salt = wh.split('/').last.takeRight(8)
    l.addMarkdown((1 to 5).map(i => (s"/es$i.md",
      s"# ES$i $salt\n" + (s"edge source matrix corpus words $i $salt. " * 10)))
      .toDS())
    val k = 2
    def meta() = spark.read.parquet(s"$wh/knn_edges_meta").head()
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    // auto on a small corpus resolves to exact — and PERSISTS the
    // resolution (a stable maintenance contract, not a per-read flip)
    l.enableKnnEdges(k)
    assert(meta().getAs[String]("edgeSource") === "exact")
    val exactEdges = edgeSet(l.knnEdges())
    assert(exactEdges.nonEmpty)
    // bounded source: ivf at FULL probe is edge-for-edge exact while
    // fully distributed — the facade must serve identical edges
    l.enableKnnEdges(k, edgeSource = "ivf", nCells = 2, nProbe = 2)
    assert(meta().getAs[String]("edgeSource") === "ivf")
    assert(meta().getAs[Int]("nCells") === 2)
    assert(edgeSet(l.knnEdges()) === exactEdges)
    // the ingest hook deltas under the PERSISTED source: after a batch
    // the ivf-tagged artifact exists for the new corpus stamp and the
    // exact-tagged one does NOT — the N² path never ran
    l.addMarkdown(Seq((s"/es9.md",
      s"# ES9 $salt\n" + (s"post enable ingest fresh payload $salt. " * 10)))
      .toDS())
    val emb = l.embeddings.select(
      org.apache.spark.sql.functions.xxhash64(col("chunkId")).as("id"),
      col("embedding"))
    val stamp = graft.util.DiskArtifact.corpusStamp(emb, "id", "embedding")
    assert(graft.util.DiskArtifact.exists(s"knn$k-edges-ivf2-2-2-42", stamp),
      "the hook must maintain the PERSISTED bounded source")
    assert(!graft.util.DiskArtifact.exists(s"knn$k-edges", stamp),
      "the hook must not fall back to the N² exact kind")
    // ...and the maintained bounded artifact still equals from-scratch
    // exact on the grown corpus (full probe ≡ exact)
    val idMap = l.embeddings.select(
        org.apache.spark.sql.functions.xxhash64(col("chunkId")).as("id"),
        col("chunkId"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val scratch = graft.operators.GraphRank
      .knnGraph(emb, "id", "embedding", k).collect()
      .map(r => (idMap(r.getLong(0)), idMap(r.getLong(1)), r.getDouble(2)))
      .toSet
    assert(edgeSet(l.knnEdges()) === scratch)
    // auto past the size threshold resolves BOUNDED
    spark.conf.set("spark.graft.knnEdgesExactMax", "1")
    try {
      l.enableKnnEdges(k, nCells = 2, nProbe = 2)
      assert(meta().getAs[String]("edgeSource") === "ivf",
        "auto must route around N² past the size threshold")
    } finally spark.conf.unset("spark.graft.knnEdgesExactMax")
    // the remaining bounded sources flow through the facade too
    l.enableKnnEdges(k, edgeSource = "hnsw-sharded", nCells = 2)
    assert(meta().getAs[String]("edgeSource") === "hnsw-sharded")
    assert(l.knnEdges().groupBy("src_chunk").count().collect()
      .forall(_.getLong(1) <= k))
    l.enableKnnEdges(k, edgeSource = "srp", srpDim = 64)
    assert(meta().getAs[String]("edgeSource") === "srp")
    assert(l.knnEdges().collect().nonEmpty)
  }

  test("auto edge source re-resolves on corpus growth; a pinned exact source is honored (VERDICT r19 #1)") {
    val wh = tempDir("graft-wh-knngrow").toString
    val l = new Library(spark, wh)
    val salt = wh.split('/').last.takeRight(8)
    l.addMarkdown((1 to 4).map(i => (s"/gr$i.md",
      s"# GR$i $salt\n" + (s"growth guard corpus words $i $salt. " * 10)))
      .toDS())
    val k = 2
    def meta() = spark.read.parquet(s"$wh/knn_edges_meta").head()
    // enable small: auto resolves exact, and the POLICY persists too
    l.enableKnnEdges(k, nCells = 2, nProbe = 2)
    assert(meta().getAs[String]("edgeSource") === "exact")
    assert(meta().getAs[String]("policy") === "auto")
    // the corpus "grows" past the threshold (simulated by lowering it):
    // the next facade rebuild must RE-RESOLVE, route bounded, and
    // persist the flip — not run the N² shape forever
    spark.conf.set("spark.graft.knnEdgesExactMax", "1")
    try {
      val edges = l.knnEdges()
      assert(meta().getAs[String]("edgeSource") === "ivf",
        "auto policy must re-resolve past the threshold at rebuild time")
      assert(meta().getAs[String]("policy") === "auto",
        "the flip must persist the resolved source, never the policy")
      val emb = l.embeddings.select(
        org.apache.spark.sql.functions.xxhash64(col("chunkId")).as("id"),
        col("embedding"))
      val stamp = graft.util.DiskArtifact.corpusStamp(emb, "id", "embedding")
      assert(graft.util.DiskArtifact.exists(s"knn$k-edges-ivf2-2-2-42", stamp),
        "the re-resolved rebuild must land under the bounded kind")
      // full-probe ivf is edge-for-edge exact: the flip changes the
      // plan, never the answer
      val idMap = l.embeddings.select(
          org.apache.spark.sql.functions.xxhash64(col("chunkId")).as("id"),
          col("chunkId"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val scratch = graft.operators.GraphRank
        .knnGraph(emb, "id", "embedding", k).collect()
        .map(r => (idMap(r.getLong(0)), idMap(r.getLong(1)), r.getDouble(2)))
        .toSet
      assert(edges.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .toSet === scratch)
      // the ingest hook deltas under the FLIPPED source: after a batch
      // the ivf-kind artifact exists for the new stamp, the exact kind
      // does not
      l.addMarkdown(Seq((s"/gr9.md",
        s"# GR9 $salt\n" + (s"post flip ingest payload $salt. " * 10)))
        .toDS())
      val emb2 = l.embeddings.select(
        org.apache.spark.sql.functions.xxhash64(col("chunkId")).as("id"),
        col("embedding"))
      val stamp2 = graft.util.DiskArtifact.corpusStamp(emb2, "id", "embedding")
      assert(graft.util.DiskArtifact.exists(s"knn$k-edges-ivf2-2-2-42", stamp2))
      assert(!graft.util.DiskArtifact.exists(s"knn$k-edges", stamp2),
        "the hook must not fall back to the N² kind after the flip")
      // an EXPLICIT exact pin past the threshold is honored (it is the
      // certification shape) — warned about on stderr, never flipped
      l.enableKnnEdges(k, edgeSource = "exact")
      assert(meta().getAs[String]("policy") === "exact")
      l.knnEdges().collect()
      assert(meta().getAs[String]("edgeSource") === "exact",
        "an explicit exact pin must never be silently re-routed")
    } finally spark.conf.unset("spark.graft.knnEdgesExactMax")
  }

  test("removeDocument cascades to chunks and embeddings (S13)") {
    val wh2 = tempDir("graft-wh2").toString
    val l2 = new Library(spark, wh2)
    l2.addMarkdown(Seq(
      ("/a.md", "# A\n" + ("alpha content words here for chunking purposes. " * 10)),
      ("/b.md", "# B\n" + ("beta content words here for chunking purposes too. " * 10))).toDS())
    val idA = Library.docId("/a.md")
    l2.removeDocument(idA)
    val (nd, nc, ne) = l2.stats()
    assert(nd === 1)
    assert(l2.chunks.filter(s"docId = '$idA'").count() === 0)
    assert(nc === ne)
  }

  test("repair keeps the FTS index consistent with the repaired tables") {
    val wh = tempDir("graft-wh-repair").toString
    val l = new Library(spark, wh)
    l.addMarkdown(Seq(
      ("/a.md", "# A\n" + ("alpha searchable content with unique tokens. " * 10)),
      ("/b.md", "# B\n" + ("beta searchable content with other tokens. " * 10))).toDS())
    l.rebuildFtsIndex()
    l.buildVectorIndex(nCells = 2, nProbe = 2)
    // simulate a crash mid-remove: document row gone, chunks orphaned
    val idA = Library.docId("/a.md")
    graft.util.TableSwap.rewrite(s"$wh/documents",
      l.documents.filter(col("id") =!= idA))
    val (oc, oe) = l.repair()
    assert(oc > 0 && oe > 0)
    // the vector index survives repair cell-scoped (not invalidated)
    // and carries no orphan vector
    assert(new java.io.File(s"$wh/embeddings_ivf/_SUCCESS").exists())
    val ivfIds = spark.read.parquet(s"$wh/embeddings_ivf")
      .select("chunkId").collect().map(_.getString(0)).toSet
    assert(ivfIds === l.embeddings.select("chunkId")
      .collect().map(_.getString(0)).toSet)
    // postings/lens must only reference surviving chunks
    val liveIds = l.chunks.select("id").collect().map(_.getString(0)).toSet
    val postIds = spark.read.parquet(s"$wh/fts_postings")
      .select("id").distinct().collect().map(_.getString(0)).toSet
    val lenIds = spark.read.parquet(s"$wh/fts_lens")
      .select("id").collect().map(_.getString(0)).toSet
    assert(postIds.subsetOf(liveIds), "postings reference deleted chunks")
    assert(lenIds === liveIds, "lens out of sync with chunks")
    assertFtsStatsMatchLens(wh)
  }

  /** The denormalized layout's invariant: fts_stats == agg(fts_lens). */
  private def assertFtsStatsMatchLens(wh: String): Unit = {
    val st = spark.read.parquet(s"$wh/fts_stats")
      .agg(sum("n_docs"), sum("total_len")).head()
    val lens = spark.read.parquet(s"$wh/fts_lens")
      .agg(count(lit(1)), sum("doclen")).head()
    assert(st.getLong(0) === lens.getLong(0), "fts_stats n_docs stale vs lens")
    assert(st.getLong(1) === lens.getLong(1), "fts_stats total_len stale vs lens")
  }

  test("removeDocument refreshes fts_stats so later BM25 N/avgdl are live") {
    val wh = tempDir("graft-wh-rmstats").toString
    val l = new Library(spark, wh)
    l.addMarkdown(Seq(
      ("/a.md", "# A\n" + ("alpha searchable content with unique tokens. " * 10)),
      ("/b.md", "# B\n" + ("beta searchable content with other tokens. " * 10))).toDS())
    l.rebuildFtsIndex()
    l.removeDocument(Library.docId("/a.md"))
    assertFtsStatsMatchLens(wh)
    // and the surviving doc still ranks (search runs on live stats)
    assert(l.ftsSearch("beta", SearchOptions(limit = 5)).collect().nonEmpty)
  }

  test("exportTo copies the whole warehouse including taxonomy tables") {
    val wh = tempDir("graft-wh-exp").toString
    val l = new Library(spark, wh)
    l.addMarkdown(Seq(
      ("/a.md", "# A\n" + ("exportable content with some words. " * 10))).toDS())
    // a taxonomy sharing the warehouse — its tables are not rebuildable
    val tax = new TaxonomyStore(spark, wh, new graft.sources.HashingEmbedder(64))
    val seedJson = tempDir("seed").resolve("seed.json")
    Files.write(seedJson,
      """{"concepts": [{"id": "c1", "prefLabel": "Concept One"}]}""".getBytes)
    tax.seed(seedJson.toString)
    val dest = tempDir("graft-exp-dest").toString
    l.exportTo(dest)
    assert(spark.read.parquet(s"$dest/documents").count() === 1)
    assert(spark.read.parquet(s"$dest/concepts").count() === 1)
  }

  test("multiScaleSearch applies the threshold to summary hits too") {
    val wh = tempDir("graft-wh-ms").toString
    val l = new Library(spark, wh)
    l.addMarkdown(Seq(
      ("/a.md", "# A\n" + ("alpha topic content for clustering purposes. " * 10)),
      ("/b.md", "# B\n" + ("beta topic content for clustering purposes. " * 10))).toDS())
    l.buildClusterSummaries(2)
    val out = l.multiScaleSearch("alpha topic",
      SearchOptions(threshold = Some(1.1))) // impossible threshold
    assert(out.isEmpty, "threshold must filter summary hits as well")
  }

  test("phrase search post-delete equals a warehouse that never held the victim") {
    // the positional tier (q57 path) derives from the chunks table, so
    // its delete correctness IS the chunks rewrite — pin it end to end
    def mk(i: Int) = (s"/p/doc$i.md",
      s"# P$i\n" + (s"the quick brown fox jumps over fence number $i. " * 5))
    val wh = tempDir("graft-phrase").toString
    val l = new Library(spark, wh)
    l.addMarkdown((1 to 6).map(mk).toDS())
    def phrase(lib2: Library): Seq[(String, Long)] =
      graft.operators.Bm25.phraseOccurrences(
        graft.operators.Bm25.positionalPostings(lib2.chunks, "id", "content"),
        Seq("quick", "brown", "fox"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val before = phrase(l)
    assert(before.size === 6)
    val victim = Library.docId("/p/doc3.md")
    l.removeDocument(victim)
    val after = phrase(l)
    assert(after.nonEmpty && !after.exists(_._1.startsWith(victim)))
    // byte-exact vs a rebuilt-from-scratch warehouse without the victim
    // (same paths -> same doc/chunk ids, so the comparison is direct)
    val wh2 = tempDir("graft-phrase2").toString
    val l2 = new Library(spark, wh2)
    l2.addMarkdown((1 to 6).filter(_ != 3).map(mk).toDS())
    assert(after === phrase(l2))
  }
}
