package graft

import graft.model.SearchOptions
import org.apache.spark.sql.functions._

/** Capstone integration: the real testdata corpus flows through the
  * whole facade — ingest, persisted FTS index with incremental
  * maintenance, hybrid search, clustering, multi-scale retrieval — and
  * the SQL surface reaches the native functions. */
class IntegrationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val lib = {
    val wh = tempDir("graft-int").toString
    val l = new Library(spark, wh)
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .limit(120)
      .select(concat(lit("/corpus/doc"), col("doc_id"), lit(".md")).as("path"),
        col("text").as("content"))
      .as[(String, String)]
    l.addMarkdown(corpus)
    l
  }

  test("testdata corpus: ingest + hybrid search end-to-end") {
    val (nd, nc, ne) = lib.stats()
    assert(nd === 120)
    assert(nc >= nd && ne === nc)
    val res = lib.search("hash join", SearchOptions(limit = 10)).collect()
    assert(res.nonEmpty)
    assert(res.forall(r => r.getAs[Double]("score") > 0))
  }

  test("persisted FTS index: same results as on-the-fly, appends on ingest") {
    val onTheFly = lib.ftsSearch("merge sort", SearchOptions(limit = 10))
      .collect().map(r => (r.getAs[String]("docId"), r.getAs[Double]("score"))).toSeq
    lib.rebuildFtsIndex()
    val indexed = lib.ftsSearch("merge sort", SearchOptions(limit = 10))
      .collect().map(r => (r.getAs[String]("docId"), r.getAs[Double]("score"))).toSeq
    assert(indexed === onTheFly)

    // incremental maintenance: new doc becomes searchable without rebuild
    lib.addMarkdown(Seq(("/corpus/fresh.md",
      "# Fresh\n" + ("zanzibar unique token content for retrieval test. " * 8)))
      .toDS())
    val hit = lib.ftsSearch("zanzibar", SearchOptions(limit = 5)).collect()
    assert(hit.nonEmpty)
    assert(hit.head.getAs[String]("docId") === Library.docId("/corpus/fresh.md"))

    // removal maintains the index (term disappears)
    lib.removeDocument(Library.docId("/corpus/fresh.md"))
    assert(lib.ftsSearch("zanzibar", SearchOptions(limit = 5)).count() === 0)
  }

  test("RAPTOR over the corpus: summaries fuse into multi-scale results") {
    lib.buildClusterSummaries(k = 4)
    assert(lib.clusterSummaries.count() === 4)
    val top = lib.multiScaleSearch("window aggregation", SearchOptions(limit = 10))
      .collect()
    assert(top.length === 10) // merged ranking is well-formed
    // summary rows compete in the same ranking: widening the limit past
    // the chunk count must surface them with the synthetic identity
    val wide = lib.multiScaleSearch("window aggregation", SearchOptions(limit = 200))
      .collect()
    val clusterRows = wide.filter(_.getAs[String]("matchType") === "cluster")
    assert(clusterRows.nonEmpty)
    assert(clusterRows.forall(_.getAs[String]("title") === "Cluster Summary"))
  }

  test("vector index: full-probe IVF search equals brute force; partial probe prunes") {
    val exact = lib.search("hash join", SearchOptions(limit = 10, hybrid = false))
      .collect().map(_.getAs[String]("docId") -> 0).map(_._1).toSeq
    lib.buildVectorIndex(nCells = 6, nProbe = 6)
    val viaIndex = lib.search("hash join", SearchOptions(limit = 10, hybrid = false))
      .collect().map(_.getAs[String]("docId")).toSeq
    assert(viaIndex === exact) // full probe is exact
    lib.buildVectorIndex(nCells = 6, nProbe = 2)
    val probed = lib.search("hash join", SearchOptions(limit = 10, hybrid = false))
    assert(probed.count() > 0) // pruned probe still returns ranked hits

    // ingest after an index build lands in the always-probed delta
    // bucket: the new doc must be visible to vector search WITHOUT a
    // rebuild, and the index must survive (stale-index regression +
    // delta-bucket behavior)
    lib.addMarkdown(Seq(("/corpus/post-index.md",
      "# PostIndex\n" + ("quetzal rare marker content for vector search. " * 8))).toDS())
    val after = lib.search("quetzal rare marker",
      SearchOptions(limit = 5, hybrid = false)).collect()
    assert(after.map(_.getAs[String]("docId"))
      .contains(Library.docId("/corpus/post-index.md")))
    // index still present, new vectors in the delta partition
    val ivf = spark.read.parquet(s"${lib.warehouse}/embeddings_ivf")
    assert(ivf.filter(col("__cell") === -1).count() > 0,
      "appended vectors must land in the delta bucket")
    // a rebuild compacts the delta into real cells
    lib.buildVectorIndex(nCells = 6, nProbe = 6)
    val rebuilt = spark.read.parquet(s"${lib.warehouse}/embeddings_ivf")
    assert(rebuilt.filter(col("__cell") === -1).count() === 0)
    val again = lib.search("quetzal rare marker",
      SearchOptions(limit = 5, hybrid = false)).collect()
    assert(again.map(_.getAs[String]("docId"))
      .contains(Library.docId("/corpus/post-index.md")))
  }

  test("IVF delta auto-compaction folds an outgrown delta to zero on ingest") {
    val wh = tempDir("graft-compact").toString
    // floor of 1 row: at this corpus size the fraction gate decides
    val l = new Library(spark, wh, ivfCompactMinRows = 1L)
    l.addMarkdown((1 to 12).map(i => (s"/c/base$i.md",
      s"# Base$i\n" + (s"baseline corpus doc number $i with words. " * 8))).toDS())
    l.buildVectorIndex(nCells = 3, nProbe = 3)
    // one small doc: under 10% of indexed rows -> stays in the delta
    l.addMarkdown(Seq(("/c/small.md",
      "# Small\n" + ("tiny trickle append that should not compact. " * 8))).toDS())
    val ivfPath = s"$wh/embeddings_ivf"
    assert(spark.read.parquet(ivfPath).filter(col("__cell") === -1).count() > 0,
      "sub-threshold append must stay in the delta bucket")
    // a batch larger than 10% of the indexed rows -> auto-rebuild
    l.addMarkdown((1 to 6).map(i => (s"/c/big$i.md",
      s"# Big$i\n" + (s"large append batch doc $i forcing compaction. " * 8))).toDS())
    assert(spark.read.parquet(ivfPath).filter(col("__cell") === -1).count() === 0,
      "threshold-crossing append must trigger delta compaction")
    // compacted index still serves the appended content
    val hits = l.search("forcing compaction", SearchOptions(limit = 5, hybrid = false))
    assert(hits.count() > 0)
  }

  test("delete on an indexed warehouse is cell-scoped: index survives and stays exact") {
    val wh = tempDir("graft-del").toString
    val l = new Library(spark, wh)
    l.addMarkdown((1 to 15).map(i => (s"/d/doc$i.md",
      s"# Doc$i\n" + (s"retrieval corpus doc number $i hash join words. " * 8))).toDS())
    l.buildVectorIndex(nCells = 3, nProbe = 3)
    val qv = l.embedder.embed("hash join")
    val victims = Seq("/d/doc3.md", "/d/doc7.md", "/d/doc11.md").map(Library.docId)
    val before = l.vectorSearch(qv, SearchOptions(limit = 15)).collect()
    assert(victims.forall(before.map(_.getAs[String]("docId")).contains))

    victims.foreach(l.removeDocument)
    // the index SURVIVES deletes (cell-scoped rewrite, not wholesale
    // invalidation) and carries no dead vector
    assert(new java.io.File(s"$wh/embeddings_ivf/_SUCCESS").exists())
    val ivf = spark.read.parquet(s"$wh/embeddings_ivf")
    victims.foreach(v =>
      assert(ivf.filter(col("chunkId").startsWith(v)).count() === 0))
    // the compaction gate's denominator tracks the shrunken index
    assert(spark.read.parquet(s"$wh/embeddings_ivf_meta")
      .select("indexedRows").head().getLong(0) === l.embeddings.count())
    def res(lib2: Library) = lib2.vectorSearch(qv, SearchOptions(limit = 8))
      .collect().map(r => (r.getAs[String]("docId"), r.getAs[Int]("chunkIndex"),
        r.getAs[Double]("score"))).toSeq
    val probed = res(l) // full probe (nProbe = nCells) -> exact by contract
    assert(probed.nonEmpty)
    assert(!probed.map(_._1).exists(victims.contains))
    // ...and identical to the true exact scan: strip the index tables
    // and compare against a fresh never-indexed Library on the same data
    graft.util.TableSwap.delete(new java.io.File(s"$wh/embeddings_ivf"))
    graft.util.TableSwap.delete(new java.io.File(s"$wh/embeddings_ivf_meta"))
    assert(probed === res(new Library(spark, wh)))
  }

  test("export/import round-trip: imported warehouse serves identical hybrid search") {
    // persist the FTS index first so the export carries postings + stats
    // and the imported library's search exercises the indexed path
    lib.rebuildFtsIndex()
    def run(l: Library) =
      l.search("hash join", SearchOptions(limit = 10)).collect()
        .map(r => (r.getAs[String]("docId"), r.getAs[Int]("chunkIndex"),
          r.getAs[Double]("score"), r.getAs[String]("matchType"))).toSeq
    val before = run(lib)
    assert(before.nonEmpty)

    val dest = tempDir("graft-export").toString
    lib.exportTo(dest)
    // fts_stats travels with the export: the first search on the import
    // must score with live N/avgdl, not rebuild or migrate in place
    assert(new java.io.File(s"$dest/fts_stats/_SUCCESS").exists(),
      "export must include the denormalized FTS stats table")
    val imported = new Library(spark, dest)
    assert(run(imported) === before)
    // and the import is a full working warehouse: stats match too
    assert(imported.stats() === lib.stats())
  }

  test("FULL-tier export round-trip: sharded serving + bounded edge artifact + sketches + FTS all restore and serve identically (VERDICT r18 #8)") {
    // the integration seam where torn-state classes hide: a warehouse
    // with EVERY maintained artifact enabled, maintained by a
    // post-enable ingest, exported, and restored — the restore must
    // serve identically through every tier
    val wh = tempDir("graft-full-exp").toString
    val l = new Library(spark, wh)
    val salt = wh.split('/').last.takeRight(8)
    l.addMarkdown((1 to 16).map(i => (s"/fx/doc$i.md",
      s"# Doc$i $salt\n" + (s"full tier export corpus text $i $salt words. " * 8)))
      .toDS())
    l.rebuildFtsIndex()
    l.enableShardedServing(nCells = 2)
    l.enableKnnEdges(k = 2, edgeSource = "ivf", nCells = 2, nProbe = 2)
    // a maintenance batch AFTER enabling: every tier is now in its
    // MAINTAINED state (sharded epoch 1 + retention, edge delta,
    // merged sketches, appended postings) — the state the export must
    // flatten correctly
    l.addMarkdown((1 to 4).map(i => (s"/fx/new$i.md",
      s"# New$i $salt\n" + (s"novel maintained payload $i $salt tokens. " * 8)))
      .toDS())
    val dest = tempDir("graft-full-exp2").toString
    l.exportTo(dest)
    val r = new Library(spark, dest)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val qv = l.embedder.embed(s"novel maintained payload $salt")
    val opts = SearchOptions(limit = 5)
    // ANN serving through the restored sharded tier (auto-probe
    // default), plus the explicit full-coverage mode
    assert(rows(r.annSearch(qv, opts)) === rows(l.annSearch(qv, opts)))
    assert(rows(r.annSearch(qv, opts, nProbe = 0))
      === rows(l.annSearch(qv, opts, nProbe = 0)))
    // the restored tier really is the sharded one, not a fallback
    assert(new java.io.File(s"$dest/embeddings_hnsw_sharded/_SUCCESS")
      .exists())
    // FTS + hybrid
    assert(rows(r.ftsSearch(s"novel maintained $salt", opts))
      === rows(l.ftsSearch(s"novel maintained $salt", opts)))
    assert(rows(r.search(s"maintained payload $salt", opts))
      === rows(l.search(s"maintained payload $salt", opts)))
    // the bounded edge artifact: the persisted source config travels,
    // and the restored read rebuilds through it to the same edges
    assert(spark.read.parquet(s"$dest/knn_edges_meta").collect().toSeq
      === spark.read.parquet(s"$wh/knn_edges_meta").collect().toSeq)
    assert(r.knnEdges().collect().map(_.toSeq).toSet
      === l.knnEdges().collect().map(_.toSeq).toSet)
    // maintained sketch states: canonical layouts — row-identical
    for (t <- Seq("sketch_hll", "sketch_cms", "sketch_kmv")) {
      assert(spark.read.parquet(s"$dest/$t").collect().map(_.toSeq).toSet
        === spark.read.parquet(s"$wh/$t").collect().map(_.toSeq).toSet,
        s"$t did not round-trip")
    }
    assert(rows(r.sketchDistinctTokens) === rows(l.sketchDistinctTokens))
    assert(rows(r.sketchKmvDistinct) === rows(l.sketchKmvDistinct))
    // the restored warehouse is a full working library
    assert(r.stats() === l.stats())
    // ...and stays maintainable: an ingest into the RESTORED warehouse
    // maintains its tiers without dropping them
    r.addMarkdown(Seq((s"/fx/post.md",
      s"# Post\n" + (s"post restore ingest $salt body. " * 8))).toDS())
    val qv2 = r.embedder.embed(s"post restore ingest $salt")
    assert(new java.io.File(s"$dest/embeddings_hnsw_sharded/_SUCCESS")
      .exists(), "the restored tier must survive a maintenance batch")
    assert(rows(r.annSearch(qv2, opts)).nonEmpty)
  }

  test("driver contract: entry() returns rows; every query has matching oracle columns") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle key refers to a declared query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // query names are unique
    assert(SparkEntry.allQueries.map(_.name).distinct.size ===
      SparkEntry.allQueries.size)
  }

  test("bulk index delete issues a constant number of Spark jobs regardless of cell count") {
    def jobsForDelete(nVictims: Int): Int = {
      val wh = tempDir("graft-bulkdel").toString
      val l = new Library(spark, wh)
      l.addMarkdown((1 to 24).map(i => (s"/j/doc$i.md",
        s"# Doc$i\n" + (s"job count corpus doc number $i assorted words. " * 8))).toDS())
      l.buildVectorIndex(nCells = 6, nProbe = 6)
      // victims spread across docs -> spread across cells
      val dead = l.chunks
        .filter(col("docId").isin((1 to nVictims).map(i =>
          Library.docId(s"/j/doc${i * 5}.md")): _*))
        .select(col("id").as("chunkId"))
        .localCheckpoint() // job-count isolation: no lineage re-runs inside the listener window
      var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        l.removeFromVectorIndex(dead)
        Thread.sleep(1500) // listener events are async; drain is symmetric across both runs
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs
    }
    val one = jobsForDelete(1)
    val four = jobsForDelete(4)
    assert(one > 0)
    // O(1) jobs in the number of affected cells: the survivors rewrite
    // is one partitioned write + driver-side renames, so a delete
    // spanning 4x the docs (and more cells) costs no extra jobs
    assert(four === one, s"bulk delete grew from $one to $four jobs")
  }

  test("threshold compaction FOLDS the delta onto existing centroids and stays exact") {
    val wh = tempDir("graft-fold").toString
    val l = new Library(spark, wh, ivfCompactMinRows = 1L)
    l.addMarkdown((1 to 12).map(i => (s"/f/base$i.md",
      s"# Base$i\n" + (s"fold corpus baseline doc number $i with words. " * 8))).toDS())
    l.buildVectorIndex(nCells = 3, nProbe = 3)
    val metaPath = s"$wh/embeddings_ivf_meta"
    def centers() = spark.read.parquet(metaPath).orderBy("cell")
      .select("center").collect().map(_.getSeq[Double](0)).toSeq
    val fitted = centers()
    // 4 docs ≈ 33% of indexed: crosses the 10% gate but stays inside
    // the 2x refit factor -> must fold, not refit
    l.addMarkdown((1 to 4).map(i => (s"/f/grow$i.md",
      s"# Grow$i\n" + (s"fold append growth doc $i extra words here. " * 8))).toDS())
    val ivf = spark.read.parquet(s"$wh/embeddings_ivf")
    assert(ivf.filter(col("__cell") === -1).count() === 0,
      "gate-crossing append must compact the delta")
    assert(centers() === fitted,
      "a fold must not move centroids (that would be a refit)")
    val meta = spark.read.parquet(metaPath)
    assert(meta.select("indexedRows").head().getLong(0) === l.embeddings.count())
    assert(meta.select("builtRows").head().getLong(0) < l.embeddings.count())
    // folded index serves probed results identical to a never-indexed scan
    val qv = l.embedder.embed("fold append growth")
    def res(lib2: Library) = lib2.vectorSearch(qv, SearchOptions(limit = 8))
      .collect().map(r => (r.getAs[String]("docId"), r.getAs[Int]("chunkIndex"),
        r.getAs[Double]("score"))).toSeq
    val probed = res(l)
    assert(probed.nonEmpty)
    graft.util.TableSwap.delete(new java.io.File(s"$wh/embeddings_ivf"))
    graft.util.TableSwap.delete(new java.io.File(metaPath))
    assert(probed === res(new Library(spark, wh)))
  }

  test("compaction past the refit factor re-fits the quantizer in full") {
    val wh = tempDir("graft-refit").toString
    // refit factor 1.2: a 33% growth burst must trigger a full refit
    val l = new Library(spark, wh, ivfCompactMinRows = 1L, ivfRefitFactor = 1.2)
    l.addMarkdown((1 to 12).map(i => (s"/r/base$i.md",
      s"# Base$i\n" + (s"refit corpus baseline doc number $i with words. " * 8))).toDS())
    l.buildVectorIndex(nCells = 3, nProbe = 3)
    l.addMarkdown((1 to 4).map(i => (s"/r/grow$i.md",
      s"# Grow$i\n" + (s"refit append growth doc $i extra words here. " * 8))).toDS())
    val meta = spark.read.parquet(s"$wh/embeddings_ivf_meta")
    // a full refit re-stamps builtRows at the new corpus size
    assert(meta.select("builtRows").head().getLong(0) === l.embeddings.count())
    assert(spark.read.parquet(s"$wh/embeddings_ivf")
      .filter(col("__cell") === -1).count() === 0)
  }

  test("SQL surface: views + native functions compose in plain SQL") {
    GraftSession.setup(spark, sf)
    val knn = spark.sql("""
      SELECT vec_id FROM embeddings
      WHERE vec_id <> 0
      ORDER BY cosine_similarity(embedding,
        (SELECT first(embedding) FROM embeddings WHERE vec_id = 0)) DESC, vec_id
      LIMIT 5""").collect().map(_.getLong(0))
    assert(knn.length === 5)
    val j = spark.sql("""
      SELECT array_jaccard(shingle_set('abcdefgh'), shingle_set('abcdefgh')) AS j
    """).head().getDouble(0)
    assert(j === 1.0)
    val sh = spark.sql("SELECT simhash('one two three') AS s").head().getLong(0)
    assert(sh === spark.sql("SELECT simhash('three two one two') AS s").head().getLong(0))
  }
}
