package graft.operators

import graft.SparkSpec
import graft.model.SearchOptions
import org.apache.spark.sql.functions._

/** HNSW graph ANN (Malkov & Yashunin 2016) — the single-query serving
  * tier. Certification: recall against brute force on the real
  * testdata embeddings, build determinism, persistence roundtrip, and
  * the Library facade integration (including the tombstone interplay). */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vectors: Array[(Long, Array[Float])] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)

  private def bruteTopK(q: Array[Float], k: Int): Seq[Long] =
    vectors.map { case (id, v) => (id, Hnsw.dist(v, q)) }
      .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSeq

  test("recall@10 >= 0.95 against brute force on the testdata embeddings") {
    val g = Hnsw.build(vectors.toSeq, m = 16, efConstruction = 100)
    val queries = vectors.indices.by(vectors.length / 25 + 1)
      .map(i => vectors(i)._2)
    val recalls = queries.map { q =>
      val want = bruteTopK(q, 10).toSet
      val got = Hnsw.searchKnn(g, q, 10, ef = 64).map(_._1).toSet
      (want & got).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95, f"mean recall@10 $mean%.3f over ${recalls.size} queries")
  }

  test("build is deterministic: two builds answer identically") {
    val g1 = Hnsw.build(vectors.take(300).toSeq, m = 8, efConstruction = 60)
    val g2 = Hnsw.build(vectors.take(300).toSeq, m = 8, efConstruction = 60)
    vectors.take(10).foreach { case (_, q) =>
      assert(Hnsw.searchKnn(g1, q, 5) === Hnsw.searchKnn(g2, q, 5))
    }
  }

  test("parquet persistence roundtrip preserves every search answer") {
    val sub = vectors.take(400).toSeq
    val g = Hnsw.build(sub, m = 8, efConstruction = 60)
    val edges = Hnsw.toDF(spark, g)
    val g2 = Hnsw.fromDF(edges, sub, g.m, g.efConstruction, g.seed)
    assert(g2.entryPoint === g.entryPoint && g2.maxLevel === g.maxLevel)
    sub.take(15).foreach { case (_, q) =>
      assert(Hnsw.searchKnn(g2, q, 8) === Hnsw.searchKnn(g, q, 8))
    }
  }

  test("incremental insert: recall holds, determinism, existing ids skipped") {
    val base = vectors.take(300).toSeq
    val extra = vectors.slice(300, 400).toSeq
    val g0 = Hnsw.build(base, m = 8, efConstruction = 60)
    val g1 = Hnsw.insert(g0, extra)
    assert(g1.size === 400)
    // recall@10 over the UNION, queried through the incremental graph
    val all = (base ++ extra).toMap
    def brute(q: Array[Float], k: Int): Seq[Long] =
      all.toSeq.map { case (id, v) => (id, Hnsw.dist(v, q)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
    val recalls = (base.take(10) ++ extra.take(10)).map { case (_, q) =>
      val want = brute(q, 10).toSet
      val got = Hnsw.searchKnn(g1, q, 10, ef = 64).map(_._1).toSet
      (want & got).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, f"incremental recall@10 $mean%.3f")
    // deterministic: same base + same batch -> identical answers
    val g1b = Hnsw.insert(Hnsw.build(base, m = 8, efConstruction = 60), extra)
    extra.take(10).foreach { case (_, q) =>
      assert(Hnsw.searchKnn(g1, q, 5) === Hnsw.searchKnn(g1b, q, 5))
    }
    // already-present ids are skipped, empty batch is the same graph
    assert(Hnsw.insert(g1, base.take(5)).size === 400)
    assert(Hnsw.insert(g1, Seq.empty) eq g1)
    // a batch repeating an id inserts ONE node — the first occurrence
    // (ADVICE r14: duplicate ids would break id-tie-break determinism)
    val dupId = extra.head._1 + 1000000L
    val dupBatch = Seq(dupId -> extra.head._2, dupId -> extra(1)._2)
    val gDup = Hnsw.insert(g1, dupBatch)
    assert(gDup.size === 401)
    assert(gDup.ids.count(_ == dupId) === 1)
    // and it carries the FIRST occurrence's vector: searching with that
    // vector finds dupId at distance ~0
    val hit = Hnsw.searchKnn(gDup, extra.head._2, 2, ef = 32)
    assert(hit.map(_._1).contains(dupId))
    // persistence roundtrip of the incremental graph
    val g2 = Hnsw.fromDF(Hnsw.toDF(spark, g1), base ++ extra,
      g1.m, g1.efConstruction, g1.seed)
    extra.take(5).foreach { case (_, q) =>
      assert(Hnsw.searchKnn(g2, q, 5) === Hnsw.searchKnn(g1, q, 5))
    }
  }

  test("searchKnnBatch == n independent searchKnn calls; distributed over partitions") {
    import spark.implicits._
    val g = Hnsw.build(vectors.take(300).toSeq, m = 8, efConstruction = 60)
    val queries = vectors.slice(300, 340).toSeq
    val want = queries.flatMap { case (qid, v) =>
      Hnsw.searchKnn(g, v, 5, ef = 48).zipWithIndex.map {
        case ((id, d), i) => (qid, i + 1, id, d) }
    }.toSet
    val got = Hnsw.searchKnnBatch(g,
        queries.toDF("vec_id", "embedding").repartition(7),
        "vec_id", "embedding", 5, ef = 48)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
    assert(got.size === queries.size * 5)
  }

  test("ingest after buildHnswIndex maintains the graph — new docs are findable") {
    val wh = tempDir("graft-hnsw4").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 25).map(i => (s"/hi/doc$i.md",
      s"# Doc$i\n" + (s"baseline corpus retrieval text $i body. " * 6)))
      .toDS())
    lib.buildHnswIndex(m = 8, efConstruction = 80)
    // ingest AFTER the build: the maintenance path must insert, not stale
    lib.addMarkdown((1 to 6).map(i => (s"/hi/new$i.md",
      s"# New$i\n" + (s"zephyr quasar novelty payload $i tokens. " * 6)))
      .toDS())
    val qv = lib.embedder.embed("zephyr quasar novelty payload")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[String]("docId")).toSeq
    val viaGraph = ids(lib.hnswSearch(qv,
      graft.model.SearchOptions(limit = 5), ef = 128))
    val exact = ids(lib.vectorSearch(qv, graft.model.SearchOptions(limit = 5)))
    // the exact head (a new doc) must be served by the graph tier too
    assert(exact.nonEmpty && viaGraph.contains(exact.head),
      s"graph=$viaGraph exact=$exact")
    // and a COLD reload (fresh Library over the same warehouse) agrees
    val lib2 = new graft.Library(spark, wh)
    val cold = ids(lib2.hnswSearch(qv,
      graft.model.SearchOptions(limit = 5), ef = 128))
    assert(cold === viaGraph, s"cold=$cold warm=$viaGraph")
  }

  test("fromDF tolerates ids missing from the vector set (ADVICE r13)") {
    val sub = vectors.take(400).toSeq
    val g = Hnsw.build(sub, m = 8, efConstruction = 60)
    val edges = Hnsw.toDF(spark, g) // references every build-time id
    // physically delete 1 in 4 vectors, including whatever holds the
    // top level: the stale edge table must load against the survivors
    val live = sub.zipWithIndex.collect { case (v, i) if i % 4 != 0 => v }
    val g2 = Hnsw.fromDF(edges, live, g.m, g.efConstruction, g.seed)
    val liveIds = live.map(_._1).toSet
    live.take(10).foreach { case (_, q) =>
      val got = Hnsw.searchKnn(g2, q, 8)
      assert(got.nonEmpty && got.forall { case (id, _) => liveIds(id) })
    }
    // empty survivor set fails loudly instead of a maxBy crash
    intercept[IllegalArgumentException] {
      Hnsw.fromDF(edges, Seq.empty, g.m, g.efConstruction, g.seed)
    }
  }

  test("cold hnswSearch works after removeDocumentFast + compactTombstones (ADVICE r13)") {
    val wh = tempDir("graft-hnsw3").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 30).map(i => (s"/hc/doc$i.md",
      s"# Doc$i\n" + (s"compaction survivor corpus text $i search body. " * 6)))
      .toDS())
    lib.buildHnswIndex(m = 8, efConstruction = 80)
    val qv = lib.embedder.embed("corpus text search")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[String]("docId")).toSeq
    val before = ids(lib.hnswSearch(qv, SearchOptions(limit = 6), ef = 128))
    val victim = before.head
    lib.removeDocumentFast(victim)
    lib.compactTombstones() // physical delete: embeddings rows are GONE
    // compaction cleared the warm cache, so this load is cold against
    // the stale persisted edge table — the r13 crash path
    val after = ids(lib.hnswSearch(qv, SearchOptions(limit = 6), ef = 128))
    assert(after.nonEmpty && !after.contains(victim), s"after=$after")
    // the exact path agrees the victim is gone
    assert(!ids(lib.vectorSearch(qv, SearchOptions(limit = 6)))
      .contains(victim))
    // removeDocument (the rewrite path) also invalidates the warm graph
    val victim2 = after.head
    lib.removeDocument(victim2)
    val after2 = ids(lib.hnswSearch(qv, SearchOptions(limit = 6), ef = 128))
    assert(!after2.contains(victim2), s"after2=$after2")
  }

  test("Library facade: hnswSearch ≈ exact vectorSearch; fast-deleted docs drop out") {
    val wh = tempDir("graft-hnsw").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 40).map(i => (s"/hnsw/doc$i.md",
      s"# Doc$i\n" + (s"graph index corpus document $i retrieval body. " * 6)))
      .toDS())
    lib.buildHnswIndex(m = 8, efConstruction = 80)
    val qv = lib.embedder.embed("corpus document retrieval")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[String]("docId")).toSeq
    val exact = ids(lib.vectorSearch(qv, SearchOptions(limit = 8)))
    val viaGraph = ids(lib.hnswSearch(qv, SearchOptions(limit = 8), ef = 128))
    val overlap = (exact.toSet & viaGraph.toSet).size.toDouble / exact.size
    assert(overlap >= 0.75, s"exact=$exact graph=$viaGraph")
    // a tombstoned doc's chunks never surface, without an index rebuild
    val victim = exact.head
    lib.removeDocumentFast(victim)
    val after = ids(lib.hnswSearch(qv, SearchOptions(limit = 8), ef = 128))
    assert(!after.contains(victim))
    // no index -> clean fallback to the exact path
    val bare = new graft.Library(spark,
      tempDir("graft-hnsw2").toString)
    bare.addMarkdown(Seq(("/h2/a.md", "# A\nfallback body words. " * 8)).toDS())
    assert(bare.hnswSearch(qv, SearchOptions(limit = 3)).columns
      === bare.vectorSearch(qv, SearchOptions(limit = 3)).columns)
  }

  test("driver-residency budget: an over-budget corpus degrades LOUDLY to the exact scan, never a driver-side rebuild (VERDICT r18 #5)") {
    val wh = tempDir("graft-hnswbud").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 12).map(i => (s"/hb/doc$i.md",
      s"# Doc$i\n" + (s"driver budget corpus words $i body here. " * 6)))
      .toDS())
    lib.buildHnswIndex(m = 8, efConstruction = 80)
    val qv = lib.embedder.embed("driver budget corpus words")
    val opts = graft.model.SearchOptions(limit = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(lib.hnswSearch(qv, opts)).nonEmpty)
    // shrink the budget below the corpus: a FRESH library (cold cache)
    // must refuse the driver-side rebuild and serve the exact rows —
    // through hnswSearch AND the annSearch dispatch
    val over = new graft.Library(spark, wh)
    over.driverBudget = 1L
    val exact = rows(over.vectorSearch(qv, opts))
    assert(rows(over.hnswSearch(qv, opts)) === exact)
    assert(rows(over.annSearch(qv, opts)) === exact)
    // default budget: the tier loads again (nothing was dropped)
    val back = new graft.Library(spark, wh)
    assert(rows(back.hnswSearch(qv, opts)).nonEmpty)
  }
}
