package graft

import graft.model.SearchOptions
import org.apache.spark.sql.functions._

/** The O(delta) delete path (VERDICT r12 #3): merge-on-read tombstones
  * must be QUERY-EQUIVALENT to the rewrite path, must not rewrite any
  * corpus table (file-inventory pinned), and compaction must converge
  * the warehouse to exactly what the rewrite path produces. */
class TombstoneSpec extends SparkSpec {
  import spark.implicits._

  // identical doc PATHS (and so identical ids) in every warehouse —
  // only the temp dir differs, so results compare across libraries
  private def mkLib(prefix: String, docs: Int = 24): Library = {
    val wh = tempDir(prefix).toString
    val l = new Library(spark, wh)
    l.addMarkdown((1 to docs).map(i => (s"/tomb/doc$i.md",
      s"# Doc$i\n" + (s"tombstone corpus document number $i retrieval words. " * 6) +
        (if (i == 7) "xylophone unique marker token appears here. " * 4 else "")))
      .toDS())
    l.rebuildFtsIndex()
    l.buildVectorIndex(nCells = 4, nProbe = 4)
    l
  }

  private def snapshot(l: Library): (Seq[String], Seq[(String, Double)],
      Seq[(String, Double)], (Long, Long, Long)) = (
    l.listDocuments().collect().map(_.getAs[String]("id")).toSeq,
    l.ftsSearch("retrieval words", SearchOptions(limit = 10)).collect()
      .map(r => (r.getAs[String]("docId"), r.getAs[Double]("score"))).toSeq,
    l.search("corpus document", SearchOptions(limit = 10, hybrid = false))
      .collect().map(r => (r.getAs[String]("docId"), r.getAs[Double]("score"))).toSeq,
    l.stats())

  private def files(wh: String, table: String): Set[String] = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getAbsolutePath)
    walk(new java.io.File(s"$wh/$table")).toSet
  }

  test("fast delete ≡ rewrite delete on every query surface") {
    val a = mkLib("tomb-rw")
    val b = mkLib("tomb-fast")
    val dead = Library.docId("/tomb/doc7.md")
    a.removeDocument(dead)
    b.removeDocumentFast(dead)
    val (docsA, ftsA, vecA, statsA) = snapshot(a)
    val (docsB, ftsB, vecB, statsB) = snapshot(b)
    assert(docsA === docsB)
    assert(ftsA.map(_._2) === ftsB.map(_._2)) // identical BM25 scores: df/N/avgdl all live-only
    assert(vecA.map(_._2) === vecB.map(_._2))
    assert(statsA === statsB)
    // the unique token of the deleted doc is gone on both paths
    assert(a.ftsSearch("xylophone", SearchOptions(limit = 5)).count() === 0)
    assert(b.ftsSearch("xylophone", SearchOptions(limit = 5)).count() === 0)
  }

  test("fast delete writes only delta: corpus table files untouched") {
    val l = mkLib("tomb-odelta")
    val before = Seq("documents", "chunks", "embeddings", "fts_postings",
      "fts_lens", "embeddings_ivf").map(t => t -> files(l.warehouse, t)).toMap
    l.removeDocumentFast(Library.docId("/tomb/doc3.md"))
    before.foreach { case (t, fs) =>
      assert(files(l.warehouse, t) === fs, s"table $t was rewritten")
    }
    // the delta landed: tombstones exist, fts_stats gained a negative row
    assert(files(l.warehouse, "tombstones").nonEmpty)
    val stats = spark.read.parquet(s"${l.warehouse}/fts_stats")
    assert(stats.filter(col("n_docs") < 0).count() === 1)
  }

  test("compaction converges to the rewrite-path warehouse; sidecar gone") {
    val l = mkLib("tomb-compact")
    val ref = mkLib("tomb-ref")
    l.removeDocumentFast(Library.docId("/tomb/doc7.md"))
    ref.removeDocument(Library.docId("/tomb/doc7.md"))
    val preCompact = snapshot(l)
    l.compactTombstones()
    assert(!new java.io.File(s"${l.warehouse}/tombstones").exists())
    val post = snapshot(l)
    assert(post === preCompact) // compaction changes nothing visible
    // physical truth now matches the rewrite path
    assert(spark.read.parquet(s"${l.warehouse}/documents").count()
      === spark.read.parquet(s"${ref.warehouse}/documents").count())
    assert(spark.read.parquet(s"${l.warehouse}/embeddings").count()
      === spark.read.parquet(s"${ref.warehouse}/embeddings").count())
    // compaction is idempotent
    l.compactTombstones()
    assert(snapshot(l) === post)
  }

  test("auto-compaction triggers at the row threshold") {
    val wh = tempDir("tomb-auto").toString
    val l = new Library(spark, wh, tombstoneCompactMinRows = 2)
    l.addMarkdown((1 to 8).map(i => (s"/auto/doc$i.md",
      s"# D$i\n" + (s"auto threshold corpus doc $i words here. " * 6))).toDS())
    l.removeDocumentFast(Library.docId("/auto/doc1.md")) // 1 doc + >=1 chunk >= 2
    assert(!new java.io.File(s"$wh/tombstones").exists(),
      "threshold compaction should have folded and dropped the sidecar")
    assert(l.listDocuments().count() === 7)
  }

  test("crash between tombstone append and stats delta: repair heals stats") {
    val l = mkLib("tomb-crash", docs = 12)
    val dead = Library.docId("/tomb/doc5.md")
    // simulate the torn state directly: tombstones landed, stats delta did not
    val deadChunks = l.chunks.filter(col("docId") === dead)
      .select("id").as[String].collect()
    (("doc", dead) +: deadChunks.toSeq.map(c => ("chunk", c)))
      .toDF("kind", "id").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"${l.warehouse}/tombstones")
    // rows are hidden (visibility switch already flipped) …
    assert(l.listDocuments().count() === 11)
    // … but fts_stats still counts them; repair compacts + rebuilds stats
    l.repair()
    assert(!new java.io.File(s"${l.warehouse}/tombstones").exists())
    val live = spark.read.parquet(s"${l.warehouse}/fts_lens")
      .agg(count(lit(1)), coalesce(sum("doclen"), lit(0L))).head()
    val stats = spark.read.parquet(s"${l.warehouse}/fts_stats")
      .agg(coalesce(sum("n_docs"), lit(0L)),
        coalesce(sum("total_len"), lit(0L))).head()
    assert(stats.getLong(0) === live.getLong(0))
    assert(stats.getLong(1) === live.getLong(1))
    assert(l.listDocuments().count() === 11)
    assert(l.search("corpus", SearchOptions(limit = 5)).count() > 0)
  }
}
