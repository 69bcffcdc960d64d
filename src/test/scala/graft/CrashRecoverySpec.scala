package graft

import graft.model.SearchOptions
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

/** Executable form of the TableSwap recoverability promise: every
  * mid-swap crash state a maintenance path can leave behind is
  * simulated here by constructing the on-disk leftovers directly, and
  * repair() must converge the warehouse back to a consistent state with
  * no scratch remaining and search results identical to a never-crashed
  * warehouse. */
class CrashRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def freshLib(prefix: String, docs: Int = 12): Library = {
    val wh = tempDir(prefix).toString
    val l = new Library(spark, wh)
    l.addMarkdown((1 to docs).map(i => (s"/$prefix/doc$i.md",
      s"# Doc$i\n" + (s"$prefix corpus doc number $i searchable words. " * 8))).toDS())
    l
  }

  private def rootNames(wh: String): Set[String] =
    Option(new java.io.File(wh).listFiles()).get.map(_.getName).toSet

  private def fsOf(l: Library) =
    graft.util.TableSwap.fileSystem(spark, l.warehouse)

  test("a table that vanished mid-swap is restored from _old") {
    val l = freshLib("crash-old")
    val fs = fsOf(l)
    val docsBefore = l.documents.collect().map(_.getAs[String]("id")).sorted
    // crash between move-aside and install: live dir gone, _old holds it
    assert(fs.rename(new HPath(s"${l.warehouse}/documents"),
      new HPath(s"${l.warehouse}/documents_old")))
    l.repair()
    assert(l.documents.collect().map(_.getAs[String]("id")).sorted
      === docsBefore)
    assert(!rootNames(l.warehouse).exists(n =>
      n.endsWith("_old") || n.endsWith("_tmp")))
  }

  test("orphaned _tmp and _old scratch next to a live table is swept") {
    val l = freshLib("crash-scratch")
    // crash right after the tmp write: live table intact, stale scratch
    Seq(("zz", "junk")).toDF("id", "junk")
      .write.parquet(s"${l.warehouse}/chunks_tmp")
    Seq(("zz", "junk")).toDF("id", "junk")
      .write.parquet(s"${l.warehouse}/embeddings_old")
    val before = l.stats()
    l.repair()
    assert(l.stats() === before)
    assert(!rootNames(l.warehouse).exists(n =>
      n.endsWith("_old") || n.endsWith("_tmp")))
  }

  test("bulk cell-swap crash: leaves stranded in swap_old are restored and re-purged") {
    val l = freshLib("crash-cell")
    l.buildVectorIndex(nCells = 3, nProbe = 3)
    val fs = fsOf(l)
    val wh = l.warehouse
    // crash mid-install: a live leaf was moved aside but its survivors
    // leaf never arrived (swap_tmp already consumed/lost)
    fs.mkdirs(new HPath(s"$wh/embeddings_ivf_swap_old"))
    assert(fs.rename(new HPath(s"$wh/embeddings_ivf/__cell=0"),
      new HPath(s"$wh/embeddings_ivf_swap_old/__cell=0")))
    l.repair()
    assert(!rootNames(wh).exists(_.startsWith("embeddings_ivf_swap")))
    // every vector is back (restore) and none is dead (purge found none)
    val ivf = spark.read.parquet(s"$wh/embeddings_ivf")
    assert(ivf.count() === l.embeddings.count())
    assert(ivf.select("chunkId").distinct().count() === ivf.count())
  }

  test("bulk cell-swap crash: a later delete restores stranded leaves instead of destroying them") {
    val l = freshLib("crash-cell-del")
    l.buildVectorIndex(nCells = 3, nProbe = 3)
    val fs = fsOf(l)
    val wh = l.warehouse
    // same crash window as above — but the user's next call is another
    // removeDocument, NOT repair(): the new bulk swap must restore the
    // stranded leaf before computing its affected set. A blind clear of
    // swap_old here silently destroyed cell 0's vectors (the only copy).
    fs.mkdirs(new HPath(s"$wh/embeddings_ivf_swap_old"))
    assert(fs.rename(new HPath(s"$wh/embeddings_ivf/__cell=0"),
      new HPath(s"$wh/embeddings_ivf_swap_old/__cell=0")))
    l.removeDocument(Library.docId("/crash-cell-del/doc3.md"))
    assert(!rootNames(wh).exists(_.startsWith("embeddings_ivf_swap")))
    // index holds exactly the surviving embeddings: the stranded cell's
    // vectors are back, the deleted doc's are gone
    val ivf = spark.read.parquet(s"$wh/embeddings_ivf")
    assert(ivf.select("chunkId").distinct().count() === ivf.count())
    assert(ivf.count() === l.embeddings.count(),
      "stranded swap_old leaf must be restored, not destroyed, by a new bulk swap")
  }

  test("a delta leaf stranded in the delta-swap scratch (embeddings_ivf_delta_old) is restored and swept") {
    val l = freshLib("crash-delta")
    l.buildVectorIndex(nCells = 3, nProbe = 3)
    l.addMarkdown(Seq(("/crash-delta/late.md",
      "# Late\n" + ("late appended delta doc words. " * 8))).toDS())
    val fs = fsOf(l)
    val wh = l.warehouse
    // the delta swap died after moving the live leaf aside
    assert(fs.rename(new HPath(s"$wh/embeddings_ivf/__cell=-1"),
      new HPath(s"$wh/embeddings_ivf_delta_old")))
    l.repair()
    assert(!rootNames(wh).exists(_.matches("embeddings_ivf_delta_(tmp|old)")))
    val ivf = spark.read.parquet(s"$wh/embeddings_ivf")
    assert(ivf.filter(col("__cell") === -1).count() > 0)
    assert(ivf.count() === l.embeddings.count())
  }

  test("fold crash: delta rows duplicated into cells are retired by repair") {
    val l = freshLib("crash-fold")
    l.buildVectorIndex(nCells = 3, nProbe = 3)
    val wh = l.warehouse
    // simulate a fold that appended the delta into cells but died
    // before retiring the delta leaf: copy some indexed rows INTO the
    // delta bucket (their cell copies are the post-append state)
    val dupes = spark.read.parquet(s"$wh/embeddings_ivf")
      .filter(col("__cell") =!= -1).limit(5)
      .withColumn("__cell", lit(-1))
    dupes.write.mode("append").partitionBy("__cell")
      .parquet(s"$wh/embeddings_ivf")
    val ivfBefore = spark.read.parquet(s"$wh/embeddings_ivf")
    assert(ivfBefore.count() > ivfBefore.select("chunkId").distinct().count())
    l.repair()
    val ivf = spark.read.parquet(s"$wh/embeddings_ivf")
    assert(ivf.count() === ivf.select("chunkId").distinct().count(),
      "repair must retire fold-crash duplicates")
    assert(ivf.filter(col("__cell") === -1).count() === 0,
      "an emptied delta leaf is dropped outright")
    assert(ivf.count() === l.embeddings.count())
  }

  test("dead index vectors invisible to orphan checks are purged (crash in removeDocument)") {
    val l = freshLib("crash-dead")
    l.buildVectorIndex(nCells = 3, nProbe = 3)
    val wh = l.warehouse
    val victim = Library.docId("/crash-dead/doc5.md")
    // crash in removeDocument AFTER the table rewrites but BEFORE the
    // index maintenance: tables consistent, index still holds the dead
    // vectors — no orphan check can see them
    val deadChunks = l.chunks.filter(col("docId") === victim)
      .select(col("id").as("chunkId")).collect().map(_.getString(0))
    graft.util.TableSwap.rewrite(s"$wh/embeddings",
      l.embeddings.filter(!col("chunkId").isin(deadChunks: _*)))
    graft.util.TableSwap.rewrite(s"$wh/chunks",
      l.chunks.filter(col("docId") =!= victim))
    graft.util.TableSwap.rewrite(s"$wh/documents",
      l.documents.filter(col("id") =!= victim))
    assert(spark.read.parquet(s"$wh/embeddings_ivf")
      .filter(col("chunkId").isin(deadChunks: _*)).count() > 0)
    l.repair()
    val ivf = spark.read.parquet(s"$wh/embeddings_ivf")
    assert(ivf.filter(col("chunkId").isin(deadChunks: _*)).count() === 0,
      "repair must purge index vectors with no embeddings counterpart")
    // the compaction gate's denominator tracked the purge
    assert(spark.read.parquet(s"$wh/embeddings_ivf_meta")
      .select("indexedRows").head().getLong(0) === l.embeddings.count())
    // and probed search now equals a never-indexed exact scan
    val qv = l.embedder.embed("searchable words")
    def res(lib2: Library) = lib2.vectorSearch(qv, SearchOptions(limit = 8))
      .collect().map(r => (r.getAs[String]("docId"), r.getAs[Int]("chunkIndex"),
        r.getAs[Double]("score"))).toSeq
    val probed = res(l)
    assert(probed.nonEmpty)
    graft.util.TableSwap.delete(new java.io.File(s"$wh/embeddings_ivf"))
    graft.util.TableSwap.delete(new java.io.File(s"$wh/embeddings_ivf_meta"))
    assert(probed === res(new Library(spark, wh)))
  }

  test("sharded-HNSW crashed maintenance batch: uncommitted leftovers are invisible and repair sweeps them") {
    val l = freshLib("crash-shnsw")
    l.enableShardedServing(nCells = 4)
    val wh = l.warehouse
    val qv = l.embedder.embed("searchable corpus words")
    def res(lib2: Library) = lib2.shardedSearch(qv, SearchOptions(limit = 6))
      .collect().map(r => (r.getAs[String]("docId"),
        r.getAs[Int]("chunkIndex"), r.getAs[Double]("score"))).toSeq
    val want = res(l)
    assert(want.nonEmpty)
    // crash window: a maintenance batch wrote its scratch root and an
    // orphan leaf dir but died BEFORE the manifest rename — nothing is
    // referenced, so serving is already unchanged, and repair merely
    // garbage-collects
    val orphan = new java.io.File(
      s"$wh/embeddings_hnsw_sharded/leaf-0-e9")
    orphan.mkdirs()
    Seq((0, 0, Array.emptyByteArray)).toDF("__cell", "__sub", "__graph")
      .write.partitionBy("__cell")
      .parquet(s"$wh/embeddings_hnsw_sharded_batch_tmp")
    assert(res(new Library(spark, wh)) === want,
      "an uncommitted crash leftover must be invisible to serving")
    spark.conf.set("spark.graft.repair.minScratchAgeMs", "0")
    try l.repair()
    finally spark.conf.unset("spark.graft.repair.minScratchAgeMs")
    assert(!orphan.exists(), "repair must sweep the orphan leaf")
    assert(!rootNames(wh).exists(_ == "embeddings_hnsw_sharded_batch_tmp"))
    // a cold Library serves the pre-crash results
    assert(res(new Library(spark, wh)) === want)
  }

  test("tombstone-compaction crash: tables already rewritten, sidecar still present") {
    val l = freshLib("crash-tomb")
    val wh = l.warehouse
    val victim = Library.docId("/crash-tomb/doc4.md")
    l.removeDocumentFast(victim)
    val visible = l.listDocuments().collect().map(_.getAs[String]("id")).sorted
    // crash INSIDE compactTombstones after every table swap but before
    // the sidecar delete: simulate by rewriting the tables by hand and
    // leaving the tombstones dir in place
    val deadChunks = spark.read.parquet(s"$wh/tombstones")
      .filter(col("kind") === "chunk").select("id").collect()
      .map(_.getString(0))
    graft.util.TableSwap.rewrite(s"$wh/embeddings",
      spark.read.parquet(s"$wh/embeddings")
        .filter(!col("chunkId").isin(deadChunks.toSeq: _*)))
    graft.util.TableSwap.rewrite(s"$wh/chunks",
      spark.read.parquet(s"$wh/chunks")
        .filter(!col("id").isin(deadChunks.toSeq: _*)))
    graft.util.TableSwap.rewrite(s"$wh/documents",
      spark.read.parquet(s"$wh/documents").filter(col("id") =!= victim))
    // readers: anti-joining already-rewritten tables is a no-op
    assert(l.listDocuments().collect().map(_.getAs[String]("id")).sorted
      === visible)
    // repair re-runs compaction to completion: sidecar gone, same view
    l.repair()
    assert(!new java.io.File(s"$wh/tombstones").exists())
    assert(l.listDocuments().collect().map(_.getAs[String]("id")).sorted
      === visible)
  }
}
