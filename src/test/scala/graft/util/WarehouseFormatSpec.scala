package graft.util

import graft.{Library, SparkSpec, TaxonomyStore}
import graft.model.SearchOptions
import graft.sources.HashingEmbedder
import scala.jdk.CollectionConverters._

/** The warehouse format stamp: a warehouse is stamped when it is
  * created (by a first `Library`/`TaxonomyStore`, or by an export), and
  * one in any other format is refused before it is read or written. */
class WarehouseFormatSpec extends SparkSpec {
  import spark.implicits._

  private def stampOf(wh: String): Option[String] = {
    val f = new java.io.File(s"$wh/_format")
    if (f.exists()) Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    else None
  }

  private def ingested(prefix: String, docs: Int = 6): Library = {
    val l = new Library(spark, tempDir(prefix).toString)
    l.addMarkdown((1 to docs).map(i => (s"/wf/doc$i.md",
      s"# Doc$i\n" + (s"format stamp corpus document $i words. " * 6))).toDS())
    l
  }

  /** Every path under `wh` with its bytes (directories map to empty). */
  private def contents(wh: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(wh)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.map { p =>
      root.relativize(p).toString ->
        (if (java.nio.file.Files.isDirectory(p)) Seq.empty[Byte]
        else java.nio.file.Files.readAllBytes(p).toSeq)
    }.toMap
    finally walk.close()
  }

  test("a fresh warehouse is stamped, and a stamped one reopens") {
    val l = ingested("wf-fresh")
    assert(stampOf(l.warehouse) === Some(WarehouseFormat.Current))
    assert(new Library(spark, l.warehouse).stats() === l.stats())
    val absent = s"${tempDir("wf-absent")}/not/yet/there"
    new TaxonomyStore(spark, absent, new HashingEmbedder(64))
    assert(stampOf(absent) === Some(WarehouseFormat.Current))
  }

  test("an export destination is stamped and serves its sharded tier through the manifest path") {
    val l = ingested("wf-exp", docs = 10)
    l.enableShardedServing(nCells = 2)
    val dest = s"${tempDir("wf-exp-dest")}/copy"
    l.exportTo(dest)
    assert(stampOf(dest) === Some(WarehouseFormat.Current))
    val root = new java.io.File(s"$dest/embeddings_hnsw_sharded")
    assert(new java.io.File(root, "_manifest/m0").exists())
    assert(root.list().filterNot(n => n.startsWith("_") || n.startsWith("."))
      .forall(_.startsWith("leaf-")),
      "the exported tier holds manifest leaves only")
    val qv = l.embedder.embed("format stamp corpus document 3")
    val opts = SearchOptions(limit = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(new Library(spark, dest).shardedSearch(qv, opts, nProbe = 0))
      === rows(l.shardedSearch(qv, opts, nProbe = 0)))
  }

  test("a warehouse with no stamp or an unknown one is refused with the documented message and left unchanged") {
    val wh = ingested("wf-refuse").warehouse
    val stamp = new java.io.File(s"$wh/_format")
    def refused(found: String): Unit = {
      val before = contents(wh)
      Seq[() => Any](() => new Library(spark, wh),
        () => new TaxonomyStore(spark, wh, new HashingEmbedder(64))).foreach { open =>
        val e = intercept[WarehouseFormat.UnsupportedFormatException](open())
        assert(e.getMessage === s"warehouse $wh has format $found; this " +
          s"engine reads only ${WarehouseFormat.Current}. Re-create the " +
          "warehouse by re-ingesting its documents into an empty directory.")
        assert(contents(wh) === before, "a refused warehouse must be left as it was")
      }
    }
    assert(stamp.delete())
    refused("<none: no _format stamp>")
    val out = TableSwap.fileSystem(spark, wh)
      .create(new org.apache.hadoop.fs.Path(wh, "_format"), true)
    try out.write("pdfbrainspark-warehouse-0".getBytes("UTF-8")) finally out.close()
    refused("pdfbrainspark-warehouse-0")
  }
}
