package graft.streaming

import java.nio.file.Files

import graft.{Library, SparkSpec}
import graft.model.SearchOptions

/** Equivalence certification for the executable streaming ingest sink:
  * a library built by `markdownIngestSink` must be indistinguishable
  * from one built by batch `addMarkdown` — same tables, same FTS
  * results, same vector-search results. */
class StreamingIngestSpec extends SparkSpec {

  private val docs = Seq(
    "alpha.md" -> """# Hash joins
      |Hash join builds a table on the small side and probes with the
      |large side. Broadcast hash join avoids the shuffle entirely.
      |""".stripMargin,
    "beta.md" -> """# Merge sort
      |Merge sort splits the input, sorts each half and merges. External
      |merge sort spills sorted runs to disk for large inputs.
      |""".stripMargin,
    "gamma.md" -> """# Vector search
      |Vector search ranks documents by cosine similarity between the
      |query embedding and document embeddings stored in the index.
      |""".stripMargin)

  private val lateDoc =
    "delta.md" -> """# Window functions
      |Window functions compute running aggregates over ordered frames
      |without collapsing rows like a group by would.
      |""".stripMargin

  private def tmp(prefix: String): String = tempDir(prefix).toString

  test("stream-ingested corpus ≡ batch-ingested corpus for search and ftsSearch") {
    import spark.implicits._
    val watch = tmp("graft-stream-watch")
    val batchLib = new Library(spark, tmp("graft-stream-batchwh"))
    val streamLib = new Library(spark, tmp("graft-stream-streamwh"))

    // batch path: all four docs in one addMarkdown call, paths matching
    // the file paths the stream will see (docId derives from the path)
    // the file-source `_metadata.file_path` renders as file:/<abs-path>
    def filePath(name: String) = s"file:$watch/$name"
    batchLib.addMarkdown(
      (docs :+ lateDoc).map { case (n, c) => (filePath(n), c) }.toDS())

    // streaming path: first wave, run, then a late-arriving file —
    // exercises incremental listing, not just a one-shot read
    docs.foreach { case (n, c) => Files.writeString(new java.io.File(watch, n).toPath, c) }
    val q = EventStreams.markdownIngestSink(streamLib, watch, tmp("graft-stream-ckpt"))
    try {
      q.processAllAvailable()
      Files.writeString(new java.io.File(watch, lateDoc._1).toPath, lateDoc._2)
      q.processAllAvailable()
    } finally q.stop()

    // tables agree row-for-row
    def rows(df: org.apache.spark.sql.DataFrame, keys: String*) =
      df.orderBy(keys.map(org.apache.spark.sql.functions.col): _*).collect().toSeq
    assert(rows(streamLib.documents.select("id", "title", "path"), "id")
      == rows(batchLib.documents.select("id", "title", "path"), "id"))
    assert(rows(streamLib.chunks.select("id", "docId", "chunkIndex", "content"), "id")
      == rows(batchLib.chunks.select("id", "docId", "chunkIndex", "content"), "id"))
    assert(streamLib.embeddings.count() == batchLib.embeddings.count())

    // search surfaces agree (FTS index + vector index both maintained)
    for (query <- Seq("hash join", "merge sort", "window functions")) {
      def hits(df: org.apache.spark.sql.DataFrame): Seq[(String, Int)] =
        df.select("docId", "chunkIndex").collect()
          .map(r => (r.getString(0), r.getInt(1))).toSeq
      val b = hits(batchLib.ftsSearch(query, SearchOptions(limit = 5)))
      val s = hits(streamLib.ftsSearch(query, SearchOptions(limit = 5)))
      assert(s == b, s"ftsSearch('$query') diverged: $s vs $b")
      val bv = hits(batchLib.search(query, SearchOptions(limit = 5, hybrid = false)))
      val sv = hits(streamLib.search(query, SearchOptions(limit = 5, hybrid = false)))
      assert(sv == bv, s"search('$query') diverged: $sv vs $bv")
    }

    // idempotence under redelivery: re-adding the same files is a no-op
    // (the shared anti-join dedup rule — the restart-redelivery story)
    val before = streamLib.chunks.count()
    streamLib.addMarkdown(docs.map { case (n, c) => (filePath(n), c) }.toDS())
    assert(streamLib.chunks.count() == before)
  }
}
