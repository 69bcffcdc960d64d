package graft.sources

import graft.{Library, SparkSpec}
import java.nio.file.Files

class DocumentSourcesSpec extends SparkSpec {

  test("markdown sniffing heuristics (reference MARKDOWN_INDICATORS)") {
    import DocumentSources._
    assert(looksLikeMarkdown("# A Heading\ntext"))
    assert(looksLikeMarkdown("some\n- list item"))
    assert(looksLikeMarkdown("1. ordered"))
    assert(looksLikeMarkdown("```\ncode\n```"))
    assert(looksLikeMarkdown("| a | b |"))
    assert(looksLikeMarkdown("see [link](http://x)"))
    assert(!looksLikeMarkdown("plain prose with nothing special at all"))
    assert(hasMarkdownExtension("https://x.test/notes/readme.md"))
    assert(hasMarkdownExtension("weird//no-scheme.markdown"))
    assert(!hasMarkdownExtension("https://x.test/file.pdf"))
  }

  test("extension routing (F8)") {
    assert(DocumentSources.fileTypeFor("/a/b.md") === "markdown")
    assert(DocumentSources.fileTypeFor("/a/b.MARKDOWN") === "markdown")
    assert(DocumentSources.fileTypeFor("/a/b.pdf") === "pdf")
  }

  test("directory ingest: discovery, routing, dedup, export (S1/S4/S12)") {
    val srcDir = tempDir("graft-src")
    Files.writeString(srcDir.resolve("notes.md"),
      "# Notes\n" + ("markdown words for the chunker to process. " * 10))
    // a REAL two-page PDF (flate + plain content streams) through the
    // default JvmPdfExtractor
    Files.write(srcDir.resolve("paper.pdf"), PdfFixtures.twoPage())
    Files.writeString(srcDir.resolve("ignored.txt"), "not ingestable")

    val wh = tempDir("graft-wh-ing").toString
    val lib = new Library(spark, wh)
    lib.ingestDirectory(srcDir.toString)

    val docs = lib.documents.collect()
    assert(docs.length === 2) // .txt excluded by the glob
    val byType = docs.map(d => d.getAs[String]("fileType") -> d).toMap
    assert(byType("markdown").getAs[String]("title") === "Notes")
    assert(byType("pdf").getAs[String]("title") === "Paper")
    assert(byType("pdf").getAs[Int]("pageCount") === 2)
    // fake-pdf pages flow through with real page numbers
    val pdfId = byType("pdf").getAs[String]("id")
    val pages = lib.chunks.filter(s"docId = '$pdfId'")
      .collect().map(_.getAs[Int]("page")).toSet
    assert(pages === Set(1, 2))
    // golden extraction: page-1 chunk carries the decoded operators
    val p1chunk = lib.chunks.filter(s"docId = '$pdfId' and page = 1")
      .collect().map(_.getAs[String]("content")).mkString("\n")
    assert(p1chunk.contains("Hello (PDF) world!"))
    assert(p1chunk.contains("Kerned words"))
    // end-to-end: PDF-borne text is searchable
    assert(lib.search("Kerned words").collect()
      .exists(_.getAs[String]("content").contains("Kerned")))
    val (nd, nc, ne) = lib.stats()
    assert(nc === ne)

    // idempotent re-ingest
    lib.ingestDirectory(srcDir.toString)
    assert(lib.stats() === ((nd, nc, ne)))

    // export produces a readable warehouse copy
    val dest = tempDir("graft-exp").toString
    lib.exportTo(dest)
    val copy = new Library(spark, dest)
    assert(copy.stats() === ((nd, nc, ne)))
    assert(copy.search("markdown words").count() > 0)
  }

  test("URL routing matches the reference's downloadFile order") {
    val pdfBytes = "%PDF-1.5 rest".getBytes
    val mdBytes = "# Heading\ncontent".getBytes
    assert(UrlSource.route("http://x/a.pdf", "", Array.emptyByteArray) === "pdf")
    assert(UrlSource.route("http://x/a", "application/pdf", mdBytes) === "pdf")
    assert(UrlSource.route("file:///x/a.bin", "", pdfBytes) === "pdf") // magic
    assert(UrlSource.route("http://x/a.md", "", Array.emptyByteArray) === "markdown")
    assert(UrlSource.route("http://x/a", "text/markdown", Array.emptyByteArray) === "markdown")
    // text/plain sniffs content
    assert(UrlSource.route("http://x/a", "text/plain", mdBytes) === "markdown")
    intercept[UrlSource.UnsupportedContentType](
      UrlSource.route("http://x/a", "text/plain", "just prose".getBytes))
    intercept[UrlSource.UnsupportedContentType](
      UrlSource.route("http://x/a", "image/png", Array.emptyByteArray))
  }

  test("addUrl ingests file:// markdown and PDF end-to-end (S3)") {
    val src = tempDir("graft-url")
    Files.writeString(src.resolve("notes.md"),
      "# UrlNotes\n" + ("fetched markdown words to index and search. " * 10))
    Files.write(src.resolve("paper.pdf"), PdfFixtures.twoPage())
    val wh = tempDir("graft-wh-url").toString
    val lib = new Library(spark, wh)

    val mdUrl = src.resolve("notes.md").toUri.toString
    val pdfUrl = src.resolve("paper.pdf").toUri.toString
    lib.addUrl(mdUrl)
    lib.addUrl(pdfUrl)
    val docs = lib.documents.collect()
    assert(docs.length === 2)
    assert(docs.map(_.getAs[String]("path")).toSet === Set(mdUrl, pdfUrl))
    assert(docs.map(_.getAs[String]("fileType")).toSet === Set("markdown", "pdf"))
    assert(lib.search("fetched markdown").count() > 0)
    assert(lib.search("Kerned words").count() > 0)
    // idempotent by URL
    lib.addUrl(mdUrl); lib.addUrl(pdfUrl)
    assert(lib.stats()._1 === 2)
  }

  test("addUrl over http: text/plain markdown is sniffed and ingested") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val body = ("# HttpDoc\n" +
      ("served over http with markdown indicators. " * 10)).getBytes("UTF-8")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/doc", (x: HttpExchange) => {
      x.getResponseHeaders.add("Content-Type", "text/plain")
      x.sendResponseHeaders(200, body.length)
      x.getResponseBody.write(body)
      x.close()
    })
    server.start()
    try {
      val wh = tempDir("graft-wh-http").toString
      val lib = new Library(spark, wh)
      lib.addUrl(s"http://127.0.0.1:${server.getAddress.getPort}/doc")
      val doc = lib.documents.head()
      assert(doc.getAs[String]("fileType") === "markdown")
      assert(doc.getAs[String]("title") === "HttpDoc")
    } finally server.stop(0)
  }
}
