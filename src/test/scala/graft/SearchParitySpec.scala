package graft

import graft.model.SearchOptions
import org.apache.spark.sql.DataFrame

/** The serving paths resolve chunk locators, titles and tags from the
  * snapshot's chunk directory and read content for the ranked rows
  * only, on the driver when the warehouse fits the driver budget and on
  * Spark when it does not. These specs pin both sides row for row, in
  * order and to the bit of every score, to the join formulations they
  * replaced ([[SearchReferences]]) across tags, tombstones, exact score
  * ties, thresholds, absent terms, k past the live rows, IVF delta rows
  * and the HNSW tier. */
class SearchParitySpec extends SparkSpec {
  import spark.implicits._

  private def doc(i: Int, body: String): (String, String) =
    (s"/parity/doc$i.md", s"---\ntags: [t${i % 3}]\n---\n# Doc$i\n$body")

  private def body(i: Int): String =
    s"parity corpus document number $i about vectors and words. " * 5 +
      (if (i % 4 == 0) "xylophone harmonics appear here. " * 2 else "")

  /** Docs 30 and 31 are the same text under two ids: every chunk of one
    * ties the other's exactly, in cosine and in BM25. */
  private val Twin = "twin chunk text shared verbatim by two documents. " * 6

  private def seeded(prefix: String): Library = {
    val l = new Library(spark, tempDir(prefix).toString)
    l.addMarkdown(((1 to 16).map(i => doc(i, body(i))) ++
      Seq(doc(30, Twin), doc(31, Twin))).toDS())
    l.rebuildFtsIndex()
    l.buildVectorIndex(nCells = 4, nProbe = 4)
    l
  }

  private val Queries = Seq("xylophone harmonics", "number 7 vectors",
    "twin chunk text", "zzzabsentterm")

  private val Options = Seq(
    SearchOptions(limit = 5),
    SearchOptions(limit = 3, tags = Seq("t1")),
    SearchOptions(limit = 8, tags = Seq("t0", "t2")),
    SearchOptions(limit = 4, tags = Seq("nosuchtag")),
    SearchOptions(limit = 6, threshold = Some(0.6)),
    SearchOptions(limit = 500), // past every live row
    SearchOptions(limit = 5, hybrid = false))

  /** Every option against the first query, and a few against the
    * others (the tie-heavy and the absent-term one among them). */
  private val Cases: Seq[(String, SearchOptions)] =
    Options.map(Queries(0) -> _) ++
      Seq(Options(1), Options(4), Options(5)).map(Queries(1) -> _) ++
      Seq(Options(0), Options(2), Options(5)).map(Queries(2) -> _) ++
      Seq(Options(0), Options(6)).map(Queries(3) -> _)

  /** A cheaper cut for the specs that pin a state change. */
  private val Few: Seq[(String, SearchOptions)] =
    Seq(Queries(0) -> Options(0), Queries(1) -> Options(2),
      Queries(2) -> Options(5), Queries(3) -> Options(4))

  /** Rows as value sequences with each double as its bit pattern. */
  private def bits(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq, df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    }))

  /** Reference rows by (warehouse, call): a reference runs once, and
    * the in-process and Spark sides both compare against it. */
  private val references =
    scala.collection.mutable.Map.empty[(String, String), (Seq[String], Seq[Seq[Any]])]

  private def same(l: Library, what: String, got: DataFrame, want: => DataFrame): Int = {
    val w = references.getOrElseUpdate((l.warehouse, what), bits(want))
    assert(bits(got) === w, what)
    w._2.size
  }

  /** Each case through vectorSearch, ftsSearch and search; the number
    * of rows compared. */
  private def pinAll(l: Library, cases: Seq[(String, SearchOptions)],
                     vecLeg: (String, SearchOptions) => DataFrame): Int =
    cases.map { case (q, o) =>
      val qv = l.embedder.embed(q)
      val tag = s"[$q / $o]"
      same(l, s"search $tag", l.search(q, o),
        SearchReferences.search(l, q, o, vecLeg(q, o))) +
        same(l, s"vectorSearch $tag", l.vectorSearch(qv, o),
          SearchReferences.vectorSearch(l, qv, o)) +
        same(l, s"ftsSearch $tag", l.ftsSearch(q, o),
          SearchReferences.ftsSearch(l, q, o))
    }.sum

  /** Runs `pin` in-process (the default driver budget), then again on
    * the Spark path (`sparkBudget`), checking that each run took the
    * path it names; the rows compared on both sides. */
  private def bothSides(l: Library, sparkBudget: Long = 0L)(pin: => Int): Int = {
    assert(l.serving().inProcess, "the default budget did not serve in-process")
    val inProcess = pin
    l.driverBudget = sparkBudget
    try {
      assert(!l.serving().inProcess, s"a budget of $sparkBudget bytes served in-process")
      inProcess + pin
    } finally l.driverBudget = ServingSnapshot.defaultBudget
  }

  private def exactLeg(l: Library)(q: String, o: SearchOptions): DataFrame =
    SearchReferences.vectorSearch(l, l.embedder.embed(q), o)

  test("vector, fts and hybrid search equal the join plans: tags, thresholds, ties, absent terms, k past the corpus") {
    val l = seeded("parity-base")
    assert(bothSides(l) {
      // the twins tie exactly and both come back, ordered by docId
      val tied = l.ftsSearch("twin chunk text", SearchOptions(limit = 2)).collect()
      assert(tied.length === 2 && tied(0).getAs[Double]("score") === tied(1).getAs[Double]("score"))
      assert(tied(0).getAs[String]("docId") < tied(1).getAs[String]("docId"))
      assert(l.ftsSearch("zzzabsentterm", SearchOptions()).isEmpty)
      pinAll(l, Cases, exactLeg(l))
    } > 200)
  }

  test("tombstones from removeDocumentFast: equal to the join plans") {
    val l = seeded("parity-tomb")
    l.removeDocumentFast(Library.docId("/parity/doc4.md"))
    l.removeDocumentFast(Library.docId("/parity/doc30.md")) // one twin
    assert(bothSides(l) {
      val docs = l.search("xylophone harmonics twin", SearchOptions(limit = 50))
        .collect().map(_.getAs[String]("docId")).toSet
      assert(!docs.contains(Library.docId("/parity/doc4.md")))
      assert(!docs.contains(Library.docId("/parity/doc30.md")))
      pinAll(l, Few, exactLeg(l))
    } > 40)
  }

  test("IVF delta-cell rows appended after buildVectorIndex: equal to the join plans") {
    val l = seeded("parity-delta")
    l.addMarkdown(Seq(doc(40, body(40)), doc(41, Twin)).toDS())
    assert(new java.io.File(s"${l.warehouse}/embeddings_ivf/__cell=-1").exists(),
      "the append did not land in the delta cell")
    assert(bothSides(l)(pinAll(l, Few, exactLeg(l))) > 40)
  }

  test("a fresh vector whose only probed slice is the IVF delta cell: equal to the join plans") {
    val l = new Library(spark, tempDir("parity-delta-only").toString)
    l.addMarkdown((1 to 6).map(i => doc(i, body(i))).toDS())
    l.rebuildFtsIndex()
    l.buildVectorIndex(nCells = 2, nProbe = 1)
    l.addMarkdown(Seq(doc(40, body(40)), doc(41, Twin), doc(42, body(42))).toDS())
    // retire every indexed vector: the cell leaves go, the delta stays
    (1 to 6).foreach(i => l.removeDocumentFast(Library.docId(s"/parity/doc$i.md")))
    l.compactTombstones()
    val leaves = new java.io.File(s"${l.warehouse}/embeddings_ivf").list()
      .filter(_.startsWith("__cell=")).toSeq
    assert(leaves === Seq("__cell=-1"), "cell leaves survived, or the delta did not")
    val hits = bothSides(l) {
      val got = l.vectorSearch(l.embedder.embed(body(40)), SearchOptions(limit = 3))
        .collect().map(_.getAs[String]("docId"))
      assert(got.headOption === Some(Library.docId("/parity/doc40.md")))
      pinAll(l, Few, exactLeg(l))
    }
    assert(hits > 10)
  }

  test("the HNSW tier through rankAnnHits: equal to the join plan over the same hits") {
    val l = seeded("parity-hnsw")
    l.buildHnswIndex()
    l.removeDocumentFast(Library.docId("/parity/doc8.md")) // dead graph nodes
    val ann = (q: String, o: SearchOptions) => SearchReferences.rankAnnHits(l,
      SearchReferences.hnswHits(l, l.embedder.embed(q), o), o)
    // the Spark side keeps the graph: a budget that holds its vectors
    // and nothing more
    val graphBytes = l.embeddings.count() * ServingSnapshot.vectorBytes(l.embedder.dim)
    val rows = bothSides(l, sparkBudget = graphBytes) {
      assert(l.loadHnsw().isDefined, "the graph tier did not load")
      val graph = Cases.map { case (q, o) =>
        same(l, s"hnswSearch [$q / $o]", l.hnswSearch(l.embedder.embed(q), o), ann(q, o))
      }.sum
      assert(graph > 40)
      // annSearch and search's vector leg dispatch to the same tier
      val (q, o) = Few.head
      graph + same(l, s"annSearch [$q / $o]", l.annSearch(l.embedder.embed(q), o), ann(q, o)) +
        pinAll(l, Few, ann)
    }
    assert(rows > 120)
  }

  test("search --expand equals the join plan") {
    val l = seeded("parity-expand")
    l.removeDocumentFast(Library.docId("/parity/doc5.md"))
    assert(bothSides(l)(Few.map { case (q, o) =>
      val ex = o.copy(expandContext = Some(300))
      same(l, s"search --expand [$q / $o]", l.search(q, ex),
        SearchReferences.search(l, q, ex, exactLeg(l)(q, ex)))
    }.sum) > 10)
  }
}
