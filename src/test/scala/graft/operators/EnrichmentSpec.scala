package graft.operators

import graft.{AutoEnricher, SparkSpec, TaxonomyStore}
import graft.model.ProposedConcept
import graft.sources.{ChatModel, HashingEmbedder}

/** Records prompts and answers from a scripted table: judge prompts
  * (contain "taxonomy curator") get `judgeAnswer`; enrichment prompts
  * get `enrichAnswer`. Serializable so it rides into mapPartitions. */
class FakeChatModel(val enrichAnswer: String,
                    val judgeAnswer: String = "DISTINCT") extends ChatModel {
  val prompts = new java.util.concurrent.CopyOnWriteArrayList[String]()
  override def complete(prompt: String): String = {
    prompts.add(prompt)
    if (prompt.contains("taxonomy curator")) judgeAnswer
    else if (enrichAnswer == "THROW") throw new RuntimeException("model down")
    else enrichAnswer
  }
}

/** E6-E8: enrichment parsing/prompt mechanics, the orchestration's
  * fallback wiring, RAG context, and the auto-accept judge loop
  * (reference AutoTagger.ts:560-1325). */
class EnrichmentSpec extends SparkSpec {

  // ------------------------------------------------- pure mechanics (E6)

  test("extractContentKeywords: frequency + length bonus, stopwords out") {
    val text = "kubernetes kubernetes kubernetes deployment deployment " +
      "the and with from pods"
    val kws = TextEnrichment.extractContentKeywords(text, 3)
    assert(kws.head === "kubernetes") // most frequent, long
    assert(kws.contains("deployment"))
    assert(!kws.exists(Seq("the", "and", "with", "from").contains))
  }

  test("parseEnrichment: fenced JSON, docType enum, tag normalization, proposal validation") {
    val raw = """Here you go:
      |```json
      |{"title":"Rust in Action","author":"Tim McNamara",
      | "summary":"A systems book.","documentType":"textbook",
      | "category":"Programming Languages",
      | "tags":["Rust Lang","x","systems-programming"],
      | "concepts":["programming/rust"],
      | "proposedConcepts":[
      |   {"id":"programming/borrow-checker","prefLabel":"Borrow Checker","definition":"Compile-time ownership checks."},
      |   {"id":"not-a-parent/thing","prefLabel":"Thing"},
      |   {"id":"programming/way-too-many-words-in-this-id-child","prefLabel":"Way Too Many Words In This Label Here"}
      | ]}
      |```""".stripMargin
    val r = Enrichment.parseEnrichment(raw, "rust_in_action.pdf").get
    assert(r.title === "Rust in Action")
    assert(r.author === Some("Tim McNamara"))
    assert(r.documentType === "other") // "textbook" not in the enum
    assert(r.category === "programming-languages")
    assert(r.tags === Seq("rust-lang", "systems-programming")) // "x" dropped (<2)
    assert(r.concepts === Seq("programming/rust"))
    assert(r.proposedConcepts.map(_.id) === Seq("programming/borrow-checker"))
  }

  test("parseEnrichment: missing fields take reference defaults; garbage is None") {
    val r = Enrichment.parseEnrichment("""{"tags":["ok-tag"]}""", "some_file_name.pdf").get
    assert(r.title === TextEnrichment.cleanTitle("some_file_name.pdf"))
    assert(r.author === None)
    assert(r.summary === "")
    assert(r.documentType === "other")
    assert(r.category === "uncategorized")
    assert(Enrichment.parseEnrichment("no json here at all", "f.pdf") === None)
  }

  test("parseEnrichment: broken JSON with salvageable tags keeps the tags (reference salvage tier)") {
    // bare unquoted value -> JSON never parses, but the tags array extracts
    val raw = """{"title": oops!!, "tags":["Good Tag","also-good"]}"""
    val r = Enrichment.parseEnrichment(raw, "file_one.pdf").get
    assert(r.tags === Seq("good-tag", "also-good"))
    assert(r.title === TextEnrichment.cleanTitle("file_one.pdf"))
    assert(r.documentType === "other" && r.concepts.isEmpty)
  }

  test("validateProposedConcepts enforces X22 id format and label brevity") {
    val ok = ProposedConcept("education/spaced-repetition", "Spaced Repetition")
    val bad = Seq(
      ProposedConcept("", "Label"),
      ProposedConcept("education/spaced", ""),
      ProposedConcept("noslash", "Label"),
      ProposedConcept("invalid-parent/x", "Label"),
      ProposedConcept("education/new", "Label"),
      ProposedConcept("education/ok", "One Two Three Four Five Six"))
    assert(Enrichment.validateProposedConcepts(ok +: bad) === Seq(ok))
  }

  test("heuristic tier: confidence 0.3, title/author/tags from X13-X18") {
    val r = Enrichment.heuristic("programming/rust/rust_book-Klabnik.pdf",
      "Ownership and borrowing in Rust. " * 20)
    assert(r.confidence === 0.3)
    assert(r.title === TextEnrichment.cleanTitle("rust_book-Klabnik.pdf"))
    assert(r.category === "programming") // first path tag
    assert(r.tags.nonEmpty && r.tags.size <= 10)
    assert(r.summary.endsWith("...") && r.summary.length <= 204)
    assert(r.proposedConcepts.isEmpty)
  }

  test("judge answer protocol is contains-DUPLICATE, case-insensitive") {
    assert(Enrichment.isDuplicateAnswer(" duplicate.\n"))
    assert(Enrichment.isDuplicateAnswer("These are DUPLICATE concepts"))
    assert(!Enrichment.isDuplicateAnswer("DISTINCT"))
    assert(!Enrichment.isDuplicateAnswer(""))
  }

  // ------------------------------------------- orchestration (E6-E8)

  private def freshStore(): TaxonomyStore = {
    val wh = tempDir("graft-enrich").toString
    val s = new TaxonomyStore(spark, wh, new HashingEmbedder(64))
    s.addConcept("programming/rust", "Rust",
      definition = Some("The Rust programming language"))
    s.embedMissingConcepts()
    s
  }

  test("enrich: LLM result used, RAG concepts reach the prompt, provider confidence") {
    val store = freshStore()
    val chat = new FakeChatModel(
      """{"title":"T","summary":"S","documentType":"book","category":"programming",
        |"tags":["rust-lang","memory-safety"],"concepts":["programming/rust"],
        |"proposedConcepts":[]}""".stripMargin)
    val enricher = new AutoEnricher(store, new HashingEmbedder(64), chat)
    // content embeds identically to the concept's "prefLabel: definition"
    // text, so RAG similarity is 1.0 and the concept must appear in prompt
    val r = enricher.enrich("/lib/rust.pdf", "Rust: The Rust programming language")
    assert(r.title === "T" && r.documentType === "book")
    assert(r.confidence === 0.7 && r.provider === "ollama")
    val enrichPrompt = chat.prompts.get(0)
    assert(enrichPrompt.contains("programming/rust")) // E7 RAG context
  }

  test("enrich: model failure falls back to heuristics but keeps provider confidence (reference quirk)") {
    val store = freshStore()
    val enricher = new AutoEnricher(store, new HashingEmbedder(64),
      new FakeChatModel("THROW"))
    val r = enricher.enrich("/lib/notes/meeting_notes.md", "agenda items " * 30)
    assert(r.title === TextEnrichment.cleanTitle("meeting_notes.md"))
    assert(r.confidence === 0.7) // NOT 0.3: quirk preserved from reference
    // heuristics-only mode is the 0.3 tier
    val h = enricher.enrich("/lib/notes/meeting_notes.md", "agenda",
      heuristicsOnly = true)
    assert(h.confidence === 0.3)
  }

  test("auto-accept: DISTINCT inserts concept + embedding, DUPLICATE rejects") {
    val store = freshStore()
    val proposal = ProposedConcept("programming/borrow-checker",
      "Borrow Checker", definition = Some("Compile-time ownership checks"))
    // near-identical to the existing concept so similar>=0.75 triggers judge
    val dupProposal = ProposedConcept("programming/rustlang", "Rust",
      definition = Some("The Rust programming language"))

    val accept = new AutoEnricher(store, new HashingEmbedder(64),
      new FakeChatModel("{}", judgeAnswer = "DISTINCT"))
    assert(accept.autoAcceptProposals(Seq(proposal)) === ((1, 0)))
    assert(store.concepts.filter("id = 'programming/borrow-checker'").count() === 1)
    assert(store.conceptEmbeddings
      .filter("conceptId = 'programming/borrow-checker'").count() === 1)

    val reject = new AutoEnricher(store, new HashingEmbedder(64),
      new FakeChatModel("{}", judgeAnswer = "DUPLICATE"))
    assert(reject.autoAcceptProposals(Seq(dupProposal)) === ((0, 1)))
    assert(store.concepts.filter("id = 'programming/rustlang'").count() === 0)
  }

  test("auto-accept: judge failure means not-a-duplicate (reference availability semantics)") {
    val store = freshStore()
    val chat = new FakeChatModel("{}") {
      override def complete(prompt: String): String =
        throw new RuntimeException("judge down")
    }
    val enricher = new AutoEnricher(store, new HashingEmbedder(64), chat)
    // similar concept exists (identical text) but the judge is down -> accept
    val p = ProposedConcept("programming/rustlang", "Rust",
      definition = Some("The Rust programming language"))
    assert(enricher.autoAcceptProposals(Seq(p)) === ((1, 0)))
  }

  test("enrichAll: distributed pass with per-row fallback") {
    import spark.implicits._
    val store = freshStore()
    // parsable answer for every doc; doc b's content is keyed to fail?
    // -> use a model whose answer is garbage so EVERY row falls back,
    //    plus one whose answer parses, in two separate runs
    val docs = Seq(
      ("d1", "/lib/a_guide.pdf", "content one"),
      ("d2", "/lib/b_notes.md", "content two"))
      .toDF("id", "path", "content")

    val good = new AutoEnricher(store, new HashingEmbedder(64),
      new FakeChatModel("""{"title":"LLM Title","tags":["tagged-well"],"documentType":"guide"}"""))
    val rows = good.enrichAll(docs, "id", "path", "content")
      .select("docId", "enrichment.title", "enrichment.documentType",
        "enrichment.confidence")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3))).sortBy(_._1)
    assert(rows.toSeq === Seq(("d1", "LLM Title", "guide", 0.7),
      ("d2", "LLM Title", "guide", 0.7)))

    val broken = new AutoEnricher(store, new HashingEmbedder(64),
      new FakeChatModel("THROW"))
    val fb = broken.enrichAll(docs, "id", "path", "content")
      .select("docId", "enrichment.title", "enrichment.confidence")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(fb.toSeq === Seq(
      ("d1", TextEnrichment.cleanTitle("a_guide.pdf"), 0.7),
      ("d2", TextEnrichment.cleanTitle("b_notes.md"), 0.7)))
  }
}
