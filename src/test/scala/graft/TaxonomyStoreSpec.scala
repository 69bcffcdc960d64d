package graft

import graft.sources.HashingEmbedder
import java.nio.file.Files

/** Taxonomy semantics ported from TaxonomyService.test.ts:122-433:
  * seed idempotency, polyhierarchy, transitive queries, symmetric
  * relations, concept search, doc assignment. */
class TaxonomyStoreSpec extends SparkSpec {

  private lazy val store = {
    val wh = tempDir("graft-tax").toString
    val json = s"""{
      "concepts": [
        {"id": "programming", "prefLabel": "Programming",
         "altLabels": ["coding", "software development"],
         "definition": "Software development topics"},
        {"id": "programming/rust", "prefLabel": "Rust",
         "altLabels": ["rustlang"], "definition": "Rust language"},
        {"id": "programming/systems", "prefLabel": "Systems Programming",
         "altLabels": [], "definition": "Low-level programming"},
        {"id": "education", "prefLabel": "Education",
         "altLabels": ["learning"], "definition": "Learning practices"}
      ],
      "hierarchy": [
        {"conceptId": "programming/rust", "broaderId": "programming"},
        {"conceptId": "programming/systems", "broaderId": "programming"},
        {"conceptId": "programming/rust", "broaderId": "programming/systems"}
      ],
      "relations": [
        {"conceptId": "programming/rust", "relatedId": "education"}
      ]
    }"""
    val f = tempDir("taxonomy").resolve("taxonomy.json")
    Files.writeString(f, json)
    val s = new TaxonomyStore(spark, wh, new HashingEmbedder(64))
    s.seed(f.toString)
    s
  }

  test("seed loads concepts/hierarchy/relations and is idempotent") {
    assert(store.concepts.count() === 4)
    assert(store.hierarchy.count() === 3)
    assert(store.relations.count() === 1)
    assert(store.conceptEmbeddings.count() === 4) // every concept embedded
    // re-seed: ON CONFLICT DO NOTHING semantics
    val f = tempDir("taxonomy2").resolve("taxonomy2.json")
    Files.writeString(f,
      """{"concepts": [{"id": "programming", "prefLabel": "Programming"}]}""")
    store.seed(f.toString)
    assert(store.concepts.count() === 4)
  }

  test("seed dedups duplicate ids WITHIN one file (intra-batch)") {
    val wh = tempDir("graft-tax-dup").toString
    val s = new TaxonomyStore(spark, wh, new HashingEmbedder(64))
    val f = tempDir("taxonomy-dup").resolve("taxonomy-dup.json")
    Files.writeString(f,
      """{"concepts": [
        {"id": "c1", "prefLabel": "One"},
        {"id": "c1", "prefLabel": "One again"},
        {"id": "c2", "prefLabel": "Two"}],
      "hierarchy": [
        {"conceptId": "c2", "broaderId": "c1"},
        {"conceptId": "c2", "broaderId": "c1"}]}""")
    s.seed(f.toString)
    assert(s.concepts.count() === 2)
    assert(s.hierarchy.count() === 1)
    assert(s.conceptEmbeddings.count() === 2) // no duplicate embeddings
  }

  test("polyhierarchy: rust has two parents; transitive ancestors") {
    val parents = store.broader("programming/rust")
      .collect().map(_.getAs[String]("id")).toSet
    assert(parents === Set("programming", "programming/systems"))
    val ancs = store.ancestors("programming/rust")
      .collect().map(_.getString(0)).toSet
    assert(ancs === Set("programming", "programming/systems"))
    val desc = store.descendants("programming")
      .collect().map(_.getString(0)).toSet
    assert(desc === Set("programming/rust", "programming/systems"))
  }

  test("related edges are symmetric from one stored direction") {
    assert(store.related("programming/rust")
      .collect().map(_.getAs[String]("id")).toSeq === Seq("education"))
    assert(store.related("education")
      .collect().map(_.getAs[String]("id")).toSeq === Seq("programming/rust"))
  }

  test("label/altLabel/definition substring search (F6)") {
    assert(store.searchConcepts("rust").count() === 1)
    assert(store.searchConcepts("coding").count() === 1)   // altLabel
    assert(store.searchConcepts("low-level").count() === 1) // definition
    assert(store.searchConcepts("zzz").count() === 0)
  }

  test("vector concept search finds the semantically closest concept (J3)") {
    val emb = new HashingEmbedder(64)
    val hits = store.findSimilarConcepts(
      emb.embed("Rust: Rust language"), minScore = 0.5, limit = 3)
      .collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[String]("conceptId") === "programming/rust")
  }

  test("doc-concept assignment upsert + lookups (J7)") {
    store.assign("doc1", "programming/rust", 0.9, "llm")
    store.assign("doc1", "education", 0.4, "heuristic")
    store.assign("doc1", "programming/rust", 0.95, "llm") // upsert
    val forDoc = store.conceptsForDoc("doc1").collect()
    assert(forDoc.length === 2)
    assert(forDoc.head.getAs[Double]("confidence") === 0.95)
    assert(store.docsForConcept("education").count() === 1)
  }

  test("tree assembly: roots + children map, no N+1") {
    val (roots, children) = store.tree()
    assert(roots.collect().map(_.getAs[String]("id")).toSet ===
      Set("programming", "education"))
    val kids = children.collect()
      .map(r => r.getAs[String]("parent") ->
        r.getAs[scala.collection.Seq[String]]("children").toSeq).toMap
    assert(kids("programming") === Seq("programming/rust", "programming/systems"))
  }
}
