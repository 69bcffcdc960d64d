package graft

import graft.operators.{Taxonomy, VectorSearch}
import graft.plans.CosineSimilarity
import graft.sources.Embedder
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** SKOS taxonomy store — the Spark-native TaxonomyService
  * (/root/reference/src/services/TaxonomyService.ts). Five Parquet
  * tables: concepts, hierarchy (child->parent polyhierarchy edges),
  * relations (symmetric), doc_concepts (weighted bipartite doc↔concept
  * mapping), concept_embeddings (same vector space as chunks).
  *
  * Taxonomies are broadcast-sized; every operation here is a small
  * DataFrame job, and concept vectors join the exact same top-k operator
  * the chunk search uses (J3 == K2 over a different relation).
  */
class TaxonomyStore(val spark: SparkSession, val warehouse: String,
                    val embedder: Embedder) {

  private def path(t: String) = s"$warehouse/$t"
  // same FileSystem routing as Library.tableExists: the warehouse may
  // live on any Hadoop-supported store, not just the local disk
  private lazy val fs = graft.util.TableSwap.fileSystem(spark, warehouse)
  graft.util.WarehouseFormat.open(fs, warehouse)
  private def exists(t: String) =
    fs.exists(new org.apache.hadoop.fs.Path(s"${path(t)}/_SUCCESS"))
  private def emptyDf(schema: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  def concepts: DataFrame =
    if (exists("concepts")) spark.read.parquet(path("concepts"))
    else emptyDf("id string, prefLabel string, altLabels array<string>, definition string")
  def hierarchy: DataFrame =
    if (exists("hierarchy")) spark.read.parquet(path("hierarchy"))
    else emptyDf("child string, parent string")
  def relations: DataFrame =
    if (exists("relations")) spark.read.parquet(path("relations"))
    else emptyDf("a string, b string, relationType string")
  def docConcepts: DataFrame =
    if (exists("doc_concepts")) spark.read.parquet(path("doc_concepts"))
    else emptyDf("docId string, conceptId string, confidence double, source string")
  def conceptEmbeddings: DataFrame =
    if (exists("concept_embeddings")) spark.read.parquet(path("concept_embeddings"))
    else emptyDf("conceptId string, embedding array<float>")

  /** S5: bulk-load a taxonomy JSON file ({concepts, hierarchy,
    * relations}) — idempotent (ON CONFLICT DO NOTHING semantics via
    * anti-join on id). Also embeds each new concept as
    * "prefLabel: definition" (reference TaxonomyService.ts:642-665). */
  def seed(jsonPath: String): Unit = {
    val raw = spark.read.option("multiLine", true).json(jsonPath)
    // optional fields may be absent from the inferred schema entirely
    def structFields(topField: String): Set[String] =
      raw.schema.find(_.name == topField).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.ArrayType(
          s: org.apache.spark.sql.types.StructType, _)) => s.fieldNames.toSet
        case _ => Set.empty
      }
    val cFields = structFields("concepts")
    val newConcepts = raw.select(explode(col("concepts")).as("c"))
      .select(col("c.id").as("id"), col("c.prefLabel").as("prefLabel"),
        (if (cFields.contains("altLabels"))
          coalesce(col("c.altLabels").cast("array<string>"),
            array().cast("array<string>"))
        else array().cast("array<string>")).as("altLabels"),
        (if (cFields.contains("definition"))
          col("c.definition") else lit(null).cast("string")).as("definition"))
      // dedup within the incoming file too — a duplicated id in one
      // JSON would otherwise append twice (both rows pass the anti-join).
      // min-over-struct picks a DETERMINISTIC winner when the same id
      // carries different payloads (dropDuplicates keeps an arbitrary
      // row, varying across runs/partitionings)
      .groupBy("id")
      .agg(min(struct(col("prefLabel"), col("altLabels"), col("definition")))
        .as("w"))
      .select(col("id"), col("w.prefLabel").as("prefLabel"),
        col("w.altLabels").as("altLabels"),
        col("w.definition").as("definition"))
      .join(concepts.select("id"), Seq("id"), "left_anti")
    newConcepts.write.mode(SaveMode.Append).parquet(path("concepts"))

    if (raw.columns.contains("hierarchy")) {
      raw.select(explode(col("hierarchy")).as("h"))
        .select(col("h.conceptId").as("child"), col("h.broaderId").as("parent"))
        .dropDuplicates("child", "parent")
        .join(hierarchy, Seq("child", "parent"), "left_anti")
        .write.mode(SaveMode.Append).parquet(path("hierarchy"))
    }
    if (raw.columns.contains("relations")) {
      val rFields = structFields("relations")
      raw.select(explode(col("relations")).as("r"))
        .select(col("r.conceptId").as("a"), col("r.relatedId").as("b"),
          (if (rFields.contains("relationType"))
            coalesce(col("r.relationType"), lit("related"))
          else lit("related")).as("relationType"))
        // deterministic winner for a repeated edge with conflicting types
        .groupBy("a", "b")
        .agg(min(col("relationType")).as("relationType"))
        .join(relations, Seq("a", "b"), "left_anti")
        .write.mode(SaveMode.Append).parquet(path("relations"))
    }
    embedMissingConcepts()
  }

  /** S10: concept-embedding upsert for concepts lacking a vector. */
  def embedMissingConcepts(): Unit = {
    val emb = embedder
    import spark.implicits._
    val c = concepts
    val known = conceptEmbeddings.select("conceptId")
    val missing = c
      .join(known, c("id") === known("conceptId"), "left_anti")
      .select(col("id"), concat_ws(": ", col("prefLabel"), col("definition")).as("text"))
      .as[(String, String)]
    missing.map { case (id, text) => (id, emb.embed(text)) }
      .toDF("conceptId", "embedding")
      .write.mode(SaveMode.Append).parquet(path("concept_embeddings"))
  }

  /** Single-concept insert (reference taxonomy.addConcept, used by the
    * E8 auto-accept loop) — idempotent on id, same anti-join semantics
    * as [[seed]]. */
  def addConcept(id: String, prefLabel: String, altLabels: Seq[String] = Nil,
                 definition: Option[String] = None): Unit = {
    import spark.implicits._
    Seq((id, prefLabel, altLabels, definition))
      .toDF("id", "prefLabel", "altLabels", "definition")
      .join(concepts.select("id"), Seq("id"), "left_anti")
      .write.mode(SaveMode.Append).parquet(path("concepts"))
  }

  /** S10: store/replace one concept's embedding (reference
    * storeConceptEmbedding) — rewrite keeps exactly one vector per id. */
  def storeConceptEmbedding(conceptId: String, embedding: Array[Float]): Unit = {
    import spark.implicits._
    val updated = conceptEmbeddings.filter(col("conceptId") =!= conceptId)
      .unionByName(Seq((conceptId, embedding.toSeq))
        .toDF("conceptId", "embedding"))
    graft.util.TableSwap.rewrite(path("concept_embeddings"), updated)
  }

  /** J3: concept ANN — same top-k operator as chunk search, with the
    * reference's threshold semantics (score = 1 - dist/2 >= minScore). */
  def findSimilarConcepts(queryVec: Array[Float], minScore: Double,
                          limit: Int): DataFrame = {
    val c = concepts
    val scored = conceptEmbeddings
      .withColumn("score",
        (lit(1.0) + CosineSimilarity(col("embedding"),
          VectorSearch.queryVec(queryVec.toSeq))) / 2.0)
      .filter(col("score") >= minScore)
      .orderBy(desc("score"), asc("conceptId"))
      .limit(limit)
    scored.join(broadcast(c), scored("conceptId") === c("id"))
      .select("conceptId", "prefLabel", "definition", "score")
      .orderBy(desc("score"), asc("conceptId"))
  }

  /** F6: label/altLabel substring search — the Ollama-down fallback. */
  def searchConcepts(q: String): DataFrame = {
    val needle = q.toLowerCase(java.util.Locale.ROOT) // match Spark lower()
    concepts.filter(
      lower(col("prefLabel")).contains(needle) ||
        org.apache.spark.sql.functions.exists(col("altLabels"),
          a => lower(a).contains(needle)) ||
        lower(coalesce(col("definition"), lit(""))).contains(needle))
      .orderBy("prefLabel") // K7
  }

  def broader(id: String): DataFrame = Taxonomy.broader(hierarchy, concepts, id)
  def narrower(id: String): DataFrame = Taxonomy.narrower(hierarchy, concepts, id)
  def ancestors(id: String): DataFrame = Taxonomy.ancestors(hierarchy, id)
  def descendants(id: String): DataFrame = Taxonomy.descendants(hierarchy, id)

  /** J6: related concepts; stored one direction, queried both. */
  def related(id: String): DataFrame = {
    val sym = Taxonomy.symmetrized(relations)
    val c = concepts
    sym.filter(col("a") === id)
      .join(broadcast(c), sym("b") === c("id"))
      .select("id", "prefLabel", "definition")
      .orderBy("id")
  }

  /** J7 + upsert: assign a concept to a document with confidence/source. */
  def assign(docId: String, conceptId: String, confidence: Double,
             source: String): Unit = {
    val updated = docConcepts
      .filter(!(col("docId") === docId && col("conceptId") === conceptId))
      .unionByName(spark.createDataFrame(
        Seq((docId, conceptId, confidence, source)))
        .toDF("docId", "conceptId", "confidence", "source"))
    graft.util.TableSwap.rewrite(path("doc_concepts"), updated)
  }

  def conceptsForDoc(docId: String): DataFrame = {
    val c = concepts
    docConcepts.filter(col("docId") === docId)
      .join(broadcast(c), col("conceptId") === c("id"))
      .select("conceptId", "prefLabel", "confidence", "source")
      .orderBy(desc("confidence"), asc("conceptId"))
  }

  def docsForConcept(conceptId: String): DataFrame =
    docConcepts.filter(col("conceptId") === conceptId)
      .orderBy(desc("confidence"), asc("docId"))

  /** §3.3 tree assembly without the reference's N+1 loop: one
    * aggregation for parent->children plus the root list. */
  def tree(): (DataFrame, DataFrame) =
    (Taxonomy.roots(concepts, hierarchy).orderBy("id"),
      Taxonomy.childrenByParent(hierarchy).orderBy("parent"))
}
