package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Model-based quality/domain classifier — the GPT-3/PaLM-style
  * logistic-regression filter (score documents by how target-like they
  * are, trained on target-vs-crawl labels), expressed entirely
  * in-engine: the features are the SAME hashed unigram+bigram count
  * stream as DSIR ([[ImportanceSampling.dsirWeights]] — tokenization,
  * hashing, and bucketing already oracle-certified), the trainer is
  * MLlib's distributed L-BFGS logistic regression, and scoring is a
  * pure DataFrame plan replayable in SQL against the fitted
  * coefficients as literals (the q50 centroid-literal contract).
  *
  * DSIR (model-free LLR) and this classifier are the two published
  * alternatives for crawl quality steering; both now run on one
  * feature pipeline so a curation run can A/B them.
  *
  * Scale design: training shuffles (id, bucket-int) count pairs once
  * (map-side combined) and assembles one bounded sparse vector per doc
  * (`buckets` is the dimension — thousands, not vocabulary-sized);
  * L-BFGS iterations are treeAggregate passes over those vectors.
  * Scoring never materializes vectors: one map-only expression folds
  * each doc's hashed grams against the weight array in bucket order —
  * a deterministic fold, bit-reproducible across
  * partitionings and engines (no float-sum shuffle-order freedom).
  */
object QualityClassifier {

  /** Fitted model: plain data, replayable as SQL literals. */
  case class LrQualityModel(buckets: Int, intercept: Double,
                            weights: Array[Double])

  /** Hashed (bucket, count) rows per doc — DSIR's feature stream. */
  private[operators] def bucketCounts(df: DataFrame, idCol: String,
                                      textCol: String, buckets: Int): DataFrame = {
    val t = TextFunctions.tokens(lower(col(textCol)))
    val bi = transform(TextFunctions.bigramPairs(t),
      p => concat(p.getField("prev"), lit(" "), p.getField("cur")))
    df.select(col(idCol).as("id"), explode(concat(t, bi)).as("g"))
      .withColumn("__b", TextFunctions.portableHash32(col("g")) % buckets)
      .groupBy("id", "__b")
      .agg(count(lit(1)).as("n"))
  }

  /** Train on `isTarget` labels (1 = the distribution you want more
    * of). Docs with no grams carry no features and are excluded from
    * the fit (they still score — sigmoid(intercept)).
    *
    * `regParam` keeps coefficients finite under perfect separation;
    * `standardization = false` so weights live in raw count space and
    * the SQL replay needs no mean/variance literals. */
  def train(df: DataFrame, idCol: String, textCol: String, isTarget: Column,
            buckets: Int = 1024, regParam: Double = 0.1,
            maxIter: Int = 100): LrQualityModel = {
    require(buckets > 0, "buckets must be positive")
    val labeled = df.select(col(idCol).as("id"),
      coalesce(isTarget.cast("int"), lit(0)).cast("double").as("__l"))
    val feats = bucketCounts(df, idCol, textCol, buckets)
      .groupBy("id")
      .agg(collect_list(struct(col("__b").cast("int").as("b"),
        col("n").cast("double").as("c"))).as("__feats"))
    val toVec = udf { feats: Seq[Row] =>
      val sorted = feats.map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
      Vectors.sparse(buckets, sorted.map(_._1).toArray,
        sorted.map(_._2).toArray)
    }
    val trainSet = feats.join(labeled, "id")
      .select(col("__l"), toVec(col("__feats")).as("__f"))
    val fitted = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .setStandardization(false)
      .setFeaturesCol("__f").setLabelCol("__l")
      .fit(trainSet)
    LrQualityModel(buckets, fitted.intercept, fitted.coefficients.toArray)
  }

  /** Score every doc: z = intercept + Σ_b count_b · w_b,
    * score = σ(z). The fold over buckets runs in BUCKET ORDER on a
    * sorted struct array — the one double accumulation is a fixed
    * sequential fold, so scores are identical on any partitioning and
    * replayable with an ordered-list fold in SQL. Zero-weight buckets
    * stay in the fold (a dropped exact-0.0 term is the only way two
    * engines could disagree).
    *
    * Output: (id, n_grams, score) — gram-less docs score
    * σ(intercept). */
  def score(df: DataFrame, idCol: String, textCol: String,
            model: LrQualityModel): DataFrame =
    scoreWithMargin(df, idCol, textCol, model).drop("z")

  /** [[score]] plus the pre-sigmoid margin `z`. The margin — not the
    * sigmoid score — is the column to RANK on (ROC/AUC, calibration):
    * z is a deterministic ordered fold (identical across partitionings
    * and runs), while σ(z) stacks the `exp` library's 1-ulp freedom on
    * top. Cross-engine, a replaying SQL engine's own dot fold may
    * differ from z by 1 ulp — order-stable in practice (q124 pins
    * every rank), so rank on z and round any DISPLAYED margin.
    *
    * Round 20 (guide §2.4): scoring is ONE map-only expression
    * ([[graft.plans.HashedGramDot]]) — no explode, no keyed shuffle,
    * no join-back. The dot is the same ascending-bucket IEEE fold as
    * the previous explode → groupBy → array_sort formulation
    * (bit-identity pinned in QualityClassifierSpec), so every z/score
    * and the frozen oracle are unchanged.
    *
    * Contract (ADVICE r20): each input ROW scores independently —
    * `idCol` is expected unique (the library-wide doc_id contract;
    * every caller passes a primary key). The legacy column path
    * incidentally MERGED duplicate ids through its groupBy(id), an
    * implementation artifact, not a semantic this operator promises.
    *
    * Output: (id, n_grams, z, score). */
  def scoreWithMargin(df: DataFrame, idCol: String, textCol: String,
                      model: LrQualityModel): DataFrame = {
    require(model.weights.length == model.buckets,
      s"weights length ${model.weights.length} != buckets ${model.buckets}")
    val d = graft.plans.HashedGramDot(lower(col(textCol)), model.weights)
    df.select(col(idCol).as("id"), d.as("__d"))
      .select(col("id"),
        coalesce(col("__d.n_grams"), lit(0L)).as("n_grams"),
        (lit(model.intercept) + coalesce(col("__d.dot"), lit(0.0))).as("z"))
      .withColumn("score", lit(1.0) / (lit(1.0) + exp(-col("z"))))
  }

  /** Quality-filtered view: keep docs scoring >= `minScore`. */
  def filterByScore(df: DataFrame, idCol: String, textCol: String,
                    model: LrQualityModel, minScore: Double): DataFrame = {
    val keep = score(df, idCol, textCol, model)
      .filter(col("score") >= minScore)
      .select(col("id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }
}
