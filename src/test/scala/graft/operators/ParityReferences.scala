package graft.operators

import graft.functions.TextFunctions
import graft.functions.TextFunctions.{portableHash32, tokens}
import graft.util.Materialize.MatOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The pre-round-20 column formulations of three curation scorers,
  * kept only as the bit-identity references their specs pin the
  * map-only kernels against: [[ImportanceSampling.dsirWeights]],
  * [[QualityClassifier.scoreWithMargin]] and
  * [[TextAnalysis.unigramQuality]]. */
object ParityReferences {

  /** DSIR's feature stream: word unigrams + bigrams with multiplicity. */
  private def grams(textLower: Column): Column = {
    val t = tokens(textLower)
    val bi = transform(TextFunctions.bigramPairs(t),
      p => concat(p.getField("prev"), lit(" "), p.getField("cur")))
    concat(t, bi)
  }

  /** The explode → shuffle → broadcast-join formulation of
    * [[ImportanceSampling.dsirWeights]]. */
  def dsirWeightsColumns(
      df: DataFrame, idCol: String, textCol: String, isTarget: Column,
      buckets: Int): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      coalesce(isTarget.cast("int"), lit(0)).as("is_target"),
      grams(lower(col(textCol))).as("__gs"))
    // one slim keyed shuffle: (id, bucket) ints, map-side combined
    val perDoc = base
      .select(col("id"), col("is_target"),
        explode(col("__gs")).as("g"))
      .withColumn("__b", portableHash32(col("g")) % buckets)
      .groupBy("id", "is_target", "__b")
      .agg(count(lit(1)).as("n"))
      .materializeOnce(eager = false) // two consumers: stats + scoring
    // bucket statistics: <= `buckets` rows, the broadcast side of the
    // scoring join; totals are a single aggregate row cross-joined in
    val stats = perDoc.groupBy("__b").agg(
      sum(when(col("is_target") === 1, col("n")).otherwise(lit(0L))).as("ct"),
      sum(when(col("is_target") === 0, col("n")).otherwise(lit(0L))).as("cs"))
    val totals = stats.agg(
      coalesce(sum("ct"), lit(0L)).as("nt"),
      coalesce(sum("cs"), lit(0L)).as("ns"))
    val ratios = stats.crossJoin(broadcast(totals))
      .select(col("__b"),
        (log10((col("ct").cast("double") + lit(1.0)) /
               (col("nt").cast("double") + lit(buckets.toDouble))) -
         log10((col("cs").cast("double") + lit(1.0)) /
               (col("ns").cast("double") + lit(buckets.toDouble)))).as("lr"))
    val weights = perDoc.join(broadcast(ratios), Seq("__b"))
      .groupBy("id")
      .agg(sum("n").as("n_grams"),
        sum(col("n").cast("double") * col("lr")).as("weight"))
    base.select(col("id"), col("is_target"))
      .join(weights, Seq("id"), "left")
      .select(col("id"), col("is_target"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("weight"), lit(0.0)).as("weight"))
  }

  /** The explode → groupBy → array_sort formulation of
    * [[QualityClassifier.scoreWithMargin]]. */
  def scoreWithMarginColumns(
      df: DataFrame, idCol: String, textCol: String,
      model: QualityClassifier.LrQualityModel): DataFrame = {
    val spark = df.sparkSession
    val wdf = broadcast(spark.createDataFrame(
      model.weights.zipWithIndex.map { case (w, b) => (b.toLong, w) }.toSeq)
      .toDF("__b", "__w"))
    val perDoc = QualityClassifier.bucketCounts(df, idCol, textCol, model.buckets)
      .join(wdf, Seq("__b"))
      .groupBy("id")
      .agg(sum("n").as("n_grams"),
        aggregate(
          array_sort(collect_list(struct(col("__b").as("b"),
            (col("n").cast("double") * col("__w")).as("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("__dot"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .withColumn("z",
        lit(model.intercept) + coalesce(col("__dot"), lit(0.0)))
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("z"),
        (lit(1.0) / (lit(1.0) + exp(-col("z")))).as("score"))
  }

  /** The explode/join/groupBy formulation of
    * [[TextAnalysis.unigramQuality]]. */
  def unigramQualityColumns(
      df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val counts = df
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .materializeOnce(eager = false) // two consumers: total + vocab
    val total = counts.agg(coalesce(sum("c"), lit(0L))).head().getLong(0).toDouble
    val vocab = counts.orderBy(desc("c"), asc("tok")).limit(vocabSize)
    df.select(col(idCol).as("id"),
        explode_outer(tokens(lower(col(textCol)))).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("logp", log10(
        (coalesce(col("c"), lit(0L)).cast("double") + lit(1.0)) /
          lit(total + 1.0)))
      .groupBy("id")
      .agg(
        count(col("tok")).as("n_tokens"),
        // explode_outer keeps empty docs as one null-token row; they
        // have no tokens to average, so their score is a neutral 0.0
        coalesce(avg(when(col("tok").isNotNull, col("logp"))), lit(0.0))
          .as("avg_logp"))
  }
}
