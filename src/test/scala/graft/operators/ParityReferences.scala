package graft.operators

import graft.functions.TextFunctions
import graft.functions.TextFunctions.{portableHash32, tokens}
import graft.util.Materialize.MatOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The column formulations of five curation operators, kept only as the
  * bit-identity references their specs pin the native kernels against:
  * [[ImportanceSampling.dsirWeights]],
  * [[QualityClassifier.scoreWithMargin]],
  * [[TextAnalysis.unigramQuality]], the duplicated-span core of
  * [[TextAnalysis.substringDedup]] / [[TextAnalysis.spanDedup]] and
  * [[GraphRank.kCore]]. */
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

  /** The higher-order-function formulation of the duplicated-span core
    * shared by [[TextAnalysis.substringDedup]] and
    * [[TextAnalysis.spanDedup]]: `base` is (id, t: array<string>); every
    * k-unit window is keyed by the md5 hex of its units joined by
    * `keySep` (concat_ws, so NULL units are skipped), windows whose key
    * occurs at least `minCount` times are hot, and each document's hot
    * positions fold into disjoint [s, e) spans (merge on overlap or
    * adjacency). Output: id, n_tokens, n_dup_tokens, n_dup_spans,
    * dup_frac, cleaned_text (kept units joined by `outSep`). */
  def dedupUnitWindowsColumns(base: DataFrame, k: Int, minCount: Long,
                              broadcastHot: Boolean, keepFirst: Boolean,
                              keySep: String, outSep: String): DataFrame = {
    val kL = lit(k.toLong)
    // 1-based gram start positions, mirroring SQL list slicing
    val flat = base
      .select(col("id"), posexplode(
        when(size(col("t")) >= k,
          transform(sequence(lit(1), size(col("t")) - (k - 1)),
            i => md5(concat_ws(keySep, slice(col("t"), i, lit(k))))))
        .otherwise(array().cast("array<string>"))).as(Seq("p0", "h")))
      .select(col("id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
    val hot = flat.groupBy("h").agg(count(lit(1)).as("c"),
        min(struct(col("id"), col("pos"))).as("canon"))
      .filter(col("c") >= minCount)
      .select(col("h"), col("canon"))
    // fold sorted hot positions into disjoint [s, e) spans: merge when
    // the next window starts at or before the current exclusive end
    // (overlap OR adjacency -> one maximal duplicated run)
    val spans = flat.join(if (broadcastHot) broadcast(hot) else hot, Seq("h"))
      .filter(if (keepFirst)
        !(col("canon.id") === col("id") && col("canon.pos") === col("pos"))
      else lit(true))
      .groupBy("id").agg(array_sort(collect_list(col("pos"))).as("ps"))
      .select(col("id"), aggregate(
        col("ps"),
        struct(array().cast("array<struct<s:bigint,e:bigint>>").as("iv"),
          lit(-1L).as("cs"), lit(-1L).as("ce")),
        (st, p) => {
          val iv = st.getField("iv")
          val cs = st.getField("cs"); val ce = st.getField("ce")
          when(cs === -1L, struct(iv.as("iv"), p.as("cs"), (p + kL).as("ce")))
            .when(p <= ce, struct(iv.as("iv"), cs.as("cs"), (p + kL).as("ce")))
            .otherwise(struct(
              concat(iv, array(struct(cs.as("s"), ce.as("e")))).as("iv"),
              p.as("cs"), (p + kL).as("ce")))
        },
        st => when(st.getField("cs") === -1L, st.getField("iv"))
          .otherwise(concat(st.getField("iv"),
            array(struct(st.getField("cs").as("s"), st.getField("ce").as("e")))))
      ).as("iv"))
    val covered = aggregate(col("iv"), lit(0L),
      (a, x) => a + (x.getField("e") - x.getField("s")))
    // kept text = the gaps between spans plus the tail, in order;
    // spans are sorted + disjoint so every slice length is >= 0
    val cleanedFromIv = concat_ws(outSep, aggregate(
      col("iv"),
      struct(lit(1L).as("last"), array().cast("array<string>").as("acc")),
      (st, x) => struct(
        x.getField("e").as("last"),
        concat(st.getField("acc"),
          slice(col("t"), st.getField("last").cast("int"),
            (x.getField("s") - st.getField("last")).cast("int"))).as("acc")),
      st => concat(st.getField("acc"),
        slice(col("t"), st.getField("last").cast("int"),
          greatest(size(col("t")).cast("long") - st.getField("last") + 1L,
            lit(0L)).cast("int")))))
    base.join(spans, Seq("id"), "left")
      .select(col("id"),
        size(col("t")).cast("long").as("n_tokens"),
        coalesce(covered, lit(0L)).as("n_dup_tokens"),
        when(col("iv").isNull, lit(0L))
          .otherwise(size(col("iv")).cast("long")).as("n_dup_spans"),
        (coalesce(covered, lit(0L)).cast("double") /
          greatest(size(col("t")), lit(1)).cast("double")).as("dup_frac"),
        when(col("iv").isNull, concat_ws(outSep, col("t")))
          .otherwise(cleanedFromIv).as("cleaned_text"))
  }

  /** The join formulation of [[GraphRank.kCore]]: every round a degree
    * count over the surviving mutual pairs, a semi-join of the live ids
    * and two semi-joins of the pairs, each materialized. */
  def kCoreColumns(nodes: DataFrame, idCol: String,
                   edges: DataFrame, srcCol: String, dstCol: String,
                   coreK: Int, rounds: Int): DataFrame = {
    require(coreK >= 1 && rounds >= 1)
    val ids = nodes.select(col(idCol).as("id")).distinct()
      .materializeOnce(eager = false)
    val d1 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val d2 = edges.select(col(dstCol).as("a"), col(srcCol).as("b"))
    // ordered mutual pairs, BOTH orientations (degree = row count per a)
    val und0 = d1.join(d2, Seq("a", "b"), "left_semi")
      .materializeOnce(eager = false)
    var live = ids
    var und = und0
    var r = 0
    while (r < rounds) {
      val deg = und.groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("__deg"))
      live = live.join(deg.filter(col("__deg") >= coreK),
          Seq("id"), "left_semi")
        .materializeOnce(eager = false)
      und = und
        .join(live.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(live.select(col("id").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
        .materializeOnce(eager = false)
      r += 1
    }
    ids.join(live.withColumn("__in", lit(1)), Seq("id"), "left")
      .select(col("id"), coalesce(col("__in"), lit(0)).as("in_core"))
  }
}
