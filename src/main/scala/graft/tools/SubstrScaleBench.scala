package graft.tools

import graft.operators.TextAnalysis
import graft.functions.TextFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off scale measurement for `substringDedup` at the PUBLISHED
  * operating point k = 50 (Lee et al. 2022 use 50-token runs; the
  * driver oracle q82 certifies k = 8 over the short synthetic docs —
  * this tool measures the real k on a corpus long enough to carry it).
  *
  * Corpus: the sf0.1 documents stretched to ~8× length (8 segments of
  * the original text) and replicated 10× with disjoint ids — 50k docs,
  * ~440 tokens each, ~19M 50-gram windows. Copies of docs with
  * doc_id % 10 == 0 keep their text VERBATIM (their windows duplicate
  * corpus-wide, ~10% of mass — the realistic hot fraction); all other
  * copies get a per-copy tag token injected between segments, which
  * breaks their cross-copy window identity while keeping lengths
  * comparable.
  *
  * Claims measured (SCALE.md "substringDedup at k=50"):
  *   - hot-set size vs k (the broadcast-side object — the scale risk)
  *   - wall time vs k
  */
object SubstrScaleBench {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val big = "/tmp/graft_substr50"
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    if (!new java.io.File(s"$big/documents.parquet/_SUCCESS").exists()) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val span = docs.agg(max("doc_id")).head().getLong(0) + 1
      (0 until 10).map { i =>
        val keepVerbatim = col("doc_id") % 10 === 0
        val seg = (0 until 8).map { j =>
          when(keepVerbatim, col("text"))
            .otherwise(concat(col("text"), lit(s" tag${i}_$j")))
        }
        docs.withColumn("long_text", concat_ws(" ", seg: _*))
          .withColumn("doc_id", col("doc_id") + lit(i * span))
          .select(col("doc_id"), col("long_text").as("text"))
      }.reduce(_ unionByName _)
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$big/documents.parquet")
    }
    val corpus = spark.read.parquet(s"$big/documents.parquet")
    val stats = corpus.select(count(lit(1)).as("n"),
      avg(size(split(col("text"), " "))).as("toks")).head()
    println(s"corpus: ${stats.getLong(0)} docs, avg ${stats.getDouble(1)}%.1f tokens")

    for (k <- Seq(8, 25, 50)) {
      val t0 = System.nanoTime()
      val out = TextAnalysis.substringDedup(corpus, "doc_id", "text", k,
        minCount = 2L)
      val agg = out.agg(count(lit(1)), sum("n_dup_tokens"),
        sum(when(col("n_dup_tokens") > 0, 1).otherwise(0))).head()
      val el = (System.nanoTime() - t0) / 1e9
      graft.util.Materialize.releaseAll(spark)
      println(f"k=$k%-3d  ${el}%6.1f s  " +
        f"docs=${agg.getLong(0)}  dupTokens=${agg.getLong(1)}  docsWithDup=${agg.getLong(2)}")
    }
    // hot-set size (broadcast object) per k
    for (k <- Seq(8, 25, 50)) {
      val toks = corpus.select(col("doc_id"),
        TextFunctions.tokens(lower(col("text"))).as("t"))
      val grams = toks.select(posexplode(
        when(size(col("t")) >= k,
          transform(sequence(lit(1), size(col("t")) - (k - 1)),
            i => md5(concat_ws(" ", slice(col("t"), i, lit(k))))))
          .otherwise(array().cast("array<string>"))).as(Seq("p", "h")))
      val row = grams.groupBy("h").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)), sum(when(col("c") >= 2, 1).otherwise(0))).head()
      println(s"k=$k distinct grams=${row.getLong(0)} hot (>=2)=${row.getLong(1)}")
    }
    spark.stop()
  }
}
