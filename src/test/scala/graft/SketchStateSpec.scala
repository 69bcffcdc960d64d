package graft

import graft.functions.TextFunctions
import graft.operators.CorpusStats
import org.apache.spark.sql.functions._

/** Round-15 maintained sketch states (VERDICT r14 #4): ingest-time
  * merge (HLL register max / CMS counter sum / KMV min-k union) must be
  * EXACTLY the sketch of the whole corpus — merges are exact, so
  * "ingest then estimate" and "recompute from scratch" are
  * bit-identical, never approximately equal. */
class SketchStateSpec extends SparkSpec {
  import spark.implicits._

  private def docBatch(tag: String, n: Int, from: Int = 1) =
    (from until from + n).map(i => (s"/$tag/doc$i.md",
      s"# Doc$i\n" + (s"$tag corpus document number $i with shared words " +
        s"and unique token zq${tag}x$i. ") * 6)).toDS()

  private def recomputeToks(l: Library) =
    l.chunks.join(l.documents.select(col("id").as("docId"), col("fileType")),
        Seq("docId"))
      .select(col("fileType").as("src"),
        explode(TextFunctions.tokens(lower(col("content")))).as("t"))

  test("two ingest batches merge to the exact from-scratch sketch states") {
    val wh = tempDir("graft-sketch").toString
    val l = new Library(spark, wh)
    l.addMarkdown(docBatch("alpha", 8))
    l.addMarkdown(docBatch("beta", 6, from = 100))
    val toks = recomputeToks(l)

    // HLL: register table identical to a whole-corpus build
    val wantHll = CorpusStats.hllRegisters(toks, "src", col("t"),
        Library.SketchHllP)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val gotHll = spark.read.parquet(s"$wh/sketch_hll")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotHll === wantHll)
    // and the estimate reads the maintained state, matching recompute
    val wantEst = CorpusStats.hllDistinct(toks, "src", col("t"),
        Library.SketchHllP)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val gotEst = l.sketchDistinctTokens
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(gotEst === wantEst)

    // CMS: counter table identical (geometry columns included)
    val wantCms = CorpusStats.cmsTable(toks, "src", col("t"),
        Library.SketchCmsD, Library.SketchCmsW)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val gotCms = spark.read.parquet(s"$wh/sketch_cms")
      .select("src", "cms_row", "cms_bucket", "cnt")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(gotCms === wantCms)
    // one-sided guarantee through the maintained state: est >= truth
    val exact = toks.groupBy("src", "t").agg(count(lit(1)).as("c"))
      .orderBy(desc("c")).limit(5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    val probes = exact.map(_._1).toSeq.toDF("src", "t")
    val est = l.sketchTokenFrequency(probes, "t")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    exact.foreach { case (k, c) => assert(est(k) >= c, s"one-sided at $k") }

    // KMV: min-k set identical to a whole-corpus k-min
    val wantKmv = toks
      .select(col("src"), TextFunctions.portableHash32(col("t")).as("h"))
      .filter(col("h").isNotNull).distinct()
    val wantTop = graft.operators.Sampling.stratumRank(wantKmv, "src",
        Seq(col("h").asc), "__rk", "__n")
      .filter(col("__rk") <= Library.SketchKmvK).select("src", "h")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val gotKmv = spark.read.parquet(s"$wh/sketch_kmv")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotKmv === wantTop)
    val kmvEst = l.sketchKmvDistinct.collect()
    assert(kmvEst.length === 1) // one stratum: markdown
    // under k distinct hashes the estimate is EXACT
    val nDistinct = wantKmv.count()
    if (nDistinct < Library.SketchKmvK)
      assert(kmvEst(0).getDouble(3) === nDistinct.toDouble)

    // a fully-deduplicated batch must not move the states
    val before = spark.read.parquet(s"$wh/sketch_hll").collect().toSet
    l.addMarkdown(docBatch("alpha", 8))
    assert(spark.read.parquet(s"$wh/sketch_hll").collect().toSet === before)
  }
}
