package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** LR quality classifier (round 12): separation on a synthetic
  * target/crawl corpus, score replay against a driver-side replica,
  * partitioning invariance of the ordered fold. */
class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  // target docs: natural-English-ish; crawl docs: symbol spam
  private val target = (1L to 20L).map(i =>
    (i, s"the quick brown fox number $i jumps over the lazy dog today", 1))
  private val crawl = (21L to 40L).map(i =>
    (i, s"$$$$ win ### free @@@ casino $i click !!! now $$$$ bonus", 0))
  private val corpus = target ++ crawl

  private lazy val model = QualityClassifier.train(
    corpus.toDF("doc_id", "text", "lbl"), "doc_id", "text",
    isTarget = col("lbl") === 1, buckets = 256)

  test("classifier separates target from crawl docs") {
    val scores = QualityClassifier.score(
      corpus.toDF("doc_id", "text", "lbl"), "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("score")).toMap
    val tAvg = target.map(t => scores(t._1)).sum / target.size
    val cAvg = crawl.map(c => scores(c._1)).sum / crawl.size
    assert(tAvg > 0.9, s"target avg $tAvg")
    assert(cAvg < 0.1, s"crawl avg $cAvg")
    // every target doc outranks every crawl doc on this separable corpus
    assert(target.map(t => scores(t._1)).min >
      crawl.map(c => scores(c._1)).max)
  }

  test("score matches a driver-side replica of the bucket-ordered fold") {
    val df = corpus.toDF("doc_id", "text", "lbl")
    val got = QualityClassifier.score(df, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Double]("score"))).toMap
    corpus.foreach { case (id, text, _) =>
      val toks = text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      val grams = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val counts = grams.groupBy(g => (md5Hash32(g) % model.buckets).toInt)
        .map { case (b, gs) => b -> gs.size.toLong }
      val dot = counts.toSeq.sortBy(_._1)
        .foldLeft(0.0) { case (acc, (b, n)) =>
          acc + n.toDouble * model.weights(b) }
      val z = model.intercept + dot
      val want = 1.0 / (1.0 + math.exp(-z))
      assert(got(id)._1 === grams.size.toLong, s"doc $id n_grams")
      assert(got(id)._2 === want, s"doc $id score") // BIT-equal, not approx
    }
  }

  test("score is invariant to input partitioning") {
    val base = corpus.toDF("doc_id", "text", "lbl")
    val a = QualityClassifier.score(base.repartition(1), "doc_id", "text", model)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("score"))).toSet
    val b = QualityClassifier.score(base.repartition(13), "doc_id", "text", model)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("score"))).toSet
    assert(a === b)
  }

  test("gram-less docs score sigmoid(intercept); filter keeps the right side") {
    val withEmpty = corpus :+ (99L, "", 0)
    val s = QualityClassifier.score(
      withEmpty.toDF("doc_id", "text", "lbl"), "doc_id", "text", model)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Double]("score"))).toMap
    assert(s(99L)._1 === 0L)
    assert(s(99L)._2 === 1.0 / (1.0 + math.exp(-model.intercept)))
    // balanced classes put the intercept near 0, so the featureless doc
    // sits at ~0.5 — the filter verdict on it follows sigmoid(intercept)
    val expected = target.map(_._1).toSet ++
      (if (s(99L)._2 >= 0.5) Set(99L) else Set.empty[Long])
    val kept = QualityClassifier.filterByScore(
      withEmpty.toDF("doc_id", "text", "lbl"), "doc_id", "text", model, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === expected)
  }

  // round 20: the map-only HashedGramDot path replaced the explode →
  // groupBy → array_sort column formulation — pin BIT-identity (z AND
  // score, not approx) against the retained legacy path on a corpus with
  // the edge shapes that could diverge: runs of spaces, leading/trailing
  // spaces, empty text, NULL text, multi-byte UTF-8, single token (no
  // bigram), repeated grams (multiplicity).
  test("map-only scoring is bit-identical to the legacy column path") {
    val tricky = Seq(
      (1L, "the  quick   brown fox", 1),
      (2L, "  leading and trailing  ", 0),
      (3L, "", 0),
      (4L, null.asInstanceOf[String], 0),
      (5L, "único", 1),
      (6L, "naïve café naïve café naïve", 0),
      (7L, "x", 1),
      (8L, "a a a a a a a a", 0),
      (9L, "Ωmega σχήμα ΤΕΣΤ mixed CASE", 1)
    ).toDF("doc_id", "text", "lbl")
    val fast = QualityClassifier.scoreWithMargin(tricky, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Double]("z"), r.getAs[Double]("score"))).toMap
    val legacy = ParityReferences.scoreWithMarginColumns(
      tricky, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Double]("z"), r.getAs[Double]("score"))).toMap
    assert(fast.keySet === legacy.keySet)
    fast.keySet.foreach { id =>
      assert(fast(id) === legacy(id), s"doc $id") // exact tuple equality
    }
  }

  test("map-only scoring plan has no Exchange and no Window") {
    val plan = QualityClassifier.scoreWithMargin(
      corpus.toDF("doc_id", "text", "lbl"), "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
  }
}
