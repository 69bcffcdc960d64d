package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-20 map-only unigram-LM scoring kernel: value parity against the
  * retained legacy explode/join/groupBy formulation, plan shape guard. */
class UnigramScoreSpec extends SparkSpec {
  import spark.implicits._

  test("unigramQuality map-only kernel matches the legacy column path") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the the the quick quick fox"),
      (3L, ""),
      (4L, null.asInstanceOf[String]),
      (5L, "único naïve café rare tokens here"),
      (6L, "  spaced   out   tokens  "),
      (7L, "x")
    ).toDF("doc_id", "text")
    val fast = graft.operators.TextAnalysis
      .unigramQuality(docs, "doc_id", "text", vocabSize = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val legacy = graft.operators.ParityReferences
      .unigramQualityColumns(docs, "doc_id", "text", vocabSize = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(fast.keySet === legacy.keySet)
    fast.keySet.foreach { id =>
      assert(fast(id)._1 === legacy(id)._1, s"doc $id n_tokens")
      assert(fast(id)._2 === legacy(id)._2, s"doc $id avg_logp") // bit-equal
    }
    // top-V cut exercised: vocabSize=4 < distinct tokens, so OOV tokens
    // hit the (0+1)/(total+1) floor in both paths
  }

  test("unigramQuality map-only plan has no join and no Exchange after the vocab pass") {
    val docs = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    val plan = graft.operators.TextAnalysis
      .unigramQuality(docs, "doc_id", "text", vocabSize = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

}
