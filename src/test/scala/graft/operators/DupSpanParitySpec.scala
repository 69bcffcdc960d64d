package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The native duplicated-span kernels behind
  * [[TextAnalysis.substringDedup]] and [[TextAnalysis.spanDedup]]
  * (`graft.plans.DupSpans`) against the column formulation they replaced
  * (`ParityReferences.dedupUnitWindowsColumns`): every output column,
  * value for value, on both the map-only default path and the
  * shuffle-join path (`broadcastHot = false`). */
class DupSpanParitySpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.orderBy("id").collect().toSeq

  private def pin(kernel: DataFrame, reference: DataFrame, what: String): Unit = {
    assert(kernel.schema.map(f => (f.name, f.dataType)) ===
      reference.schema.map(f => (f.name, f.dataType)), s"$what: schema")
    assert(rows(kernel) === rows(reference), what)
  }

  /** substringDedup vs the reference, for both broadcastHot values and
    * both keepFirst values. */
  private def pinSubstring(docs: DataFrame, k: Int, minCount: Long = 2L): Unit = {
    val base = docs.select(col("doc_id").as("id"), tokens(lower(col("text"))).as("t"))
    for (keepFirst <- Seq(false, true); broadcastHot <- Seq(true, false))
      pin(TextAnalysis.substringDedup(docs, "doc_id", "text", k, minCount,
          broadcastHot = broadcastHot, keepFirst = keepFirst),
        ParityReferences.dedupUnitWindowsColumns(base, k, minCount,
          broadcastHot = broadcastHot, keepFirst = keepFirst, keySep = " ", outSep = " "),
        s"substringDedup k=$k minCount=$minCount keepFirst=$keepFirst " +
          s"broadcastHot=$broadcastHot")
  }

  private def pinSpan(docs: DataFrame, units: Column, k: Int, sep: String): Unit = {
    val base = docs.select(col("doc_id").as("id"), units.as("t"))
    for (keepFirst <- Seq(false, true); broadcastHot <- Seq(true, false))
      pin(TextAnalysis.spanDedup(docs, "doc_id", units, k,
          broadcastHot = broadcastHot, keepFirst = keepFirst, sep = sep),
        ParityReferences.dedupUnitWindowsColumns(base, k, 2L,
          broadcastHot = broadcastHot, keepFirst = keepFirst, keySep = "\u0001", outSep = sep)
          .withColumnRenamed("n_tokens", "n_units")
          .withColumnRenamed("n_dup_tokens", "n_dup_units"),
        s"spanDedup k=$k keepFirst=$keepFirst broadcastHot=$broadcastHot")
  }

  test("text shorter than k, empty and NULL text") {
    val docs = Seq[(Long, String)](
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta gamma delta",
      3L -> "alpha beta", // shorter than k
      4L -> "",
      5L -> null,
      6L -> "   ").toDF("doc_id", "text")
    pinSubstring(docs, k = 3)
  }

  test("multi-byte UTF-8 tokens") {
    val docs = Seq[(Long, String)](
      1L -> "Ωmega σχήμα 日本語 テキスト café naïve",
      2L -> "prefix σχήμα 日本語 テキスト café tail",
      3L -> "über straße σχήμα 日本語 テキスト",
      4L -> "único naïve café naïve café naïve").toDF("doc_id", "text")
    pinSubstring(docs, k = 3)
    pinSubstring(docs, k = 2)
  }

  test("k = 2 and minCount = 3, repeats within one document") {
    val docs = Seq[(Long, String)](
      1L -> "u v w u v w u v",
      2L -> "u v x y u v",
      3L -> "p q r s p q",
      4L -> "x y z x y z x y z").toDF("doc_id", "text")
    pinSubstring(docs, k = 2, minCount = 3)
    pinSubstring(docs, k = 3)
  }

  test("keepFirst with overlapping windows") {
    // "a b c d e" overlaps itself through its own windows in doc 1 and
    // recurs, shifted, in docs 2 and 3
    val docs = Seq[(Long, String)](
      1L -> "a b c d e a b c d e f",
      2L -> "z a b c d e",
      3L -> "b c d e a b c",
      4L -> "a a a a a a").toDF("doc_id", "text")
    pinSubstring(docs, k = 3)
    pinSubstring(docs, k = 2)
  }

  test("randomized corpus") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "日本", "é")
    val docs = (1L to 40L).map { id =>
      id -> Vector.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }.toDF("doc_id", "text")
    for (k <- Seq(2, 4)) pinSubstring(docs, k)
  }

  test("spanDedup units with a NULL unit, keyed by \\u0001") {
    // "~" marks a NULL unit: concat_ws skips it in both the window key
    // and the cleaned text, so "s1|~|s2|s3" keys like "s1|s2|s3"
    val docs = Seq[(Long, String)](
      1L -> "s1|s2|s3|s4|s5",
      2L -> "x|s2|s3|s4|y",
      3L -> "s1|~|s2|s3|s4",
      4L -> "~|~|~|q",
      5L -> "~|~|~|q|r",
      6L -> "s2 s3|s4",
      7L -> "a|b").toDF("doc_id", "text")
    val units = transform(split(col("text"), "\\|"), u => when(u =!= "~", u))
    pinSpan(docs, units, k = 3, sep = " ")
    pinSpan(docs, units, k = 2, sep = "\n")
  }
}
