package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** `TextAnalysis.substringDedup` (Lee et al. 2022 ExactSubstr at k-gram
  * granularity) against a brute-force covered-token reference: mark
  * every token under a k-window whose gram occurs >= minCount times
  * corpus-wide, count maximal covered runs, drop covered tokens. The
  * operator's interval fold (merge on overlap OR adjacency) must equal
  * the boolean-coverage formulation exactly.
  */
class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  private def run(docs: Seq[(Long, String)], k: Int, minCount: Long = 2L,
                  keepFirst: Boolean = false): Map[Long, (Long, Long, Long, Double, String)] =
    collect(TextAnalysis.substringDedup(
      docs.toDF("doc_id", "text"), "doc_id", "text", k, minCount,
      keepFirst = keepFirst))

  private def collect(df: DataFrame): Map[Long, (Long, Long, Long, Double, String)] =
    df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5))).toMap

  /** Reference semantics via per-token coverage booleans; with
    * keepFirst the globally-first (id, pos) occurrence of each
    * duplicated gram marks nothing. */
  private def brute(docs: Seq[(Long, String)], k: Int, minCount: Long,
                    keepFirst: Boolean = false)
      : Map[Long, (Long, Long, Long, Double, String)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split(" ").filter(_.nonEmpty).toVector }
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val canon = scala.collection.mutable.Map.empty[String, (Long, Int)]
    for ((id, ts) <- toks.sortBy(_._1); i <- 0 to ts.length - k) {
      val g = ts.slice(i, i + k).mkString(" ")
      counts.updateWith(g)(c => Some(c.getOrElse(0L) + 1))
      if (!canon.contains(g)) canon(g) = (id, i + 1)
    }
    toks.map { case (id, ts) =>
      val covered = Array.fill(ts.length)(false)
      for (i <- 0 to ts.length - k
           if counts(ts.slice(i, i + k).mkString(" ")) >= minCount
           if !(keepFirst && canon(ts.slice(i, i + k).mkString(" ")) == ((id, i + 1)));
           j <- i until i + k) covered(j) = true
      val nDup = covered.count(identity).toLong
      val spans = ts.indices.count(j => covered(j) && (j == 0 || !covered(j - 1))).toLong
      val cleaned = ts.indices.filterNot(covered).map(ts).mkString(" ")
      id -> (ts.length.toLong, nDup, spans,
        nDup.toDouble / math.max(ts.length, 1), cleaned)
    }.toMap
  }

  test("hand case: cross-doc duplicated run is found, merged, removed") {
    val shared = "alpha beta gamma delta epsilon"
    val docs = Seq(
      1L -> s"one two $shared three four",
      2L -> s"$shared five six seven eight nine")
    val got = run(docs, k = 5)
    // the shared 5-gram appears twice -> its 5 tokens are one span in each doc
    assert(got(1L) === ((9L, 5L, 1L, 5.0 / 9, "one two three four")))
    assert(got(2L) === ((10L, 5L, 1L, 0.5, "five six seven eight nine")))
  }

  test("adjacent and overlapping windows merge into maximal spans") {
    // doc 1 repeats a 6-token run; with k=3 its four duplicated windows
    // overlap pairwise into ONE span of 6 tokens
    val run6 = "a b c d e f"
    val docs = Seq(1L -> s"x $run6 y", 2L -> s"p q $run6 r")
    val got = run(docs, k = 3)
    assert(got(1L)._3 === 1L, s"expected one merged span, got ${got(1L)}")
    assert(got(1L)._2 === 6L)
    assert(got(1L)._5 === "x y")
  }

  test("within-doc repetition counts toward minCount") {
    val docs = Seq(1L -> "u v w z1 z2 u v w", 2L -> "totally different words here")
    val got = run(docs, k = 3)
    // "u v w" occurs twice inside doc 1 alone
    assert(got(1L)._2 === 6L)
    assert(got(1L)._3 === 2L)
    assert(got(1L)._5 === "z1 z2")
    assert(got(2L)._2 === 0L)
  }

  test("fully duplicated docs clean to empty; short docs are untouched") {
    val docs = Seq(
      1L -> "same exact text here",
      2L -> "same exact text here",
      3L -> "tiny") // shorter than k: no gram, never flagged
    val got = run(docs, k = 4)
    assert(got(1L) === ((4L, 4L, 1L, 1.0, "")))
    assert(got(2L) === ((4L, 4L, 1L, 1.0, "")))
    assert(got(3L) === ((1L, 0L, 0L, 0.0, "tiny")))
  }

  test("randomized corpus matches the brute-force reference exactly") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val docs = (1L to 60L).map { id =>
      val n = 1 + rnd.nextInt(30)
      id -> Vector.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    for (k <- Seq(2, 3, 5); minCount <- Seq(2L, 4L)) {
      val got = run(docs, k, minCount)
      val want = brute(docs, k, minCount)
      assert(got === want, s"mismatch at k=$k minCount=$minCount")
    }
  }

  test("keepFirst: exactly one copy of a duplicated run survives, the (id,pos)-first") {
    val docs = Seq(
      1L -> "same exact text here",
      2L -> "same exact text here",
      3L -> "same exact text here")
    val got = run(docs, k = 4, keepFirst = true)
    assert(got(1L) === ((4L, 0L, 0L, 0.0, "same exact text here")))
    assert(got(2L) === ((4L, 4L, 1L, 1.0, "")))
    assert(got(3L) === ((4L, 4L, 1L, 1.0, "")))
  }

  test("keepFirst: within-doc repeats keep the earliest occurrence") {
    val got = run(Seq(1L -> "u v w z1 z2 u v w"), k = 3, keepFirst = true)
    // first "u v w" (pos 1) is canonical; only the second is removed
    assert(got(1L) === ((8L, 3L, 1L, 3.0 / 8, "u v w z1 z2")))
  }

  test("keepFirst randomized corpus matches the brute-force reference") {
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val docs = (1L to 60L).map { id =>
      val n = 1 + rnd.nextInt(30)
      id -> Vector.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    for (k <- Seq(2, 3, 5)) {
      val got = run(docs, k, keepFirst = true)
      val want = brute(docs, k, 2L, keepFirst = true)
      assert(got === want, s"mismatch at k=$k")
    }
  }

  test("k=50 (the published Lee et al. operating point) on long docs") {
    // docs long enough to carry 50-gram windows: ~120 tokens each; docs
    // 1 and 2 share a 70-token run (so its 21 windows must merge into
    // one maximal span), docs 3-5 are unique filler
    def words(tag: String, n: Int): String =
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val shared = words("dup", 70)
    val docs = Seq(
      1L -> s"${words("a", 30)} $shared ${words("b", 25)}",
      2L -> s"${words("c", 20)} $shared ${words("d", 35)}",
      3L -> words("e", 120),
      4L -> words("f", 120),
      5L -> words("g", 120))
    val got = run(docs, k = 50)
    val want = brute(docs, k = 50, 2L)
    assert(got === want)
    // the shared run is recovered exactly: 70 duplicated tokens in ONE
    // merged span per doc, nothing else flagged
    assert(got(1L)._2 === 70L && got(1L)._3 === 1L)
    assert(got(2L)._2 === 70L && got(2L)._3 === 1L)
    assert(got(3L)._2 === 0L)
    // keepFirst: doc 1 (lower id) holds the canonical windows — its
    // copy survives; doc 2 still loses the full run
    val kf = run(docs, k = 50, keepFirst = true)
    assert(kf === brute(docs, k = 50, 2L, keepFirst = true))
    assert(kf(1L)._2 === 0L && kf(2L)._2 === 70L)
  }
}
