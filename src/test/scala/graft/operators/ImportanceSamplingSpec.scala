package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DSIR importance weights: hashed unigram+bigram features, Laplace
  * log-likelihood ratios, deterministic resampling. */
class ImportanceSamplingSpec extends SparkSpec {
  import spark.implicits._

  private val B = 4096

  /** The engine's portable bucket: [[md5Hash32]] mod B. */
  private def bucket(g: String): Long = md5Hash32(g) % B

  private def gramsOf(text: String): Seq[String] = {
    val t = text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
    t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }

  test("weights match the hand-computed log-likelihood ratio") {
    val rows = Seq(
      (1L, "a b", 1),      // target
      (2L, "a c", 0),      // source
      (3L, "c c d", 0))    // source
    val df = rows.toDF("id", "text", "tgt")
    // expected: replay bucketing + Laplace LLR in plain Scala
    val perDoc = rows.map { case (id, text, tgt) =>
      (id, tgt, gramsOf(text).groupBy(bucket).view.mapValues(_.size.toLong).toMap)
    }
    val ct = perDoc.filter(_._2 == 1).flatMap(_._3).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val cs = perDoc.filter(_._2 == 0).flatMap(_._3).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val (nt, ns) = (ct.values.sum.toDouble, cs.values.sum.toDouble)
    def lr(b: Long) =
      math.log10((ct.getOrElse(b, 0L) + 1.0) / (nt + B)) -
        math.log10((cs.getOrElse(b, 0L) + 1.0) / (ns + B))
    val expected = perDoc.map { case (id, _, bs) =>
      id -> bs.map { case (b, n) => n * lr(b) }.sum
    }.toMap
    val out = ImportanceSampling.dsirWeights(df, "id", "text", col("tgt") === 1, B)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("weight")).toMap
    expected.foreach { case (id, w) =>
      assert(math.abs(out(id) - w) < 1e-9, s"doc $id: ${out(id)} vs $w")
    }
    // target-vocab doc must outscore the pure-source-vocab doc
    assert(out(1L) > out(3L))
  }

  test("gram counts include multiplicity and gram-less docs score 0") {
    val df = Seq((1L, "x x x", 1), (2L, "", 0), (3L, "y", 0))
      .toDF("id", "text", "tgt")
    val out = ImportanceSampling.dsirWeights(df, "id", "text", col("tgt") === 1, B)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n_grams"), r.getAs[Double]("weight"))).toList
      .sortBy(_._1)
    // "x x x" -> 3 unigrams + 2 bigrams = 5 grams
    assert(out(0)._2 === 5L)
    assert(out(1) === ((2L, 0L, 0.0)))
    assert(out(2)._2 === 1L)
  }

  test("a NULL predicate result counts as source (SQL CASE semantics)") {
    val df = Seq((1L, "a b", "en"), (2L, "a c", null.asInstanceOf[String]))
      .toDF("id", "text", "lang")
    val out = ImportanceSampling.dsirWeights(df, "id", "text",
        col("lang") === "en", B)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("is_target")).toMap
    assert(out === Map(1L -> 1, 2L -> 0)) // NULL lang -> source, never NULL
  }

  // round 20: the md5 family routes through the map-only
  // HashedGramBuckets/BucketArrayDot path — pin parity against the
  // retained legacy column formulation on the edge shapes that could
  // diverge (runs of spaces, empty/NULL text, multi-byte UTF-8, single
  // token, repeated grams). n_grams must match EXACTLY; the weight's
  // fold order changed (ascending bucket vs hash-aggregate), so it
  // carries the documented ≤1-ulp-per-term envelope.
  test("native md5 path matches the legacy column path") {
    val tricky = Seq(
      (1L, "the  quick   brown fox", 1),
      (2L, "  leading and trailing  ", 0),
      (3L, "", 0),
      (4L, null.asInstanceOf[String], 0),
      (5L, "único naïve café naïve café", 1),
      (6L, "x", 0),
      (7L, "a a a a a a a a", 1),
      (8L, "Ωmega σχήμα shared vocab words here too", 0)
    ).toDF("id", "text", "tgt")
    val fast = ImportanceSampling.dsirWeights(tricky, "id", "text",
        col("tgt") === 1, B)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Int]("is_target"), r.getAs[Long]("n_grams"),
          r.getAs[Double]("weight"))).toMap
    val legacy = ParityReferences.dsirWeightsColumns(tricky, "id", "text",
        col("tgt") === 1, B)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Int]("is_target"), r.getAs[Long]("n_grams"),
          r.getAs[Double]("weight"))).toMap
    assert(fast.keySet === legacy.keySet)
    fast.keySet.foreach { id =>
      assert(fast(id)._1 === legacy(id)._1, s"doc $id is_target")
      assert(fast(id)._2 === legacy(id)._2, s"doc $id n_grams")
      assert(math.abs(fast(id)._3 - legacy(id)._3) < 1e-12,
        s"doc $id weight: ${fast(id)._3} vs ${legacy(id)._3}")
    }
  }

  test("weights are partitioning-invariant") {
    val df = (1L to 40L).map(i =>
      (i, s"tok$i common word plus tok${i % 7}", if (i % 5 == 0) 1 else 0))
      .toDF("id", "text", "tgt")
    val w1 = ImportanceSampling.dsirWeights(df, "id", "text", col("tgt") === 1, B)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val w8 = ImportanceSampling.dsirWeights(df.repartition(8), "id", "text", col("tgt") === 1, B)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(w1 === w8)
  }

  test("resampleTop keeps ceil(fraction*n) highest-weight rows, ties by id") {
    val w = Seq(
      (1L, 0, 4L, 2.0), (2L, 0, 4L, 2.0), (3L, 1, 4L, 5.0),
      (4L, 0, 4L, -1.0), (5L, 0, 4L, 0.5))
      .toDF("id", "is_target", "n_grams", "weight")
    val top = ImportanceSampling.resampleTop(w, 0.5) // ceil(2.5) = 3
    assert(top.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("resampleTop matches the row_number window form exactly") {
    import org.apache.spark.sql.expressions.Window
    // duplicate weights force tie-breaks; 8 input partitions force the
    // selection boundary to land mid-partition in the range split
    val w = (1L to 317L).map(i => (i, (i % 23).toDouble - 5.0))
      .toDF("id", "weight").repartition(8)
    for (frac <- Seq(0.1, 0.37, 1.0)) {
      val k = math.ceil(317 * frac).toLong
      val expected = w
        .withColumn("__rk",
          row_number().over(Window.orderBy(desc("weight"), asc("id"))))
        .filter(col("__rk") <= k).drop("__rk")
        .orderBy("id").collect().map(_.toSeq).toSeq
      val got = ImportanceSampling.resampleTop(w, frac)
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(got === expected, s"fraction=$frac")
      // and partitioning-invariant
      val got1 = ImportanceSampling.resampleTop(w.repartition(1), frac)
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(got1 === expected, s"fraction=$frac at 1 partition")
    }
  }
}
