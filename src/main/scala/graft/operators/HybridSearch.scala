package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hybrid (vector + full-text) result fusion.
  *
  * Reproduces the reference's merge semantics
  * (/root/reference/src/index.ts:323-348): results are keyed, a hit
  * present in both sources gets `score = min(1, vectorScore * 1.2)` and
  * `match_type = "hybrid"`; otherwise each side keeps its own score with
  * `match_type = "vector" | "fts"`. The reference's quirk of comparing
  * unnormalized FTS scores against [0,1] vector scores in the final sort
  * is preserved deliberately (SURVEY.md §7.3).
  *
  * Implemented as a single full-outer join — both inputs are already
  * top-k sized (small), so this is a broadcastable join with no
  * wide shuffle regardless of corpus size.
  */
object HybridSearch {
  /** The reference's both-sources boost. */
  val Boost = 1.2

  /** Precondition: at most one row per key on each side (a top-k list
    * of distinct hits); a key repeated on one side would pair with every
    * copy on the other. Two top-k inputs are single-partition already,
    * so the join needs no exchange.
    *
    * @param vector (keyCols..., score) vector-side hits
    * @param fts    (keyCols..., score) text-side hits */
  def fuse(vector: DataFrame, fts: DataFrame, keyCols: Seq[String],
           boost: Double = Boost): DataFrame = {
    val v = vector.withColumnRenamed("score", "vec_score")
    val f = fts.withColumnRenamed("score", "fts_score")
    v.join(f, keyCols, "full_outer")
      .withColumn("match_type",
        when(col("vec_score").isNotNull && col("fts_score").isNotNull, "hybrid")
          .when(col("vec_score").isNotNull, "vector")
          .otherwise("fts"))
      .withColumn("score",
        when(col("match_type") === "hybrid",
          least(lit(1.0), col("vec_score") * boost))
          .when(col("match_type") === "vector", col("vec_score"))
          .otherwise(col("fts_score")))
  }

  /** Fuse and return the final ranked top-k (reference K5:
    * src/index.ts:351-353). */
  def fuseTopK(vector: DataFrame, fts: DataFrame, keyCols: Seq[String],
               k: Int, boost: Double = Boost): DataFrame =
    fuse(vector, fts, keyCols, boost)
      .orderBy(desc("score") +: keyCols.map(asc): _*)
      .limit(k)

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    * the scale-free industry-standard alternative to the reference's
    * boost/cap merge: each retriever contributes 1/(c + rank), so
    * incomparable score scales (BM25 vs cosine — the very quirk the
    * reference's fusion preserves) never meet; only ranks do.
    *
    * Each input list is `(idCol, rank)` with rank 1-based — lists are
    * top-k-sized by construction (bounded rows at any corpus size), so
    * the N-way full-outer join never grows past the sum of the list
    * lengths and broadcasts. An id absent from a list contributes
    * nothing for it (the published semantics). `rrf_score` is a fixed
    * left-to-right sum of exact divisions — bit-reproducible.
    *
    * Output: idCol, rank_0..rank_{n-1} (null where absent), rrf_score;
    * ranked (rrf_score desc, id) and cut to `k`. */
  def rrfFuseTopK(lists: Seq[DataFrame], idCol: String, k: Int,
                  c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrf needs at least one ranked list")
    val sides = lists.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol), col("rank").cast("long").as(s"rank_$i"))
    }
    val joined = sides.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = lists.indices
      .map(i => when(col(s"rank_$i").isNotNull,
        lit(1.0) / (lit(c.toDouble) + col(s"rank_$i").cast("double")))
        .otherwise(lit(0.0)))
      .reduce(_ + _)
    joined.withColumn("rrf_score", score)
      .orderBy(desc("rrf_score"), asc(idCol))
      .limit(k)
  }
}
