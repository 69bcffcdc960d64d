package graft.operators

import graft.util.Materialize.MatOps
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every document by how much more likely its
  * hashed n-gram features are under a target distribution (the data you
  * want more of — a wiki/books-like subset) than under the source
  * distribution (the raw crawl), then keep the highest-weight documents.
  * The standard model-free alternative to classifier-based quality
  * filtering (GPT-3's LR filter) for steering a 100 TB crawl toward a
  * target domain.
  *
  * Features are word unigrams + bigrams WITH multiplicity, hashed into
  * `buckets` buckets (collisions are part of the method — both the
  * target and source distributions see the same collisions). The weight
  * is the per-doc log-likelihood ratio
  * `sum_grams log10(p_target[bucket] / p_source[bucket])` with Laplace
  * smoothing over the bucket space.
  *
  * Scale design: document text never shuffles — each doc's hashed
  * feature histogram is one map-only expression, the bucket statistics
  * are one slim (bucket, count) shuffle collapsed to a driver-side
  * array of at most `buckets` ratios, and scoring folds each histogram
  * against that array map-only (see [[dsirWeightsNative]]). Hashing is
  * the portable md5-derived
  * [[graft.functions.TextFunctions.portableHash32]], so weights are
  * reproducible cross-engine and cross-run bit-for-bit (up to the
  * documented <=1-ulp log10 gap, absorbed by 6dp rounding at output
  * boundaries).
  */
object ImportanceSampling {

  /** Per-document DSIR importance weights.
    *
    * Output: (id, is_target, n_grams, weight) — one row per input doc,
    * including gram-less docs (n_grams = 0, weight = 0). `weight` is the
    * log10-likelihood ratio; positive means target-like.
    *
    * @param isTarget predicate column marking the target-distribution
    *                 exemplars (they are scored too — a target doc
    *                 scoring low is a useful diagnostic); a NULL
    *                 predicate result counts as source (matching SQL
    *                 `CASE WHEN p THEN 1 ELSE 0` semantics)
    * @param buckets  hashed feature space size (DSIR's B; collisions
    *                 are shared by both distributions by construction)
    *
    * Contract (ADVICE r20): one output row per INPUT row — `idCol` is
    * expected unique (the doc_id contract every caller satisfies); the
    * legacy column path's groupBy(id) incidentally merged duplicate
    * ids, an implementation artifact, not promised semantics. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    dsirWeightsNative(df, idCol, textCol, isTarget, buckets)
  }

  /** Round-20 native path (guide §2.3/§2.4): the per-doc feature
    * histogram is ONE map-only expression
    * ([[graft.plans.HashedGramBuckets]] — no gram-string explode, no
    * hex round-trip, hashing paid once behind a checkpoint), the bucket
    * statistics are one slim (bucket, count) shuffle over pre-combined
    * per-doc entries, the ≤ `buckets`-row ratio table collapses to a
    * driver-side double array (same IEEE ops as the previous in-plan
    * log10 columns — Spark's Log10 IS Math.log10, division is exact
    * IEEE, and the inputs are integer counts, so each lr is
    * bit-identical), and scoring folds each doc's histogram against
    * that array map-only ([[graft.plans.BucketArrayDot]]) — no scoring
    * join, no second keyed shuffle, no join-back.
    *
    * The per-doc weight fold runs in ascending-bucket order — a fixed
    * deterministic order where the previous hash-aggregate sum was
    * partitioning-dependent; both sit inside the documented ≤1-ulp
    * envelope the 6dp output rounding absorbs (the DuckDB oracle's own
    * unordered sum already certifies that envelope). n_grams stays
    * integer-exact. */
  private def dsirWeightsNative(df: DataFrame, idCol: String,
                                textCol: String, isTarget: Column,
                                buckets: Int): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      coalesce(isTarget.cast("int"), lit(0)).as("is_target"),
      graft.plans.HashedGramBuckets(lower(col(textCol)), buckets).as("__h"))
      .materializeOnce(eager = false) // hashing paid once: stats + scoring
    val stats = base
      .select(col("is_target"), explode(col("__h")).as("e"))
      .groupBy(col("e.b").as("__b"))
      .agg(
        sum(when(col("is_target") === 1, col("e.n")).otherwise(lit(0L))).as("ct"),
        sum(when(col("is_target") === 0, col("e.n")).otherwise(lit(0L))).as("cs"))
      .collect()
    var nt = 0L
    var ns = 0L
    stats.foreach { r => nt += r.getLong(1); ns += r.getLong(2) }
    val lr = new Array[Double](buckets)
    val smoothT = math.log10(1.0 / (nt.toDouble + buckets.toDouble))
    val smoothS = math.log10(1.0 / (ns.toDouble + buckets.toDouble))
    java.util.Arrays.fill(lr, smoothT - smoothS) // untouched buckets (ct=cs=0)
    stats.foreach { r =>
      lr(r.getInt(0)) =
        math.log10((r.getLong(1).toDouble + 1.0) / (nt.toDouble + buckets.toDouble)) -
        math.log10((r.getLong(2).toDouble + 1.0) / (ns.toDouble + buckets.toDouble))
    }
    base
      .select(col("id"), col("is_target"),
        graft.plans.BucketArrayDot(col("__h"), lr).as("__d"))
      .select(col("id"), col("is_target"),
        // NULL text → NULL struct; the legacy path coalesced to (0, 0.0)
        coalesce(col("__d.n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("__d.dot"), lit(0.0)).as("weight"))
  }

  /** The resampling step: the `fraction` highest-weight rows of a
    * [[dsirWeights]] output (ties broken by id — fully deterministic,
    * identical to `row_number() OVER (ORDER BY weight DESC, id)` <= k
    * with k = ceil(n * fraction)).
    *
    * Scale shape — the same distributed prefix pattern as
    * [[Packing.packSequences]], NOT a single-partition window and NOT a
    * driver-side top-k collect (k is a corpus fraction, far past any
    * `limit`):
    *   1. range-partition + local sort by (weight desc, id) — one
    *      balanced shuffle, pinned by a checkpoint so both passes see
    *      identical partitions;
    *   2. per-partition row counts (`parts` rows of driver-side
    *      metadata, same contract as the IVF meta) prefix-scanned into
    *      global rank offsets — this also yields n, so no separate
    *      count() pass over the input;
    *   3. a map-only pass keeps rows while the running global rank is
    *      <= k; partitions wholly past k stop at their first row.
    * The output additionally arrives globally sorted by (weight desc,
    * id) — the order a training-data write wants anyway. */
  def resampleTop(weights: DataFrame, fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1, s"fraction=$fraction not in (0,1]")
    val spark = weights.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    // materialize the input FIRST: repartitionByRange runs a range-
    // boundary sampling job that would otherwise recompute the caller's
    // whole lineage once more before the shuffle computes it again —
    // for a dsirWeights input that is two extra passes over the scoring
    // join (measured: q77 ~2.1 s -> 1.73 s at sf0.1, n=5 medians)
    val w0 = weights.materializeOnce(eager = false)
    val ordered = w0
      .repartitionByRange(parts, col("weight").desc, col("id").asc)
      .sortWithinPartitions(col("weight").desc, col("id").asc)
      .materializeOnce(eager = false) // two passes must see the same split
    val counts = ordered.select(spark_partition_id().as("__pid"))
      .groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L)).toArray
    val n = offsets(parts)
    val k = math.max(1L, math.ceil(n * fraction).toLong)
    val schema = ordered.schema
    ordered.mapPartitions { it =>
      var rank = offsets(TaskContext.getPartitionId())
      // valid because rows arrive in (weight desc, id) order: once the
      // global rank passes k nothing later in the partition qualifies
      it.takeWhile { _ => rank += 1; rank <= k }
    }(Encoders.row(schema))
  }
}
