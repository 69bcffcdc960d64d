package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Materialize.MatOps

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Four DOCUMENT-level families, in increasing fuzziness:
  *   1. exact       — group on a content fingerprint (md5 of normalized text)
  *   2. MinHash+LSH — shingle -> minhash signature -> band -> bucket join
  *   3. SimHash     — near-dup via Hamming distance on a locality hash
  *   4. n-gram Jaccard — exact set similarity on candidate pairs
  *
  * The SUB-document tiers live in [[TextAnalysis]]: `lineDedup` (CCNet
  * cross-doc line removal, q79) and `substringDedup` (Lee et al. 2022
  * ExactSubstr duplicated-span removal, q82/q83); embedding-space dedup
  * lives in [[VectorSearch]] / [[SemDedup]].
  *
  * Scale design: every candidate-generation step is an equi-join on a
  * hash-derived key (fingerprint, LSH band, simhash prefix), never a
  * cartesian product. At 100 TB the shuffle is on (key, small-signature)
  * pairs — a few hundred bytes/doc, not the documents themselves; the
  * verify step joins text back only for the candidate pairs (a tiny
  * fraction of the corpus). Hashes are md5-derived ([[graft.functions
  * .TextFunctions.portableHash32]]) so every stage is reproducible
  * cross-engine.
  */
object Dedup {

  /** Exact duplicate groups: fingerprint -> count, keeping the minimum id
    * as the canonical representative. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_dups"), min(col("id")).as("canonical_id"))
      .filter(col("n_dups") > 1)

  /** Exact-dedup summary: total / unique / duplicate-group counts. */
  def exactDupStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("fp"))
      .agg(
        count(lit(1)).as("n_total"),
        countDistinct(col("fp")).as("n_unique"))
      .withColumn("n_dup_rows", col("n_total") - col("n_unique"))

  /** MinHash signature columns mh0..mh{k-1} over character `shingleK`-
    * shingles of the lowercased text.
    *
    * The k hash families derive from TWO md5-based hashes per shingle
    * via h_i = (h1 + i·h2) mod 2^32 (Kirsch-Mitzenmacher) — same
    * collision behavior as k independent hashes at a quarter of the
    * hashing cost, and the shingle array is materialized in its own
    * projection so it is computed once per row, not once per column. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int, shingleK: Int): DataFrame = {
    val sig = graft.plans.MinHashSignature(lower(col(textCol)), shingleK,
      numHashes)
    val mhCols = (0 until numHashes).map(i =>
      element_at(col("__sig"), i + 1).as(s"mh$i"))
    df.select(col(idCol).as("id"), sig.as("__sig"))
      .select((col("id") +: mhCols): _*)
  }

  /** LSH candidate pairs: band the signature into `numBands` bands of
    * `rowsPerBand`, bucket-join per band, dedup pairs across bands.
    * Docs agreeing on *all* hashes of any band become a candidate pair.
    *
    * `maxBucketSize` drops degenerate buckets (a band value shared by
    * more than that many docs) before the self-join — a bucket of size m
    * emits m²/2 pairs, so one hot bucket (boilerplate, empty docs) can
    * dominate the whole job at corpus scale; such buckets carry no
    * discriminative signal anyway (the skew guard, cf. stop-words). */
  def lshCandidatePairs(sig: DataFrame, numHashes: Int, numBands: Int,
                        maxBucketSize: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / numBands
    require(numBands * rowsPerBand == numHashes, "bands must tile the signature")
    // explode one band-key array rather than unioning per-band branches:
    // a union would re-evaluate the whole signature plan once per band
    val keys = (0 until numBands).map { b =>
      concat_ws("_",
        (lit(b.toString) +:
          (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}").cast("string"))): _*)
    }
    // materialize the (tiny) banded keys before the self-join: a join's
    // two branches would otherwise each recompute the full signature scan
    val banded = sig.select(col("id"), explode(array(keys: _*)).as("band_key"))
      .materializeOnce(eager = false)
    // two-phase hot-bucket guard: a window over band_key would shuffle
    // EVERY banded row into per-key partitions just to count them — the
    // 100M-row boilerplate bucket the cap exists to drop would land on
    // one task. groupBy+count map-side combines to one tiny row per hot
    // key; the anti-join broadcasts it
    val hotKeys = banded.groupBy("band_key").count()
      .filter(col("count") > maxBucketSize)
      .select("band_key")
    val capped = banded.join(broadcast(hotKeys), Seq("band_key"), "left_anti")
    val l = capped.select(col("band_key"), col("id").as("id_a"))
    val r = capped.select(col("band_key"), col("id").as("id_b"))
    l.join(r, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Verify candidate pairs with exact Jaccard over `shingleK`-shingles;
    * keep pairs at/above `threshold`. `corpus` must carry (id, text). */
  def verifyPairs(corpus: DataFrame, idCol: String, textCol: String,
                  pairs: DataFrame, shingleK: Int, threshold: Double): DataFrame = {
    // only docs that appear in a candidate pair need shingling — at
    // corpus scale the candidates are a small fraction, and the
    // localCheckpoint below would otherwise materialize shingle sets
    // for the whole corpus (the join can't push ids below the barrier).
    // The (tiny) pair list materializes once: it feeds the id semi-join
    // and both sides of the verify join
    val p = pairs.materializeOnce(eager = false)
    val pairIds = p.select(col("id_a").as("id"))
      .unionByName(p.select(col("id_b").as("id")))
      .distinct()
    // shingle sets are joined from both pair sides — materialize once
    val sets = corpus.select(col(idCol).as("id"), col(textCol))
      .join(pairIds, Seq("id"), "left_semi")
      .select(col("id"),
        graft.plans.TextSetExpressions.shingleSet(lower(col(textCol)), shingleK).as("sh"))
      .materializeOnce(eager = false)
    p
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        graft.plans.TextSetExpressions.arrayJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** End-to-end MinHash LSH near-dup detection: md5 signatures band
    * into candidates, and the final verdict filter is exact Jaccard, so
    * the hash only steers candidate recall, not pair truth. */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 8, numBands: Int = 4,
                      shingleK: Int = 5, threshold: Double = 0.5,
                      maxBucketSize: Int = 1000): DataFrame = {
    val sig = minhashSignature(df, idCol, textCol, numHashes, shingleK)
    val cands = lshCandidatePairs(sig, numHashes, numBands, maxBucketSize)
    verifyPairs(df, idCol, textCol, cands, shingleK, threshold)
  }

  /** SimHash per document (over the distinct word set). Near-dups are
    * pairs within `maxHamming`; candidate generation joins on the high
    * bit-prefix so it stays an equi-join. */
  def simhashes(df: DataFrame, idCol: String, textCol: String,
                bits: Int = 32): DataFrame =
    df.select(col(idCol).as("id"),
      graft.plans.TextSetExpressions.simhash(lower(col(textCol)), bits)
        .as("simhash"))

  /** Multi-table rotation blocking (Manku et al., WWW'07): table t
    * rotates the simhash left by t·bits/numTables and blocks on the
    * top `prefixBits` of the rotation, so each table keys on a
    * different bit-span of the hash. A single prefix table misses any
    * pair whose differing bits fall inside the prefix; with
    * `numTables` disjoint spans (prefixBits ≤ bits/numTables), a pair
    * within `maxHamming` < numTables differing bits cannot dirty every
    * span — pigeonhole guarantees at least one table catches it, so
    * recall is EXACT (identical output to the all-pairs hamming
    * filter), while candidate generation stays an equi-join on ~
    * numTables×n tiny (id, key) rows. The same two-phase hot-bucket
    * guard as [[lshCandidatePairs]] drops degenerate buckets (e.g.
    * near-empty docs all hashing to 0) before the self-join. */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      bits: Int = 32, prefixBits: Int = 8,
                      maxHamming: Int = 3, numTables: Int = 4,
                      maxBucketSize: Int = 10000,
                      blockCol: Option[Column] = None): DataFrame = {
    require(bits <= 63 && prefixBits <= bits && numTables >= 1)
    val mask = (1L << bits) - 1
    val keys = (0 until numTables).map { t =>
      val r = (t * bits) / numTables
      val rot =
        if (r == 0) col("simhash")
        else shiftleft(col("simhash"), r)
          .bitwiseOR(shiftright(col("simhash"), bits - r))
          .bitwiseAND(lit(mask))
      // an optional blocking key (source, language, shard...) prefixes
      // every table key: near-dup detection within blocks is the
      // standard corpus-scale scope and divides candidate volume by
      // the block count
      concat_ws("_",
        (blockCol.map(_ => col("__blk")).toSeq :+ lit(t.toString) :+
          shiftright(rot, bits - prefixBits).cast("string")): _*)
    }
    // the block value is hashed (after a NULL sentinel) before keying:
    // concat_ws SKIPS a null argument, which would have collapsed
    // null-block docs into unblocked keys that pair across blocks, and
    // a raw block value containing '_' could alias keys across tables.
    // The numeric hash has neither failure mode, and the oracle SQL
    // applies the identical md5-derived hash for parity.
    def blockKey(c: Column): Column = {
      import graft.functions.TextFunctions.portableHash32
      // \u0001 sentinel: cannot appear in a real block label, so NULL
      // blocks get their own bucket instead of merging with "" blocks
      portableHash32(coalesce(c.cast("string"), lit("\u0001"))).cast("string")
    }
    // tiny (id, simhash, key) rows materialize once: they feed the
    // hot-key count AND both sides of the candidate self-join
    val base = df.select(
      (col(idCol).as("id") +:
        graft.plans.TextSetExpressions.simhash(lower(col(textCol)), bits).as("simhash") +:
        blockCol.map(c => blockKey(c).as("__blk")).toSeq): _*)
    val banded = base
      .select(col("id"), col("simhash"), explode(array(keys: _*)).as("bk"))
      .materializeOnce(eager = false)
    val hotKeys = banded.groupBy("bk").count()
      .filter(col("count") > maxBucketSize)
      .select("bk")
    val capped = banded.join(broadcast(hotKeys), Seq("bk"), "left_anti")
    capped.select(col("bk"), col("id").as("id_a"), col("simhash").as("sh_a"))
      .join(capped.select(col("bk"), col("id").as("id_b"), col("simhash").as("sh_b")),
        Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      // dedup across tables BEFORE the hamming filter: a close pair
      // collides in several tables and must not be scored repeatedly
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", hammingDist(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Word n-gram Jaccard similarity for pairs sharing a blocking key.
    *
    * `maxLenDiff` (with `lenCol`) prunes pairs whose lengths differ too
    * much *before* the expensive set intersection — near-duplicates are
    * necessarily near-length, so this is the cheap second blocking
    * dimension after the equi-join key (a pair at Jaccard j has relative
    * length difference <= (1-j)/j). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: Column, n: Int, threshold: Double,
                        lenCol: Option[String] = None,
                        maxLenDiff: Int = Int.MaxValue,
                        /** hot-block guard (round 13, the
                          * [[lshCandidatePairs]] skew discipline): a
                          * block of m rows emits m²/2 verify pairs, so
                          * one degenerate block can dominate the job at
                          * 100× density. Blocks larger than this are
                          * dropped BEFORE the self-join; candidate
                          * volume is then ≤ #rows × cap — linear at any
                          * density. Default unlimited keeps the
                          * certified exact semantics. */
                        maxBlockSize: Long = Long.MaxValue): DataFrame = {
    val len = lenCol.map(col).getOrElse(length(col(textCol)))
    val sets0 = df.select(col(idCol).as("id"), blockCol.as("block"),
      len.as("len"),
      graft.plans.TextSetExpressions.wordNgramSet(lower(col(textCol)), n).as("ng"))
      .materializeOnce(eager = false) // n-gram arrays join from both pair sides
    val sets =
      if (maxBlockSize == Long.MaxValue) sets0
      else {
        val hot = sets0.groupBy("block").count()
          .filter(col("count") > maxBlockSize).select("block")
        sets0.join(broadcast(hot), Seq("block"), "left_anti")
      }
    val l = sets.select(col("block"), col("id").as("id_a"),
      col("len").as("len_a"), col("ng").as("ng_a"))
    val r = sets.select(col("block"), col("id").as("id_b"),
      col("len").as("len_b"), col("ng").as("ng_b"))
    l.join(r, Seq("block"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxLenDiff)
      .withColumn("jaccard",
        graft.plans.TextSetExpressions.arrayJaccard(col("ng_a"), col("ng_b")))
      .filter(col("jaccard") >= threshold)
      .select("block", "id_a", "id_b", "jaccard")
  }

  /** Directional n-gram CONTAINMENT pairs — the asymmetry Jaccard
    * hides: a short document wholly quoted inside a long one scores
    * low resemblance (|A∩B|/|A∪B| shrinks with the size gap) but
    * containment |A∩B|/min(|A|,|B|) ≈ 1. This is the quote/excerpt/
    * boilerplate-inclusion detector (Broder 1997 distinguishes exactly
    * these two notions); note NO length-difference prefilter — the
    * size gap is the signal here, not noise to prune.
    *
    * Same blocked self-join scale shape as [[ngramJaccardPairs]]
    * (candidates = Σ block², bounded by `maxBlockSize` at degenerate
    * density); one division per surviving pair.
    *
    * Output: (block, id_a, id_b, n_inter, n_a, n_b, containment),
    * id_a < id_b, gram-less sides dropped (containment undefined). */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            blockCol: Column, n: Int, threshold: Double,
                            maxBlockSize: Long = Long.MaxValue): DataFrame = {
    val sets0 = df.select(col(idCol).as("id"), blockCol.as("block"),
      graft.plans.TextSetExpressions.wordNgramSet(lower(col(textCol)), n)
        .as("ng"))
      .materializeOnce(eager = false)
    val sets =
      if (maxBlockSize == Long.MaxValue) sets0
      else {
        val hot = sets0.groupBy("block").count()
          .filter(col("count") > maxBlockSize).select("block")
        sets0.join(broadcast(hot), Seq("block"), "left_anti")
      }
    val l = sets.select(col("block"), col("id").as("id_a"),
      col("ng").as("ng_a"))
    val r = sets.select(col("block"), col("id").as("id_b"),
      col("ng").as("ng_b"))
    l.join(r, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("n_inter",
        size(array_intersect(col("ng_a"), col("ng_b"))).cast("long"))
      .withColumn("n_a", size(col("ng_a")).cast("long"))
      .withColumn("n_b", size(col("ng_b")).cast("long"))
      .filter(least(col("n_a"), col("n_b")) > 0)
      .withColumn("containment",
        col("n_inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("block", "id_a", "id_b", "n_inter", "n_a", "n_b",
        "containment")
  }

  /** [[ngramContainmentPairs]] with LOSSLESS prefix filtering
    * (Chaudhuri/Ganti/Kaushik 2006, SSJoin) — the production path for
    * full-corpus containment, where the exact form's every-pair
    * intersect is the bottleneck (measured 12.9 s vs sub-second at
    * sf0.1; see SCALE.md).
    *
    * The pigeonhole: if containment(A,B) ≥ t and S is the smaller
    * side, S can miss at most floor((1−t)·|S|) of its grams from the
    * other side — so among the first floor((1−t)·|S|)+1 grams of S
    * in ANY fixed total order (lexicographic here), at least one must
    * occur in the other document. Candidates are therefore
    * prefix(probe) ⋈ all-grams(index) on (block, gram), probe strictly
    * the smaller-or-equal side; surviving pairs get the SAME exact
    * intersect as the unfiltered form, so output is IDENTICAL
    * (spec-pinned on random corpora) — the filter only prunes, never
    * decides.
    *
    * Scale: candidate volume is Σ_gram df_prefix(g)·df_all(g) per
    * block — on natural corpora prefix grams are the rare tail, so
    * this collapses toward true-pair volume; on degenerate
    * tiny-vocabulary corpora it degrades toward the exact form's
    * block², bounded by the same `maxBlockSize` lever. */
  def ngramContainmentPairsFiltered(df: DataFrame, idCol: String,
                                    textCol: String, blockCol: Column,
                                    n: Int, threshold: Double,
                                    maxBlockSize: Long = Long.MaxValue)
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    val sets0 = df.select(col(idCol).as("id"), blockCol.as("block"),
      array_sort(graft.plans.TextSetExpressions
        .wordNgramSet(lower(col(textCol)), n)).as("ng"))
      .withColumn("sz", size(col("ng")).cast("long"))
      .filter(col("sz") > 0)
      .materializeOnce(eager = false)
    val sets =
      if (maxBlockSize == Long.MaxValue) sets0
      else {
        val hot = sets0.groupBy("block").count()
          .filter(col("count") > maxBlockSize).select("block")
        sets0.join(broadcast(hot), Seq("block"), "left_anti")
      }
    // prefix length for the potential smaller side:
    // floor((1-t)*sz) + 1
    val plen = (floor(col("sz").cast("double") * lit(1.0 - threshold)) +
      lit(1)).cast("int")
    val probe = sets.select(col("block"), col("id").as("pid"),
      col("sz").as("psz"),
      explode(slice(col("ng"), lit(1), plen)).as("g"))
    val index = sets.select(col("block"), col("id").as("iid"),
      col("sz").as("isz"), explode(col("ng")).as("g"))
    val cand = probe.join(index, Seq("block", "g"))
      .filter(col("isz") > col("psz") ||
        (col("isz") === col("psz") && col("iid") =!= col("pid")))
      .select(col("block"), least(col("pid"), col("iid")).as("id_a"),
        greatest(col("pid"), col("iid")).as("id_b"))
      .distinct()
    val a = sets.select(col("block"), col("id").as("id_a"),
      col("ng").as("ng_a"), col("sz").as("n_a"))
    val b = sets.select(col("block"), col("id").as("id_b"),
      col("ng").as("ng_b"), col("sz").as("n_b"))
    cand.join(a, Seq("block", "id_a")).join(b, Seq("block", "id_b"))
      .withColumn("n_inter",
        size(array_intersect(col("ng_a"), col("ng_b"))).cast("long"))
      .withColumn("containment",
        col("n_inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("block", "id_a", "id_b", "n_inter", "n_a", "n_b",
        "containment")
  }

  /** Hamming-nearest signatures: top-k rows by popcount(sig XOR query) —
    * the signature-space search that turns [[simhashes]] into a
    * duplicate-triage tool (given one document, find the most similar
    * signatures corpus-wide without touching text). A codes-only scan
    * over one long per row compiling to TakeOrderedAndProject (k rows
    * per partition, no global sort); ties break by id. */
  def hammingTopK(sigs: DataFrame, idCol: String, sigCol: String,
                  querySig: Long, k: Int): DataFrame =
    sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .withColumn("hamming",
        bit_count(col("sig").bitwiseXOR(lit(querySig))).cast("int"))
      .orderBy(asc("hamming"), asc("id"))
      .limit(k)

  /** Winnowed document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS scheme): hash every POSITIONAL character k-gram, slide a
    * window of `w` consecutive hashes, and in each window select the
    * RIGHTMOST minimum (robust winnowing). The distinct selected
    * (position, hash) pairs are the document's fingerprints, with the
    * guarantee that any substring match of length ≥ w + k − 1 shares at
    * least one fingerprint — MinHash's per-document signature can miss
    * local matches; winnowing's is position-dense, which is why code-
    * plagiarism and crawl-overlap detectors use it.
    *
    * Density is 2/(w+1) of the gram stream — the selection cuts the
    * posting volume ~w/2× before anything shuffles. Shape at scale:
    * one map-only projection (the window scan is a per-row HOF fold,
    * codegen over the hash array) + one explode of the selected set.
    * Docs shorter than w+k−1 chars still emit (one window over what
    * exists); docs shorter than k emit nothing.
    *
    * Output: (id, pos, fp) — 1-based gram position, unsigned-32 hash. */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 5, w: Int = 4): DataFrame =
    df.select(col(idCol).as("id"),
        explode(graft.plans.WinnowedSelect(lower(col(textCol)), k, w)).as("s"))
      .select(col("id"), col("s.p").as("pos"), col("s.v").as("fp"))

  /** Near-duplicate pairs by shared winnowed fingerprints — the
    * corpus-level use of [[winnowedFingerprints]]: documents sharing at
    * least `minShared` distinct fingerprint VALUES are emitted with the
    * Jaccard similarity of their fingerprint sets. Because fingerprints
    * are position-dense, this catches documents sharing long local
    * regions (quote farms, mirrored sections) that whole-document
    * MinHash dilutes below threshold.
    *
    * Shape at scale: doc-level distinct fingerprints (map-side
    * combine), then a self-equi-join on the fingerprint value.
    * Fingerprints appearing in more than `maxDocFreq` documents are
    * boilerplate (the hot-set discipline of [[TextAnalysis.lineDedup]])
    * and are excluded from PAIR GENERATION — the per-value pair fanout
    * is thus bounded by maxDocFreq²; set sizes for the Jaccard keep the
    * full sets, so the reported similarity is a lower bound when a hot
    * fingerprint was dropped (exact when none was). The per-side
    * ADMITTED set sizes ride along as n_adm_a/n_adm_b (ADVICE r12):
    * n_adm < n_fp tells a consumer the bound is loose for that pair —
    * hot boilerplate was excluded — and by how much. */
  def winnowingDupPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 5, w: Int = 4, minShared: Long = 2L,
                        maxDocFreq: Long = 64L): DataFrame = {
    val fps = winnowedFingerprints(df, idCol, textCol, k, w)
      .select(col("id"), col("fp")).distinct()
      .materializeOnce(eager = false) // sizes + both join sides
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("n_fp"))
    val admitted = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= maxDocFreq)
        .select("fp"),
      Seq("fp"))
    val pairs = admitted.select(col("fp"), col("id").as("id_a"))
      .join(admitted.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val admSizes = admitted.groupBy("id").agg(count(lit(1)).as("n_adm"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("n_fp").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_fp").as("n_b")), Seq("id_b"))
      .join(admSizes.select(col("id").as("id_a"), col("n_adm").as("n_adm_a")), Seq("id_a"))
      .join(admSizes.select(col("id").as("id_b"), col("n_adm").as("n_adm_b")), Seq("id_b"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .select("id_a", "id_b", "n_shared", "n_a", "n_b", "n_adm_a", "n_adm_b",
        "jaccard")
  }
}
