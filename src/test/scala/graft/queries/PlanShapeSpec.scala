package graft.queries

import graft.{SparkSpec, SparkEntry}

/** Physical-plan shape guards: the scale properties the operators are
  * designed around must be visible in `explain` output, not assumed —
  * predicate pushdown reaching the parquet scan, column pruning, dims
  * broadcast, ORDER BY+LIMIT compiling to TakeOrderedAndProject (k rows
  * per partition, no global sort), and the cosine hot path inside
  * whole-stage codegen. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q06: predicates push into the parquet scan (PushedFilters non-empty)") {
    val p = plan("q06_filtered_revenue")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("GreaterThanOrEqual(l_discou"), p) // plan string truncates
  }

  test("q18: filter + projection pushdown prunes the read schema") {
    val p = plan("q18_part_filter")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    // only needed columns read: p_brand is not in any scan/schema line
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.nonEmpty, p)
    assert(!scanLine.contains("p_brand"), "p_brand should be pruned:\n" + scanLine)
  }

  test("q03: dimension joins are broadcast, fact join shuffles once") {
    val p = plan("q03_segment_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q02/q26: top-k compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q02_top_orders").contains("TakeOrderedAndProject"))
    assert(plan("q26_embedding_knn").contains("TakeOrderedAndProject"))
  }

  test("q26: cosine scoring runs inside whole-stage codegen") {
    val df = SparkEntry.queries("q26_embedding_knn")(spark, sf)
    df.collect() // AQE finalizes the plan only on execution
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the plan string;
    // the cosine projection must sit inside one
    val projLine = p.linesIterator.find(_.contains("cosinesimilarity")).getOrElse("")
    assert(projLine.nonEmpty, p)
    assert(projLine.contains("*("), s"cosine projection not codegen'd:\n$projLine")
  }

  test("q04/q05: semi and anti joins plan as join strategies, not subquery re-scans") {
    assert(plan("q04_priority_semi").contains("LeftSemi"))
    assert(plan("q05_custs_without_big_orders").contains("LeftAnti"))
  }

  test("hash sampling operator is a narrow filter — no shuffle in the plan") {
    // the operator itself (the q39 query adds an ORDER BY on top)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.operators.Sampling
      .hashSample(docs, org.apache.spark.sql.functions.col("doc_id"), 20)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "sampling must not shuffle:\n" + p)
  }

  test("as-of join operator: ONE key shuffle (the window), no join node") {
    import spark.implicits._
    val right = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "rts", "tag")
    val left = Seq((1L, 15L, "x"), (1L, 25L, "y")).toDF("k", "lts", "name")
    val df = graft.operators.AsOfJoin.backward(
      left, right, Seq("k"), "lts", "rts", Seq("tag"))
    df.collect() // AQE finalizes on execution
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") && !p.contains("HashJoin"),
      "as-of must not plan any join:\n" + p)
    assert(p.contains("Window"), p)
    // the AQE plan string repeats the tree under "== Initial Plan ==" —
    // count only the final plan
    val finalPlan = p.split("== Initial Plan ==").head
    val shuffles = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"expected exactly 1 hash shuffle, got $shuffles:\n$p")
  }

  test("q47: banded range join is an equi-join, never a cross product") {
    val df = SparkEntry.queries("q47_range_click_context")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "range join must stay an equi-join:\n" + p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("q48: quantized top-k compiles to TakeOrderedAndProject") {
    assert(plan("q48_quantized_knn").contains("TakeOrderedAndProject"))
  }

  test("q60: eval n-gram set joins via broadcast — train side never shuffles its text") {
    val df = SparkEntry.queries("q60_decontamination")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "eval side must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q61: SRP-LSH candidate generation is an equi-join, never a cross product") {
    val df = SparkEntry.queries("q61_lsh_embedding_dups")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "LSH must stay an equi-join:\n" + p)
    // the hot-bucket guard is the two-phase shape: no window over band_key
    assert(!p.contains("Window"), "hot-bucket cap must not be a window:\n" + p)
  }

  test("q63: gopher rules are map-only — no shuffle anywhere in the operator") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.operators.TextAnalysis.gopherRules(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "gopher rules must not shuffle:\n" + p)
  }

  test("q69: semdedup pairs form via the cluster equi-join, never a cross product") {
    val df = SparkEntry.queries("q69_semdedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "semdedup must stay an equi-join:\n" + p)
  }

  test("bloom decontamination: the might_contain probe filters BEFORE the verify join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.operators.Decontamination.bloomContamination(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0),
      "doc_id", "text",
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0),
      "text", n = 5, expectedEvalNgrams = 1L << 16)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the probe must appear as a Filter in the plan (map-side, pre-join)
    assert(p.contains("might_contain"), "bloom probe missing from plan:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q71: DSIR scoring is map-only over the checkpointed histograms") {
    // round 20: the ≤buckets-row ratio table rides into BucketArrayDot
    // as a referenced array — the old stats broadcast join is gone from
    // the scoring half entirely
    val df = SparkEntry.queries("q71_dsir_weights")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "scoring must be map-only:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q75: weighted sampling compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q75_weighted_sample").contains("TakeOrderedAndProject"))
  }

  test("q73: the composed curation pipeline never plans a cross product or window") {
    val df = SparkEntry.queries("q73_curation_v2")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "composition must stay equi-join-only:\n" + p)
    assert(!p.contains("Window"),
      "packing's prefix sum must hold through the composition:\n" + p)
  }

  test("resampleTop: the rank selection plans with NO window (prefix pattern)") {
    import spark.implicits._
    val w = (1L to 200L).map(i => (i, (i % 13).toDouble)).toDF("id", "weight")
    val out = graft.operators.ImportanceSampling.resampleTop(w, 0.3)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "resampleTop must never fall back to an unpartitioned window:\n" + p)
    val finalPlan = p.split("== Initial Plan ==").head
    val ranges = finalPlan.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(ranges <= 1, s"expected at most one range shuffle, got $ranges:\n$p")
  }

  test("packing: the prefix sum plans with NO window and ONE range shuffle") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i % 7)).toDF("id", "toks")
    val out = graft.operators.Packing.packSequences(
      df, "id", "toks", Seq(org.apache.spark.sql.functions.col("id")),
      seqLen = 16, numPartitions = 4)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "prefix sum must not fall back to a window:\n" + p)
    val finalPlan = p.split("== Initial Plan ==").head
    val ranges = finalPlan.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(ranges <= 1, s"expected at most one range shuffle, got $ranges:\n$p")
  }

  test("lineDedup: default path scores map-only; no join, no window, no cross product") {
    // round 20: the hot set rides into the LineDedupScore kernel as a
    // referenced set — the scoring half has NO join and NO aggregation
    // exchange at all (the fallback broadcastHot=false path keeps the
    // shuffle join and is value-pinned against this one in
    // CurationOpsSpec)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "replace(text, ' scan ', '\n') AS text")
    val out = graft.operators.TextAnalysis.lineDedup(docs, "doc_id", "text",
      minDocs = 3)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Join"),
      "default path must score map-only (hot set as expression state):\n" + p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("Exchange"),
      "scoring must be one map-only pass:\n" + p)
  }

  test("substringDedup: digest-keyed hot set, map-only scoring") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = ran.add(qe)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ran.add(qe)
    }
    spark.listenerManager.register(listener)
    // building the DataFrame collects the hot set; collecting it scores
    val out = try {
      val df = graft.operators.TextAnalysis.substringDedup(docs, "doc_id", "text", k = 8)
      df.collect()
      df
    } finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    // AQE prints the final plan, then the initial one: keep the final
    val plans = ran.asScala.toSeq.map(_.executedPlan.toString.split("== Initial Plan ==")(0))
    assert(plans.size === 2, plans.mkString("\n\n"))
    val all = plans.mkString("\n\n")
    assert(!all.contains("md5("),
      "grams must be keyed by the two-long digest, not an md5 hex string:\n" + all)
    assert(!all.contains("ObjectHashAggregate") && !all.contains("collect_list"),
      "the default path must not gather hits per document:\n" + all)
    assert(!all.contains("Window") && !all.contains("CartesianProduct") &&
      !all.contains("BroadcastNestedLoopJoin"),
      "no window or cross product anywhere:\n" + all)
    val exchanges = "(?m)[-\\s]Exchange ".r.findAllIn(all).size
    assert(exchanges === 1, s"exactly one exchange, the hot aggregate's:\n$all")
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "documents must be scored map-only against the collected hot set:\n" + p)
  }

  test("minhash keeps the banded equi-join shape; DSIR scores map-only") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dedup = graft.operators.Dedup.minhashDupPairs(docs, "doc_id", "text")
    dedup.collect()
    val d = dedup.queryExecution.executedPlan.toString
    assert(!d.contains("CartesianProduct") &&
      !d.contains("BroadcastNestedLoopJoin") && !d.contains("Window"),
      s"minhash must keep the banded equi-join shape:\n$d")
    val dsir = graft.operators.ImportanceSampling.dsirWeights(
      docs, "doc_id", "text", col("doc_id") % 5 === 0)
    dsir.collect()
    // round 20: the ratio table is expression state, so no join at all
    val w = dsir.queryExecution.executedPlan.toString
    assert(!w.contains("Join"), s"dsir must score map-only:\n$w")
    assert(!w.contains("CartesianProduct"), w)
  }

  test("q81: batched IVF probe pairs queries with probed cells, never the full corpus") {
    val df = SparkEntry.queries("q81_ivf_knn_batch")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the candidate set forms via broadcast equi-joins (__cell, then
    // qid); the only cross join in the plan is queries × the broadcast
    // centroid table (nq × nCells — the probe-map ranking), so corpus ×
    // queries must never appear as a cross product of two scans
    assert(p.contains("BroadcastHashJoin"),
      "probe map and query vectors must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "batched probe must never cartesian the corpus:\n" + p)
  }

  test("q76: multi-scale fusion stays TakeOrdered + broadcast-joined, no cross product") {
    val df = SparkEntry.queries("q76_multiscale_search")(spark, sf)
    df.collect()
    // q76's warehouse fits the driver: both scales' top-k and the fusion
    // ran there, and the query reads the fused rows as a local relation
    val served = df.queryExecution.executedPlan.toString
    assert(served.contains("LocalTableScan") && !served.contains("FileScan"),
      "the in-process fusion must reach the query as local rows:\n" + served)
    // over the driver budget the same call plans on Spark
    val lib = graft.queries.MlQueries.multiScaleLibrary(spark, sf)
    lib.driverBudget = 0L
    val spark0 = graft.queries.MlQueries.multiScaleSearch(lib)
    spark0.collect()
    val p = spark0.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      "both scales' top-k must compile to TakeOrderedAndProject:\n" + p)
    Seq(served, p).foreach(plan =>
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        "multi-scale fusion must stay equi-join-only:\n" + plan))
  }

  test("q86: langid plans with NO shuffle — map-only over the scan") {
    val df = SparkEntry.queries("q86_langid_ngram")(spark, sf)
    // strip the final certification ORDER BY; the operator itself is
    // the claim under test
    val p = graft.operators.LangId.detect(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "langid must be map-only:\n" + p)
    df.collect() // and the full query still executes
  }

  test("q87: trigram LM joins are keyed shuffles — no cross product, no window") {
    val df = SparkEntry.queries("q87_trigram_lm_quality")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "n-gram scoring must stay equi-join-only:\n" + p)
    assert(!p.contains("Window"), "no window in the LM tier:\n" + p)
  }

  test("q90: histogram dedup stays equi-join-only (grid blocking, no cross product)") {
    val df = SparkEntry.queries("q90_media_histogram_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair generation must go through the grid equi-join:\n" + p)
  }

  test("q92: eval embeddings broadcast — the train×eval loop is the deliberate BNLJ") {
    val df = SparkEntry.queries("q92_semantic_decontamination")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the broadcast nested loop IS the design (benchmark-sized eval
    // block against every train row); a CartesianProduct — both sides
    // shuffled — is the failure mode
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), "eval side must broadcast:\n" + p)
  }

  test("q94: heavy-hitter verify is a broadcast semi-join before the count shuffle") {
    val df = SparkEntry.queries("q94_heavy_bigrams")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "candidates must broadcast into the verify semi-join:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q95: streaming LSH plans through stateful groups, equi-join-free") {
    val df = SparkEntry.queries("q95_stream_lsh_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // batch execution compiles flatMapGroupsWithState to MapGroups;
    // a live stream plans FlatMapGroupsWithStateExec — either proves
    // the pairs come from grouped state, not a join
    assert(p.contains("MapGroups") || p.contains("FlatMapGroupsWithState"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "pairs must come from bucket state, not a join:\n" + p)
  }

  test("q98: interval overlap is an equi-join on bands, never a cross product") {
    val df = SparkEntry.queries("q98_interval_overlap")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "range×range must band to an equi-join:\n" + p)
  }

  test("q101: the C4 battery is map-only — no exchange before the final sort") {
    val df = SparkEntry.queries("q101_c4_filters")(spark, sf)
    df.collect()
    // AQE's toString appends the pre-execution "Initial Plan" — count
    // exchanges in the FINAL plan only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // exactly the ORDER BY's range exchange; the rules themselves fuse
    // into the scan
    assert(p.sliding("Exchange range".length).count(_ == "Exchange range") <= 1,
      "C4 rules must not shuffle:\n" + p)
    assert(!p.contains("Exchange hash"), "C4 rules must not hash-shuffle:\n" + p)
    assert(!p.contains("WindowExec") && !p.contains("CartesianProduct"), p)
  }

  test("q103/q108: per-stratum ranks plan WITHOUT a Window operator") {
    for (q <- Seq("q103_stratified_split", "q108_ccnet_perlang")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("WindowExec") && !p.contains("Window "),
        s"$q must use the distributed prefix rank, not a Window:\n" + p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q104/q105: winnowing is a per-row fold + equi-joins, never a cross product") {
    for (q <- Seq("q104_winnow_fingerprints", "q105_winnow_dups")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-join-only:\n" + p)
    }
  }

  test("q106: overlap matrix never self-joins the gram stream") {
    val df = SparkEntry.queries("q106_source_overlap")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // pair expansion is an index-HOF over per-gram source SETS; the
    // only joins are the two bounded size lookups
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q124/q131: evaluation tier ranks without a corpus-wide window") {
    // the AUC rank-sum and the ROC cumulative counts ride the
    // distributed prefix sum — the executed plans must contain NO
    // Window node at all (a bare `rank() OVER (ORDER BY ...)` would
    // appear as a single-partition WindowExec)
    for (q <- Seq("q124_classifier_roc", "q131_roc_curve")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"$q plans a Window:\n$p")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q135/q137: percentile tier has no per-stratum Window; threshold broadcasts") {
    val df = SparkEntry.queries("q135_length_percentiles")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"q135 plans a Window:\n$p")
    val df2 = SparkEntry.queries("q137_adaptive_length_filter")(spark, sf)
    df2.collect()
    val p2 = df2.queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin"),
      "q137's threshold join should broadcast:\n" + p2)
  }

  test("q143: token-run collapse is map-only — no Exchange in the operator plan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.operators.TextAnalysis
      .collapseTokenRuns(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "collapse must not shuffle:\n" + p)
    assert(!p.contains("Window"), p)
  }

  test("q140/q141/q142: graph+sketch tier plans no CartesianProduct, no corpus Window") {
    // q141's pair expansion must be the explicit broadcast nested-loop
    // (the checkpointed sketch has no stats — r14's cartesian fix);
    // q142's rank rides the prefix rank so the only Window is the
    // <= nBins-row bin cumulation
    for (q <- Seq("q140_knn_pagerank", "q141_kmv_source_overlap",
        "q142_classifier_lift")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    }
  }

  test("q149-q160: audit tier plans no CartesianProduct; sketch/rank paths stay window-free") {
    // q149 HLL / q151 Gini / q154 distinct-n / q155 spectrum / q157
    // scorecard are aggregate + prefix-rank shapes — a Window in any
    // of them means a vocabulary-sized frame crept in. The graph
    // queries' only Window is the keyed per-node kNN rank; the event
    // queries' only Window is the (user[, type])-keyed sequence lead.
    val windowFree = Set("q149_hll_distinct", "q151_token_gini",
      "q152_pmi_collocations", "q153_event_burstiness",
      "q154_distinct_ngrams", "q155_freq_of_freqs",
      "q157_source_scorecard", "q162_vocab_richness",
      "q163_token_dispersion", "q164_oov_rate", "q165_cms_frequency",
      "q166_label_affinity")
    for (q <- windowFree.toSeq.sorted ++ Seq("q150_knn_triangles",
        "q156_degree_assortativity", "q158_event_gaps",
        "q159_event_transitions", "q160_knn_label_purity",
        "q161_knn_communities")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      if (windowFree(q))
        assert(!p.contains("Window"), s"$q plans a Window:\n$p")
    }
  }

  test("round-15 builders: IVF edge build is equi-join-only, centroids broadcast; batch HNSW is map-only") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(150)
    // knnGraphIvf: the probe ranking crossJoins only the BROADCAST
    // centroid table (never corpus x corpus) and candidates form via
    // the __cell equi-join — no CartesianProduct anywhere
    val ivf = graft.operators.GraphRank.knnGraphIvf(
      emb, "vec_id", "embedding", 4, nCells = 5, nProbe = 2)
    val ip = ivf.queryExecution.executedPlan.toString
    assert(!ip.contains("CartesianProduct"), s"ivf cartesian:\n$ip")
    // round-16 shape: scoring is the per-(cell, sub) COGROUP (primitive
    // JVM loops, bounded member blocks) and the reduction is the
    // bounded native TopKEdges aggregate — a full-candidate-volume
    // ranking window must never resurface (the r15 regression: 4M rows
    // through one window at full probe)
    assert(ip.contains("CoGroup"), s"cogroup scoring missing:\n$ip")
    assert(ip.toLowerCase.contains("topkedges"),
      s"per-src top-k aggregate missing:\n$ip")
    assert(!ip.contains("Window"), s"ranking window resurfaced:\n$ip")
    // round-17 (VERDICT r16 #6): the harvest's duplicate orientation
    // dedups INSIDE the TopKEdges buffer — the full-candidate-volume
    // distinct() (a hash aggregate keyed on every column, plus its own
    // exchange) must not resurface in probe mode. TopKEdges itself
    // appears in `functions=[...]`, never with cos_sim as a KEY.
    assert("""keys=\[[^\]]*cos_sim""".r.findFirstIn(ip).isEmpty,
      s"candidate-volume distinct() resurfaced:\n$ip")
    // the probe ranking upstream of the (plan-truncating) reuse point
    // still broadcasts the centroid table and never builds a
    // corpus x corpus join — asserted on the same ranking shape the
    // builder constructs, un-truncated
    val centersDf = spark.createDataFrame(
      (0 until 5).map(i => (i, Seq.fill(8)(i.toDouble))))
      .toDF("__cell", "__center")
    val rankedShape = emb
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").as("__v"))
      .crossJoin(org.apache.spark.sql.functions.broadcast(centersDf))
      .withColumn("__cdist", graft.functions.VectorFunctions.sqDist(
        col("__v").cast("array<double>"), col("__center")))
    val rp = rankedShape.queryExecution.executedPlan.toString
    assert(!rp.contains("CartesianProduct") &&
      rp.contains("BroadcastNestedLoopJoin"),
      s"centroid ranking not a broadcast crossjoin:\n$rp")
    // searchKnnBatch: one projection/mapPartitions pipeline, ZERO
    // shuffles — the graph broadcasts, the query set stays put
    // (queries as a LocalRelation so the input carries no exchange of
    // its own; the operator must not add one)
    val vecs = emb.as[(Long, Array[Float])](
      org.apache.spark.sql.Encoders.product[(Long, Array[Float])])
      .collect().toSeq
    val g = graft.operators.Hnsw.build(vecs, m = 8, efConstruction = 40)
    val queries = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val hp = graft.operators.Hnsw.searchKnnBatch(
        g, queries, "vec_id", "embedding", 3)
      .queryExecution.executedPlan.toString
    assert(!hp.contains("Exchange"), s"batch HNSW shuffles:\n$hp")
    // knnGraphAppend: the delta scoring is mapPartitions over the
    // corpus + two keyed windows — no cartesian, no corpus broadcast
    // beyond the batch
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val newIds = ids.takeRight(10).toSeq
    val old = emb.filter(!col("vec_id").isInCollection(newIds))
    val oldEdges = graft.operators.GraphRank.knnGraph(
      old, "vec_id", "embedding", 3)
    val ap = graft.operators.GraphRank.knnGraphAppend(
        oldEdges, emb, "vec_id", "embedding", 3, newIds)
      .queryExecution.executedPlan.toString
    assert(!ap.contains("CartesianProduct"), s"append cartesian:\n$ap")
  }
}
