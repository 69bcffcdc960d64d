package graft.tools

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The 10× synthesizer is part of the scale-certification chain — if
  * its replicas were referentially broken or collapsed back to 1× work,
  * every ratio in SCALE.md's full-suite table would measure the wrong
  * corpus. Pins: per-copy disjoint id ranges, FK integrity within each
  * copy, text perturbation (dedup tiers must see distinct copies), the
  * n_chars == length(text) invariant, and the events int64-nanos layout
  * round-tripping through Tables.events. */
class SuiteScaleBenchSpec extends SparkSpec {

  private val factor = 3
  private lazy val dst = {
    val d = tempDir("scale-synth").toString
    SuiteScaleBench.synthesize(spark, sf, d, factor)
    d
  }

  private def rows(dir: String, t: String): Long =
    Tables.table(spark, dir, t).count()

  test("fact tables replicate by the factor; dimensions stay 1×") {
    Seq("customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings", "events").foreach { t =>
      assert(rows(dst, t) === factor * rows(sf, t), t)
    }
    Seq("region", "nation").foreach { t =>
      assert(rows(dst, t) === rows(sf, t), t)
    }
  }

  test("primary keys stay unique after replication") {
    Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
        "part" -> "p_partkey", "supplier" -> "s_suppkey",
        "documents" -> "doc_id", "embeddings" -> "vec_id",
        "events" -> "event_id").foreach { case (t, k) =>
      val df = Tables.table(spark, dst, t)
      assert(df.select(k).distinct().count() === df.count(), s"$t.$k")
    }
  }

  test("foreign keys resolve within the replicated tables (copy i references copy i)") {
    def dangling(child: String, ck: String, parent: String, pk: String) =
      Tables.table(spark, dst, child).select(col(ck).as(pk))
        .join(Tables.table(spark, dst, parent).select(pk), Seq(pk), "left_anti")
        .count()
    assert(dangling("orders", "o_custkey", "customer", "c_custkey") === 0)
    assert(dangling("lineitem", "l_orderkey", "orders", "o_orderkey") === 0)
    assert(dangling("lineitem", "l_partkey", "part", "p_partkey") === 0)
    assert(dangling("lineitem", "l_suppkey", "supplier", "s_suppkey") === 0)
  }

  test("document copies are perturbed, not byte-identical, and keep the n_chars invariant") {
    val docs = Tables.documents(spark, dst)
    // exact dedup must NOT collapse the corpus back toward 1×
    assert(docs.select("text").distinct().count() ===
      factor * Tables.documents(spark, sf).select("text").distinct().count())
    assert(docs.filter(length(col("text")) =!= col("n_chars")).count() === 0)
  }

  test("events round-trip through Tables.events with timestamps and scaled key cardinality") {
    val ev = Tables.events(spark, dst)
    assert(ev.schema("ts").dataType.typeName === "timestamp")
    // the nanos→micros conversion must preserve instants exactly
    val smallTs = Tables.events(spark, sf).agg(max("ts")).head().getTimestamp(0)
    assert(ev.agg(max("ts")).head().getTimestamp(0) === smallTs)
    assert(ev.select("user_id").distinct().count() ===
      factor * Tables.events(spark, sf).select("user_id").distinct().count())
  }
}
