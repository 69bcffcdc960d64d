package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The co-partitioned k-core peel ([[GraphRank.kCore]]) against the
  * join formulation it replaced (`ParityReferences.kCoreColumns`):
  * schema and every (id, in_core) row, on the graph shapes where the
  * two could part — multiplicities, self-loops, one-way arcs, endpoints
  * outside `nodes`, NULL ids, early convergence, degenerate rounds and
  * thresholds — and on randomized graphs. */
class KCoreParitySpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy(col("id").asc_nulls_first).collect().toSeq

  private def pin(nodes: DataFrame, edges: DataFrame, coreK: Int,
                  rounds: Int, what: String): Seq[Row] = {
    val kernel = GraphRank.kCore(nodes, "id", edges, "src", "dst", coreK, rounds)
    val reference = ParityReferences.kCoreColumns(nodes, "id", edges,
      "src", "dst", coreK, rounds)
    assert(kernel.schema === reference.schema, s"$what: schema")
    val got = rows(kernel)
    assert(got === rows(reference), what)
    got
  }

  /** Every (coreK, rounds) pair of a small grid. */
  private def pinGrid(nodes: DataFrame, edges: DataFrame, what: String): Unit =
    for (coreK <- 1 to 4; rounds <- Seq(1, 2, 3, 5))
      pin(nodes, edges, coreK, rounds, s"$what coreK=$coreK rounds=$rounds")

  /** Mutual 4-clique {1..4}, mutual pendant 5-1, one-way arc 6->1. */
  private val clique = (for {
    a <- 1L to 4L; b <- 1L to 4L if a != b
  } yield (a, b)) ++ Seq((1L, 5L), (5L, 1L), (6L, 1L))

  test("duplicate directed edges count with the left-semi multiplicity") {
    val nodes = (1L to 7L).toDF("id")
    // (2,3) twice, (3,2) three times; (1,5) twice with one (5,1)
    val edges = (clique ++ Seq((2L, 3L), (3L, 2L), (3L, 2L), (1L, 5L)))
      .toDF("src", "dst")
    pinGrid(nodes, edges, "duplicates")
  }

  test("self-loops are mutual with themselves") {
    val nodes = (1L to 7L).toDF("id")
    val edges = (clique ++ Seq((5L, 5L), (5L, 5L), (7L, 7L), (6L, 6L)))
      .toDF("src", "dst")
    pinGrid(nodes, edges, "self-loops")
  }

  test("asymmetric edges never count") {
    val nodes = (1L to 6L).toDF("id")
    // a directed 6-cycle and a one-way star: no mutual pair at all
    val edges = ((1L to 6L).map(i => (i, i % 6 + 1)) ++
      (2L to 6L).map(i => (i, 1L))).toDF("src", "dst")
    pinGrid(nodes, edges, "asymmetric")
    pinGrid(nodes, (clique ++ (2L to 6L).map(i => (i, 1L))).toDF("src", "dst"),
      "asymmetric + clique")
  }

  test("edge endpoints absent from nodes count in round 1 only") {
    // 9 and 10 are not nodes, but they lift 1's and 2's degree to 6
    // and 5 in round 1; they are peeled with round 1 and the cascade
    // follows
    val nodes = (1L to 5L).toDF("id")
    val extra = Seq((1L, 9L), (9L, 1L), (2L, 9L), (9L, 2L), (9L, 10L),
      (10L, 9L), (10L, 1L), (1L, 10L), (10L, 2L), (2L, 10L))
    val edges = (clique ++ extra).toDF("src", "dst")
    val got = pin(nodes, edges, coreK = 5, rounds = 1, "outsiders rounds=1")
    assert(got.filter(_.getInt(1) == 1).map(_.getLong(0)) === Seq(1L, 2L),
      "round 1 counts the outsider pairs")
    pinGrid(nodes, edges, "outsiders")
  }

  test("NULL ids in nodes and edges are never in the core") {
    val nodes = Seq[java.lang.Long](1L, 2L, 3L, 4L, null, null, 5L).toDF("id")
    val edges = (clique.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None, Some(1L)), (Some(1L), None), (None, None), (Some(2L), None)))
      .toDF("src", "dst")
    val got = pin(nodes, edges, coreK = 3, rounds = 3, "nulls")
    assert(got.head === Row(null, 0))
    pinGrid(nodes, edges, "nulls")
  }

  test("rounds = 1 and coreK above every degree") {
    val nodes = (1L to 7L).toDF("id")
    val edges = clique.toDF("src", "dst")
    pin(nodes, edges, coreK = 3, rounds = 1, "rounds=1")
    val none = pin(nodes, edges, coreK = 50, rounds = 4, "coreK above every degree")
    assert(none.forall(_.getInt(1) == 0))
  }

  test("a graph that converges before the round budget") {
    // a path hanging off the clique loses its free end every round: the
    // 2-core converges after 7 peeling rounds, the 3-core after 1, both
    // within a budget of 12
    val path = (10L to 16L).sliding(2).flatMap { case Seq(a, b) =>
      Seq((a, b), (b, a)) }.toSeq
    val nodes = (1L to 16L).toDF("id")
    val edges = (clique ++ path ++ Seq((4L, 10L), (10L, 4L))).toDF("src", "dst")
    for (rounds <- Seq(2, 4, 12))
      pin(nodes, edges, coreK = 2, rounds = rounds, s"path rounds=$rounds")
    pin(nodes, edges, coreK = 3, rounds = 12, "clique+path coreK=3")
  }

  test("an empty edge set leaves every node outside the core") {
    val nodes = (1L to 4L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val got = pin(nodes, edges, coreK = 1, rounds = 3, "empty edges")
    assert(got.map(_.getInt(1)) === Seq(0, 0, 0, 0))
  }

  test("string ids and partitioned inputs") {
    val nodes = (1 to 7).map(i => s"n$i").toDF("id").repartition(3)
    val edges = clique.map { case (a, b) => (s"n$a", s"n$b") }
      .toDF("src", "dst").repartition(5)
    pinGrid(nodes, edges, "string ids")
  }

  test("randomized kNN graphs: the testdata embeddings and seeded random graphs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val knn = GraphRank.knnGraph(emb, "id", "embedding", 8).cache()
    for ((coreK, rounds) <- Seq((4, 5), (6, 5), (7, 8), (8, 3)))
      pin(emb.select("id"), knn, coreK, rounds, s"kNN k=8 coreK=$coreK rounds=$rounds")
    knn.unpersist()
    for (seed <- 1 to 3) {
      // out-degree 6 to nearby ids: many mutual pairs, some duplicates
      val rng = new scala.util.Random(seed)
      val n = 300
      val edges = (0 until n).flatMap { i =>
        Seq.fill(6)((i.toLong, ((i + 1 + rng.nextInt(12)) % n).toLong)) ++
          Seq.fill(3)((i.toLong, ((i - 1 - rng.nextInt(12) + n) % n).toLong))
      }.toDF("src", "dst")
      val nodes = (0L until n.toLong - 5).toDF("id")
      for (coreK <- Seq(2, 4, 6))
        pin(nodes, edges, coreK, rounds = 6, s"random seed=$seed coreK=$coreK")
    }
  }

  test("runs from a Future on a pool thread, as the graph scorecard does") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val nodes = (1L to 7L).toDF("id")
    val edges = clique.toDF("src", "dst")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = Seq(3, 4).map(k => Future(rows(GraphRank.kCore(nodes, "id",
        edges, "src", "dst", coreK = k, rounds = 3))))
      val got = Await.result(Future.sequence(futures), Duration.Inf)
      assert(got === Seq(3, 4).map(k => rows(ParityReferences.kCoreColumns(
        nodes, "id", edges, "src", "dst", coreK = k, rounds = 3))))
    } finally pool.shutdown()
  }
}
