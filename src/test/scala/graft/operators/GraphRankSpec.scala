package graft.operators

import graft.SparkSpec
import graft.util.Materialize.MatOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Integer PageRank (Page et al. 1999) + the kNN similarity graph:
  * hand-computed tiny graphs, mass-conservation bounds, determinism
  * under repartitioning, and the kNN edge contract. */
class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  private val S = GraphRank.Scale

  test("uniform cycle stays uniform; every round replays the hand arithmetic") {
    // 1→2→3→1, outdeg 1 everywhere: by symmetry all scores stay equal,
    // and each round is exactly s' = base + (s*85 div 100)
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    var expect = S / 3
    val base = S / 3 * 15 / 100
    for (r <- 1 to 4) {
      val got = GraphRank.pagerank(nodes, "id", edges, "src", "dst", rounds = r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      expect = base + expect * 85 / 100
      assert(got === Map(1L -> expect, 2L -> expect, 3L -> expect),
        s"round $r")
    }
  }

  test("hub collects mass; totals never exceed Scale; isolated node keeps base") {
    // 2,3,4 all point at 1; 1 points at 2; 5 is isolated (teleport only)
    val nodes = (1L to 5L).toDF("id")
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L))
      .toDF("src", "dst")
    val pr = GraphRank.pagerank(nodes, "id", edges, "src", "dst", rounds = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val base = S / 5 * 15 / 100
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L), s"hub order: $pr")
    assert(pr(3L) === pr(4L)) // symmetric spokes tie exactly
    assert(pr(5L) === base)   // no in-edges: teleport share only
    assert(pr.values.sum <= S) // integer division only loses mass
    assert(pr.values.forall(_ >= base))
  }

  test("pagerank is partitioning-invariant (exact integer sums)") {
    val nodes = (1L to 40L).toDF("id")
    val edges = (1L to 40L).flatMap(i =>
      Seq((i, i % 40 + 1), (i, (i * 7) % 40 + 1), ((i * 3) % 40 + 1, i)))
      .toDF("src", "dst")
    val a = GraphRank.pagerank(nodes, "id", edges, "src", "dst", rounds = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = GraphRank.pagerank(nodes.repartition(7), "id",
        edges.repartition(11), "src", "dst", rounds = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a === b)
  }

  test("pagerank == driver-side integer replica on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 20 + rnd.nextInt(30)
      val edges = (1 to n * 3).map(_ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      val rounds = 1 + rnd.nextInt(4)
      val got = GraphRank.pagerank((1L to n.toLong).toDF("id"), "id",
          edges.toDF("src", "dst"), "src", "dst", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver replica of the exact integer arithmetic
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val base = S / n * 15 / 100
      var s = (1L to n.toLong).map(_ -> S / n).toMap
      for (_ <- 1 to rounds) {
        val in = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
          s(u) * 85 / 100 / deg(u) }.sum).toMap
        s = (1L to n.toLong).map(v => v -> (base + in.getOrElse(v, 0L))).toMap
      }
      assert(got === s, s"trial $trial (n=$n rounds=$rounds)")
      assert(got.values.sum <= S && got.values.forall(_ >= base))
    }
  }

  test("trustRank: teleport lands only on seeds; proximity to seeds ranks") {
    // chain 1→2→3→4→5 (and 5→1 to close), seed = {1}: trust decays
    // monotonically down the chain; node 5 feeds back into 1 only
    val nodes = (1L to 5L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
      .toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val tr = GraphRank.trustRank(nodes, "id", seeds, "id",
        edges, "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver replica of the exact integer arithmetic
    val S = GraphRank.Scale
    val base = S / 1 * 15 / 100
    var s = Map(1L -> S, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L)
    for (_ <- 1 to 4) {
      val in = Map(2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L, 1L -> 5L)
        .view.mapValues(u => s(u) * 85 / 100 / 1).toMap
      s = (1L to 5L).map(v =>
        v -> ((if (v == 1L) base else 0L) + in.getOrElse(v, 0L))).toMap
    }
    assert(tr === s)
    assert(tr(2L) > tr(3L) && tr(3L) > tr(4L), s"decay: $tr")
    // seeds outside the node set are ignored; empty effective seed set throws
    val tr2 = GraphRank.trustRank(nodes, "id",
      Seq(Tuple1(1L), Tuple1(99L)).toDF("id"), "id",
      edges, "src", "dst", rounds = 2)
    assert(tr2.count() === 5)
    intercept[IllegalArgumentException] {
      GraphRank.trustRank(nodes, "id", Seq(Tuple1(99L)).toDF("id"), "id",
        edges, "src", "dst", rounds = 1)
    }
    // an unreachable non-seed component holds exactly zero mass
    val nodes2 = (1L to 4L).toDF("id")
    val edges2 = Seq((1L, 2L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val tr3 = GraphRank.trustRank(nodes2, "id", Seq(Tuple1(1L)).toDF("id"),
        "id", edges2, "src", "dst", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tr3(3L) === 0L && tr3(4L) === 0L)
    assert(tr3(1L) > 0L && tr3(2L) > 0L)
  }

  test("labelPropagate: clusters fill from one seed each; clamp, ties, unreachable") {
    // two 4-cliques bridged by nothing; one seed per clique
    val nodes = (1L to 9L).toDF("id")
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a != b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)))
      .toDF("src", "dst") // node 9 has no edges at all
    val seeds = Seq((1L, 0), (5L, 1)).toDF("id", "label")
    val got = GraphRank.labelPropagate(nodes, "id", seeds, "id", "label",
        edges, "src", "dst", rounds = 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) === Some(0)))
    assert(Seq(5L, 6L, 7L, 8L).forall(got(_) === Some(1)))
    assert(got(9L) === None) // unreachable stays unlabeled
    // tie-break: node 10 sees one vote each for labels 2 and 1 -> takes 1
    val n2 = (1L to 10L).toDF("id")
    val e2 = Seq((10L, 1L), (10L, 2L)).toDF("src", "dst")
    val s2 = Seq((1L, 2), (2L, 1)).toDF("id", "label")
    val g2 = GraphRank.labelPropagate(n2, "id", s2, "id", "label",
        e2, "src", "dst", rounds = 1)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(g2(10L) === Some(1), s"tie should take the smallest label: $g2")
    // clamping: a seed surrounded by the other label keeps its own
    val e3 = clique(Seq(1L, 2L, 3L, 4L)).toDF("src", "dst")
    val s3 = Seq((1L, 7), (2L, 3), (3L, 3), (4L, 3)).toDF("id", "label")
    val g3 = GraphRank.labelPropagate((1L to 4L).toDF("id"), "id",
        s3, "id", "label", e3, "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(g3 === Map(1L -> 7, 2L -> 3, 3L -> 3, 4L -> 3))
  }

  test("knnGraph: out-degree k, no self-edges, neighbors are the true top-k") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val k = 5
    val g = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val n = emb.count()
    assert(g.length === n * k)
    assert(g.forall { case (s, d, _) => s != d })
    assert(g.groupBy(_._1).forall { case (_, es) =>
      es.map(_._2).distinct.length == k })
    // spot-check one node against a driver-side brute force
    val vecs = emb.as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probe = vecs.keys.min
    val want = vecs.toSeq.filter(_._1 != probe)
      .map { case (id, v) => (id, cos(vecs(probe), v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
    val got = g.filter(_._1 == probe).sortBy(-_._3).map(_._2).toSeq
    assert(got === want)
  }

  test("knnGraphIvf(nProbe = nCells) == knnGraph edge-for-edge, cos bits included") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(80)
    val exact = GraphRank.knnGraph(emb, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ivf = GraphRank
      .knnGraphIvf(emb, "vec_id", "embedding", 4, nCells = 5, nProbe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf === exact) // full probe = all pairs: identical down to bits
  }

  test("knnGraphIvf scale mode (nProbe < nCells): invariants + true-cos edges") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(120)
    val k = 4
    val exact = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approx = GraphRank
      .knnGraphIvf(emb, "vec_id", "embedding", k, nCells = 6, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(approx.forall { case (s, d, _) => s != d })
    assert(approx.groupBy(_._1).forall(_._2.length <= k))
    // the reverse harvest's duplicate orientation must never survive to
    // the output — dedup now lives inside TopKEdges' buffer, with no
    // distinct() shuffle before the ranking (VERDICT r16 #6)
    assert(approx.map(e => (e._1, e._2)).distinct.length === approx.length,
      "duplicate (src, dst) pair in probe-mode edges")
    // every emitted edge carries the TRUE cosine (bit-equal to exact's
    // scoring of the same pair when that pair made exact's top-k)
    approx.foreach { case (s, d, c) =>
      exact.get((s, d)).foreach(e => assert(e === c, s"cos bits ($s,$d)")) }
    // probing 1/3 of the cells on clustered data keeps useful recall
    val recall = approx.count { case (s, d, _) => exact.contains((s, d)) }
      .toDouble / exact.size
    assert(recall >= 0.3, s"ivf nProbe=2/6 recall $recall")
  }

  test("knnGraphIvf skew guard: one giant k-means cell splits to bounded sub-keys; edges unchanged at full probe (VERDICT r15 #2)") {
    // >= 90% near-identical vectors: k-means lumps them into ONE cell,
    // the r15 shape where the candidate join fanned |cell|·probes rows
    // into a single key. Tiny deterministic jitter keeps cosines
    // distinct so top-k ties can't mask a wrong candidate set.
    val rnd = new scala.util.Random(7)
    val skewed = (0L until 220L).map { i =>
      val v =
        if (i < 200) Array.tabulate(16)(d =>
          1.0f + (rnd.nextFloat() - 0.5f) * 1e-3f + d * 0.01f)
        else Array.tabulate(16)(d =>
          (if (d == (i % 16).toInt) 50f else 0f) + rnd.nextFloat())
      (i, v)
    }.toDF("vec_id", "embedding")
    val k = 4
    val exact = GraphRank.knnGraph(skewed, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cap 32 forces the ~200-member cell into >= 7 sub-keys
    val capped = GraphRank.knnGraphIvf(skewed, "vec_id", "embedding", k,
        nCells = 4, nProbe = 4, maxCellSize = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === exact,
      "full-probe IVF must stay edge-for-edge == exact under the split")
    // guard off (maxCellSize <= 0) is also exact — the escape hatch
    val uncapped = GraphRank.knnGraphIvf(skewed, "vec_id", "embedding", k,
        nCells = 4, nProbe = 4, maxCellSize = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(uncapped === exact)
    // the split really bounds per-group member counts: replay the
    // operator's assignment (nsplit = ceil(size/cap), sub =
    // GraphRank.subKey) over the hot cell and check no (cell, sub)
    // group exceeds 2x the cap (hash balance, not an exact partition)
    val nsplit = (200 + 32 - 1) / 32
    assert(nsplit === 7) // ceil(200/32), the operator's formula
    val groupSizes = (0L until 200L).groupBy(GraphRank.subKey(_, nsplit))
    assert(groupSizes.size === nsplit, "all sub-keys populated")
    assert(groupSizes.values.map(_.size).max <= 64,
      s"hot-cell sub-key still holds ${groupSizes.values.map(_.size).max} rows")
    // sequential AND strided id spaces stay balanced (the splitmix
    // finalizer, not a plain mod)
    val strided = (0L until 200L).map(_ * nsplit)
      .groupBy(GraphRank.subKey(_, nsplit))
    assert(strided.values.map(_.size).max <= 64, "strided ids unbalanced")
  }

  test("knnGraphSrp: invariants, true-cos edges, banded recall") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(120)
    val k = 4
    val exact = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val srp = GraphRank.knnGraphSrp(emb, "vec_id", "embedding", k,
        dim = 64, bits = 32, numBands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(srp.forall { case (s, d, _) => s != d })
    assert(srp.groupBy(_._1).forall(_._2.length <= k))
    srp.foreach { case (s, d, c) =>
      exact.get((s, d)).foreach(e => assert(e === c, s"cos bits ($s,$d)")) }
    val recall = srp.count { case (s, d, _) => exact.contains((s, d)) }
      .toDouble / exact.size
    assert(recall >= 0.3, s"srp 16x2-bit-band recall $recall")
    // candidate symmetry: banding proposes both orientations, so a
    // mutual exact pair found one way is also scored the other way
    val srpSet = srp.map(t => (t._1, t._2)).toSet
    assert(srpSet.nonEmpty)
  }

  test("knnGraphAppend: edge set == full rebuild bit-for-bit; O(N*batch) scoring, never N^2") {
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(100)
      .collect().map(r => r.getLong(0)).sorted
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .filter(col("vec_id").isInCollection(all))
    val newIds = all.takeRight(20).toSeq
    val old = emb.filter(!col("vec_id").isInCollection(newIds))
    val k = 4
    val oldEdges = GraphRank.knnGraph(old, "vec_id", "embedding", k)
    val appended = GraphRank
      .knnGraphAppend(oldEdges, emb, "vec_id", "embedding", k, newIds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(appended === full)
    // the work assertion: exactly |corpus|*|batch| - |batch| pairs were
    // scored (self pairs skip) — the O(batch) regime, not the 100*99 N^2
    assert(GraphRank.lastAppendScored.get.value === 100L * 20L - 20L)
    // an empty batch is a no-op returning the old edges untouched
    assert(GraphRank.knnGraphAppend(oldEdges, old, "vec_id", "embedding",
      k, Seq.empty).collect().length === oldEdges.collect().length)
    // a batch id missing from the corpus fails loudly
    intercept[IllegalArgumentException] {
      GraphRank.knnGraphAppend(oldEdges, old, "vec_id", "embedding",
        k, Seq(-999L)).collect()
    }
  }

  test("graph-audit conclusions survive the approximate artifact: nProbe agreement curve (VERDICT r15 #4)") {
    // At 100 TB the graph is IVF-built at nProbe < nCells (r15 measured
    // edge recall 0.604 at 4/16 on the hard corpus); nothing had shown
    // audit CONCLUSIONS survive recall < 1. This pins the agreement
    // curve of k-core membership and HITS top-25 authorities between
    // the exact and probe-built graphs on the seeded 500-vector corpus,
    // and the floors at the documented operating point (nProbe=8/16).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val nodes = emb.select("vec_id")
    val k = 8; val nCells = 16
    val exact = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
      .cache()
    def coreSet(edges: org.apache.spark.sql.DataFrame): Set[Long] =
      GraphRank.kCore(nodes, "vec_id", edges, "src", "dst",
          coreK = 4, rounds = 5)
        .filter(col("in_core") === 1).collect().map(_.getLong(0)).toSet
    def top25Auth(edges: org.apache.spark.sql.DataFrame): Set[Long] =
      GraphRank.hits(nodes, "vec_id", edges, "src", "dst", rounds = 3)
        .orderBy(desc("authority"), asc("id")).limit(25)
        .collect().map(_.getLong(0)).toSet
    val n = nodes.count().toDouble
    val exactCore = coreSet(exact)
    val exactAuth = top25Auth(exact)
    val curve = Seq(2, 4, 8, 10, 12, 14, 16).map { nProbe =>
      val edges = GraphRank.knnGraphIvf(emb, "vec_id", "embedding", k,
        nCells, nProbe).cache()
      val c = coreSet(edges)
      val coreAgree = 1.0 -
        ((exactCore diff c).size + (c diff exactCore).size) / n
      val authOverlap = (top25Auth(edges) intersect exactAuth).size / 25.0
      val recall = edges.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(exact.select("src", "dst").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet).size /
        exact.count().toDouble
      edges.unpersist()
      info(f"nProbe=$nProbe%2d/16: edge recall $recall%.3f  " +
        f"kcore agreement $coreAgree%.3f  top-25 authority overlap $authOverlap%.2f")
      (nProbe, recall, coreAgree, authOverlap)
    }
    exact.unpersist()
    // full probe is the exact graph: every conclusion identical
    val full = curve.last
    assert(full._2 === 1.0 && full._3 === 1.0 && full._4 === 1.0)
    // the documented operating point (SCALE.md round-16 row)
    val op = curve.find(_._1 == 12).get
    assert(op._3 >= 0.9, s"kcore agreement ${op._3} at nProbe=12/16")
    assert(op._4 >= 0.9, s"authority overlap ${op._4} at nProbe=12/16")
    // the 10/16 point already clears both floors (measured 0.998 /
    // 0.96 with the reverse harvest) — pinned one step looser at 12 so
    // k-means drift on a testdata refresh doesn't flake the suite; the
    // SCALE.md round-16 row records the full measured curve. Finding
    // worth keeping: edge recall OVERSTATES audit fidelity (the
    // pre-harvest build carried recall 0.873 at 8/16 but only 0.52
    // authority overlap — k-core thresholds cascade and HITS top-k
    // reorders under missing edges), so audit-grade runs gate on
    // conclusion-agreement floors, never on edge recall alone.
    val r8 = curve.find(_._1 == 8).get
    assert(r8._2 >= 0.9, s"8/16 harvested edge recall ${r8._2}")
  }

  test("audit fidelity at 10x: conclusion floors hold where the IVF artifact is the only affordable build (VERDICT r16 #7)") {
    // The 500-vector curve may not transfer: cell occupancy changes
    // with N (16 cells hold ~31 members at 1x but ~312 at 10x, so a
    // fixed nProbe covers a different candidate mass). Synthesize the
    // shared 10x PAIR-INTERPOLATED corpus (graft.tools.ScaleCorpus —
    // replicated or merely jittered copies sit on top of their
    // parent, land in its cell, and flatten the curve to 1.0 at any
    // probe, measured) and re-pin the k-core / HITS conclusion floors
    // at the documented 12/16 operating point.
    val baseArr = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val rows = graft.tools.ScaleCorpus.interpolate(baseArr, 10)
    val big = spark.createDataset(rows).repartition(16)
      .toDF("vec_id", "embedding").materializeOnce(eager = false)
    val nodes = big.select("vec_id")
    val k = 8; val nCells = 16
    val exact = GraphRank.knnGraph(big, "vec_id", "embedding", k).cache()
    def coreSet(edges: org.apache.spark.sql.DataFrame): Set[Long] =
      GraphRank.kCore(nodes, "vec_id", edges, "src", "dst",
          coreK = 4, rounds = 5)
        .filter(col("in_core") === 1).collect().map(_.getLong(0)).toSet
    def top25Auth(edges: org.apache.spark.sql.DataFrame): Set[Long] =
      GraphRank.hits(nodes, "vec_id", edges, "src", "dst", rounds = 3)
        .orderBy(desc("authority"), asc("id")).limit(25)
        .collect().map(_.getLong(0)).toSet
    val n = nodes.count().toDouble
    val exactCore = coreSet(exact)
    val exactAuth = top25Auth(exact)
    val exactPairs = exact.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val curve = Seq(8, 12, 16).map { nProbe =>
      val edges = GraphRank.knnGraphIvf(big, "vec_id", "embedding", k,
        nCells, nProbe).cache()
      val c = coreSet(edges)
      val coreAgree = 1.0 -
        ((exactCore diff c).size + (c diff exactCore).size) / n
      val authOverlap = (top25Auth(edges) intersect exactAuth).size / 25.0
      val recall = edges.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(exactPairs).size / exactPairs.size.toDouble
      edges.unpersist()
      info(f"10x nProbe=$nProbe%2d/16: edge recall $recall%.3f  " +
        f"kcore agreement $coreAgree%.3f  top-25 authority overlap $authOverlap%.2f")
      (nProbe, recall, coreAgree, authOverlap)
    }
    exact.unpersist()
    // full probe is the exact graph at ANY scale
    val full = curve.last
    assert(full._2 === 1.0 && full._3 === 1.0 && full._4 === 1.0)
    // the 1x-documented operating point must hold at 10x occupancy
    val op = curve.find(_._1 == 12).get
    assert(op._3 >= 0.9, s"10x kcore agreement ${op._3} at nProbe=12/16")
    assert(op._4 >= 0.9, s"10x authority overlap ${op._4} at nProbe=12/16")
  }

  test("knnGraphShardedHnsw: zero-driver edge source, true-cos edges, near-exact at full coverage") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(150)
    val k = 4
    val exact = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sharded = GraphRank.knnGraphShardedHnsw(emb, "vec_id",
        "embedding", k, nCells = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sharded.forall { case (s, d, _) => s != d })
    assert(sharded.groupBy(_._1).forall(_._2.length <= k))
    // every emitted edge carries the TRUE cosine (bit-equal to exact's
    // scoring of the same pair when that pair made exact's top-k)
    sharded.foreach { case (s, d, c) =>
      exact.get((s, d)).foreach(e => assert(e === c, s"cos bits ($s,$d)")) }
    // full coverage: the only approximation is per-shard beam recall
    val recall = sharded.count { case (s, d, _) =>
      exact.contains((s, d)) }.toDouble / exact.size
    info(f"sharded-hnsw edge recall $recall%.3f")
    assert(recall >= 0.95, s"sharded-hnsw recall $recall")
  }

  test("knnGraphIvfAppend: delta == frozen-centers rebuild bit-for-bit; O(batch) work (VERDICT r15 #3)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(120)
    val ids = emb.collect().map(_.getLong(0)).sorted
    val newIds = ids.takeRight(20).toSeq
    val old = emb.filter(!col("vec_id").isInCollection(newIds))
    val k = 4; val nCells = 6
    val oldTyped = old.select(col("vec_id").cast("long").as("id"),
      col("embedding").as("__v"))
    val centers = GraphRank.ivfCenters(oldTyped, nCells, 42L)
    // PARTIAL probe: the append must reproduce what a rebuild UNDER
    // THE SAME FROZEN CLUSTERING would build — the maintenance
    // contract (a refit moves cell walls; re-train = delete artifact)
    for (nProbe <- Seq(2, nCells)) {
      val oldEdges = GraphRank.ivfEdgesFrozen(old, "vec_id", "embedding",
        k, centers, nProbe, 65536)
      val appended = GraphRank.knnGraphIvfAppend(oldEdges, centers, emb,
          "vec_id", "embedding", k, nProbe, newIds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val frozenRebuild = GraphRank.ivfEdgesFrozen(emb, "vec_id",
          "embedding", k, centers, nProbe, 65536)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(appended === frozenRebuild, s"nProbe=$nProbe")
      // O(batch)-proportional scoring: both sides of the delta touch
      // batch-sized candidate sets — never the N^2 (or N^2·p/c)
      // rebuild volume. Bound: every corpus row scores against at
      // most the whole batch once per side.
      val scored = GraphRank.lastAppendScored.get.value
      assert(scored <= 2L * 120L * 20L,
        s"delta scored $scored pairs - not O(corpus x batch)")
      // at FULL probe the frozen build is the all-pairs graph, so the
      // append also == the refit rebuild == exact
      if (nProbe == nCells) {
        val exact = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(appended === exact)
      }
    }
  }

  test("knnGraphArtifactAppend(ivf): delta under carried frozen centers; torn write recovers") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .withColumn("vec_id", col("vec_id") + 7000000L) // unique stamps
      .limit(90)
    val ids = emb.collect().map(_.getLong(0)).sorted
    val newIds = ids.takeRight(15).toSeq
    val old = emb.filter(!col("vec_id").isInCollection(newIds))
    val k = 3; val nCells = 5; val nProbe = 2
    // materialize the pre-append artifact + its centroid companion
    GraphRank.knnGraphArtifact(old, "vec_id", "embedding", k,
      edgeSource = "ivf", nCells = nCells, nProbe = nProbe).count()
    val oldStamp = graft.util.DiskArtifact
      .corpusStamp(old, "vec_id", "embedding")
    assert(graft.util.DiskArtifact.exists(
      GraphRank.ivfCentKind(nCells, 42L), oldStamp),
      "ivf artifact build must persist its clustering companion")
    val centers = GraphRank.readCenters(spark,
      GraphRank.ivfCentKind(nCells, 42L), oldStamp)
    val viaAppend = GraphRank.knnGraphArtifactAppend(emb, "vec_id",
        "embedding", k, newIds, edgeSource = "ivf", nCells = nCells,
        nProbe = nProbe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // == a rebuild under the carried frozen clustering
    val frozen = GraphRank.ivfEdgesFrozen(emb, "vec_id", "embedding", k,
        centers, nProbe, 65536)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaAppend === frozen)
    // the centers were carried forward: the NEXT append deltas too
    val newStamp = graft.util.DiskArtifact
      .corpusStamp(emb, "vec_id", "embedding")
    assert(graft.util.DiskArtifact.exists(
      GraphRank.ivfCentKind(nCells, 42L), newStamp))
    // torn post-append write + fresh JVM -> rebuild, not stale serve
    val kind = s"knn$k-edges-ivf2-$nCells-$nProbe-42"
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-$kind-$newStamp")
    assert(new java.io.File(dir, "_SUCCESS").exists())
    new java.io.File(dir, "_SUCCESS").delete()
    graft.util.DiskArtifact.resetMemo()
    val recovered = GraphRank.knnGraphArtifactAppend(emb, "vec_id",
        "embedding", k, newIds, edgeSource = "ivf", nCells = nCells,
        nProbe = nProbe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(recovered === frozen)
    assert(new java.io.File(dir, "_SUCCESS").exists())
  }

  test("knnGraphArtifactAppend(hnsw-sharded): companion maintained by insert; append == rebuild == exact; O(corpus*batch) work (VERDICT r16 #2)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .withColumn("vec_id", col("vec_id") + 8500000L) // unique stamps
      .limit(100)
    val ids = emb.collect().map(_.getLong(0)).sorted
    val newIds = ids.takeRight(15).toSeq
    val old = emb.filter(!col("vec_id").isInCollection(newIds))
    val k = 4; val nCells = 5
    // materialize the pre-append artifact + its serving companion
    GraphRank.knnGraphArtifact(old, "vec_id", "embedding", k,
      edgeSource = "hnsw-sharded", nCells = nCells).count()
    val oldStamp = graft.util.DiskArtifact
      .corpusStamp(old, "vec_id", "embedding")
    assert(graft.util.DiskArtifact.exists(
      GraphRank.shardedIdxKind(nCells, 42L), oldStamp) &&
      graft.util.DiskArtifact.exists(
        GraphRank.shardedMetaKind(nCells, 42L), oldStamp),
      "hnsw-sharded artifact build must persist its serving companion")
    val viaAppend = GraphRank.knnGraphArtifactAppend(emb, "vec_id",
        "embedding", k, newIds, edgeSource = "hnsw-sharded",
        nCells = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // O(corpus·batch)-proportional delta, never a rebuild's volume
    val scored = GraphRank.lastAppendScored.get.value
    assert(scored <= 2L * 100L * 15L,
      s"delta scored $scored pairs - not O(corpus x batch)")
    // at full coverage: append == rebuild == exact (beam covers whole
    // bounded shards at ef=64, so both collapse to the true top-k)
    val exact = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rebuild = GraphRank.knnGraphShardedHnsw(emb, "vec_id",
        "embedding", k, nCells = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rebuild === exact)
    assert(viaAppend === exact)
    // the MAINTAINED companion landed under the new stamp and serves
    // the full corpus (batch members included) — the next append
    // deltas from it instead of rebuilding
    val newStamp = graft.util.DiskArtifact
      .corpusStamp(emb, "vec_id", "embedding")
    val sh = ShardedHnsw.fromFrames(
      graft.util.DiskArtifact.getOrBuild(spark,
        GraphRank.shardedIdxKind(nCells, 42L), newStamp)(() => fail()),
      graft.util.DiskArtifact.getOrBuild(spark,
        GraphRank.shardedMetaKind(nCells, 42L), newStamp)(() => fail()))
    val self = ShardedHnsw.searchBatch(sh,
        emb.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", 1, nProbe = sh.centers.length)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(self.length === 100 && self.forall { case (q, i) => q == i },
      "maintained companion must serve every member incl. the batch")
  }

  test("knnGraphArtifactAppend(hnsw, srp): the edge-delta pass maintains every remaining kind") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .withColumn("vec_id", col("vec_id") + 9600000L) // unique stamps
      .limit(80)
    val ids = emb.collect().map(_.getLong(0)).sorted
    val newIds = ids.takeRight(10).toSeq
    val old = emb.filter(!col("vec_id").isInCollection(newIds))
    val k = 3
    val exact = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // hnsw kind: old beam edges are exact on this corpus (ef=64 covers
    // it), and the delta's batch candidates are exact — append == exact
    GraphRank.knnGraphArtifact(old, "vec_id", "embedding", k,
      edgeSource = "hnsw").count()
    val hnswAppend = GraphRank.knnGraphArtifactAppend(emb, "vec_id",
        "embedding", k, newIds, edgeSource = "hnsw")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(hnswAppend === exact)
    // srp kind: banded candidates are approximate, so the invariants
    // are structural — new srcs come out EXACT (the delta scans them
    // against the whole corpus), old srcs keep out-degree <= k with
    // true-cos edges drawn from (old edges ∪ batch)
    val dim = emb.head().getAs[Seq[Float]]("embedding").length
    val srpOld = GraphRank.knnGraphArtifact(old, "vec_id", "embedding",
        k, edgeSource = "srp", srpDim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val srpAppend = GraphRank.knnGraphArtifactAppend(emb, "vec_id",
        "embedding", k, newIds, edgeSource = "srp", srpDim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val newSet = newIds.toSet
    assert(srpAppend.filter(e => newSet(e._1))
      === exact.filter(e => newSet(e._1)),
      "batch srcs must come out exact")
    val exactCos = exact.map(e => (e._1, e._2) -> e._3).toMap ++
      srpOld.map(e => (e._1, e._2) -> e._3).toMap
    srpAppend.groupBy(_._1).foreach { case (_, es) =>
      assert(es.size <= k)
    }
    srpAppend.filterNot(e => newSet(e._1)).foreach { case (s, d, c) =>
      assert(srpOld.contains((s, d, c)) || newSet(d),
        s"old src $s gained non-batch edge to $d outside its old set")
      exactCos.get((s, d)).foreach(want => assert(want === c,
        s"cos bits ($s,$d)"))
    }
    // unknown kinds still rejected loudly; srp needs its dim
    intercept[IllegalArgumentException] {
      GraphRank.knnGraphArtifactAppend(emb, "vec_id", "embedding", k,
        newIds, edgeSource = "srp") }
    intercept[IllegalArgumentException] {
      GraphRank.knnGraphArtifactAppend(emb, "vec_id", "embedding", k,
        newIds, edgeSource = "diskann") }
  }

  test("artifact append with NO prior artifact builds fresh in-place (ivf and hnsw-sharded fallbacks)") {
    // regression for the self-overwrite hazard: the fallback used to
    // re-enter getOrBuild for the same (kind, newStamp) it was building
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .withColumn("vec_id", col("vec_id") + 9100000L) // unique stamps
      .limit(60)
    val ids = emb.collect().map(_.getLong(0)).sorted
    val newIds = ids.takeRight(8).toSeq
    val exact = GraphRank.knnGraph(emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ivf = GraphRank.knnGraphArtifactAppend(emb, "vec_id",
        "embedding", 3, newIds, edgeSource = "ivf", nCells = 5,
        nProbe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf === exact, "ivf fallback at full probe must equal exact")
    val sharded = GraphRank.knnGraphArtifactAppend(emb, "vec_id",
        "embedding", 3, newIds, edgeSource = "hnsw-sharded", nCells = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sharded === exact,
      "hnsw-sharded fallback at full coverage must equal exact")
    // and both persisted their companions for the NEXT append to delta
    val stamp = graft.util.DiskArtifact
      .corpusStamp(emb, "vec_id", "embedding")
    assert(graft.util.DiskArtifact.exists(
      GraphRank.ivfCentKind(5, 42L), stamp))
    assert(graft.util.DiskArtifact.exists(
      GraphRank.shardedIdxKind(5, 42L), stamp))
  }

  test("knnGraphArtifactAppend: delta path == rebuild; torn write recovers") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(70)
    val ids = emb.collect().map(_.getLong(0)).sorted
    val newIds = ids.takeRight(10).toSeq
    val old = emb.filter(!col("vec_id").isInCollection(newIds))
    val k = 3
    // materialize the pre-append artifact (what an earlier session built)
    GraphRank.knnGraphArtifact(old, "vec_id", "embedding", k).count()
    val viaAppend = GraphRank
      .knnGraphArtifactAppend(emb, "vec_id", "embedding", k, newIds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaAppend === direct)
    // crash simulation: the post-append artifact's write is torn
    // (_SUCCESS missing) and the JVM restarts (memo gone) — the next
    // ask must rebuild (again via the surviving old artifact), not
    // serve the torn files
    val stamp = graft.util.DiskArtifact.corpusStamp(emb, "vec_id", "embedding")
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-knn$k-edges-$stamp")
    assert(new java.io.File(dir, "_SUCCESS").exists())
    new java.io.File(dir, "_SUCCESS").delete()
    graft.util.DiskArtifact.resetMemo()
    val recovered = GraphRank
      .knnGraphArtifactAppend(emb, "vec_id", "embedding", k, newIds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(recovered === direct)
    assert(new java.io.File(dir, "_SUCCESS").exists())
    // with NO prior artifact at all, append falls back to a full build
    graft.util.DiskArtifact.resetMemo()
    val emb2 = emb.filter(col("vec_id") =!= ids.head)
    val ids2 = ids.filter(_ != ids.head)
    val fresh = GraphRank
      .knnGraphArtifactAppend(emb2, "vec_id", "embedding", k,
        ids2.takeRight(5).toSeq)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct2 = GraphRank.knnGraph(emb2, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fresh === direct2)
  }

  test("knnGraphArtifact edgeSource=ivf at full probe == exact artifact; stamps are source-tagged") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(60)
    val exact = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ivf = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", 4,
        edgeSource = "ivf", nCells = 5, nProbe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf === exact)
    // srp requires its dim; unknown sources are rejected loudly
    intercept[IllegalArgumentException] {
      GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", 4,
        edgeSource = "srp") }
    intercept[IllegalArgumentException] {
      GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", 4,
        edgeSource = "diskann") }
    // more cells than vectors fails loudly up front, not inside MLlib
    intercept[IllegalArgumentException] {
      GraphRank.knnGraphIvf(emb, "vec_id", "embedding", 4,
        nCells = 100000, nProbe = 4) }
  }

  test("knnGraphHnsw: invariants, true-cos edges, high recall at ef=64") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(120)
    val k = 4
    val exact = GraphRank.knnGraph(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val hnsw = GraphRank.knnGraphHnsw(emb, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hnsw.forall { case (s, d, _) => s != d })
    assert(hnsw.groupBy(_._1).forall(_._2.length <= k))
    // every emitted edge carries the exact cosine bits
    hnsw.foreach { case (s, d, c) =>
      exact.get((s, d)).foreach(e => assert(e === c, s"cos bits ($s,$d)")) }
    val recall = hnsw.count { case (s, d, _) => exact.contains((s, d)) }
      .toDouble / exact.size
    assert(recall >= 0.9, s"hnsw edge recall $recall")
    // and the artifact switch serves it under its own stamp kind
    val art = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", k,
        edgeSource = "hnsw")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(art === hnsw.toSet)
  }

  test("communityDetect: two cliques resolve to per-clique min ids; bridge doesn't merge them") {
    // two directed 3-cliques {1,2,3} and {10,11,12} plus one bridge
    // arc 3->10: inside a clique the min id wins in one round (each
    // node sees two labels once, tie to smallest overall after round
    // 2); the single bridge vote can never outvote 10's two in-clique
    // neighbors, so the cliques keep distinct communities
    val cl = Seq(1L, 2L, 3L).flatMap(a => Seq(1L, 2L, 3L).filter(_ != a)
        .map(b => (a, b))) ++
      Seq(10L, 11L, 12L).flatMap(a => Seq(10L, 11L, 12L).filter(_ != a)
        .map(b => (a, b))) :+ (3L, 10L)
    val nodes = (Seq(1L, 2L, 3L, 10L, 11L, 12L) :+ 99L).toDF("id")
    val got = GraphRank.communityDetect(nodes, "id",
        cl.toDF("src", "dst"), "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    assert(got(10L) === 10L && got(11L) === 10L && got(12L) === 10L)
    // the isolated node (no out-edges) keeps its own label forever
    assert(got(99L) === 99L)
    // partitioning invariance: same labels at a different parallelism
    val got2 = GraphRank.communityDetect(nodes.repartition(7), "id",
        cl.toDF("src", "dst").repartition(5), "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === got)
  }

  test("knnGraphArtifact == knnGraph; a corpus rewrite lands on a fresh stamp") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").limit(60)
    val direct = GraphRank.knnGraph(emb, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val art = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(art === direct)
    // second read serves the persisted edges (same stamp, same rows)
    val again = GraphRank.knnGraphArtifact(emb, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === direct)
    // a rewritten corpus (one node dropped) must NOT serve the old
    // graph: the stamp moves, the artifact rebuilds
    val emb2 = emb.filter(col("vec_id") =!= direct.head._1)
    val art2 = GraphRank.knnGraphArtifact(emb2, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct2 = GraphRank.knnGraph(emb2, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(art2 === direct2)
    assert(art2 !== direct)
  }

  test("weightedPagerank: hand transfer arithmetic; equal weights == pagerank bit-for-bit") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    // 1 splits 3:1 between 2 and 3; 2 and 3 return everything to 1
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 5L), (3L, 1L, 2L))
      .toDF("src", "dst", "w")
    val S = GraphRank.Scale
    val init = S / 3
    val base = S / 3 * 15 / 100
    val got = GraphRank.weightedPagerank(nodes, "id", edges,
        "src", "dst", "w", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val damp = init * 85 / 100
    assert(got(2L) === base + damp * 3 / 4)
    assert(got(3L) === base + damp * 1 / 4)
    // 2 and 3 each have ONE out-edge: w div wsum = 1 regardless of w
    assert(got(1L) === base + damp * 5 / 5 + damp * 2 / 2)
    // (A*c) div (c*deg) == A div deg exactly, so constant weights
    // reproduce the unweighted rank bit-for-bit — any constant
    val e40 = (1L to 40L).flatMap(i =>
      Seq((i, i % 40 + 1), (i, (i * 7) % 40 + 1), ((i * 3) % 40 + 1, i)))
    val n40 = (1L to 40L).toDF("id")
    val want = GraphRank.pagerank(n40, "id", e40.toDF("src", "dst"),
        "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flat = GraphRank.weightedPagerank(n40, "id",
        e40.map { case (a, b) => (a, b, 7L) }.toDF("src", "dst", "w"),
        "src", "dst", "w", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flat === want)
  }

  test("kCore: simultaneous peeling on a clique+pendant; cascade at higher k") {
    // mutual 4-clique {1,2,3,4}, mutual pendant 5-1, one-way arc 6->1,
    // isolate 7
    val mut = (for {
      a <- Seq(1L, 2L, 3L, 4L); b <- Seq(1L, 2L, 3L, 4L) if a != b
    } yield (a, b)) ++ Seq((1L, 5L), (5L, 1L), (6L, 1L))
    val nodes = (1L to 7L).toDF("id")
    val edges = mut.toDF("src", "dst")
    val c3 = GraphRank.kCore(nodes, "id", edges, "src", "dst",
        coreK = 3, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(c3 === Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1,
      5L -> 0, 6L -> 0, 7L -> 0))
    // k=4: node 1 survives round 1 (deg 4 with the pendant) but its
    // support peels away -> the cascade empties the core
    val c4 = GraphRank.kCore(nodes, "id", edges, "src", "dst",
        coreK = 4, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(c4.values.forall(_ == 0))
    // partitioning invariance
    val rep = GraphRank.kCore(nodes.repartition(5), "id",
        edges.toDF("src", "dst").repartition(3), "src", "dst", 3, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rep === c3)
  }

  test("kCore: a warm peel runs at most rounds + 3 jobs; after the first, each round is one map-only stage") {
    import org.apache.spark.scheduler._
    // a 7-node path hanging off a mutual 4-clique loses its free end
    // every round: coreK 2 peels in each of rounds 1-7, nothing in 8
    val clique = for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b)
    val path = (10L to 16L).sliding(2).flatMap { case Seq(a, b) =>
      Seq((a, b), (b, a)) }.toSeq
    val nodes = (1L to 16L).toDF("id")
    val edges = (clique ++ path ++ Seq((4L, 10L), (10L, 4L))).toDF("src", "dst")
    val sc = spark.sparkContext
    /** Per job of one peel and its collect: the stages that ran, each
      * with the shuffle bytes + records it read and wrote. */
    def jobsOf(rounds: Int): (Seq[Seq[Long]], Seq[Row]) = {
      val stagesOfJob = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
      val shuffleOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          stagesOfJob.put(e.jobId, e.stageIds)
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val m = e.stageInfo.taskMetrics
          shuffleOfStage.put(e.stageInfo.stageId,
            m.shuffleReadMetrics.totalBytesRead + m.shuffleReadMetrics.recordsRead +
              m.shuffleWriteMetrics.bytesWritten + m.shuffleWriteMetrics.recordsWritten)
        }
      }
      sc.addSparkListener(listener)
      val rows = try GraphRank.kCore(nodes, "id", edges, "src", "dst",
          coreK = 2, rounds = rounds).collect().toSeq.sortBy(_.getLong(0))
        finally {
          org.apache.spark.ListenerBusDrain(sc)
          sc.removeSparkListener(listener)
        }
      import scala.jdk.CollectionConverters._
      val jobs = stagesOfJob.asScala.toSeq.sortBy(_._1).map { case (_, stages) =>
        stages.filter(shuffleOfStage.containsKey).map(shuffleOfStage.get(_).longValue) }
      (jobs, rows)
    }
    jobsOf(5) // warm-up
    val (five, fiveRows) = jobsOf(5)
    // rounds 1-4 collect their peel, round 5 is the collect itself
    assert(five.size === 5 && five.size <= 5 + 3, s"${five.size} jobs for 5 rounds")
    assert(five.head.size === 3,
      s"round 1 shuffles the arcs and the ids, then peels: ${five.head}")
    five.tail.zipWithIndex.foreach { case (stages, i) =>
      assert(stages === Seq(0L), s"round ${i + 2} ran stages with shuffle $stages") }
    // after 5 rounds the path keeps its 2 nodes nearest the clique
    assert(fiveRows.map(r => r.getLong(0) -> r.getInt(1)) ===
      (1L to 4L).map(_ -> 1) ++ (5L to 9L).map(_ -> 0) ++
        (10L to 11L).map(_ -> 1) ++ (12L to 16L).map(_ -> 0))
    // early termination: rounds 1-7 peel, round 8 peels nothing and
    // ends the loop, so a budget of 20 runs 8 collected rounds + the
    // collect
    val (twenty, twentyRows) = jobsOf(20)
    assert(twenty.size === 9, s"${twenty.size} jobs for a peel converging in round 8")
    assert(twenty.tail.forall(_ == Seq(0L)))
    assert(twentyRows.filter(_.getInt(1) == 1).map(_.getLong(0)) === (1L to 4L))
  }

  test("hits: star authority concentrates, hubs tie, integer replay") {
    // 2,3,4 -> 1 and 1 -> 2; isolate 9
    val nodes = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L))
      .toDF("src", "dst")
    val M = GraphRank.HitsScale
    val got = GraphRank.hits(nodes, "id", edges, "src", "dst", rounds = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // hand replay: round 1 -> a = (1: 3M/3M=M, 2: M/3)...; round 2
    // authorities keep 1 at the max, 2 at M/9 of it
    assert(got(1L)._2 === M)              // authority max
    assert(got(2L)._2 === M * M / (3 * M) * M / (3 * M)) // 111111
    assert(got(3L)._2 === 0L && got(4L)._2 === 0L)
    assert(got(2L)._1 === M && got(3L)._1 === M && got(4L)._1 === M) // hubs tie
    assert(got(1L)._1 < M)                // 1's only out-edge hits a weak authority
    assert(got(9L) === ((0L, 0L)))        // isolate: zero both
    // determinism across partitionings
    val rep = GraphRank.hits(nodes.repartition(3), "id",
        edges.repartition(2), "src", "dst", rounds = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(rep === got)
  }

  test("seedDistance: unrolled Bellman-Ford hop counts and horizon NULLs") {
    val nodes = (1L to 5L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("id") // 99 outside the graph: ignored
    def run(r: Int) = GraphRank.seedDistance(nodes, "id", seeds, "id",
        edges, "src", "dst", rounds = r)
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
    val r2 = run(2)
    assert(r2 === Map(1L -> Some(0L), 2L -> Some(1L), 3L -> Some(2L),
      4L -> None, 5L -> None))
    val r3 = run(3)
    assert(r3(4L) === Some(3L) && r3(5L) === None)
  }

  test("triangleStats: mutual-only symmetrization, exact counts, lcc arithmetic") {
    // mutual triangle 1-2-3, mutual pendant 3-4, one-way arc 4->5
    // (must NOT create an undirected edge), isolated node 6
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L),
      (3L, 4L), (4L, 3L), (4L, 5L)).toDF("src", "dst")
    val got = GraphRank.triangleStats(nodes, "id", edges, "src", "dst")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) === ((2L, 1L, 1.0)))
    assert(got(2L) === ((2L, 1L, 1.0)))
    // node 3: neighbors {1,2,4}, one closed pair of three -> lcc = 1/3
    assert(got(3L) === ((3L, 1L, 1.0 / 3.0)))
    assert(got(4L) === ((1L, 0L, 0.0))) // pendant: deg 1, lcc 0 by convention
    assert(got(5L) === ((0L, 0L, 0.0))) // one-way arc contributes nothing
    assert(got(6L) === ((0L, 0L, 0.0)))
    // partitioning independence
    val rep = GraphRank.triangleStats(nodes.repartition(5), "id",
        edges.repartition(7), "src", "dst")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rep === got)
  }

  test("degreeAssortativity: star is -1, constant-degree cycle is NULL, hand formula") {
    def mutual(pairs: (Long, Long)*): org.apache.spark.sql.DataFrame =
      pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    // star 1-{2,3,4}: perfectly disassortative -> r = -1 exactly
    val star = GraphRank.degreeAssortativity(
      mutual((1L, 2L), (1L, 3L), (1L, 4L)), "src", "dst").head()
    assert(star.getLong(0) === 6L)
    assert(star.getDouble(1) === -1.0)
    // 4-cycle: every degree 2 -> zero variance -> NULL
    val cyc = GraphRank.degreeAssortativity(
      mutual((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)), "src", "dst").head()
    assert(cyc.getLong(0) === 8L)
    assert(cyc.isNullAt(1))
    // path 1-2-3: degrees (1,2,1); ordered pairs (j,k):
    // (1,2),(2,1),(2,1),(1,2) -> M=4, Sj=6, Sjk=8, Sj2=10
    // r = (4*8 - 36)/(4*10 - 36) = -4/4 = -1
    val path = GraphRank.degreeAssortativity(
      mutual((1L, 2L), (2L, 3L)), "src", "dst").head()
    assert(path.getLong(0) === 4L)
    assert(path.getDouble(1) === -1.0)
    // one-way arcs contribute nothing (no mutual pair)
    val arc = GraphRank.degreeAssortativity(
      Seq((1L, 2L)).toDF("src", "dst"), "src", "dst").head()
    assert(arc.getLong(0) === 0L)
    assert(arc.isNullAt(1))
  }
}
