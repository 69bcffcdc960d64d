package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sharded HNSW serving (VERDICT r15 #7): per-cell subgraphs built
  * distributed, queries shuffled to probed shards — recall parity with
  * the monolithic graph, bounded shard sizes, determinism. */
class ShardedHnswSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")
  private lazy val exactTop = VectorSearch.topKBatch(emb, "embedding",
      "vec_id", emb.select(col("vec_id").as("__qid"),
        col("embedding").as("__qv")), "__qid", "__qv", 10,
      excludeSelf = false)
    .select(col("__qid"), col("vec_id"))
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("full-coverage sharded search matches the monolithic graph's recall") {
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 8)
    val queries = emb.select(col("vec_id").as("qid"),
      col("embedding").as("qv"))
    val sharded = ShardedHnsw.searchBatch(sh, queries, "qid", "qv",
        k = 10, nProbe = 8)
      .select("qid", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mono = Hnsw.build(
      emb.as[(Long, Array[Float])].collect().toSeq, 16, 100)
    val monoTop = Hnsw.searchKnnBatch(mono, queries, "qid", "qv", 10)
      .select("qid", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shardedRecall = sharded.count(exactTop).toDouble / exactTop.size
    val monoRecall = monoTop.count(exactTop).toDouble / exactTop.size
    info(f"sharded full-coverage recall $shardedRecall%.4f, " +
      f"monolithic $monoRecall%.4f")
    assert(shardedRecall >= monoRecall - 0.005,
      s"sharded $shardedRecall < monolithic $monoRecall")
    assert(shardedRecall >= 0.99)
    // the output contract matches searchKnnBatch: rn 1..k by
    // (dist asc, id asc), k rows per query
    val rows = ShardedHnsw.searchBatch(sh, queries.limit(5), "qid", "qv",
      k = 10, nProbe = 8).collect()
    assert(rows.length === 50)
    assert(rows.groupBy(_.getLong(0)).values.forall { qs =>
      val sorted = qs.sortBy(_.getInt(1))
      sorted.map(_.getInt(1)).toSeq == (1 to 10) &&
        sorted.map(r => (r.getDouble(3), r.getLong(2))).toSeq ==
          sorted.map(r => (r.getDouble(3), r.getLong(2))).sortBy(identity).toSeq
    })
  }

  test("probed sharded search: IVF-curve recall, deterministic across builds") {
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 8)
    val queries = emb.select(col("vec_id").as("qid"),
      col("embedding").as("qv"))
    val probed = ShardedHnsw.searchBatch(sh, queries, "qid", "qv",
        k = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val recall = probed.map(t => (t._1, t._3)).toSet
      .count(exactTop).toDouble / exactTop.size
    info(f"sharded nProbe=3/8 recall $recall%.3f")
    assert(recall >= 0.5, s"probed recall $recall")
    // determinism: an independent build + search returns identical rows
    val sh2 = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 8)
    val probed2 = ShardedHnsw.searchBatch(sh2, queries, "qid", "qv",
        k = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    assert(probed.sortBy(t => (t._1, t._2)).toSeq ===
      probed2.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("insert maintains the shards: only touched blobs rewrite, new vectors served at full recall") {
    val all = emb.as[(Long, Array[Float])].collect().sortBy(_._1)
    val (oldRows, batch) = all.splitAt(all.length - 100)
    val oldDf = oldRows.toSeq.toDF("vec_id", "embedding")
    val sh0 = ShardedHnsw.build(oldDf, "vec_id", "embedding", nCells = 8)
    val before = sh0.table.as[(Int, Int, Array[Byte])].collect()
      .map(r => (r._1, r._2) -> java.util.Arrays.hashCode(r._3)).toMap
    val sh1 = ShardedHnsw.insert(sh0, batch.toSeq)
    val after = sh1.table.as[(Int, Int, Array[Byte])].collect()
      .map(r => (r._1, r._2) -> java.util.Arrays.hashCode(r._3)).toMap
    assert(after.keySet.size >= before.keySet.size)
    // untouched shards pass through byte-identical
    val untouched = before.keySet.filter(k => before(k) == after(k))
    assert(untouched.nonEmpty, "every shard rewrote - not a delta")
    // full-coverage search over the maintained shards serves the WHOLE
    // corpus (old + batch) at exact-parity recall
    val queries = emb.select(col("vec_id").as("qid"),
      col("embedding").as("qv"))
    val served = ShardedHnsw.searchBatch(sh1, queries, "qid", "qv",
        k = 10, nProbe = 8)
      .select("qid", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = served.count(exactTop).toDouble / exactTop.size
    info(f"post-insert full-coverage recall $recall%.4f")
    assert(recall >= 0.99, s"post-insert recall $recall")
    // batch members are themselves findable (self top-1)
    val selfHits = served.count { case (q, i) => q == i }
    assert(selfHits === emb.count(), "every vector must find itself")
  }

  // ---------------------------------------------------------- persistence

  private def tempTier(prefix: String): (String, String) = {
    val dir = tempDir(prefix).toString
    (s"$dir/shards", s"$dir/shards_meta")
  }

  /** Resolve a cell's live leaf directory through the committed
    * manifest — the only way readers locate leaves since round 18. */
  private def leafDir(shardsPath: String, cell: Int): Option[java.io.File] =
    ShardedHnsw.currentManifest(spark, shardsPath)
      .leaves.get(cell).map(e => new java.io.File(s"$shardsPath/${e.dir}"))

  private def manifestOf(shardsPath: String) =
    ShardedHnsw.currentManifest(spark, shardsPath)

  test("codec: v2 primitive layout round-trips bit-identically") {
    val rows = emb.as[(Long, Array[Float])].collect().sortBy(_._1)
      .take(200).toSeq
    val g = Hnsw.build(rows, 16, 100)
    val v2 = ShardedHnsw.serialize(g)
    val g2 = ShardedHnsw.deserialize(v2)
    assert(g2.ids.toSeq === g.ids.toSeq)
    assert(g2.levels.toSeq === g.levels.toSeq)
    assert(g2.vecs.map(_.toSeq).toSeq === g.vecs.map(_.toSeq).toSeq)
    assert((g2.entryPoint, g2.m, g2.efConstruction, g2.seed) ===
      (g.entryPoint, g.m, g.efConstruction, g.seed))
    assert(g2.neighbors.map(_.map(_.toSeq).toSeq).toSeq ===
      g.neighbors.map(_.map(_.toSeq).toSeq).toSeq)
    // search over the decoded graph is row-identical
    val q = rows.take(10)
    q.foreach { case (_, v) =>
      assert(Hnsw.searchKnn(g2, v, 5, 64).toSeq ===
        Hnsw.searchKnn(g, v, 5, 64).toSeq)
    }
  }

  test("serving decode cache: a hot shard deserializes once per JVM") {
    ShardedHnsw.resetCache()
    val rows = emb.as[(Long, Array[Float])].collect().sortBy(_._1)
      .take(50).toSeq
    val bytes = ShardedHnsw.serialize(Hnsw.build(rows, 16, 100))
    val a = ShardedHnsw.deserializeCached(bytes)
    val b = ShardedHnsw.deserializeCached(bytes.clone()) // same content
    assert(a eq b, "content-identical blobs must share one decode")
    assert(a.ids.toSeq === rows.map(_._1))
    ShardedHnsw.resetCache()
    val c = ShardedHnsw.deserializeCached(bytes)
    assert(!(a eq c), "reset must drop the cached instance")
  }

  private def searchAll(sh: ShardedHnsw.Shards, k: Int = 10,
                        exact: Boolean = false)
      : Seq[(Long, Int, Long, Double)] = {
    val queries = emb.select(col("vec_id").as("qid"),
      col("embedding").as("qv"))
    ShardedHnsw.searchBatch(sh, queries, "qid", "qv", k,
        nProbe = sh.centers.length, exact = exact)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
  }

  test("save/load roundtrip: the reloaded tier serves identical rows") {
    val (shardsPath, metaPath) = tempTier("shnsw-roundtrip")
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 8)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    val re = ShardedHnsw.load(spark, shardsPath, metaPath)
    assert(re.centers.map(_.toSeq).toSeq === sh.centers.map(_.toSeq).toSeq)
    assert(re.subsOf === sh.subsOf)
    assert((re.m, re.efConstruction, re.seed) ===
      (sh.m, sh.efConstruction, sh.seed))
    assert(searchAll(re) === searchAll(sh))
  }

  test("persisted insert is O(touched): untouched leaves neither read nor rewritten") {
    val (shardsPath, metaPath) = tempTier("shnsw-touched")
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    // a batch sitting exactly on center 0 routes to cell 0 (distance 0,
    // low-cell tie-break) — every other cell's leaf must stay untouched
    // tiny unique perturbations keep the cell-0 routing but make each
    // member its own unique nearest (identical vectors would tie-break
    // to the lowest id)
    val batch = (0 until 5).map { i =>
      val v = sh.centers(0).map(_.toFloat)
      v(0) += (i + 1) * 1e-4f
      (9_000_000L + i, v)
    }
    val leafDirs = (0 until 4).flatMap(c =>
      leafDir(shardsPath, c).map(c -> _)).filter(_._2.isDirectory)
    val untouched = leafDirs.filter(_._1 != 0)
    assert(untouched.nonEmpty)
    def statusOf(d: java.io.File): Set[(String, Long, Long)] =
      d.listFiles().map(f =>
        (f.getName, f.length(), f.lastModified())).toSet
    val before = untouched.map { case (c, d) => c -> statusOf(d) }.toMap
    // read-isolation proof: corrupt one untouched leaf's data files —
    // any read of them during the insert would throw
    val victim = untouched.head._2
    val backups = victim.listFiles().filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val orig = java.nio.file.Files.readAllBytes(f.toPath)
        val mtime = f.lastModified()
        java.nio.file.Files.write(f.toPath,
          "not a parquet file".getBytes("UTF-8"))
        (f, orig, mtime)
      }
    ShardedHnsw.insertPersisted(spark, shardsPath, metaPath, batch)
    // restore the victim byte-for-byte (original bytes + mtime) so the
    // write-isolation comparison below sees the pre-insert state
    backups.foreach { case (f, orig, mtime) =>
      java.nio.file.Files.write(f.toPath, orig)
      f.setLastModified(mtime)
    }
    untouched.foreach { case (c, d) =>
      assert(statusOf(d) === before(c), s"cell $c leaf changed")
    }
    // no scratch left behind — neither per-leaf nor the one-job batch root
    val parent = new java.io.File(shardsPath).getParentFile
    assert(!parent.listFiles().exists(f =>
      (f.getName.contains("_cell") &&
        (f.getName.endsWith("_tmp") || f.getName.endsWith("_old"))) ||
        f.getName.endsWith("_batch_tmp")))
    // the manifest advanced by exactly one epoch, and cell 0's leaf is
    // the only re-pointed entry (the superseded epoch-0 leaf is
    // RETAINED for readers pinned at the previous epoch)
    val m1 = manifestOf(shardsPath)
    assert(m1.epoch === 1L)
    assert(m1.leaves(0).dir === "leaf-0-e1")
    untouched.foreach { case (c, _) =>
      assert(m1.leaves(c).dir === s"leaf-$c-e0") }
    assert(new java.io.File(s"$shardsPath/leaf-0-e0").isDirectory,
      "retention must keep the superseded leaf for one epoch")
    // the maintained tier serves old and new members at full coverage
    val re = ShardedHnsw.load(spark, shardsPath, metaPath)
    val q = batch.map { case (id, v) => (id, v.toSeq) }
      .toDF("qid", "qv")
    val self = ShardedHnsw.searchBatch(re, q, "qid", "qv", 1,
        nProbe = re.centers.length)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(self.forall { case (qid, id) => qid == id },
      "inserted members must find themselves")
    // recall vs the exact top-10 over the POST-insert corpus (the
    // inserted members are true near-neighbors of cell-0 queries and
    // legitimately displace pre-insert entries)
    val unionDf = emb.union(batch.toSeq.toDF("vec_id", "embedding"))
    val exactUnion = VectorSearch.topKBatch(unionDf, "embedding",
        "vec_id", emb.select(col("vec_id").as("__qid"),
          col("embedding").as("__qv")), "__qid", "__qv", 10,
        excludeSelf = false)
      .select(col("__qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(searchAll(re).map(t => (t._1, t._3)).toSet
      .count(exactUnion).toDouble / exactUnion.size >= 0.99)
  }

  test("frozen fan: an unpopulated sub stays reachable and inserts are never dropped") {
    // cap 64 forces multi-sub cells; simulate a build where splitmix64
    // left one (cell, sub) without members by dropping its blob row
    // while keeping the FROZEN fan (ADVICE r16: a count-inferred fan
    // made high-numbered subs unreachable and dropped inserts)
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4,
      maxCellSize = 64)
    val split = sh.subsOf.find(_._2 > 1)
    assert(split.nonEmpty, "cap 64 must force sub-sharding")
    val (cell, nsplit) = split.get
    val dropped = sh.table.filter(col("__cell") === cell)
      .orderBy(desc("__sub")).select("__sub").as[Int].head()
    val filtered = new ShardedHnsw.Shards(
      sh.table.filter(!(col("__cell") === cell && col("__sub") === dropped)),
      sh.centers, sh.m, sh.efConstruction, sh.seed, sh.subsOf)
    // members of the REMAINING subs of the split cell stay reachable at
    // full coverage even though the cell's row count < frozen fan
    val queries = emb.select(col("vec_id").as("qid"),
      col("embedding").as("qv"))
    val served = ShardedHnsw.searchBatch(filtered, queries, "qid", "qv",
        k = 1, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val lost = ShardedHnsw.deserialize(
      sh.table.filter(col("__cell") === cell && col("__sub") === dropped)
        .select("__graph").head().getAs[Array[Byte]](0)).ids.toSet
    emb.select("vec_id").as[Long].collect().filterNot(lost).foreach { id =>
      assert(served.get(id).contains(id), s"member $id unreachable")
    }
    // a batch routed across the split cell's subs — including the
    // dropped one — is fully served post-insert (fresh row, no drop)
    val batch = (0 until 4 * nsplit).map { i =>
      val v = sh.centers(cell).map(_.toFloat)
      v(0) += (i + 1) * 1e-4f
      (8_000_000L + i, v)
    }
    val post = ShardedHnsw.insert(filtered, batch)
    val q = batch.map { case (id, v) => (id, v.toSeq) }.toDF("qid", "qv")
    val self = ShardedHnsw.searchBatch(post, q, "qid", "qv", 1,
        nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(self.length === batch.length)
    assert(self.forall { case (qid, id) => qid == id },
      "an insert routed to an unpopulated sub was dropped")
  }

  test("snapshot isolation: a pinned reader serves its epoch while maintenance commits mid-read; the next load serves the grown tier") {
    val (shardsPath, metaPath) = tempTier("shnsw-snap")
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    // pin a handle at epoch 0 — the interleaving the r17 design would
    // corrupt: maintenance lands AFTER the load but BEFORE the read
    val pinned = ShardedHnsw.load(spark, shardsPath, metaPath)
    val want = searchAll(pinned)
    val nv = sh.centers(0).map(_.toFloat); nv(0) += 1e-3f
    val newId = 7_600_000L
    ShardedHnsw.insertPersisted(spark, shardsPath, metaPath,
      Seq((newId, nv)))
    assert(manifestOf(shardsPath).epoch === 1L)
    // the pinned handle still reads its epoch-0 files: identical rows,
    // no missed leaf, no torn read, and the new vector is NOT visible
    val pinnedAfter = searchAll(pinned)
    assert(pinnedAfter === want)
    assert(!pinnedAfter.exists(_._3 == newId))
    // a FRESH load (the next trigger) serves the inserted vector
    val re = ShardedHnsw.load(spark, shardsPath, metaPath)
    val self = ShardedHnsw.searchBatch(re,
        Seq((1L, nv.toSeq)).toDF("qid", "qv"), "qid", "qv", 1,
        nProbe = 4)
      .collect().map(r => r.getLong(2))
    assert(self.toSeq === Seq(newId))
    // a SECOND maintenance commit GCs the epoch-0 leaf (retention 1)
    val nv2 = sh.centers(0).map(_.toFloat); nv2(0) += 2e-3f
    ShardedHnsw.insertPersisted(spark, shardsPath, metaPath,
      Seq((newId + 1, nv2)))
    assert(manifestOf(shardsPath).epoch === 2L)
    assert(!new java.io.File(s"$shardsPath/leaf-0-e0").exists(),
      "a twice-superseded leaf must be GCed")
    assert(new java.io.File(s"$shardsPath/leaf-0-e1").exists(),
      "the previous epoch's leaf must be retained")
  }

  test("crash sweep: orphan leaves and stranded scratch clear, age-guarded") {
    val (shardsPath, metaPath) = tempTier("shnsw-repair")
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    val want = searchAll(ShardedHnsw.load(spark, shardsPath, metaPath))
    assert(want.nonEmpty)
    val fs = graft.util.TableSwap.fileSystem(spark, shardsPath)
    import org.apache.hadoop.fs.{Path => HPath}
    // stranded batch scratch + an orphan leaf from a crashed batch
    // (written, never referenced by any manifest)
    Seq((0, 0, Array.emptyByteArray)).toDF("__cell", "__sub", "__graph")
      .write.partitionBy("__cell").parquet(s"${shardsPath}_batch_tmp")
    new java.io.File(s"$shardsPath/leaf-99-e7").mkdirs()
    spark.conf.set("spark.graft.repair.minScratchAgeMs", "0")
    try ShardedHnsw.repairLeaves(spark, shardsPath)
    finally spark.conf.unset("spark.graft.repair.minScratchAgeMs")
    assert(!fs.exists(new HPath(s"${shardsPath}_batch_tmp")))
    assert(!new java.io.File(s"$shardsPath/leaf-99-e7").exists(),
      "an orphan leaf no manifest references must sweep")
    assert(manifestOf(shardsPath).leaves.values.forall(e =>
      new java.io.File(s"$shardsPath/${e.dir}").exists()),
      "every committed leaf must survive the sweep")
    assert(searchAll(ShardedHnsw.load(spark, shardsPath, metaPath))
      === want)
    // the age guard: a YOUNG scratch root (a live writer's in-flight
    // batch) and a young orphan must survive a default-threshold sweep
    // (ADVICE r17)
    Seq((0, 0, Array.emptyByteArray)).toDF("__cell", "__sub", "__graph")
      .write.partitionBy("__cell").parquet(s"${shardsPath}_batch_tmp")
    new java.io.File(s"$shardsPath/leaf-99-e8").mkdirs()
    ShardedHnsw.repairLeaves(spark, shardsPath) // default 10-min guard
    assert(fs.exists(new HPath(s"${shardsPath}_batch_tmp")),
      "repair must not destroy a live writer's young scratch")
    assert(new java.io.File(s"$shardsPath/leaf-99-e8").exists(),
      "repair must not destroy a live writer's young leaf")
  }

  test("oversized cells sub-shard: per-shard memory bounded, recall kept") {
    // cap 64 forces every ~500/8-member cell layout into sub-shards
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4,
      maxCellSize = 64)
    // every blob's graph holds <= ~2x the cap (hash balance)
    val sizes = sh.table.select("__graph").collect().map(r =>
      ShardedHnsw.deserialize(r.getAs[Array[Byte]](0)).size)
    assert(sizes.sum === emb.count())
    assert(sizes.max <= 128,
      s"shard of ${sizes.max} members exceeds the documented bound")
    val queries = emb.select(col("vec_id").as("qid"),
      col("embedding").as("qv"))
    val sharded = ShardedHnsw.searchBatch(sh, queries, "qid", "qv",
        k = 10, nProbe = 4)
      .select("qid", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = sharded.count(exactTop).toDouble / exactTop.size
    info(f"sub-sharded full-coverage recall $recall%.4f")
    assert(recall >= 0.99, s"sub-sharding cost recall: $recall")
  }

  test("compactPersisted: dead members physically retire; only their leaves rewrite; fully-dead leaves drop") {
    val (shardsPath, metaPath) = tempTier("shnsw-compact")
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    // dead set: every member of cell 0's subgraphs (the fully-dead
    // leaf case) plus two members from one other leaf (partial case);
    // the touched CELLS come from the ids-side mapping, exactly as
    // Library's cell-carrying ids table provides them — no vectors
    val byCell = ShardedHnsw
      .memberCells(ShardedHnsw.load(spark, shardsPath, metaPath))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._2).map { case (c, rs) => c -> rs.map(_._1).toSet }
    val cell0 = byCell(0)
    val partialVictims = byCell(1).toSeq.sorted.take(2).toSet
    val dead = cell0 ++ partialVictims
    assert(dead.nonEmpty && partialVictims.size == 2)
    def statusOf(cell: Int): Set[(String, Long, Long)] =
      leafDir(shardsPath, cell).flatMap(d => Option(d.listFiles()))
        .map(_.map(f => (f.getName, f.length(), f.lastModified())).toSet)
        .getOrElse(Set.empty)
    val before23 = Seq(2, 3).map(c => c -> statusOf(c)).toMap
    ShardedHnsw.compactPersisted(spark, shardsPath, metaPath, dead,
      Seq(0, 1))
    // untouched leaves byte-identical (same manifest entries); the
    // fully-dead leaf leaves the manifest
    Seq(2, 3).foreach(c => assert(statusOf(c) === before23(c)))
    assert(leafDir(shardsPath, 0).isEmpty,
      "fully-dead leaf must leave the manifest")
    // no scratch left
    val parent = new java.io.File(shardsPath).getParentFile
    assert(!parent.listFiles().exists(f =>
      f.getName.endsWith("_tmp") || f.getName.endsWith("_old")))
    // dead ids unreachable at full coverage; every survivor self-hits
    val re = ShardedHnsw.load(spark, shardsPath, metaPath)
    val served = ShardedHnsw.searchBatch(re,
        emb.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(served.forall { case (_, id) => !dead(id) },
      "a compacted member must never serve")
    val survivors = emb.select("vec_id").as[Long].collect()
      .filterNot(dead).toSet
    val selfHits = served.collect { case (q, id) if q == id => q }.toSet
    assert(survivors.subsetOf(selfHits),
      s"${(survivors diff selfHits).size} survivors lost their self-hit")
    // idempotent: a second compaction with the same dead set rewrites
    // the surviving touched leaf to identical blob CONTENT (epoch dirs
    // advance; the blobs and the served rows must not)
    val want = searchAll(re)
    ShardedHnsw.compactPersisted(spark, shardsPath, metaPath, dead,
      Seq(0, 1))
    assert(searchAll(ShardedHnsw.load(spark, shardsPath, metaPath))
      === want)
  }

  test("build and compactPersisted from a thread whose active session was cleared") {
    // a pool thread with no active SparkSession: the scorecard's
    // futures may run on one, and a plan node built there would carry
    // a null SparkPlan.session
    val (shardsPath, metaPath) = tempTier("shnsw-nosession")
    val want = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4)
    ShardedHnsw.save(want, shardsPath, metaPath)
    val dead = ShardedHnsw.memberCells(ShardedHnsw.load(spark, shardsPath, metaPath))
      .collect().map(r => (r.getLong(0), r.getInt(1))).filter(_._2 == 1)
      .map(_._1).take(2).toSet
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val built = new java.util.concurrent.atomic.AtomicReference[ShardedHnsw.Shards]()
    val worker = new Thread(() =>
      try {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        assert(org.apache.spark.sql.SparkSession.getActiveSession.isEmpty)
        built.set(ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4))
        ShardedHnsw.compactPersisted(spark, shardsPath, metaPath, dead, Seq(1))
      } catch { case t: Throwable => failure.set(t) })
    worker.start()
    worker.join()
    Option(failure.get).foreach(t => throw t)
    assert(ShardedHnsw.metaFrame(built.get).collect().toSeq ===
      ShardedHnsw.metaFrame(want).collect().toSeq)
    val served = ShardedHnsw.searchBatch(ShardedHnsw.load(spark, shardsPath, metaPath),
        emb.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 3, nProbe = 4)
      .collect().map(_.getLong(2))
    assert(served.nonEmpty && !served.exists(dead))
  }

  test("re-shard watermark: a hot cell past growFactor x maxCellSize splits locally — fan grows, bound holds, recall kept, only that leaf rewrites") {
    val (shardsPath, metaPath) = tempTier("shnsw-grow")
    // cap 64: the ~500-member corpus over 4 cells builds multi-sub
    // cells already near the cap
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4,
      maxCellSize = 64)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    val m0 = manifestOf(shardsPath)
    val fan0 = m0.leaves(0).fan
    val count0 = m0.leaves(0).count
    // a skewed stream: enough unique near-center-0 vectors to push
    // cell 0 past growFactor x cap x its CURRENT fan (the per-sub
    // occupancy watermark) regardless of its starting occupancy
    val need = math.max((2 * 64 * fan0 + 1 - count0).toInt, 0) + 16
    // realistic skew: a stream of DISTINCT vectors clustered around
    // center 0 (small multi-dim offsets — an e-clone batch would
    // measure HNSW's known near-duplicate pathology, not the split)
    val batch = (0 until need).map { i =>
      val v = sh.centers(0).map(_.toFloat)
      var d = 0
      while (d < v.length) {
        v(d) += (((i * 31 + d * 17) % 29) - 14) * 2e-3f
        d += 1
      }
      v(0) += (i + 1) * 1e-5f // injective in i: no exact duplicates
      (6_000_000L + i, v)
    }
    val untouchedBefore = m0.leaves.collect {
      case (c, e) if c != 0 => c -> e.dir }
    ShardedHnsw.insertPersisted(spark, shardsPath, metaPath, batch)
    val m1 = manifestOf(shardsPath)
    assert(m1.leaves(0).count === count0 + need)
    assert(m1.leaves(0).fan > fan0,
      s"fan must grow past the watermark (was $fan0)")
    assert(m1.leaves(0).fan >= ((count0 + need + 63) / 64).toInt)
    // only cell 0's leaf re-pointed; every other entry untouched
    untouchedBefore.foreach { case (c, dir) =>
      assert(m1.leaves(c).dir === dir, s"cell $c rewrote") }
    // per-shard bound: every subgraph in the grown leaf is ~balanced
    // around cap (the splitmix64 spread), never the whole hot cell
    val re = ShardedHnsw.load(spark, shardsPath, metaPath)
    assert(re.subsOf(0) === m1.leaves(0).fan,
      "the loaded handle's fan must come from the manifest")
    val sizes = re.table.filter(col("__cell") === 0)
      .select("__graph").collect()
      .map(r => ShardedHnsw.deserialize(r.getAs[Array[Byte]](0)).size)
    assert(sizes.sum === count0 + need)
    assert(sizes.max <= 128,
      s"a ${sizes.max}-member sub exceeds the per-executor bound")
    // every member of the grown cell — old and new — still self-hits
    // in exact mode (the re-bucketing lost nobody; the clustered batch
    // is exactly the disconnected-layer-0 shape exact mode exists for,
    // so the BEAM is not the right probe of split correctness here)
    val q = batch.map { case (id, v) => (id, v.toSeq) }.toDF("qid", "qv")
    val self = ShardedHnsw.searchBatch(re, q, "qid", "qv", 1, nProbe = 4,
        exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(self.length === batch.length)
    assert(self.forall { case (qid, id) => qid == id })
    val exact = VectorSearch.topKBatch(
        emb.union(batch.toSeq.toDF("vec_id", "embedding")), "embedding",
        "vec_id", emb.select(col("vec_id").as("__qid"),
          col("embedding").as("__qv")), "__qid", "__qv", 10,
        excludeSelf = false)
      .select(col("__qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = searchAll(re, exact = true).map(t => (t._1, t._3)).toSet
      .count(exact).toDouble / exact.size
    info(f"post-split exact-mode recall $recall%.4f")
    assert(recall === 1.0, s"exact mode must be exact: $recall")
  }

  // ----------------------------------------------------- Library facade

  test("torn save: every crash state degrades loudly or cleanly — never wrong routing, never a resurrected empty tier") {
    // save() assembles the new tier under _build_tmp, rewrites the
    // meta (stamped with a build id the manifest also carries), then
    // swaps the root. Simulate the two dangerous crash windows.
    val wh = tempDir("graft-torn").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 12).map(i => (s"/ts/doc$i.md",
      s"# Doc$i\n" + (s"torn save corpus text $i body words here. " * 6)))
      .toDS())
    lib.enableShardedServing(nCells = 2)
    val qv = lib.embedder.embed("torn save corpus text")
    val opts = graft.model.SearchOptions(limit = 3)
    val want = lib.vectorSearch(qv, opts).collect().map(_.toSeq).toSeq
    val fs = graft.util.TableSwap.fileSystem(spark, wh)
    import org.apache.hadoop.fs.{Path => HPath}
    // window 1: meta rewritten for a NEW build, crash before the root
    // swap — old blobs + new meta would route through the wrong
    // centers; load must refuse, serving must fall back to exact
    val metaP = s"$wh/embeddings_hnsw_sharded_meta"
    val meta = spark.read.parquet(metaP).collect()
    val twisted = spark.createDataFrame(
      spark.sparkContext.parallelize(meta.map { r =>
        org.apache.spark.sql.Row(r.toSeq.updated(
          r.fieldIndex("__buildid"), "crashed-build-token"): _*)
      }.toSeq), spark.read.parquet(metaP).schema)
    graft.util.TableSwap.rewrite(metaP, twisted)
    val lib2 = new graft.Library(spark, wh)
    assert(lib2.shardedSearch(qv, opts).collect().map(_.toSeq).toSeq
      === want, "a torn save must degrade to the exact path, not misroute")
    // window 2: crash between the root delete and the root install —
    // meta+ids survive, blobs gone. The ingest hook must NOT resurrect
    // an empty tier that serves only the new batch.
    graft.util.TableSwap.delete(fs,
      new HPath(s"$wh/embeddings_hnsw_sharded"))
    val lib3 = new graft.Library(spark, wh)
    lib3.addMarkdown(Seq(("/ts/new1.md",
      "# New\n" + ("fresh vector after the torn save words. " * 6))).toDS())
    assert(!fs.exists(new HPath(s"$wh/embeddings_hnsw_sharded/_SUCCESS")),
      "the ingest hook must not resurrect a tier from meta+ids alone")
    assert(lib3.shardedSearch(qv, opts).columns.nonEmpty) // clean fallback
    // re-enabling heals fully
    lib3.enableShardedServing(nCells = 2)
    val lib4 = new graft.Library(spark, wh)
    assert(lib4.shardedSearch(qv, opts).collect().nonEmpty)
  }

  test("exportTo of a MAINTAINED tier: single-epoch export, no duplicate shards, restored warehouse serves identically") {
    // the blob root holds TWO epochs after an insert (retention); the
    // export must resolve through the manifest — a recursive read
    // would export the superseded epoch's blobs too, and a restored
    // warehouse would serve stale vectors for touched shards
    val wh = tempDir("graft-exp").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 12).map(i => (s"/ex/doc$i.md",
      s"# Doc$i\n" + (s"export corpus searchable text $i body words. " * 6)))
      .toDS())
    lib.enableShardedServing(nCells = 2)
    // a maintenance batch: epoch 1 lands, epoch-0 leaves retained
    lib.addMarkdown(Seq(("/ex/new1.md",
      "# New\n" + ("brand new export payload words here. " * 6))).toDS())
    val qv = lib.embedder.embed("brand new export payload")
    val opts = graft.model.SearchOptions(limit = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val want = rows(lib.shardedSearch(qv, opts))
    val dest = tempDir("graft-exp2").toString
    lib.exportTo(dest)
    // the export is one epoch: exactly ONE blob row per (cell, sub)
    val destShards = s"$dest/embeddings_hnsw_sharded"
    val destMeta = s"$dest/embeddings_hnsw_sharded_meta"
    assert(manifestOf(destShards).epoch === 0L)
    val exported = ShardedHnsw.load(spark, destShards, destMeta).table
      .select("__cell", "__sub").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(exported.length === exported.distinct.length,
      "export must carry one epoch, not the retention window")
    // the exported meta and manifest carry the same build id, the
    // export's own (it pairs ONE save's meta with ONE root)
    def metaBuildIds(metaPath: String) = spark.read.parquet(metaPath)
      .select("__buildid").distinct().collect().map(_.getString(0)).toSeq
    val Seq(destId) = metaBuildIds(destMeta)
    assert(manifestOf(destShards).buildId === Some(destId))
    assert(metaBuildIds(s"$wh/embeddings_hnsw_sharded_meta") !== Seq(destId))
    // the restored warehouse serves the same rows through the
    // manifest path
    val restored = new graft.Library(spark, dest)
    assert(rows(restored.shardedSearch(qv, opts)) === want)
  }

  test("Library facade: enableShardedServing + ingest maintenance + cold reload") {
    val wh = tempDir("graft-shnsw").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 25).map(i => (s"/sh/doc$i.md",
      s"# Doc$i\n" + (s"baseline sharded corpus retrieval text $i body. " * 6)))
      .toDS())
    lib.enableShardedServing(nCells = 4)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[String]("docId")).toSeq
    val qv0 = lib.embedder.embed("sharded corpus retrieval text")
    val opts = graft.model.SearchOptions(limit = 5)
    // output contract parity with the exact path
    assert(lib.shardedSearch(qv0, opts).columns
      === lib.vectorSearch(qv0, opts).columns)
    val exact0 = ids(lib.vectorSearch(qv0, opts))
    val sharded0 = ids(lib.shardedSearch(qv0, opts))
    assert((exact0.toSet & sharded0.toSet).size.toDouble
      / exact0.size >= 0.75, s"exact=$exact0 sharded=$sharded0")
    // ingest AFTER enable: the maintenance hook must insert, not stale
    lib.addMarkdown((1 to 6).map(i => (s"/sh/new$i.md",
      s"# New$i\n" + (s"zephyr quasar sharded novelty payload $i. " * 6)))
      .toDS())
    val qv = lib.embedder.embed("zephyr quasar sharded novelty payload")
    val exact = ids(lib.vectorSearch(qv, opts))
    val served = ids(lib.shardedSearch(qv, opts))
    assert(exact.nonEmpty && served.contains(exact.head),
      s"sharded=$served exact=$exact")
    // COLD reload (fresh Library over the same warehouse) agrees — the
    // tier is a persisted warehouse artifact, not session state
    val lib2 = new graft.Library(spark, wh)
    assert(ids(lib2.shardedSearch(qv, opts)) === served)
    // a tombstoned doc's chunks drop at the live join, no rebuild
    val victim = served.head
    lib.removeDocumentFast(victim)
    assert(!ids(lib.shardedSearch(qv, opts)).contains(victim))
    // tier absent -> clean fallback to the exact path (same columns)
    val bare = new graft.Library(spark,
      tempDir("graft-shnsw2").toString)
    bare.addMarkdown(Seq(("/sh2/a.md", "# A\nfallback body words. " * 8)).toDS())
    assert(bare.shardedSearch(qv, graft.model.SearchOptions(limit = 3))
      .columns === bare.vectorSearch(qv,
        graft.model.SearchOptions(limit = 3)).columns)
  }

  test("Library facade: annSearch dispatch matrix — routes to the best enabled tier, output contract unchanged") {
    // VERDICT r17 #8: one entry point routes to exact / monolithic
    // HNSW / sharded by what is enabled; dispatch changes latency,
    // never shape. Each matrix state asserts row-identity with the
    // tier's own method (all are deterministic), so a mis-route shows
    // up as a row diff, not just a column diff.
    val wh = tempDir("graft-dispatch").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 20).map(i => (s"/dp/doc$i.md",
      s"# Doc$i\n" + (s"dispatch matrix corpus retrieval text $i body. " * 6)))
      .toDS())
    val qv = lib.embedder.embed("dispatch matrix corpus retrieval text")
    val opts = graft.model.SearchOptions(limit = 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // no tier enabled: annSearch IS the exact path
    assert(rows(lib.annSearch(qv, opts)) === rows(lib.vectorSearch(qv, opts)))
    // monolithic HNSW enabled: dispatch switches to hnswSearch
    lib.buildHnswIndex()
    assert(rows(lib.annSearch(qv, opts)) === rows(lib.hnswSearch(qv, opts)))
    // sharded tier enabled: it wins over the monolithic graph
    lib.enableShardedServing(nCells = 4)
    assert(rows(lib.annSearch(qv, opts)) === rows(lib.shardedSearch(qv, opts)))
    // the output contract is one shape across all three tiers
    assert(lib.annSearch(qv, opts).columns.toSeq ===
      lib.vectorSearch(qv, opts).columns.toSeq)
  }

  test("Library facade: the sharded ingest hook runs a bounded action budget (no second batch action)") {
    // VERDICT r17 #7: the recurring-id guard rides the SAME collect as
    // the insert feed — the old form paid an extra batch.count()
    // ACTION. Budget derivation (Spark actions, AQE-independent where
    // raw job counts are not): 1 probe-join collect over the batch +
    // insertPersisted's meta collect, one-job leaf write and narrow
    // stats read-back + 1 ids append = 5. A reintroduced second batch
    // action breaks the budget.
    val wh = tempDir("graft-jobs").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 10).map(i => (s"/jb/doc$i.md",
      s"# Doc$i\n" + (s"job budget corpus text $i body words here. " * 6)))
      .toDS())
    lib.enableShardedServing(nCells = 2)
    import spark.implicits._
    val batch = Seq(("jb-extra-1", lib.embedder.embed("fresh vector one")),
      ("jb-extra-2", lib.embedder.embed("fresh vector two")))
      .toDF("chunkId", "embedding")
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = actions.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      lib.appendToShardedIndex(batch)
      // listener events are async; a short settle keeps the count honest
      Thread.sleep(1000)
    } finally spark.listenerManager.unregister(listener)
    assert(actions.get() <= 5,
      s"sharded append hook ran ${actions.get()} actions")
    // and the appended ids are servable (the hook really ran)
    val served = lib.shardedSearch(lib.embedder.embed("fresh vector one"),
      graft.model.SearchOptions(limit = 3))
    assert(served.columns.nonEmpty)
  }

  test("Library facade: compactTombstones retires dead members, and a compacted chunkId re-ingests WITHOUT dropping the tier") {
    val wh = tempDir("graft-shnsw4").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 15).map(i => (s"/cp/doc$i.md",
      s"# Doc$i\n" + (s"compaction corpus searchable text $i body words. " * 6)))
      .toDS())
    lib.enableShardedServing(nCells = 4)
    val qv = lib.embedder.embed("compaction corpus searchable text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[String]("docId")).toSeq
    val victim = ids(lib.shardedSearch(qv,
      graft.model.SearchOptions(limit = 3))).head
    lib.removeDocumentFast(victim)
    lib.compactTombstones()
    // the tier physically retired the victim's members: its chunkIds
    // are gone from the ids table AND from every blob
    val fs = graft.util.TableSwap.fileSystem(spark, wh)
    import org.apache.hadoop.fs.{Path => HPath}
    assert(fs.exists(new HPath(s"$wh/embeddings_hnsw_sharded_meta")))
    val idsLeft = spark.read
      .parquet(s"$wh/embeddings_hnsw_sharded_ids")
      .select("chunkId").collect().map(_.getString(0)).toSet
    assert(!idsLeft.exists(_.startsWith(victim)))
    val blobIds = ShardedHnsw.memberCells(ShardedHnsw.load(spark,
        s"$wh/embeddings_hnsw_sharded", s"$wh/embeddings_hnsw_sharded_meta"))
      .select("id").collect().map(_.getLong(0)).toSet
    val deadHashes = (0 until 40).map(i =>  // victim chunkIds are docId-idx
      s"$victim-$i").map(c => Seq(c).toDF("c")
        .select(xxhash64(col("c"))).head().getLong(0)).toSet
    assert((blobIds intersect deadHashes).isEmpty,
      "compacted members must leave the blobs")
    // a COMPACTED chunkId re-ingests under the same path with NEW
    // content and the tier keeps serving (no stale vector exists to
    // protect against - the drop guard must NOT fire)
    lib.addMarkdown(Seq((s"/cp/${victim.take(8)}-readd.md",
      "# Readd\n" + ("fresh replacement corpus content words here. " * 6)))
      .toDS())
    val srcPath = s"/cp/doc${(1 to 15).find(i =>
      graft.Library.docId(s"/cp/doc$i.md") == victim).get}.md"
    lib.addMarkdown(Seq((srcPath,
      "# Changed\n" + ("entirely new replacement body after compaction. " * 6)))
      .toDS())
    assert(fs.exists(new HPath(s"$wh/embeddings_hnsw_sharded_meta")),
      "re-ingest of a COMPACTED chunkId must not drop the tier")
    val qv2 = lib.embedder.embed("entirely new replacement body after compaction")
    val served = ids(lib.shardedSearch(qv2,
      graft.model.SearchOptions(limit = 3)))
    assert(served.contains(victim),
      s"re-ingested doc must serve from the maintained tier: $served")
  }

  test("Library facade: compacting away EVERY indexed member drops the tier, and shardedSearch falls back cleanly") {
    val wh = tempDir("graft-shnsw5").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 6).map(i => (s"/fd/doc$i.md",
      s"# Doc$i\n" + (s"full drop corpus text $i words. " * 6))).toDS())
    lib.enableShardedServing(nCells = 2)
    (1 to 6).foreach(i =>
      lib.removeDocumentFast(graft.Library.docId(s"/fd/doc$i.md")))
    lib.compactTombstones()
    // every member retired: the tier must DROP (a leaf-less blob table
    // root would make the next load throw instead of falling back)
    val fs = graft.util.TableSwap.fileSystem(spark, wh)
    import org.apache.hadoop.fs.{Path => HPath}
    assert(!fs.exists(new HPath(s"$wh/embeddings_hnsw_sharded_meta")))
    // fresh corpus + fallback both still work
    lib.addMarkdown(Seq(("/fd/new.md",
      "# New\n" + ("fresh corpus after the full drop words. " * 6))).toDS())
    val qv = lib.embedder.embed("fresh corpus after the full drop")
    val res = lib.shardedSearch(qv, graft.model.SearchOptions(limit = 3))
    assert(res.collect().nonEmpty)
  }

  test("Library facade: re-ingest under a recurring chunkId drops the tier instead of serving stale vectors") {
    val wh = tempDir("graft-shnsw3").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 12).map(i => (s"/st/doc$i.md",
      s"# Doc$i\n" + (s"stale detection corpus text $i body words. " * 6)))
      .toDS())
    lib.enableShardedServing(nCells = 4)
    val qv = lib.embedder.embed("stale detection corpus text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[String]("docId")).toSeq
    val victim = ids(lib.shardedSearch(qv,
      graft.model.SearchOptions(limit = 3))).head
    // remove + re-ingest the same path with CHANGED content: chunkIds
    // recur, so the indexed vectors may be stale -> the hook must drop
    // the tier, and shardedSearch falls back to the exact path
    val srcPath = lib.documents.filter(col("id") === victim)
      .select("path").head().getString(0)
    lib.removeDocument(victim)
    lib.addMarkdown(Seq((srcPath,
      "# Changed\n" + ("entirely different replacement content now. " * 6)))
      .toDS())
    val fs = graft.util.TableSwap.fileSystem(spark, wh)
    import org.apache.hadoop.fs.{Path => HPath}
    assert(!fs.exists(new HPath(s"$wh/embeddings_hnsw_sharded_meta")),
      "a recurring chunkId must drop the sharded tier")
    // fallback still answers, and never the stale vector set
    val after = ids(lib.shardedSearch(qv, graft.model.SearchOptions(limit = 3)))
    assert(after === ids(lib.vectorSearch(qv,
      graft.model.SearchOptions(limit = 3))))
  }

  // ------------------------------- probe-pruned serving (VERDICT r18 #1)

  test("searchSingle reads ONLY the probed cells' leaf files — unprobed leaves can be byte-corrupted and serving is unchanged") {
    val (shardsPath, metaPath) = tempTier("shnsw-probe")
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 8)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    val re = ShardedHnsw.load(spark, shardsPath, metaPath)
    val qv = emb.orderBy("vec_id").limit(1)
      .select("embedding").head().getSeq[Float](0).toArray
    val probed = ShardedHnsw.probeCells(re, qv, 3).toSet
    assert(probed.size === 3)
    // parity with the batch path at the same coverage, before any
    // corruption: one query through searchBatch ≡ searchSingle
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val single = rows(ShardedHnsw.searchSingle(re, qv, 10, 3)
      .select("rn", "id", "cos_dist"))
    val batch = ShardedHnsw.searchBatch(re,
        Seq((0L, qv.toSeq)).toDF("qid", "qv"), "qid", "qv", 10, 3)
      .select("rn", "id", "cos_dist").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(_._1)
    assert(single === batch,
      "single-query serving must match the batch contract")
    // corrupt EVERY byte of every unprobed leaf — if the pruned read
    // ever listed/opened them, the parquet footer parse would throw
    (0 until 8).filterNot(probed).foreach { cell =>
      val dir = leafDir(shardsPath, cell)
      assert(dir.isDefined, s"cell $cell has no leaf")
      dir.get.listFiles().filter(_.isFile).foreach { f =>
        java.nio.file.Files.write(f.toPath,
          Array.fill(64)(0x5A.toByte))
      }
    }
    ShardedHnsw.resetCache() // no help from a warm decode cache
    assert(rows(ShardedHnsw.searchSingle(re, qv, 10, 3)
      .select("rn", "id", "cos_dist")) === single,
      "probe-pruned serving read an unprobed leaf")
    // and the corruption is REAL: full coverage now fails loudly
    intercept[Throwable] {
      ShardedHnsw.searchSingle(re, qv, 10, 8).collect()
    }
  }

  test("searchBatch at partial probe reads ONLY the batch's probed-cell UNION of leaf files (round 19)") {
    val (shardsPath, metaPath) = tempTier("shnsw-bprobe")
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 8)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    val re = ShardedHnsw.load(spark, shardsPath, metaPath)
    val qs = emb.orderBy("vec_id").limit(3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val union = qs.collect()
      .flatMap(r => ShardedHnsw.probeCells(re,
        r.getSeq[Float](1).toArray, 2)).toSet
    assert(union.size < 8, s"fixture degenerated: union=$union")
    def run(np: Int) = ShardedHnsw
      .searchBatch(re, qs, "qid", "qv", 5, np)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val want = run(2)
    // corrupt every leaf OUTSIDE the union — a batch read that still
    // listed all leaves would die on the parquet footer parse
    (0 until 8).filterNot(union).foreach { cell =>
      val dir = leafDir(shardsPath, cell)
      assert(dir.isDefined, s"cell $cell has no leaf")
      dir.get.listFiles().filter(_.isFile).foreach { f =>
        java.nio.file.Files.write(f.toPath,
          Array.fill(64)(0x5A.toByte))
      }
    }
    ShardedHnsw.resetCache()
    assert(run(2) === want,
      "partial-probe batch serving read a leaf outside the probed union")
    intercept[Throwable] { run(8) } // the corruption is real
  }

  test("auto-probe serving default: recall >= 0.99 on a clustered corpus at ceil(2*sqrt(nCells)) probes") {
    // the shape the auto default is for: a corpus with real cluster
    // structure (the 100 TB regime — embedding spaces are never
    // uniform), where the nearest-centroid cells hold the neighbors
    val dim = 16
    val clustered = (0 until 8).flatMap { c =>
      val center = Array.tabulate(dim)(d =>
        (((c * 31 + d * 17) % 23) - 11).toFloat)
      (0 until 60).map { i =>
        val v = center.clone()
        var d = 0
        while (d < dim) {
          v(d) += (((i * 13 + d * 7 + c) % 19) - 9) * 0.02f; d += 1
        }
        (c * 1000L + i, v)
      }
    }.toDF("vec_id", "embedding")
    val (shardsPath, metaPath) = tempTier("shnsw-auto")
    val sh = ShardedHnsw.build(clustered, "vec_id", "embedding",
      nCells = 8)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    val re = ShardedHnsw.load(spark, shardsPath, metaPath)
    val auto = graft.Library.autoProbe(spark, 8)
    assert(auto === 6, s"ceil(2*sqrt(8)) = 6, got $auto") // < full
    val queries = clustered.orderBy("vec_id")
      .limit(100).as[(Long, Array[Float])].collect()
    val exact = VectorSearch.topKBatch(clustered, "embedding", "vec_id",
        clustered.select(col("vec_id").as("__qid"),
          col("embedding").as("__qv")).orderBy("__qid").limit(100),
        "__qid", "__qv", 10, excludeSelf = false)
      .select("__qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = queries.flatMap { case (qid, qv) =>
      ShardedHnsw.searchSingle(re, qv, 10, auto).collect()
        .map(r => (qid, r.getLong(1)))
    }.toSet
    val recall = served.count(exact).toDouble / exact.size
    info(f"auto-probe ($auto/8) recall $recall%.4f")
    assert(recall >= 0.99, s"auto-probe recall $recall < 0.99")
    // round-20 default promotion (VERDICT r19 #5): the loaded-handle
    // default is the coverage-mass cut at fraction auto/nCells. On
    // this BALANCED tier the mass cut must cost the same work as the
    // fixed count (±1 cell for count rounding), and recall must hold
    // the same ≥ 0.99 pin.
    val massDefault = auto.toDouble / 8
    val massServed = queries.flatMap { case (qid, qv) =>
      val np = ShardedHnsw.probeCountByMass(re, qv, massDefault)
        .getOrElse(auto)
      assert(math.abs(np - auto) <= 1,
        s"balanced tier: mass cut $np strayed from the √n budget $auto")
      ShardedHnsw.searchSingle(re, qv, 10, np).collect()
        .map(r => (qid, r.getLong(1)))
    }.toSet
    val massRecall = massServed.count(exact).toDouble / exact.size
    info(f"mass-default recall $massRecall%.4f")
    assert(massRecall >= 0.99, s"mass-default recall $massRecall < 0.99")
  }

  test("coverage-mass probe budget: the cut adapts to cell skew per query, from manifest counts alone") {
    // a skewed corpus: one dominant cluster (360 members) + 3 small
    // ones (40 each) — kmeans at nCells=4 recovers the structure, so
    // the manifest counts are skewed the way real embedding corpora
    // are. A query inside the dominant cluster must satisfy a 0.5
    // mass cut with ONE cell; a query in a small cluster needs more.
    val dim = 8
    def cluster(c: Int, n: Int, base: Long) = (0 until n).map { i =>
      val center = Array.tabulate(dim)(d =>
        (((c * 37 + d * 11) % 17) - 8).toFloat * 2f)
      var d = 0
      while (d < dim) {
        center(d) += (((i * 13 + d * 7) % 19) - 9) * 0.01f; d += 1
      }
      (base + i, center)
    }
    val skewed = (cluster(0, 360, 0L) ++ cluster(1, 40, 1000L) ++
      cluster(2, 40, 2000L) ++ cluster(3, 40, 3000L))
      .toDF("vec_id", "embedding")
    val (shardsPath, metaPath) = tempTier("shnsw-mass")
    val sh = ShardedHnsw.build(skewed, "vec_id", "embedding", nCells = 4)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    val re = ShardedHnsw.load(spark, shardsPath, metaPath)
    val counts = manifestOf(shardsPath).leaves.values.map(_.count).toSeq
    assert(counts.max >= 300, s"kmeans failed to isolate the skew: $counts")
    val qBig = cluster(0, 1, 0L).head._2
    val qSmall = cluster(1, 1, 1000L).head._2
    val nBig = ShardedHnsw.probeCountByMass(re, qBig, 0.5).get
    val nSmall = ShardedHnsw.probeCountByMass(re, qSmall, 0.5).get
    assert(nBig === 1,
      s"a dominant-cell query must satisfy 0.5 mass with one cell ($nBig)")
    assert(nSmall > nBig,
      s"a small-cell query must probe further ($nSmall vs $nBig)")
    // full mass = full coverage; in-memory handles have no counts
    assert(ShardedHnsw.probeCountByMass(re, qBig, 1.0).get === 4)
    assert(ShardedHnsw.probeCountByMass(sh, qBig, 0.5).isEmpty)
    // serving under the mass budget still finds the query's own
    // cluster (self-hit at rank 1)
    val top = ShardedHnsw.searchSingle(re, qBig, 1, nBig).collect()
    assert(top.length === 1 && top.head.getLong(1) === 0L)
    // recall pin at the ROUND-20 DEFAULT fraction (auto/nCells) on a
    // SKEWED tier — the shape where the default differs from the
    // fixed count: a finer clustering so the budget is partial
    val (sp2, mp2) = tempTier("shnsw-mass9")
    ShardedHnsw.save(
      ShardedHnsw.build(skewed, "vec_id", "embedding", nCells = 9),
      sp2, mp2)
    val re9 = ShardedHnsw.load(spark, sp2, mp2)
    val auto9 = graft.Library.autoProbe(spark, 9)
    assert(auto9 < 9, s"fixture: auto budget $auto9 must be partial")
    val frac9 = auto9.toDouble / 9
    val qs9 = skewed.orderBy("vec_id").limit(120)
      .as[(Long, Array[Float])].collect()
    val exact9 = VectorSearch.topKBatch(skewed, "embedding", "vec_id",
        skewed.select(col("vec_id").as("__qid"),
          col("embedding").as("__qv")).orderBy("__qid").limit(120),
        "__qid", "__qv", 10, excludeSelf = false)
      .select("__qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var probeSum = 0
    val served9 = qs9.flatMap { case (qid, qv) =>
      val np = ShardedHnsw.probeCountByMass(re9, qv, frac9)
        .getOrElse(auto9)
      probeSum += np
      ShardedHnsw.searchSingle(re9, qv, 10, np).collect()
        .map(r => (qid, r.getLong(1)))
    }.toSet
    val recall9 = served9.count(exact9).toDouble / exact9.size
    info(f"skewed mass-default recall $recall9%.4f, " +
      f"mean probes ${probeSum.toDouble / qs9.length}%.2f vs fixed $auto9")
    assert(recall9 >= 0.99, s"skewed mass-default recall $recall9 < 0.99")
    // the Library facade routes through the conf
    val wh = tempDir("graft-mass").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 12).map(i => (s"/ms/doc$i.md",
      s"# Doc$i\n" + (s"mass budget corpus words $i body here. " * 6)))
      .toDS())
    lib.enableShardedServing(nCells = 2)
    val qv = lib.embedder.embed("mass budget corpus words")
    spark.conf.set("spark.graft.servingProbeMass", "0.5")
    try {
      val opts = graft.model.SearchOptions(limit = 3)
      assert(lib.shardedSearch(qv, opts).collect().nonEmpty)
    } finally spark.conf.unset("spark.graft.servingProbeMass")
  }

  test("staleness guard (VERDICT r18 #7): a handle may survive ONE maintenance commit, the second fails loudly — and the Library facade self-heals") {
    val (shardsPath, metaPath) = tempTier("shnsw-stale")
    val sh = ShardedHnsw.build(emb, "vec_id", "embedding", nCells = 4)
    ShardedHnsw.save(sh, shardsPath, metaPath)
    val pinned = ShardedHnsw.load(spark, shardsPath, metaPath)
    val qv = emb.limit(1).select("embedding").head()
      .getSeq[Float](0).toArray
    def batchAt(base: Long) = (0 until 3).map(i =>
      (base + i, qv.map(x => x + (i + 1) * 1e-4f)))
    // ONE commit: retention keeps the pinned epoch's leaves — the
    // epoch-0 reader must keep serving a consistent snapshot
    ShardedHnsw.insertPersisted(spark, shardsPath, metaPath,
      batchAt(9_000_000L))
    assert(ShardedHnsw.searchSingle(pinned, qv, 5, 4).collect()
      .length === 5)
    // TWO commits: the pinned epoch may be garbage-collected — the
    // guard must fail loudly BEFORE a scan dies file-not-found
    ShardedHnsw.insertPersisted(spark, shardsPath, metaPath,
      batchAt(9_100_000L))
    intercept[ShardedHnsw.StaleSnapshotException] {
      ShardedHnsw.searchSingle(pinned, qv, 5, 4)
    }
    intercept[ShardedHnsw.StaleSnapshotException] {
      ShardedHnsw.searchBatch(pinned,
        Seq((0L, qv.toSeq)).toDF("qid", "qv"), "qid", "qv", 5, 4)
    }
    // the fresh handle serves — and an in-memory handle (no source)
    // never trips the guard
    val fresh = ShardedHnsw.load(spark, shardsPath, metaPath)
    assert(ShardedHnsw.searchSingle(fresh, qv, 5, 4).collect()
      .length === 5)
    assert(ShardedHnsw.searchSingle(sh, qv, 5, 4).collect()
      .length === 5)
    // a DERIVED handle (in-memory insert on a loaded handle) still
    // lazily reads the parent's pinned leaves: the guard must cover it
    // through the inherited pin (ADVICE r19), not fail file-not-found
    val derived = ShardedHnsw.insert(fresh, batchAt(9_200_000L))
    val derived2 = ShardedHnsw.insert(derived, batchAt(9_500_000L))
    assert(ShardedHnsw.searchSingle(derived, qv, 5, 4).collect()
      .length === 5)
    ShardedHnsw.insertPersisted(spark, shardsPath, metaPath,
      batchAt(9_300_000L))
    ShardedHnsw.insertPersisted(spark, shardsPath, metaPath,
      batchAt(9_400_000L))
    intercept[ShardedHnsw.StaleSnapshotException] {
      ShardedHnsw.searchSingle(derived, qv, 5, 4)
    }
    // ...and a derived-of-derived handle inherits the same pin
    intercept[ShardedHnsw.StaleSnapshotException] {
      ShardedHnsw.searchSingle(derived2, qv, 5, 4)
    }
  }

  test("enableShardedServing default sizes the clustering to ceil(sqrt(n)) — the sqrt-N convention, not a fixed toy count") {
    val wh = tempDir("graft-autocell").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 30).map(i => (s"/ac/doc$i.md",
      s"# Doc$i\n" + (s"auto cell sizing corpus text $i body words. " * 6)))
      .toDS())
    lib.enableShardedServing() // nCells <= 0 = auto
    val n = lib.embeddings.count()
    val want = math.ceil(math.sqrt(n.toDouble)).toInt
    val got = spark.read
      .parquet(s"$wh/embeddings_hnsw_sharded_meta")
      .select("__cell").distinct().count().toInt
    assert(got === want, s"auto nCells: got $got want ceil(sqrt($n))=$want")
    val qv = lib.embedder.embed("auto cell sizing corpus text")
    assert(lib.annSearch(qv, graft.model.SearchOptions(limit = 3))
      .collect().nonEmpty)
  }

  test("Library facade: out-of-band maintenance past the retention window self-heals; annSearch passes nProbe through") {
    val wh = tempDir("graft-heal").toString
    val lib = new graft.Library(spark, wh)
    lib.addMarkdown((1 to 16).map(i => (s"/hl/doc$i.md",
      s"# Doc$i\n" + (s"self heal corpus retrieval text $i body words. " * 6)))
      .toDS())
    lib.enableShardedServing(nCells = 2)
    val qv = lib.embedder.embed("self heal corpus retrieval text")
    val opts = graft.model.SearchOptions(limit = 3)
    val before = lib.shardedSearch(qv, opts).collect().map(_.toSeq).toSeq
    assert(before.nonEmpty)
    // two out-of-band maintenance commits through a SECOND Library
    // over the same warehouse: the first library's cached handle is
    // now past the retention window
    val outOfBand = new graft.Library(spark, wh)
    outOfBand.addMarkdown(Seq(("/hl/n1.md",
      "# N1\n" + ("first out of band batch words. " * 6))).toDS())
    outOfBand.addMarkdown(Seq(("/hl/n2.md",
      "# N2\n" + ("second out of band batch words. " * 6))).toDS())
    // the facade reloads and retries instead of surfacing the guard
    assert(lib.shardedSearch(qv, opts).collect().nonEmpty)
    // maintained inserts landed → the drift watermark has a reading
    // (its value is honest here: a 2-doc out-of-band batch of novel
    // text on a 16-doc corpus IS far from the build centers — which
    // is exactly why the warn path demands 32+ inserts of evidence)
    assert(lib.shardedDriftRatio().isDefined,
      "maintained tier must expose a drift ratio")
    // nProbe passthrough: explicit full coverage and explicit 1-probe
    // both flow through annSearch (nCells=2 — both are answerable)
    assert(lib.annSearch(qv, opts, nProbe = 0).collect().nonEmpty)
    assert(lib.annSearch(qv, opts, nProbe = 1).collect().nonEmpty)
  }

  test("centroid-drift watermark (VERDICT r19 #2): in-distribution ingest stays quiet, a shifted distribution trips the band sitting below the recall-degrading regime") {
    val dim = 16
    def clusterPoint(c: Int, i: Int): Array[Float] = {
      val v = Array.tabulate(dim)(d =>
        (((c * 31 + d * 17) % 23) - 11).toFloat)
      var d = 0
      while (d < dim) {
        v(d) += (((i * 13 + d * 7 + c) % 19) - 9) * 0.02f; d += 1
      }
      v
    }
    val built = (0 until 8).flatMap(c =>
      (0 until 60).map(i => (c * 1000L + i, clusterPoint(c, i))))
    val (sp, mp) = tempTier("shnsw-drift")
    val sh = ShardedHnsw.build(built.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCells = 8)
    ShardedHnsw.save(sh, sp, mp)
    // baseline frozen, no inserts yet → no ratio
    assert(ShardedHnsw.driftRatio(spark, sp, mp).isEmpty)
    // IN-DISTRIBUTION maintenance batch: fresh draws from the same
    // generator — the watermark must stay quiet
    ShardedHnsw.insertPersisted(spark, sp, mp,
      (0 until 8).flatMap(c => (200 until 205).map(i =>
        (50_000L + c * 100 + i, clusterPoint(c, i)))))
    val rIn = ShardedHnsw.driftRatio(spark, sp, mp).get
    info(f"in-distribution drift ratio $rIn%.3f")
    assert(rIn < 1.5, s"in-distribution ingest tripped the band: $rIn")
    // SHIFTED distribution: a tight new cluster midway between two
    // centers, members alternating ±ε along the axis so the frozen
    // quantizer SPLITS genuine neighbors across two cells — the
    // failure mode the watermark exists to flag. Pick the first pair
    // (by descending separation) whose midpoint actually straddles a
    // cell boundary: the midpoint of a far pair can belong to a THIRD
    // cell, which would not split.
    val centers = sh.centers
    def shiftedBatchFor(a: Int, b: Int): IndexedSeq[(Long, Array[Float])] = {
      val axis = centers(b).zip(centers(a)).map { case (x, y) => x - y }
      val len = math.sqrt(axis.map(x => x * x).sum)
      val unit = axis.map(_ / len)
      val mid = centers(a).zip(centers(b)).map { case (x, y) => (x + y) / 2 }
      (0 until 40).map { i =>
        val side = if (i % 2 == 0) 1.0 else -1.0
        val v = Array.tabulate(dim)(d => (mid(d) + side * 0.3 * unit(d) +
          (((i * 13 + d * 7) % 19) - 9) * 0.005).toFloat)
        (90_000L + i, v)
      }
    }
    val shifted = (for { a <- centers.indices; b <- centers.indices
        if a < b } yield (a, b))
      .sortBy { case (a, b) => -ShardedHnsw.distToCenter(centers(a),
        centers(b).map(_.toFloat)) }
      .iterator.map { case (a, b) => shiftedBatchFor(a, b) }
      .find { batch =>
        batch.map { case (_, v) =>
          ShardedHnsw.probeCells(sh, v, 1).head }.toSet.size >= 2
      }
      .getOrElse(fail("fixture: no straddling pair found"))
    ShardedHnsw.insertPersisted(spark, sp, mp, shifted)
    val rShift = ShardedHnsw.driftRatio(spark, sp, mp).get
    info(f"post-shift drift ratio $rShift%.3f")
    assert(rShift > 1.5, s"shifted ingest must trip the 1.5 band: $rShift")
    // WHY the band: at the drifted geometry, partial probing loses the
    // neighbors the quantizer split — measure recall@nProbe=1 for the
    // shifted members vs in-distribution members on the SAME tier
    val re = ShardedHnsw.load(spark, sp, mp)
    val all = built ++ shifted
    def recallAt1(qs: Seq[(Long, Array[Float])]): Double = {
      val allDf = all.toDF("vec_id", "embedding")
      val exact = VectorSearch.topKBatch(allDf, "embedding", "vec_id",
          qs.toDF("__qid", "__qv"), "__qid", "__qv", 10,
          excludeSelf = false)
        .select("__qid", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val served = qs.flatMap { case (qid, qv) =>
        ShardedHnsw.searchSingle(re, qv, 10, 1).collect()
          .map(r => (qid, r.getLong(1)))
      }.toSet
      served.count(exact).toDouble / exact.size
    }
    val recallShift = recallAt1(shifted.take(20))
    val recallIn = recallAt1(built.take(20))
    info(f"recall@1probe: in-distribution $recallIn%.3f, " +
      f"drifted $recallShift%.3f (ratio $rShift%.2f)")
    assert(recallIn >= 0.9,
      s"in-distribution recall@1 must stay high: $recallIn")
    assert(recallShift <= recallIn - 0.2,
      "the drifted regime must show the recall damage the band warns " +
        s"about (drifted $recallShift vs in-dist $recallIn)")
    // the facade surfaces the same reading
    // (compaction carries the state: drop nothing, just re-commit)
    ShardedHnsw.compactPersisted(spark, sp, mp, Set(90_000L),
      Seq(ShardedHnsw.probeCells(re, shifted.head._2, 1).head))
    assert(math.abs(ShardedHnsw.driftRatio(spark, sp, mp).get - rShift)
      < 1e-9, "compaction must carry the drift state unchanged")
  }
}
