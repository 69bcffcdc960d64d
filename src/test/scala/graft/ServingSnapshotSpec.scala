package graft

import graft.model.SearchOptions
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** A `Library` serves searches from a pinned [[ServingSnapshot]]. These
  * specs pin the two halves of that contract: a search issued after any
  * write sees the write (its results equal a cold `Library` on the same
  * warehouse), and a warm search runs no Spark job at all when the
  * warehouse fits the driver budget, and none before its final action
  * when it does not. Every write-visibility spec runs on both paths. */
class ServingSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def doc(i: Int, extra: String = ""): (String, String) =
    (s"/snap/doc$i.md", s"---\ntags: [t${i % 3}]\n---\n# Doc$i\n" +
      (s"snapshot corpus document number $i serving words. " * 6) + extra)

  private def seeded(prefix: String, docs: Int = 18,
                     ivfCompactMinRows: Long = 10000L): Library = {
    val l = new Library(spark, tempDir(prefix).toString,
      ivfCompactMinRows = ivfCompactMinRows)
    l.addMarkdown((1 to docs).map(i =>
      doc(i, if (i == 5) "marimba rare token here. " * 3 else "")).toDS())
    l.rebuildFtsIndex()
    l.buildVectorIndex(nCells = 4, nProbe = 4) // every cell probed: exact
    l
  }

  /** Hits doc 5 (the only "marimba") and doc 7 (the only "7") in BM25. */
  private val Query = "marimba number 7"

  /** Every serving surface, fully collected (with no graph tier enabled,
    * `search`'s vector leg is `annSearch`, which is `vectorSearch`). */
  private def answers(l: Library): Seq[Seq[(String, Int, Double, String, String)]] =
    Seq(
      l.vectorSearch(l.embedder.embed(Query), SearchOptions(limit = 8)),
      l.ftsSearch(Query, SearchOptions(limit = 8)),
      l.search(Query, SearchOptions(limit = 8)),
      l.search(Query, SearchOptions(limit = 5, tags = Seq("t1"))),
      l.search(Query, SearchOptions(limit = 4, expandContext = Some(300))))
      .map(_.collect().map(r => (r.getAs[String]("docId"),
      r.getAs[Int]("chunkIndex"), r.getAs[Double]("score"),
      r.getAs[String]("matchType"), r.getAs[String]("content"))).toSeq)

  private def fresh(l: Library) = answers(new Library(spark, l.warehouse))

  /** A second `Library` on `l`'s warehouse with no driver budget: it
    * serves every search on the Spark path. */
  private def onSpark(l: Library): Library = {
    val s = new Library(spark, l.warehouse)
    s.driverBudget = 0L
    s
  }

  /** `l` (in-process) and its [[onSpark]] twin, each checked to serve
    * on the path it names. */
  private def bothPaths(l: Library): Seq[Library] = {
    val sides = Seq(l, onSpark(l))
    assert(sides.map(_.serving().inProcess) === Seq(true, false))
    sides
  }

  /** Pin a snapshot on both paths, run `write`, then search the same
    * `Library`s. A write that `changes` no result must still be seen: a
    * stale snapshot would list files the write replaced and fail the
    * read. */
  private def seesWrite(l: Library, changes: Boolean = true)(write: => Unit): Unit = {
    val sides = bothPaths(l)
    val before = sides.map(answers)
    sides.foreach(s => assert(s.serving() eq s.serving(),
      "an unchanged warehouse re-opened its snapshot"))
    write
    val after = sides.map(answers)
    val want = fresh(l)
    after.foreach(a => assert(a === want, "a search after the write served a stale snapshot"))
    if (changes) assert(after.head !== before.head, "the write changed no result, so it proves nothing")
  }

  private def ftsDocs(l: Library, q: String): Seq[String] =
    l.ftsSearch(q, SearchOptions(limit = 8)).collect()
      .map(_.getAs[String]("docId")).toSeq

  test("addMarkdown is seen by the next search") {
    val l = seeded("snap-add")
    seesWrite(l)(l.addMarkdown(Seq(doc(40, "marimba marimba marimba. " * 4)).toDS()))
    assert(ftsDocs(l, "marimba").contains(Library.docId("/snap/doc40.md")))
  }

  test("removeDocumentFast and removeDocument are seen by the next search") {
    val l = seeded("snap-remove")
    seesWrite(l)(l.removeDocumentFast(Library.docId("/snap/doc5.md")))
    seesWrite(l)(l.removeDocument(Library.docId("/snap/doc7.md")))
    assert(ftsDocs(l, "marimba").isEmpty)
  }

  test("setTags is seen by a tag-filtered search") {
    val l = seeded("snap-tags")
    seesWrite(l)(Seq(5, 8).foreach(i =>
      l.setTags(Library.docId(s"/snap/doc$i.md"), Seq("t1"))))
  }

  test("rebuildFtsIndex and buildVectorIndex are seen by the next search") {
    val l = seeded("snap-rebuild")
    // both overwrite their tables: same answers, new files
    seesWrite(l, changes = false)(l.rebuildFtsIndex())
    seesWrite(l, changes = false)(l.buildVectorIndex(nCells = 4, nProbe = 3))
    assert(l.serving().ivf.map(_.nProbe) === Some(3), "the snapshot kept the old IVF meta")
  }

  test("compactTombstones, including the IVF cell-leaf swap, is seen by the next search") {
    val l = seeded("snap-compact")
    l.removeDocumentFast(Library.docId("/snap/doc5.md"))
    l.removeDocumentFast(Library.docId("/snap/doc8.md"))
    val sides = bothPaths(l)
    val before = answers(l)
    sides.foreach(s => assert(answers(s) === before))
    l.compactTombstones()
    assert(!new java.io.File(s"${l.warehouse}/tombstones").exists())
    // compaction changes no visible row: the hidden docs were hidden
    // before; what must hold is that the re-listed leaves serve
    sides.foreach(s => assert(answers(s) === before))
    assert(answers(l) === fresh(l))
  }

  test("an IVF delta fold is seen by the next search") {
    val l = seeded("snap-fold", ivfCompactMinRows = 1L)
    val deltaLeaf = new java.io.File(s"${l.warehouse}/embeddings_ivf/__cell=-1")
    seesWrite(l)(l.addMarkdown((50 to 56).map(i => doc(i, "marimba. " * 5)).toDS()))
    assert(!deltaLeaf.exists(), "the append did not fold the delta into cells")
  }

  test("repair() after a hand-made leaf rename is seen by the next search") {
    val l = seeded("snap-repair")
    val fs = graft.util.TableSwap.fileSystem(spark, l.warehouse)
    val wh = l.warehouse
    // a crashed bulk cell swap: cell 0's leaf sits in swap_old, so a
    // snapshot opened now lists the index without it
    fs.mkdirs(new HPath(s"$wh/embeddings_ivf_swap_old"))
    assert(fs.rename(new HPath(s"$wh/embeddings_ivf/__cell=0"),
      new HPath(s"$wh/embeddings_ivf_swap_old/__cell=0")))
    val sides = bothPaths(l)
    val stranded = sides.map(answers)
    l.repair() // restores the leaf: the files are back, the marker moves
    val repaired = sides.map(answers)
    repaired.foreach(r => assert(r === fresh(l)))
    assert(repaired.head !== stranded.head)
  }

  test("a write through a second Library instance is seen by the first") {
    val l = seeded("snap-second")
    val other = new Library(spark, l.warehouse)
    seesWrite(l)(other.addMarkdown(Seq(doc(60, "marimba. " * 8)).toDS()))
    seesWrite(l)(other.removeDocumentFast(Library.docId("/snap/doc60.md")))
  }

  test("a warm search runs no Spark job before its final action, and matches a cold Library") {
    val l = seeded("snap-jobs")
    l.removeDocumentFast(Library.docId("/snap/doc9.md")) // serve through tombstones too
    l.driverBudget = 0L // the Spark path: within the budget no job runs at all
    val warm = answers(l) // opens the snapshot and resolves every lazy value
    val Phase = "graft.spec.phase"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).map(_.getProperty(Phase, "")).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      Seq("marimba words", "number 3").foreach { q =>
        val qv = l.embedder.embed(q)
        sc.setLocalProperty(Phase, "build")
        val frames = Seq(l.vectorSearch(qv, SearchOptions(limit = 5)),
          l.ftsSearch(q, SearchOptions(limit = 5)),
          l.search(q, SearchOptions(limit = 5)),
          l.search(q, SearchOptions(limit = 5, tags = Seq("t2"))))
        frames.foreach(_.queryExecution.executedPlan)
        sc.setLocalProperty(Phase, "action")
        frames.foreach(_.collect())
      }
    } finally {
      sc.setLocalProperty(Phase, null)
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val phases = jobs.asScala.toSeq
    assert(phases.count(_ == "build") === 0,
      s"${phases.count(_ == "build")} Spark jobs ran while building warm searches")
    assert(phases.count(_ == "action") > 0)
    // the pinned frames answer exactly as fresh reads of every table do
    assert(warm === answers(l))
    assert(warm === fresh(l))
  }

  test("a warm search runs within its job ceiling: vector 2, fts 2, hybrid 3, and --expand builds lazily") {
    val l = seeded("snap-ceiling")
    l.removeDocumentFast(Library.docId("/snap/doc9.md")) // serve through tombstones too
    l.driverBudget = 0L // the Spark path: within the budget no job runs at all
    answers(l) // opens the snapshot and resolves every lazy value
    val Call = "graft.spec.call"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).map(_.getProperty(Call, "")).getOrElse(""))
    }
    val sc = spark.sparkContext
    val ceiling = Map("vector" -> 2, "fts" -> 2, "search" -> 3, "search_tags" -> 3)
    sc.addSparkListener(listener)
    try {
      Seq("marimba words", "number 3", "snapshot serving").foreach { q =>
        val o = SearchOptions(limit = 5)
        sc.setLocalProperty(Call, "build")
        val frames = Seq(
          "vector" -> l.vectorSearch(l.embedder.embed(q), o),
          "fts" -> l.ftsSearch(q, o),
          "search" -> l.search(q, o),
          "search_tags" -> l.search(q, o.copy(tags = Seq("t2"))),
          "search_expand" -> l.search(q, o.copy(expandContext = Some(300))))
        frames.foreach(_._2.queryExecution.executedPlan)
        frames.foreach { case (name, df) =>
          sc.setLocalProperty(Call, s"$name/$q")
          df.collect()
        }
      }
    } finally {
      sc.setLocalProperty(Call, null)
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val perCall = jobs.asScala.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(perCall.getOrElse("build", 0) === 0,
      s"${perCall.getOrElse("build", 0)} Spark jobs ran while building warm searches")
    perCall.foreach { case (call, n) =>
      ceiling.get(call.takeWhile(_ != '/')).foreach(max =>
        assert(n <= max, s"$call ran $n Spark jobs, over its ceiling of $max"))
    }
    assert(ceiling.keys.forall(op => perCall.keys.exists(_.startsWith(s"$op/"))))
  }

  /** The Spark jobs each call of `calls` starts, by call name, from the
    * call itself to the end of its `collect`. */
  private def jobsPerCall(calls: Seq[(String, () => org.apache.spark.sql.DataFrame)]): Map[String, Int] = {
    val Call = "graft.spec.call"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).map(_.getProperty(Call, "")).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try calls.foreach { case (name, call) =>
      sc.setLocalProperty(Call, name)
      val df = call()
      df.queryExecution.executedPlan
      df.collect()
    } finally {
      sc.setLocalProperty(Call, null)
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    calls.map(_._1).map(c => c -> jobs.asScala.count(_ == c)).toMap
  }

  test("within the driver budget a warm search runs no Spark job at all, and --expand fewer than 8") {
    val l = seeded("snap-inprocess")
    l.removeDocumentFast(Library.docId("/snap/doc9.md")) // serve through tombstones too
    l.buildClusterSummaries(3)
    assert(l.serving().inProcess)
    def calls(q: String) = {
      val o = SearchOptions(limit = 5)
      Seq[(String, () => org.apache.spark.sql.DataFrame)](
        s"vector/$q" -> (() => l.vectorSearch(l.embedder.embed(q), o)),
        s"fts/$q" -> (() => l.ftsSearch(q, o)),
        s"search/$q" -> (() => l.search(q, o)),
        s"search_tags/$q" -> (() => l.search(q, o.copy(tags = Seq("t2")))),
        s"multiscale/$q" -> (() => l.multiScaleSearch(q, o)),
        s"search_expand/$q" -> (() => l.search(q, o.copy(expandContext = Some(300)))))
    }
    jobsPerCall(calls("warm up")) // loads the tier
    val perCall = Seq("marimba words", "number 3", "snapshot serving")
      .flatMap(q => jobsPerCall(calls(q)))
    perCall.foreach { case (call, n) =>
      if (call.startsWith("search_expand/"))
        assert(n > 0 && n < 8, s"$call ran $n Spark jobs")
      else assert(n === 0, s"$call ran $n Spark jobs within the driver budget")
    }
    // the same rows as the Spark path
    assert(answers(l) === answers(onSpark(l)))
  }

  test("an over-budget snapshot collects no vectors, postings or content to the driver") {
    val l = seeded("snap-over")
    l.removeDocumentFast(Library.docId("/snap/doc9.md"))
    l.buildClusterSummaries(3)
    val over = onSpark(l)
    val returned = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.sql.execution.QueryExecution]
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = ran.add(qe)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ran.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val q = "marimba number 7"
      val o = SearchOptions(limit = 5)
      Seq(over.vectorSearch(over.embedder.embed(q), o), over.ftsSearch(q, o),
        over.search(q, o), over.search(q, o.copy(expandContext = Some(300))),
        over.multiScaleSearch(q, o)).foreach { df =>
        returned += df.queryExecution
        df.collect()
      }
    } finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(!over.serving().inProcess && over.serving().content.isEmpty)
    import scala.jdk.CollectionConverters._
    val loads = ran.asScala.toSeq.filterNot(qe => returned.exists(_ eq qe))
    assert(loads.nonEmpty, "the listener saw no snapshot load")
    loads.foreach { qe =>
      val cols = qe.analyzed.output.map(_.name)
      assert(Seq("embedding", "term", "content").forall(c => !cols.contains(c)),
        s"an over-budget snapshot collected ${cols.mkString(", ")}")
    }
  }

  test("vector scores are exact cosines of the live embeddings") {
    val l = seeded("snap-exact")
    answers(l)
    val qv = l.embedder.embed("serving words")
    val want = l.embeddings.join(l.chunks.select(col("id").as("chunkId"),
        col("docId"), col("chunkIndex")), Seq("chunkId"))
      .collect().map { r =>
        val v = r.getAs[scala.collection.Seq[Float]]("embedding")
        val dot = v.indices.map(i => v(i).toDouble * qv(i)).sum
        val cos = dot / (math.sqrt(v.map(x => x.toDouble * x).sum) *
          math.sqrt(qv.map(x => x.toDouble * x).sum))
        (r.getAs[String]("docId"), r.getAs[Int]("chunkIndex"), (1.0 + cos) / 2.0)
      }.sortBy(t => (-t._3, t._1, t._2)).take(6).toSeq
    val got = l.vectorSearch(qv, SearchOptions(limit = 6)).collect()
      .map(r => (r.getAs[String]("docId"), r.getAs[Int]("chunkIndex"),
        r.getAs[Double]("score"))).toSeq
    assert(got.map(g => (g._1, g._2)) === want.map(w => (w._1, w._2)))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 1e-9) }
  }
}
