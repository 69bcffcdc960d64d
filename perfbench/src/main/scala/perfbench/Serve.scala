package perfbench

import graft.Library
import graft.model.SearchOptions
import graft.sources.HashingEmbedder
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable

object Serve {
  /** Corpus size: about 5.5 chunks per doc, so about 1.1k chunks. */
  val Docs = 200
  val Dim = 1024
  val Queries = 100
  val IvfCells = 8
  val SummaryClusters = 8
  /** Timed calls per op type in an untraced run, sent round-robin. A
    * fixed count, not a time budget, so that a faster program and a
    * slower one time the same calls. The mix is what `mix_s` sums:
    * hybrid search, whose BM25 leg is the full-text operator, and the
    * vector k-mix. */
  val Mix: Seq[(String, Int)] = Seq("search" -> 5, "vector" -> 4)
  /** A traced run times every serving op type, half of the calls with
    * the tracer attached (alternating), for the per-layer metrics and the
    * tracing overhead. Its metrics are not gated. */
  val TracedMix: Seq[(String, Int)] =
    Seq("search" -> 2, "vector" -> 4, "fts" -> 2, "multiscale" -> 2, "search_expand" -> 2)
  /** Untimed warm-up calls, one per op type, warm-up call `i` sending
    * query `i`. An untraced run warms its mix and also sends one
    * ftsSearch (a rare-term query), so the exact BM25 ranking is checked
    * on every run. */
  val Warm: Seq[String] = Seq("search", "fts", "vector", "multiscale", "search_expand")
  /** Timed call `i` of every op type sends query `WarmQueries + i`: each
    * op type walks the kind cycle from its start (five warm-up queries
    * are one whole cycle), and five calls hold exactly the stated kind
    * shares. */
  val WarmQueries: Int = Warm.size
  val VectorKs: Seq[Int] = Seq(5, 10, 20, 50)
  /** Mean recall@k floor for the IVF-probed and ANN vector paths. */
  val RecallFloor = 0.9
  /** Writes after the read window of a traced run, so the ingest layers
    * (sources, storage, add and remove by batch size) are measured. */
  val TrickleAdds = 1
  val BulkAdds = 1
  val BulkDocs = 20
  val Removes = 2
}

/** Read-only serving over a warehouse bulk-loaded in setup, with the
  * full-text and IVF indexes (and RAPTOR cluster summaries when traced).
  * A closed loop with one client sends the mix round-robin. */
final class Serve(spark: SparkSession, runner: Runner, a: Main.Args, clock: Clock) {
  import Serve._
  import spark.implicits._

  private val docs = Gen.docs(a.seed, "serve", 0, Docs)
  private val queries = Gen.queries(a.seed, Queries)
  private val lib = new Library(spark, s"${a.work}/warehouse", new HashingEmbedder(Dim))
  private val out = new Outcome("serve")
  private val traced = runner.tracer.nonEmpty

  /** Rows of every read, warm-up included, for the checks after the window. */
  private val answers = mutable.ArrayBuffer.empty[(String, Gen.Query, Int, Array[Row])]

  private def call(op: String, q: Gen.Query, timed: Boolean, k: Int = 10): Unit = {
    val opts = SearchOptions(limit = k)
    val rows = op match {
      case "search" => runner.query(op, timed)(lib.search(q.text, opts))
      case "vector" =>
        val v = lib.embedder.embed(q.text)
        runner.query(s"vector_k$k", timed)(lib.vectorSearch(v, opts))
      case "multiscale" => runner.query(op, timed)(lib.multiScaleSearch(q.text, opts))
      case "fts" => runner.query(op, timed)(lib.ftsSearch(q.text, opts))
      case "search_expand" =>
        runner.query(op, timed)(lib.search(q.text, opts.copy(expandContext = Some(600))))
    }
    rows.foreach(r => answers += ((op, q, k, r)))
  }

  private def step(name: String)(body: => Unit): Unit = {
    val c = new Clock
    runner.action(s"setup.$name", timed = false)(body)
    out.figures(s"setup.$name") = (c.seconds, "s")
  }

  def run(): Outcome = {
    step("add_markdown")(lib.addMarkdown(docs.map(d => (d.path, d.content)).toDS()))
    step("fts_index")(lib.rebuildFtsIndex())
    step("ivf_index")(lib.buildVectorIndex(IvfCells, math.ceil(2 * math.sqrt(IvfCells.toDouble)).toInt))
    if (traced) step("cluster_summaries")(lib.buildClusterSummaries(SummaryClusters))
    val mix = if (traced) TracedMix else Mix
    val warm = Warm.filter(op => op == "fts" || mix.exists(_._1 == op))
    step("warm")(warm.zipWithIndex.foreach { case (op, i) => call(op, queries(i), timed = false) })
    val setup = clock.seconds

    // round i sends timed call i of every op type that has one. A traced
    // run attaches the tracer to every other call, alternating by round
    // and op type, so this JVM times each op type both ways
    Host.resetPeak()
    val rounds = mix.map(_._2).max
    val kinds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    (0 until rounds).foreach { i =>
      mix.zipWithIndex.foreach { case ((op, n), j) =>
        if (i < n) {
          runner.setTracing(traced && (i + j) % 2 == 1)
          val q = queries(WarmQueries + i)
          call(op, q, timed = true, k = if (op == "vector") VectorKs(i % VectorKs.size) else 10)
          kinds.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += q.kind
        }
      }
    }
    runner.setTracing(false)
    val heapPeak = Host.heapPeakMb
    val window = clock.seconds - setup
    out.extra += "query_kinds" -> Json.obj(kinds.toSeq.map { case (op, ks) =>
      op -> Json.obj(Gen.KindCycle.distinct.map(k => k -> Json.num(ks.count(_ == k).toDouble / ks.size)))
    })

    val truth = new Truth(docs, Dim)
    checkAnswers(truth)
    val med = (op: String) => Stats.median(samplesOf(op))
    out.figures("setup_s") = (setup, "s")
    mix.foreach { case (op, _) => out.figures(s"${op}_p50_ms") = (med(op), "ms") }
    out.figures("vector_recall") = (mean(recalls.getOrElse("vector", Nil).toSeq), "ratio")
    out.figures("window_s") = (window, "s")
    out.figures("chunks") = (truth.chunks.size.toDouble, "count")

    if (!traced) {
      out.metrics("setup_s") = (setup, "s")
      out.metrics("mix_s") = (Mix.map(m => med(m._1)).sum / 1000.0, "s")
    } else {
      val layers = readLayers(truth) ++ writeLayers(truth) + ("jvm.heap_peak_mb" -> heapPeak)
      Layers.emit(out, layers)
    }
    out.check("no_failed_ops", runner.failed == 0, s"${runner.failed} of ${runner.attempted} ops failed")
    out.figures("ops_failed_ratio") = (runner.failed.toDouble / runner.attempted, "ratio")
    out
  }

  private def opNames(op: String): Seq[String] =
    if (op == "vector") VectorKs.map(k => s"vector_k$k") else Seq(op)

  /** Untraced and traced samples of an op type; "vector" pools every k. */
  private def samplesOf(op: String): Seq[Double] = opNames(op).flatMap(n =>
    runner.samples.getOrElse(n, Nil) ++ runner.tracedSamples.getOrElse(n, Nil))

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The Library-facade and operator layers, from the read window. */
  private def readLayers(truth: Truth): Map[String, Double] = {
    val t = runner.tracer.get
    val m = mutable.LinkedHashMap.empty[String, Double]
    val ids = (op: String) => opNames(op).flatMap(n => runner.tracedOps.getOrElse(n, Nil))
    Layers.LibraryOps.foreach { op =>
      val s = samplesOf(op)
      val ph = opNames(op).flatMap(n => runner.phases.getOrElse(n, Nil))
      val c = t.counters(ids(op))
      if (s.nonEmpty) {
        val sum = Stats.summary(s)
        m(s"library.$op.jobs") = c.jobs.toDouble / math.max(1, ids(op).size)
        m(s"library.$op.build_ms") = Stats.median(ph.map(_._1))
        m(s"library.$op.plan_ms") = Stats.median(ph.map(_._2))
        m(s"library.$op.exec_ms") = Stats.median(ph.map(_._3))
        m(s"library.$op.p50_ms") = sum.p50
        m(s"library.$op.tail_ms") = sum.tail
        m(s"library.$op.n") = sum.n.toDouble
      }
    }
    VectorKs.foreach { k =>
      val ks = runner.samples.getOrElse(s"vector_k$k", Nil) ++ runner.tracedSamples.getOrElse(s"vector_k$k", Nil)
      if (ks.nonEmpty) m(s"operators.vector_k${k}_p50_ms") = Stats.median(ks.toSeq)
    }
    val perOp = (op: String, f: Tracer#Counters => Long) =>
      f(t.counters(ids(op))).toDouble / math.max(1, ids(op).size)
    m("operators.vector.input_bytes") = perOp("vector", _.inBytes)
    m("operators.fts.input_bytes") = perOp("fts", _.inBytes)
    m("storage.search_input_bytes") = perOp("search", _.inBytes)
    m("operators.vector_recall") = mean(recalls.getOrElse("vector", Nil).toSeq)
    val all = Layers.LibraryOps.flatMap(ids)
    val wall = Layers.LibraryOps.flatMap(op => opNames(op).flatMap(n => runner.tracedSamples.getOrElse(n, Nil))).sum
    m ++= Layers.substrate(runner, t, all, wall)
    m("sources.chunk_embed_chunks_per_s") = truth.embedChunksPerS
    m("sources.embed_query_us") = {
      val t0 = System.nanoTime()
      queries.foreach(q => lib.embedder.embed(q.text))
      (System.nanoTime() - t0) / 1e3 / queries.size
    }
    m.toMap
  }

  /** The ingest layers: trickle and bulk adds, removes, and what they
    * leave on disk; then the stats and removed-doc checks. */
  private def writeLayers(truth: Truth): Map[String, Double] = {
    val t = runner.tracer.get
    val stream = Gen.docs(a.seed, "serve-stream", 0, TrickleAdds + BulkAdds * BulkDocs)
    val (trickle, bulk) = stream.splitAt(TrickleAdds)
    val before = lib.stats()
    runner.setTracing(true)
    trickle.foreach(d => runner.action("add_trickle")(lib.addMarkdown(Seq((d.path, d.content)).toDS())))
    bulk.grouped(BulkDocs).foreach(b =>
      runner.action("add_bulk")(lib.addMarkdown(b.map(d => (d.path, d.content)).toDS())))
    val removed = docs.take(Removes).map(d => Library.docId(d.path))
    removed.foreach(id => runner.action("remove")(lib.removeDocumentFast(id)))
    runner.setTracing(false)
    val after = lib.stats()

    val addedChunks = stream.map(d => graft.sources.MarkdownSource.extractChunks(d.content).size).sum
    val removedChunks = docs.take(Removes).map(d => graft.sources.MarkdownSource.extractChunks(d.content).size).sum
    val want = (before._1 + stream.size - Removes, before._2 + addedChunks - removedChunks,
      before._3 + addedChunks - removedChunks)
    out.check("ingest.stats", after == want, s"stats() $after, expected $want")
    val titles = docs.take(Removes).map(d => graft.sources.MarkdownSource.resolveTitle(d.content, ""))
    val leaked = runner.query("search_after_remove", timed = false)(
      lib.search(titles.mkString(" "), SearchOptions(limit = 20)))
      .toSeq.flatten.map(_.getAs[String]("docId")).filter(removed.contains)
    out.check("ingest.removed_hidden", leaked.isEmpty, s"removed docs in results: ${leaked.distinct}")

    val ids = (op: String) => runner.tracedOps.getOrElse(op, Nil).toSeq
    val ms = (op: String) => runner.tracedSamples.getOrElse(op, Nil).toSeq
    val perCall = (op: String) => t.counters(ids(op)).jobs.toDouble / math.max(1, ids(op).size)
    val addIds = ids("add_trickle") ++ ids("add_bulk")
    val addMs = ms("add_trickle").sum + ms("add_bulk").sum
    val bulkChunks = bulk.map(d => graft.sources.MarkdownSource.extractChunks(d.content).size).sum
    val files = warehouseFiles()
    val markdownBytes = (docs ++ stream).map(_.content.getBytes("UTF-8").length.toLong).sum
    Map(
      "library.add_trickle.ms" -> (if (ms("add_trickle").isEmpty) 0.0 else Stats.median(ms("add_trickle"))),
      "library.add_trickle.jobs" -> perCall("add_trickle"),
      "library.add_bulk.ms_per_chunk" -> ms("add_bulk").sum / math.max(1, bulkChunks),
      "library.add_bulk.jobs" -> perCall("add_bulk"),
      "library.remove.ms" -> (if (ms("remove").isEmpty) 0.0 else Stats.median(ms("remove"))),
      "library.remove.jobs" -> perCall("remove"),
      "library.ingest_chunks_per_s" -> addedChunks / math.max(1e-9, addMs / 1000.0),
      "storage.bytes_written_per_chunk" -> t.counters(addIds).outBytes.toDouble / math.max(1, addedChunks),
      "storage.files_total" -> files.values.map(_._1).sum.toDouble,
      "storage.space_amp" -> files.values.map(_._2).sum.toDouble / markdownBytes) ++
      Layers.StorageTables.map(tb => s"storage.files.$tb" -> files.get(tb).fold(0.0)(_._1.toDouble))
  }

  /** (data files, bytes) per warehouse table. */
  private def warehouseFiles(): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(s"${a.work}/warehouse")
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .filter(p => !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
        .toSeq.groupBy(p => root.relativize(p).getName(0).toString)
        .map { case (tb, ps) => tb -> (ps.size.toLong, ps.map(java.nio.file.Files.size).sum) }
    } finally s.close()
  }

  private val recalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def checkAnswers(truth: Truth): Unit = {
    import Truth._
    val bad = mutable.LinkedHashMap.empty[String, String]
    def fail(kind: String, msg: => String): Unit = if (!bad.contains(kind)) bad(kind) = msg
    def key(r: Row) = (r.getAs[String]("docId"), r.getAs[Int]("chunkIndex"))
    def score(r: Row) = r.getAs[Double]("score")
    answers.foreach { case (op, q, k, rows) =>
      val scores = rows.map(score).toSeq
      if (rows.length > k) fail(op, s"${rows.length} rows for k=$k")
      if (scores != scores.sorted(Ordering[Double].reverse)) fail(op, s"unsorted scores for '${q.text}'")
      lazy val qv = lib.embedder.embed(q.text)
      lazy val cos = truth.cosines(qv)
      lazy val bm = truth.bm25(q.text)
      def vecScore(r: Row) = truth.byKey.get(key(r)).map(i => (1.0 + cos(i)) / 2.0)
      def ftsScore(r: Row) = truth.byKey.get(key(r)).flatMap(bm.get)
      op match {
        case "fts" =>
          val want = truth.ftsTop(q.text, k)
          if (rows.length != want.size) fail(op, s"'${q.text}': ${rows.length} rows, exact BM25 has ${want.size}")
          rows.zip(want).foreach { case (r, w) =>
            if (!close(score(r), w.score) || !ftsScore(r).exists(close(_, score(r))))
              fail(op, s"'${q.text}': ${key(r)} scored ${score(r)}, exact ${ftsScore(r)}, rank score ${w.score}")
          }
        case "vector" =>
          rows.foreach(r => if (!vecScore(r).exists(close(_, score(r))))
            fail(op, s"'${q.text}': ${key(r)} scored ${score(r)}, exact ${vecScore(r)}"))
          recalls.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
            recall(rows.toSeq.map(key), truth.vectorTop(qv, k))
        case "search" | "search_expand" =>
          val ftsTop = truth.ftsTop(q.text, k).map(h => (h.docId, h.index)).toSet
          rows.foreach { r =>
            val ok = r.getAs[String]("matchType") match {
              case "vector" => vecScore(r).exists(close(_, score(r)))
              case "fts" => ftsTop(key(r)) && ftsScore(r).exists(close(_, score(r)))
              case "hybrid" => ftsTop(key(r)) && vecScore(r).exists(v => close(math.min(1.0, v * 1.2), score(r)))
              case _ => false
            }
            if (!ok) fail(op, s"'${q.text}': ${key(r)} ${r.getAs[String]("matchType")} scored ${score(r)}")
          }
        case "multiscale" =>
          rows.foreach { r =>
            val ok = if (r.getAs[String]("matchType") == "cluster") r.getAs[String]("docId") == ""
              else vecScore(r).exists(close(_, score(r)))
            if (!ok) fail(op, s"'${q.text}': ${key(r)} scored ${score(r)}")
          }
      }
    }
    answers.map(_._1).distinct.foreach(op => out.check(s"$op.exact", !bad.contains(op), bad.getOrElse(op, "")))
    recalls.foreach { case (op, rs) =>
      out.check(s"$op.recall", mean(rs.toSeq) >= RecallFloor, f"mean recall@k ${mean(rs.toSeq)}%.3f < $RecallFloor")
    }
  }
}
