package perfbench

/** The per-layer metrics of a traced run, one fixed list for every
  * workload (BENCHMARK.json lists the same names). A layer a workload
  * does not exercise reads 0: no calls of that kind ran. */
object Layers {

  /** Library calls of the serve workload. */
  val LibraryOps: Seq[String] = Seq("search", "vector", "multiscale", "fts", "search_expand")
  val LibraryQuantities: Seq[(String, String)] = Seq(
    "jobs" -> "count", "build_ms" -> "ms", "plan_ms" -> "ms", "exec_ms" -> "ms",
    "p50_ms" -> "ms", "tail_ms" -> "ms", "n" -> "count")

  val QueryQuantities: Seq[(String, String)] = Seq(
    "s" -> "s", "jobs" -> "count", "stages" -> "count", "shuffle_bytes" -> "bytes",
    "spill_bytes" -> "bytes")

  val StorageTables: Seq[String] =
    Seq("documents", "chunks", "embeddings", "fts_postings", "embeddings_ivf", "tombstones")

  val all: Seq[(String, String)] =
    LibraryOps.flatMap(op => LibraryQuantities.map { case (q, u) => s"library.$op.$q" -> u }) ++
    Seq(
      "operators.vector_k5_p50_ms" -> "ms",
      "operators.vector_k10_p50_ms" -> "ms",
      "operators.vector_k20_p50_ms" -> "ms",
      "operators.vector_k50_p50_ms" -> "ms",
      "operators.vector.input_bytes" -> "bytes",
      "operators.vector_recall" -> "ratio",
      "operators.fts.input_bytes" -> "bytes",
      "sources.chunk_embed_chunks_per_s" -> "chunks/s",
      "sources.embed_query_us" -> "us",
      "storage.bytes_written_per_chunk" -> "bytes",
      "storage.files_total" -> "count") ++
    StorageTables.map(t => s"storage.files.$t" -> "count") ++
    Seq(
      "storage.search_input_bytes" -> "bytes",
      "storage.space_amp" -> "ratio",
      "library.add_trickle.ms" -> "ms",
      "library.add_trickle.jobs" -> "count",
      "library.add_bulk.ms_per_chunk" -> "ms",
      "library.add_bulk.jobs" -> "count",
      "library.remove.ms" -> "ms",
      "library.remove.jobs" -> "count",
      "library.ingest_chunks_per_s" -> "chunks/s") ++
    Curate.Queries.flatMap(q => QueryQuantities.map { case (k, u) => s"queries.$q.$k" -> u }) ++
    Seq(
      "spark.tasks_per_op" -> "count",
      "spark.gc_ms_per_op" -> "ms",
      "spark.cpu_util" -> "ratio",
      "spark.driver_share" -> "ratio",
      "jvm.heap_peak_mb" -> "MB",
      "trace.overhead_pct" -> "%",
      "trace.spans" -> "count")

  private val units: Map[String, String] = all.toMap
  require(units.size == all.size, "duplicate per-layer metric name")

  /** Fill `out.metrics` with every per-layer metric, from `values`
    * (zero where the workload has none). */
  def emit(out: Outcome, values: collection.Map[String, Double]): Unit = {
    val unknown = values.keySet -- units.keySet
    require(unknown.isEmpty, s"unregistered per-layer metrics: ${unknown.mkString(", ")}")
    all.foreach { case (k, u) =>
      val v = values.getOrElse(k, 0.0)
      out.metrics(k) = (if (v.isNaN || v.isInfinite) 0.0 else v, u)
    }
  }

  /** Spark-substrate and latency figures common to every workload, over
    * the traced calls `ops` (op id lists per op type). */
  def substrate(runner: Runner, t: Tracer, ids: Seq[String], wallMs: Double): Map[String, Double] = {
    val c = t.counters(ids)
    val n = math.max(1, ids.size).toDouble
    Map(
      "spark.tasks_per_op" -> c.tasks / n,
      "spark.gc_ms_per_op" -> c.gcMs / n,
      "spark.cpu_util" -> (if (wallMs > 0) c.cpuNs / 1e6 / (wallMs * runner.cpus) else 0.0),
      "spark.driver_share" -> t.driverShare(ids),
      "trace.spans" -> t.spanCount.toDouble,
      "trace.overhead_pct" -> overheadPct(runner))
  }

  /** Traced-minus-untraced latency, as a percentage of untraced, summed
    * over the op types timed both ways. */
  def overheadPct(runner: Runner): Double = {
    val both = runner.tracedSamples.keySet.intersect(runner.samples.keySet).toSeq
    val on = both.map(k => Stats.median(runner.tracedSamples(k).toSeq)).sum
    val off = both.map(k => Stats.median(runner.samples(k).toSeq)).sum
    if (off > 0) 100.0 * (on - off) / off else 0.0
  }
}
