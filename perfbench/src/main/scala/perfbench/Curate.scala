package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Curate {
  /** Two kernel families the roadmap's open items target, as many as fit
    * the run budget: substring dedup (q82, item 4), a join and
    * aggregation over hashed text, and k-core (q171, N5), a graph
    * iteration. */
  val Queries: Vector[String] = Vector("q82_substring_dedup", "q171_kcore")
  /** Timed executions of each query in an untraced run; a query's time is
    * their median. A traced run times two, one of them traced. */
  val Rounds = 3
  val TracedRounds = 2

  private val P = 2305843009213693951L // 2^61 - 1

  /** Every output column, as text: doubles rounded to 9 significant
    * digits so a last-bit difference in a parallel sum cannot flip the
    * digest, nested values through JSON, and null as a marker no text
    * value holds (xxhash64 skips null inputs, so without it a value
    * moved between two nullable columns would keep the digest). */
  private def canonical(df: DataFrame): Seq[org.apache.spark.sql.Column] =
    df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val text = f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
        case _: StructType | _: ArrayType | _: MapType => to_json(c)
        case _ => c.cast(StringType)
      }
      coalesce(text, lit(NullMarker))
    }

  private val NullMarker = "\u0000null"

  /** Order-insensitive digest of the whole result: xor and sum mod
    * 2^61-1 of a per-row hash over every column, plus the row count. The
    * aggregate needs every column of every row, so no output is pruned.
    * It mirrors `DiskArtifact.corpusStamp` but lives here, so that no
    * change to the program can move the golden digests. */
  def digest(df: DataFrame): DataFrame = {
    val h = xxhash64(canonical(df) :+ lit("|"): _*)
    df.select(h.as("h")).agg(
      expr("bit_xor(h)").as("x"),
      sum(pmod(col("h"), lit(P)).cast("decimal(38,0)")).as("s"),
      count(lit(1)).as("n"))
  }

  def digestString(r: org.apache.spark.sql.Row): String = {
    val x = if (r.isNullAt(0)) 0L else r.getLong(0)
    val s = if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger) mod BigInt(P)
    s"${java.lang.Long.toHexString(x)}-${s.toString(16)}-${r.getLong(2)}"
  }

  /** Golden digests (`<query> <digest>` lines, `#` comments). */
  def golden(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap
    finally src.close()
  }
}

/** Batch curation analytics over the read-only sf0.1 test tables. Setup
  * runs each query of [[Curate.Queries]] once, untimed, so the JIT and
  * code generation land there, as they do once in a curation service.
  * Then each query is timed over [[Curate.Rounds]] rounds, each round in
  * its own seed-permuted order, through an action that materializes
  * every output column. */
final class Curate(spark: SparkSession, runner: Runner, a: Main.Args, clock: Clock) {
  import Curate._

  private val out = new Outcome("curate")
  private val digests = scala.collection.mutable.LinkedHashMap.empty[String, Set[String]]

  private def once(op: String, q: String, timed: Boolean): Unit =
    runner.query(s"$op.$q", timed)(digest(graft.SparkEntry.queries(q)(spark, a.testdata)))
      .foreach(r => digests(q) = digests.getOrElse(q, Set.empty) + digestString(r.head))

  def run(): Outcome = {
    val rng = new Rng(a.seed)
    def permuted(): Vector[String] = Queries.map(q => (rng.nextLong(), q)).sortBy(_._1).map(_._2)
    permuted().foreach { q =>
      val c = new Clock
      once("first", q, timed = false)
      out.figures(s"$q.first_s") = (c.seconds, "s")
    }
    val setup = clock.seconds

    // a traced run attaches the tracer to one of each query's two timed
    // executions, alternating which round it is by query
    Host.resetPeak()
    val traced = runner.tracer.nonEmpty
    (0 until (if (traced) TracedRounds else Rounds)).foreach { i =>
      permuted().foreach { q =>
        runner.setTracing(traced && (i + Queries.indexOf(q)) % 2 == 1)
        once("query", q, timed = true)
      }
    }
    runner.setTracing(false)
    val heapPeak = Host.heapPeakMb

    val golden = Curate.golden(a.golden)
    Queries.foreach { q =>
      val seen = digests.getOrElse(q, Set.empty)
      out.check(s"$q.digest", seen.size == 1 && golden.get(q).forall(seen.contains),
        s"digests ${seen.mkString(", ")}; golden ${golden.getOrElse(q, "none")}")
      out.check(s"$q.golden_recorded", golden.contains(q), "no golden digest recorded")
    }
    out.check("no_failed_ops", runner.failed == 0, s"${runner.failed} of ${runner.attempted} ops failed")

    val seconds = (q: String) =>
      runner.samples.get(s"query.$q").fold(0.0)(s => Stats.median(s.toSeq) / 1000.0)
    val curate = Queries.map(seconds).sum
    out.figures("setup_s") = (setup, "s")
    out.figures("curate_s") = (curate, "s")
    out.figures("ops_failed_ratio") = (runner.failed.toDouble / runner.attempted, "ratio")
    Queries.foreach(q => out.figures(s"$q.s") = (seconds(q), "s"))
    out.extra += "digests" -> Json.obj(digests.toSeq.map { case (q, d) => q -> Json.arr(d.toSeq.map(Json.str)) })

    runner.tracer match {
      case None =>
        out.metrics("setup_s") = (setup, "s")
        out.metrics("mix_s") = (curate, "s")
      case Some(t) =>
        val ids = (q: String) => runner.tracedOps.getOrElse(s"query.$q", Nil).toSeq
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        Queries.foreach { q =>
          val c = t.counters(ids(q))
          val n = math.max(1, ids(q).size).toDouble
          m(s"queries.$q.s") = seconds(q)
          m(s"queries.$q.jobs") = c.jobs / n
          m(s"queries.$q.stages") = c.stages / n
          m(s"queries.$q.shuffle_bytes") = (c.shuffleRead + c.shuffleWrite) / n
          m(s"queries.$q.spill_bytes") = c.spill / n
        }
        val all = Queries.flatMap(ids)
        val wall = Queries.flatMap(q => runner.tracedSamples.getOrElse(s"query.$q", Nil)).sum
        m ++= Layers.substrate(runner, t, all, wall)
        m("jvm.heap_peak_mb") = heapPeak
        Layers.emit(out, m)
    }
    out
  }
}
