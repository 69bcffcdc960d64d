package perfbench

import scala.collection.mutable

/** What a workload hands back: the metrics of this run (end-to-end when
  * untraced, per-layer when traced), every correctness check, and extra
  * fields for the run record. */
final class Outcome(val workload: String) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Headline figures of the workload, printed and recorded, not gated. */
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  val extra = mutable.ArrayBuffer.empty[(String, String)]

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks(name) = (ok, if (ok) "" else detail)
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
  }

  def correct: Boolean = checks.nonEmpty && checks.values.forall(_._1)

  private def metricJson(m: collection.Map[String, (Double, String)]): String =
    Json.obj(m.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })

  def resultLine(runner: Runner): String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> runner.attempted.toString,
    "failed" -> runner.failed.toString,
    "metrics" -> metricJson(metrics)))

  def record(a: Main.Args, runner: Runner, host: Seq[(String, String)]): String = Json.obj(Seq(
    "workload" -> Json.str(workload),
    "seed" -> a.seed.toString,
    "seconds" -> a.seconds.toString,
    "trace" -> a.trace.toString,
    "cpus" -> runner.cpus.toString,
    "result" -> resultLine(runner),
    "figures" -> metricJson(figures),
    "checks" -> Json.obj(checks.toSeq.map { case (k, (ok, d)) =>
      k -> Json.obj(Seq("ok" -> ok.toString, "detail" -> Json.str(d)))
    }),
    "failures" -> Json.arr(runner.failures.toSeq.map(Json.str)),
    "samples_ms" -> Json.obj(runner.samples.toSeq.map { case (k, v) =>
      k -> Json.arr(v.toSeq.map(Json.num))
    }),
    "host" -> Json.obj(host)) ++ extra)
}
