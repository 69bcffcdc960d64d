package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable
import scala.util.control.NonFatal

/** Wraps every operation the benchmark sends to the program: counts it as
  * attempted, counts it failed if it throws, and keeps its latency only
  * if it succeeded and was timed. Each call runs under an op id set as a
  * Spark local property, so the tracer can attribute jobs to it (child
  * threads inherit it). Clean-up between calls, and a GC before each timed
  * call, run outside the timers. */
final class Runner(spark: SparkSession, traced: Boolean, val cpus: Int) {

  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark)) else None
  private var tracing = false

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Latency samples (ms) of timed, successful calls, per op type; traced
    * calls are kept apart from untraced ones. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val tracedSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** (build, plan, exec) ms of each timed query call, per op type. */
  val phases = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double, Double)]]
  /** Op ids of traced calls, per op type. */
  val tracedOps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]

  private var seq = 0L

  /** Attach or detach the tracer between calls (a no-op when untraced). */
  def setTracing(on: Boolean): Unit = tracer.foreach { t =>
    if (on != tracing) { if (on) t.attach() else t.detach(); tracing = on }
  }

  private def nowMs: Double = System.nanoTime() / 1e6

  private def run[T](op: String, timed: Boolean)(body: (String, Double) => T): Option[T] = {
    seq += 1
    attempted += 1
    val id = s"$op#$seq"
    if (timed) System.gc()
    spark.sparkContext.setLocalProperty(Tracer.OpKey, id)
    val t0 = nowMs
    try {
      val r = body(id, t0)
      val ms = nowMs - t0
      if (timed) {
        (if (tracing) tracedSamples else samples).getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
        if (tracing) {
          tracedOps.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += id
          tracer.foreach(_.span(id, op, None, t0, t0 + ms))
        }
      }
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        if (failures.size < 20) failures += s"$id: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        System.err.println(s"[perfbench] $id failed: $e")
        None
    } finally {
      spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
      graft.util.Materialize.releaseAll(spark)
    }
  }

  /** A read: `build` is the library call (it may run eager jobs of its
    * own), then the physical plan, then `collect`. */
  def query(op: String, timed: Boolean = true)(build: => DataFrame): Option[Array[Row]] =
    run(op, timed) { (id, t0) =>
      val df = build
      val t1 = nowMs
      df.queryExecution.executedPlan
      val t2 = nowMs
      val rows = df.collect()
      val t3 = nowMs
      if (timed) {
        phases.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((t1 - t0, t2 - t1, t3 - t2))
        if (tracing) tracer.foreach { t =>
          t.span(s"$id/build", "build", Some(id), t0, t1)
          t.span(s"$id/plan", "plan", Some(id), t1, t2)
          t.span(s"$id/exec", "exec", Some(id), t2, t3)
        }
      }
      rows
    }

  /** Any other call (writes, index builds, driver-side work). */
  def action[T](op: String, timed: Boolean = true)(body: => T): Option[T] =
    run(op, timed)((_, _) => body)

  def close(): Unit = setTracing(false)
}
