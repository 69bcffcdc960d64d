package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

object Tracer {
  /** Local property carrying the op id of the call that started a job. */
  val OpKey = "perfbench.op"

  final case class Span(id: String, name: String, op: String, parent: Option[String],
                        start: Double, end: Double) {
    def ms: Double = end - start
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(_.parent.nonEmpty).groupBy(_.parent.get)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.ms - covered(c, s.start, s.end))
    }.toMap
  }
}

/** Spark work per benchmark call, from a `SparkListener` attached only
  * while tracing. Spans (calls, their phases and the Spark jobs inside
  * them) are kept in memory and written out after the run. Times are ms
  * on the `System.nanoTime` scale. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val offsetMs = System.nanoTime() / 1e6 - System.currentTimeMillis()

  final class Counters {
    var jobs, stages, tasks, cpuNs, gcMs, inBytes, outBytes, shuffleRead, shuffleWrite, spill = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
    def +=(o: Counters): Counters = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs; inBytes += o.inBytes; outBytes += o.outBytes
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
      jobIntervals ++= o.jobIntervals
      this
    }
  }

  private val byOp = mutable.HashMap.empty[String, Counters]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Double)]
  private val spans = mutable.ArrayBuffer.empty[Span]

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }
  def drain(): Unit = org.apache.spark.perfbench.ListenerBusAccess.drain(sc)

  private def of(op: String) = byOp.getOrElseUpdate(op, new Counters)

  def span(id: String, name: String, parent: Option[String], start: Double, end: Double): Unit =
    synchronized { spans += Span(id, name, parent.getOrElse(id), parent, start, end) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      of(op).jobs += 1
      jobStart(e.jobId) = (op, e.time + offsetMs)
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, start) =>
      val end = e.time + offsetMs
      of(op).jobIntervals += ((start, end))
      spans += Span(s"$op/job${e.jobId}", "job", op, None, start, end)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => of(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageOp.get(e.stageId).filter(_ => m != null).foreach { op =>
      val c = of(op)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inBytes += m.inputMetrics.bytesRead
      c.outBytes += m.outputMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def spanCount: Int = synchronized(spans.size)

  /** Counters summed over `ops` (after the bus has drained). */
  def counters(ops: Seq[String]): Counters = synchronized {
    ops.foldLeft(new Counters)((acc, op) => byOp.get(op).fold(acc)(acc += _))
  }

  /** Share of the calls' wall time during which no Spark job of theirs ran. */
  def driverShare(ops: Seq[String]): Double = synchronized {
    val calls = spans.filter(s => s.parent.isEmpty && s.name != "job" && ops.contains(s.id))
    val wall = calls.map(_.ms).sum
    if (wall <= 0) 0.0
    else calls.map(s => s.ms - covered(byOp.get(s.id).fold(Seq.empty[(Double, Double)])(_.jobIntervals.toSeq),
      s.start, s.end)).sum / wall
  }

  /** Every span, each job parented to the phase of its call it started
    * in, with self times. */
  def spansJson(): String = synchronized {
    val phases = spans.filter(s => s.parent.nonEmpty).groupBy(_.op)
    val resolved = spans.map { s =>
      if (s.name != "job") s
      else s.copy(parent = Some(phases.getOrElse(s.op, Nil)
        .find(p => p.start <= s.start && s.start <= p.end).map(_.id).getOrElse(s.op)))
    }
    val self = selfTimes(resolved.toSeq)
    val t0 = if (resolved.isEmpty) 0.0 else resolved.map(_.start).min
    Json.obj(Seq("spans" -> Json.arr(resolved.toSeq.map { s =>
      Json.obj(Seq("id" -> Json.str(s.id), "name" -> Json.str(s.name), "op" -> Json.str(s.op),
        "parent" -> s.parent.fold("null")(Json.str), "start_ms" -> Json.num(s.start - t0),
        "end_ms" -> Json.num(s.end - t0), "self_ms" -> Json.num(self(s.id))))
    })))
  }
}
