package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Host context of a run, recorded beside the metrics and never gated, so
  * a noisy run can explain itself. The run wrapper adds the load average
  * before the JVM started and its maximum while it ran. */
object Host {

  /** Fixed pure-CPU Spark job, min of three, after the measured window:
    * it reads its quiet norm on an idle host and inflates under
    * contention (`bit_xor`, not `sum`, so ANSI mode cannot overflow). */
  def cpuProbeSeconds(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(16000000L).selectExpr("bit_xor(id * id)").collect()
    (System.nanoTime() - t0) / 1e9
  }.min

  /** Peak heap use since the last `resetPeak`, in MB. */
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  def resetPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def probe(spark: SparkSession): Seq[(String, String)] = Seq(
    "nproc" -> Json.num(Runtime.getRuntime.availableProcessors()),
    "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1 << 20)),
    "load_after_run" -> Json.num(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage),
    "cpu_probe_s" -> Json.num(cpuProbeSeconds(spark)),
    "jvm" -> Json.str(System.getProperty("java.vm.version")),
    "spark" -> Json.str(spark.version))
}
