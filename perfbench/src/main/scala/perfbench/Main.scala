package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload in a fresh JVM, printed as one JSON
  * result written to `--result`, with the full record (per-op samples,
  * per-layer metrics, host context) written to `--record`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        result: String, record: String, spans: String, cpus: Int,
                        testdata: String, golden: String, work: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("result"), need("record"), need("spans"), need("cpus").toInt,
      need("testdata"), need("golden"), need("work"))
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.graft.checkpointDir", s"$work/ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val clock = new Clock // setup_s runs from here to the first timed op
    val a = parse(argv)
    val spark = session(a.cpus, a.work)
    val runner = new Runner(spark, a.trace, a.cpus)
    val out = try {
      a.workload match {
        case "serve" => new Serve(spark, runner, a, clock).run()
        case "curate" => new Curate(spark, runner, a, clock).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally runner.close()
    val host = Host.probe(spark)
    val record = out.record(a, runner, host)
    Files.write(a.record, record)
    runner.tracer.foreach(t => Files.write(a.spans, t.spansJson()))
    spark.stop()
    Files.write(a.result, out.resultLine(runner))
  }
}

/** Wall clock since construction, in seconds. */
final class Clock {
  private val t0 = System.nanoTime()
  def seconds: Double = (System.nanoTime() - t0) / 1e9
}

object Files {
  def write(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
