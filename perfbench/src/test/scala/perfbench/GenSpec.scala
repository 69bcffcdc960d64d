package perfbench

/** Specs of the benchmark's own code, runnable without a test framework:
  *
  *     python3 perfbench/build.py test
  *
  * Pins that the generator is a pure function of its seed, and which
  * percentile the latency summary reports for a given sample count. */
object GenSpec {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def bytes(docs: Seq[Gen.Doc]): Seq[Byte] =
    docs.flatMap(d => (d.path + "\u0000" + d.content).getBytes("UTF-8").toSeq)

  def main(args: Array[String]): Unit = {
    check("same seed gives byte-identical docs") {
      bytes(Gen.docs(7, "serve", 0, 50)) == bytes(Gen.docs(7, "serve", 0, 50))
    }
    check("same seed gives identical queries") {
      Gen.queries(7, 100) == Gen.queries(7, 100)
    }
    check("different seeds give different docs and queries") {
      bytes(Gen.docs(7, "serve", 0, 50)) != bytes(Gen.docs(8, "serve", 0, 50)) &&
        Gen.queries(7, 100) != Gen.queries(8, 100)
    }
    check("doc i does not depend on the docs before it") {
      Gen.docs(7, "serve", 0, 20).last == Gen.doc(7, "serve", 19)
    }
    check("streams of one seed differ") {
      Gen.doc(7, "serve", 0) != Gen.doc(7, "serve-stream", 0)
    }
    check("queries are distinct, and every five in a row hold 3 common, 1 rare, 1 absent") {
      val qs = Gen.queries(7, 100)
      qs.distinct.size == 100 && qs.map(_.kind) == (0 until 100).map(j => Gen.KindCycle(j % 5)) &&
        Gen.KindCycle.count(_ == "common") == 3 && Gen.KindCycle.count(_ == "rare") == 1 &&
        Gen.KindCycle.count(_ == "absent") == 1
    }
    check("absent terms never occur in the corpus") {
      val text = Gen.docs(7, "serve", 0, 200).map(_.content).mkString("\n")
      Gen.queries(7, 100).filter(_.kind == "absent")
        .forall(q => !text.contains(q.text.split(" ").head))
    }
    check("every section is one chunk, so a doc has 1 + sections chunks") {
      Gen.docs(3, "serve", 0, 100).forall { d =>
        graft.sources.MarkdownSource.extractChunks(d.content).size == d.content.split("\n## ").length
      }
    }

    check("tail percentile: p50 below 40 samples, p75 from 40, p90 from 100, p99 from 1000") {
      Seq(1, 2, 39).forall(Stats.tailPercentile(_) == 50.0) &&
        Seq(40, 99).forall(Stats.tailPercentile(_) == 75.0) &&
        Seq(100, 999).forall(Stats.tailPercentile(_) == 90.0) &&
        Stats.tailPercentile(1000) == 99.0
    }
    check("summary reports the count beside the percentile it chose") {
      val s = Stats.summary((1 to 100).map(_.toDouble))
      s.n == 100 && s.tailPct == 90.0 && s.tail == 90.0 && s.p50 == 50.5
    }
    check("nearest-rank percentile and median") {
      Stats.percentile(Seq(5.0, 1.0, 3.0), 50) == 3.0 && Stats.percentile(Seq(1.0, 2.0), 100) == 2.0 &&
        Stats.median(Seq(4.0, 1.0)) == 2.5
    }
    check("self time subtracts the union of child spans") {
      import Tracer._
      val spans = Seq(Span("a", "call", "a", None, 0, 100), Span("a/1", "job", "a", Some("a"), 10, 40),
        Span("a/2", "job", "a", Some("a"), 30, 60), Span("a/3", "job", "a", Some("a"), 90, 120))
      val self = selfTimes(spans)
      self("a") == 100 - 50 - 10 && self("a/1") == 30
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
