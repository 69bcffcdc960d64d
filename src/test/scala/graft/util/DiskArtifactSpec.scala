package graft.util

import graft.SparkSpec

/** Content-stamped disk artifacts (VERDICT r12 #7): a corpus rewrite
  * must change the stamp and force a rebuild; an unchanged corpus must
  * serve the existing artifact without rebuilding. */
class DiskArtifactSpec extends SparkSpec {

  test("corpusStamp is order-independent and content-sensitive") {
    import spark.implicits._
    val a = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "t")
    val aShuffled = Seq((3L, "gamma"), (1L, "alpha"), (2L, "beta")).toDF("id", "t")
    assert(DiskArtifact.corpusStamp(a, "id", "t")
      === DiskArtifact.corpusStamp(aShuffled.repartition(3), "id", "t"))
    val b = Seq((1L, "alpha"), (2L, "beta"), (3L, "REWRITTEN")).toDF("id", "t")
    assert(DiskArtifact.corpusStamp(a, "id", "t")
      !== DiskArtifact.corpusStamp(b, "id", "t"))
    // same rows, different multiplicity (xor blind spot): count disambiguates
    val dup = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
      (1L, "alpha"), (1L, "alpha")).toDF("id", "t")
    assert(DiskArtifact.corpusStamp(a, "id", "t")
      !== DiskArtifact.corpusStamp(dup, "id", "t"))
    // the xor-only blind spot (ADVICE r13): replacing an even-multiplicity
    // pair {x,x} with {y,y} keeps xor AND count identical — the modular
    // sum half of the stamp must still tell them apart
    val xx = Seq((1L, "alpha"), (7L, "dup"), (7L, "dup")).toDF("id", "t")
    val yy = Seq((1L, "alpha"), (9L, "other"), (9L, "other")).toDF("id", "t")
    assert(DiskArtifact.corpusStamp(xx, "id", "t")
      !== DiskArtifact.corpusStamp(yy, "id", "t"))
  }

  test("corpus rewrite changes the stamp and rebuilds; unchanged corpus reuses") {
    import spark.implicits._
    val kind = s"spec-${System.nanoTime()}"
    var builds = 0
    def build(df: org.apache.spark.sql.DataFrame)() = { builds += 1; df }

    val v1 = Seq((1L, "one"), (2L, "two")).toDF("id", "t")
    val s1 = DiskArtifact.corpusStamp(v1, "id", "t")
    val r1 = DiskArtifact.getOrBuild(spark, kind, s1)(build(v1))
    assert(builds === 1 && r1.count() === 2)

    // unchanged corpus: same stamp, artifact served, no rebuild
    val r1b = DiskArtifact.getOrBuild(spark, kind, s1)(build(v1))
    assert(builds === 1 && r1b.count() === 2)

    // rewrite: new stamp -> forced rebuild, both artifacts readable
    val v2 = Seq((1L, "one"), (2L, "CHANGED"), (3L, "three")).toDF("id", "t")
    val s2 = DiskArtifact.corpusStamp(v2, "id", "t")
    assert(s2 !== s1)
    val r2 = DiskArtifact.getOrBuild(spark, kind, s2)(build(v2))
    assert(builds === 2 && r2.count() === 3)
    assert(DiskArtifact.getOrBuild(spark, kind, s1)(build(v1)).count() === 2)
    assert(builds === 2)
  }

  test("a warm read starts no Spark job; resetMemo forgets the schema too") {
    import spark.implicits._
    val kind = s"spec-schema-${System.nanoTime()}"
    val v = Seq((1L, "one"), (2L, "two")).toDF("id", "t")
    val stamp = DiskArtifact.corpusStamp(v, "id", "t")
    DiskArtifact.getOrBuild(spark, kind, stamp)(() => v)
    val sc = spark.sparkContext
    def jobsOfRead(): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try DiskArtifact.getOrBuild(spark, kind, stamp)(() => fail("rebuilt"))
        .queryExecution.executedPlan
      finally {
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
      jobs.get
    }
    assert(jobsOfRead() === 0)
    DiskArtifact.resetMemo()
    assert(jobsOfRead() === 1, "a cold read infers the schema once")
    assert(jobsOfRead() === 0)
    assert(DiskArtifact.getOrBuild(spark, kind, stamp)(() => fail("rebuilt"))
      .as[(Long, String)].collect().sorted.toSeq === Seq((1L, "one"), (2L, "two")))
  }
}
