package graft.queries

import graft.{SparkEntry, SparkSpec}

/** q182 serves `ann_topk` from an IVF index it persists under
  * `java.io.tmpdir`, keyed by the corpus stamp of its embeddings: a
  * repeated run reuses the index instead of refitting k-means, and
  * leaves no new directory behind. */
class AnnTopkIndexCacheSpec extends SparkSpec {

  private def q182Dirs(): Set[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir")).list()).toSeq.flatten
      .filter(_.startsWith("graft-q182")).toSet

  private def run(): Seq[org.apache.spark.sql.Row] =
    SparkEntry.queries("q182_sql_ann_topk")(spark, sf).collect().toSeq

  test("q182: a second run reuses the stamped index, adds no tmpdir entry and returns the same rows") {
    val before = q182Dirs()
    val first = run()
    val dirs = q182Dirs()
    assert((dirs -- before).size <= 1 && dirs.forall(!_.contains(".tmp-")), dirs)
    assert(dirs.forall(d =>
      new java.io.File(sys.props("java.io.tmpdir"), s"$d/_SUCCESS").exists()))
    // forget the registration, as a fresh JVM would
    dirs.foreach(d => graft.plans.IvfRegistry.unregister(
      new java.io.File(sys.props("java.io.tmpdir"), s"$d/emb").getAbsolutePath))
    val second = run()
    assert(q182Dirs() === dirs)
    assert(second === first)
    assert(first.size === 10)
  }
}
