package graft

import graft.util.TableSwap
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

/** TableSwap must operate through the Hadoop FileSystem API (the 100 TB
  * warehouse lives on HDFS/S3A where java.io.File cannot see the paths).
  * These cases drive swaps through an explicit `file:`-scheme URI so the
  * scheme-resolution path — not a java.io fallback — is what's proven. */
class TableSwapSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): java.io.File = tempDir("swapspec").toFile

  test("rewrite through a file:-scheme URI replaces the table atomically") {
    val root = tmpDir()
    val table = s"file:${root.getAbsolutePath}/tbl"
    Seq(1, 2, 3).toDF("v").write.parquet(table)
    TableSwap.rewrite(table, Seq(10, 20).toDF("v"))
    val got = spark.read.parquet(table).as[Int].collect().sorted
    assert(got.toSeq == Seq(10, 20))
    // scratch fully cleaned: no _tmp/_old siblings survive a good swap
    val names = Option(root.listFiles()).get.map(_.getName).toSet
    assert(names == Set("tbl"))
  }

  test("rewrite via the FileSystem handle works on a scheme-less path too") {
    val root = tmpDir()
    val table = s"${root.getAbsolutePath}/tbl"
    Seq("a", "b").toDF("s").write.parquet(table)
    TableSwap.rewrite(table, Seq("c").toDF("s"))
    assert(spark.read.parquet(table).as[String].collect().toSeq == Seq("c"))
  }

  test("partitioned rewriteVia keeps the hive layout and scratch outside the root") {
    val root = tmpDir()
    val table = s"file:${root.getAbsolutePath}/part_tbl"
    val df = Seq((1, "x"), (2, "y"), (3, "x")).toDF("v", "k")
    df.write.partitionBy("k").parquet(table)
    TableSwap.rewriteVia(table,
      Seq((9, "x")).toDF("v", "k"),
      s"file:${root.getAbsolutePath}/scratch_tmp",
      s"file:${root.getAbsolutePath}/scratch_old",
      partitionBy = Seq("k"))
    val got = spark.read.parquet(table)
    assert(got.columns.sorted.toSeq == Seq("k", "v"))
    assert(got.select("v").as[Int].collect().toSeq == Seq(9))
    val names = Option(root.listFiles()).get.map(_.getName).toSet
    assert(names == Set("part_tbl"))
  }

  test("a stale _old leftover from a prior crash is purged by the next rewrite") {
    val root = tmpDir()
    val table = s"file:${root.getAbsolutePath}/tbl"
    Seq(1, 2).toDF("v").write.parquet(table)
    // simulate a crash that died after move-aside: junk occupies _old
    Seq(7, 8, 9).toDF("v").write.parquet(s"${table}_old")
    TableSwap.rewrite(table, Seq(42).toDF("v"))
    assert(spark.read.parquet(table).as[Int].collect().toSeq == Seq(42))
    val names = Option(root.listFiles()).get.map(_.getName).toSet
    assert(names == Set("tbl"))
  }

  test("delete(fs, path) is recursive and a no-op on absent paths") {
    val root = tmpDir()
    val table = s"file:${root.getAbsolutePath}/tbl"
    Seq((1, "x")).toDF("v", "k").write.partitionBy("k").parquet(table)
    val fs = TableSwap.fileSystem(spark, table)
    TableSwap.delete(fs, new HPath(table))
    assert(!fs.exists(new HPath(table)))
    TableSwap.delete(fs, new HPath(table)) // absent: must not throw
  }
}
