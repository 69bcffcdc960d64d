package graft

import org.apache.spark.sql.SparkSession
import org.scalactic.source.Position
import org.scalatest.{BeforeAndAfterAll, Failed, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite, lazily). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp directory, deleted recursively once the suite ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  /** A failure whose exception has causes reports the cause chain first,
    * root first, so a truncated log still shows why the test failed.
    * The original exception stays attached as the cause. */
  override def withFixture(test: NoArgTest): Outcome =
    super.withFixture(test) match {
      case Failed(e) if e.getCause != null =>
        Failed(SparkSpec.causeChain(e), e)(test.pos.getOrElse(Position.here))
      case other => other
    }

  /** Driver-side replica of `TextFunctions.portableHash32` (first 8 hex
    * chars of md5 as an unsigned int) — ONE definition for every spec
    * that recomputes engine hashes by hand. */
  def md5Hash32(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(8), 16)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One `Class: message` line per cause of `e`, root first (each cut
    * to its message's first line), then `e` itself with its full
    * message. */
  def causeChain(e: Throwable): String = {
    val causes = Iterator.iterate(e.getCause)(_.getCause)
      .takeWhile(_ != null).take(32).toList
    val lines = causes.reverse.map { t =>
      val msg = Option(t.getMessage).map(_.linesIterator.take(1).mkString)
      s"${t.getClass.getName}: ${msg.getOrElse("")}"
    }
    (lines :+ s"${e.getClass.getName}: ${e.getMessage}").mkString("\n")
  }
}
