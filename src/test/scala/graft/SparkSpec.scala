package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", "4", "graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** `table` of the persisted index at `dir`, as its live generation
    * lists it (superseded files stay on disk for the log's grace). */
  def liveTable(dir: String, table: String): org.apache.spark.sql.DataFrame =
    graft.operators.IndexMeta.frame(spark, dir, table,
      graft.operators.IndexMeta.latest(spark, dir).tables(table))

  /** The live files of `table`, relative to the index dir. */
  def liveFiles(dir: String, table: String): Seq[String] =
    graft.operators.IndexMeta.latest(spark, dir).tables(table).files.map(_.path)

  /** [[SparkSpec.withTempDir]]: a fresh temp dir, recursively deleted
    * after `body`. */
  def withTempDir[A](prefix: String)(body: String => A): A =
    SparkSpec.withTempDir(prefix)(body)

  @volatile private var suiteRoot: Option[String] = None

  /** A fresh temp dir that lives until the suite finishes — for tests
    * that hold several dirs, hand them to streaming queries, or share
    * a fixture across tests. The suite runs inside one
    * [[SparkSpec.withTempDir]] root and these dirs are created under
    * it, so they are deleted with it. A test must stop its streaming
    * queries before it returns. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(suiteRoot.getOrElse(
        sys.error("tempDir is only available while the suite runs"))),
      prefix).toString

  override def run(testName: Option[String], args: Args): Status =
    SparkSpec.withTempDir("graft_suite") { root =>
      suiteRoot = Some(root)
      try {
        val status = super.run(testName, args)
        status.waitUntilCompleted()
        status
      } finally suiteRoot = None
    }
}

object SparkSpec {
  /** Fresh temp dir for persisted-index round-trip tests, recursively
    * deleted after `body` — one implementation instead of a per-test
    * Files.walk copy. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      val walk = java.nio.file.Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      } finally walk.close()
    }
  }
}
