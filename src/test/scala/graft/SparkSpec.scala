package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.fs.setup(s)
    s
  }

  def sfDir: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The IllegalArgumentException a streaming query fails with, waiting at
    * most 60 s. A query that ends cleanly, keeps running, or fails for
    * another reason fails the test.
    */
  def streamArgumentError(start: => StreamingQuery): IllegalArgumentException = {
    val e = intercept[Exception] {
      val q = start
      try q.awaitTermination(60000L) finally q.stop()
    }
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae }
      .getOrElse(fail(s"expected an IllegalArgumentException, got $e"))
  }
}
