package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.fs.setup(s)
    // the SQL route, for specs that write graft's functions as SQL text
    // (`call_function("vec_dot", …)`); library code needs no registration
    graft.functions.HashExpressions.register(s)
    s
  }

  def sfDir: String = "/root/testdata/sf0.001"

  private val tmpDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh temp dir named `prefix*`, deleted with everything under it
    * when the suite ends.
    */
  def tmpDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tmpDirs.add(dir)
    dir.toString
  }

  /** Deletes the suite's temp dirs in-process (no `rm` fork), not following
    * links; an entry that cannot be deleted fails the suite.
    */
  override def afterAll(): Unit =
    try tmpDirs.asScala.filter(Files.exists(_)).foreach { dir =>
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    } finally super.afterAll()

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
