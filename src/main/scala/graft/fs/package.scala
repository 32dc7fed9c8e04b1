package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, NoSuchFileException, Path, SimpleFileVisitor, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.SparkSession

/** Fork-free local file I/O: the `file` scheme of both Hadoop file APIs on
  * [[fs.NioRawLocalFileSystem]].
  */
package object fs {

  private val Settings = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName,
    // Hadoop caches `FileSystem` instances by scheme, not by configuration:
    // once any caller has resolved `file:` the stock instance answers every
    // later lookup. Uncached, each lookup with this configuration builds a
    // new (cheap, stateless) NioLocalFileSystem; `FileContext` never caches.
    "fs.file.impl.disable.cache" -> "true")

  /** Resolves `file:` paths of `spark`'s context to [[NioLocalFileSystem]]
    * and [[NioLocalFs]]: sessions copy the context's Hadoop configuration
    * into every job and checkpoint log they start. Idempotent; safe to call
    * after the stock `file` instance is cached.
    */
  def setup(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    Settings.foreach { case (k, v) => if (conf.get(k) != v) conf.set(k, v) }
  }

  /** Deletes `dir` and everything under it, in-process (Spark's
    * `Utils.deleteRecursively` forks `rm -rf`) and without following links:
    * a link is deleted, not its target. An entry that is already gone is
    * skipped, so two deletes of one tree may race; an entry that cannot be
    * deleted fails the call.
    */
  def deleteTree(dir: Path): Unit =
    Files.walkFileTree(dir, new SimpleFileVisitor[Path] {
      override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(p)
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: IOException): FileVisitResult =
        e match {
          case _: NoSuchFileException => FileVisitResult.CONTINUE
          case _ => throw e
        }
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = {
        if (e != null) visitFileFailed(d, e)
        Files.deleteIfExists(d)
        FileVisitResult.CONTINUE
      }
    })

  /** Copies the tree at `from` to `to`, in-process; `to` and its missing
    * parents are created, and a file already at a target path is replaced.
    */
  def copyTree(from: Path, to: Path): Unit =
    Files.walkFileTree(from, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.createDirectories(to.resolve(from.relativize(d)))
        FileVisitResult.CONTINUE
      }
      override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.copy(p, to.resolve(from.relativize(p)), StandardCopyOption.REPLACE_EXISTING)
        FileVisitResult.CONTINUE
      }
    })
}
