package graft

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import scala.collection.concurrent.TrieMap
import scala.util.Random

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{GraftSqlShim, SparkSession}

/** The one owner of query-side fixtures and scratch dirs.
  *
  * Where the dirs live: every dir [[dir]] hands out sits under one root per
  * `SparkContext`, `graft-staging-<id>`, created on first use directly in
  * `java.io.tmpdir` (the file system the queries always wrote to, so timed
  * bodies keep writing to the same disk). The id is 8 hex digits: a plan
  * abbreviates a scan's location to 100 characters, and the manifest
  * contracts look for their store's dir name in it.
  *
  * Memo keying: [[memo]] builds a fixture once per (session `sessionUUID`,
  * key) and returns the stored value after that. The key is the fixture's
  * name plus the source dir it is built from, so it never changes what
  * gets built; the session part keeps a session-bound value (a `DataFrame`
  * handle) out of another session, and a `spark.newSession()` builds its
  * own copy.
  *
  * Lifetime: when the context stops (its application-end event) the root is
  * deleted with everything under it and the context's memo entries are
  * dropped; a JVM shutdown hook deletes any root still left at exit.
  * Sessions have no stop event of their own: their entries go with the
  * context.
  *
  * Memo hits sit outside the timers: a timed form asks for its fixture on
  * every call, but Bench and `IsolatedQueryProbe` make one untimed call at
  * the timed dir first, in the same session, so each timed rep pays a map
  * lookup and the operator, never the fixture build.
  */
object Staging {

  private final class Root(val dir: Path) {
    val memos = new TrieMap[(String, String), Any]
  }

  private val roots = new TrieMap[SparkContext, Root]

  Runtime.getRuntime.addShutdownHook(new Thread(
    () => roots.values.foreach(r => fs.deleteTree(r.dir)), "graft-staging-cleanup"))

  private def rootOf(sc: SparkContext): Root =
    roots.getOrElse(sc, synchronized {
      roots.getOrElseUpdate(sc, {
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = release(sc)
        })
        new Root(newRootDir())
      })
    })

  private def newRootDir(): Path = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Iterator.continually(tmp.resolve(f"graft-staging-${Random.nextInt()}%08x"))
      .flatMap(p =>
        try Some(Files.createDirectory(p))
        catch { case _: FileAlreadyExistsException => None })
      .next()
  }

  /** `build`, run once per (session, `key`); later calls return its value. */
  def memo[T](spark: SparkSession, key: String)(build: => T): T =
    rootOf(spark.sparkContext).memos
      .getOrElseUpdate((GraftSqlShim.sessionUUID(spark), key), build)
      .asInstanceOf[T]

  /** A fresh dir named `prefix*` under the context's root. */
  def dir(spark: SparkSession, prefix: String): String =
    Files.createTempDirectory(rootOf(spark.sparkContext).dir, prefix).toString

  /** The context's root dir. */
  private[graft] def root(spark: SparkSession): Path = rootOf(spark.sparkContext).dir

  /** Deletes the context's root and drops its memo entries; the next call
    * for the context opens a new root. Runs when the context stops.
    */
  private[graft] def release(sc: SparkContext): Unit =
    roots.remove(sc).foreach(r => fs.deleteTree(r.dir))
}
