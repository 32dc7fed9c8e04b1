package graft

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
}
