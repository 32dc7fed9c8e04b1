package graft.operators

import java.io.{File, IOException}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Local FileSystem under the `norename:` scheme whose `rename` of a
  * compaction's staged merge (a path directly under a `.compact` dir)
  * returns false, as a rename on some stores may; every other rename (the
  * write committer's) goes through. Paths are authority-less
  * (`norename:/abs/path`), the local path is the URI path.
  */
class NoCompactRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: Path, dst: Path): Boolean =
    src.getParent.getName != ".compact" && super.rename(src, dst)
}

/** A segment compaction whose rename-in of the staged merge fails must
  * fail the call, and the store, read through [[Segments]], must return
  * exactly its old rows.
  */
class CompactionRenameSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `compact` on `store` through the `norename:` scheme, expects an
    * IOException naming `$into/.compact/$name` and `$into/$name`, and
    * returns the staged merge, read back through `file:`.
    */
  private def failedSwap(store: String, name: String, into: String)(
      compact: String => Unit): org.apache.spark.sql.DataFrame = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.norename.impl", classOf[NoCompactRenameFs].getName)
    hc.setBoolean("fs.norename.impl.disable.cache", true)
    val e = try intercept[IOException](compact(s"norename:$store"))
    finally {
      hc.unset("fs.norename.impl")
      hc.unset("fs.norename.impl.disable.cache")
    }
    assert(e.getMessage.contains(s"$into/.compact/$name"), e.getMessage)
    assert(e.getMessage.contains(s"$into/$name"), e.getMessage)
    assert(!new File(s"$into/$name").exists())
    spark.read.parquet(s"$into/.compact/$name")
  }

  private def segments(dir: String, prefix: String): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten.filter(_.startsWith(prefix))

  test("compactSegmentDirs keeps the staged merge when the rename fails") {
    val dir = tmpDir("cmp-seg")
    spark.range(0, 30).write.parquet(s"$dir/b0")
    spark.range(30, 50).write.parquet(s"$dir/b1")
    val staged = failedSwap(dir, "b-1", dir)(Dedup.compactSegmentDirs(spark, _))
    assert(segments(dir, "b") === Nil)
    assert(staged.as[Long].collect().sorted.toSeq === (0L until 50L))
    assert(Segments.read(spark, dir).as[Long].collect().sorted.toSeq === (0L until 50L))
  }

  test("compactGramDf keeps the staged merge when the rename fails") {
    val dir = tmpDir("cmp-gram")
    Seq("a" -> 1L, "b" -> 2L).toDF("g", "df").write.parquet(s"$dir/b0")
    Seq("b" -> 3L, "c" -> 4L).toDF("g", "df").write.parquet(s"$dir/b1")
    val staged = failedSwap(dir, "b-1", dir)(TextAnalysis.compactGramDf(spark, _))
    assert(segments(dir, "b") === Nil)
    assert(staged.as[(String, Long)].collect().sorted.toSeq ===
      Seq("a" -> 1L, "b" -> 5L, "c" -> 4L))
    assert(Segments.read(spark, dir).as[(String, Long)].collect().sorted.toSeq ===
      Seq("a" -> 1L, "b" -> 2L, "b" -> 3L, "c" -> 4L))
  }

  test("compactManifest keeps the staged merge when the rename fails") {
    val (tbl, man) = (tmpDir("cmp-tbl"), tmpDir("cmp-man"))
    spark.range(0, 40).toDF("k").repartition(2).write.parquet(s"$tbl/d0")
    spark.range(40, 60).toDF("k").coalesce(1).write.parquet(s"$tbl/d1")
    Manifest.buildManifest(spark, s"$tbl/d0", Seq("k"), man)
    Manifest.appendToManifest(spark, Seq(s"$tbl/d1"), Seq("k"), man)
    val files = Manifest.readManifest(spark, man).count()
    assert(files === 3L)
    val staged = failedSwap(man, "b-1", man)(Manifest.compactManifest(spark, _))
    assert(segments(man, "b") === Nil)
    assert(staged.count() === files)
    assert(Manifest.readManifest(spark, man).count() === files)
    assert(Segments.open(spark, man).ids === Seq(0L, 1L))
  }

  test("compactIvfPqIndex keeps the staged merge when the rename fails") {
    val path = tmpDir("cmp-ivfpq")
    def codes(ids: Range) = ids.map(i => (i.toLong, Array[Byte](i.toByte), i % 3))
      .toDF("nid", "codes", "bucket")
    codes(0 until 10).write.partitionBy("bucket").parquet(s"$path/codes/batch=0")
    codes(10 until 15).write.partitionBy("bucket").parquet(s"$path/codes/batch=1")
    val staged = failedSwap(path, "batch=-1", s"$path/codes")(
      Similarity.compactIvfPqIndex(spark, _))
    assert(segments(s"$path/codes", "batch=") === Nil)
    assert(staged.select("nid").as[Long].collect().sorted.toSeq === (0L until 15L))
    val old = Segments.read(spark, s"$path/codes")
    assert(old.select("nid").as[Long].collect().sorted.toSeq === (0L until 15L))
    assert(Segments.open(spark, s"$path/codes").ids === Seq(0L, 1L))
  }

  test("compactTextIndex keeps the staged merge when the rename fails") {
    val path = tmpDir("cmp-text")
    val docs = Seq((1L, "apple banana"), (2L, "banana cherry"), (3L, "cherry date"))
      .toDF("doc_id", "text")
    TextAnalysis.buildTextIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text",
      path, nBuckets = 4, batchId = 0L)
    TextAnalysis.appendToTextIndex(docs.filter(col("doc_id") > 2), "doc_id", "text",
      path, batchId = 1L)
    val staged = failedSwap(path, "batch=-1", s"$path/seg")(
      TextAnalysis.compactTextIndex(spark, _))
    assert(segments(s"$path/seg", "batch=") === Nil)
    assert(staged.filter(col("store") === "stats")
      .agg(sum(col("n_docs"))).head().getLong(0) === 3L)
    assert(staged.filter(col("store") === "norms").count() === 3L)
    val old = Segments.read(spark, s"$path/seg")
    assert(old.filter(col("store") === "norms").count() === 3L)
    assert(Segments.open(spark, s"$path/seg").ids === Seq(0L, 1L))
  }
}
