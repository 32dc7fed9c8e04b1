package graft.operators

import java.io.{File, IOException}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables.t

/** Local FileSystem under the `crash:` scheme whose `rename` returns false
  * where [[CrashRenameFs.fails]] says, as a process that dies between two
  * renames leaves the store. Paths are authority-less (`crash:/abs/path`),
  * the local path is the URI path.
  */
class CrashRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crash:///")
  override def rename(src: Path, dst: Path): Boolean =
    !CrashRenameFs.fails(src, dst) && super.rename(src, dst)
}

object CrashRenameFs {
  @volatile var fails: (Path, Path) => Boolean = (_, _) => false
}

/** A segment store reads as its old state or its new state whichever
  * rename of a commit fails, and a listing never touches a stray entry.
  * Each crash case runs on a `b<N>` store, on the manifest and on a
  * `batch=N` store.
  */
class SegmentsSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body`, in which `crash:` paths fail the renames `fail` picks;
    * expects it to throw an IOException.
    */
  private def crash(fail: (Path, Path) => Boolean)(body: => Unit): IOException = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.crash.impl", classOf[CrashRenameFs].getName)
    hc.setBoolean("fs.crash.impl.disable.cache", true)
    CrashRenameFs.fails = fail
    try intercept[IOException](body)
    finally {
      CrashRenameFs.fails = (_, _) => false
      hc.unset("fs.crash.impl")
      hc.unset("fs.crash.impl.disable.cache")
    }
  }

  /** The rename of a one-name stage onto `name`. */
  private def renameIn(name: String)(src: Path, dst: Path): Boolean =
    dst.getName == name && src.getName.startsWith(s".$name.")

  /** The rename of a compaction's or rebuild's staged segment onto the store. */
  private def stagedIn(src: Path, dst: Path): Boolean = src.getParent.getName == ".compact"

  /** The move of segment `name` aside, into `.compact/.old/`. */
  private def aside(name: String)(src: Path, dst: Path): Boolean =
    dst.getParent.getName == ".old" && dst.getName == name

  /** The store's rows, read through its recovering open. */
  private def rows(dir: String): DataFrame = Segments.read(spark, dir)

  private def ids(dir: String): Seq[Long] = Segments.open(spark, dir).ids

  private def dotEntries(dir: String): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten.filter(_.startsWith(".")).sorted

  private def longs(df: DataFrame): Seq[Long] = df.as[Long].collect().sorted.toSeq

  private def put(dir: String, name: String, vs: Seq[Long]): Unit =
    Segments.put(spark, dir, name)(vs.toDF("v").coalesce(1).write.parquet)

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"term$i common")).toDF("doc_id", "text")

  /** Doc ids of a text index's norms rows: one per indexed doc. */
  private def indexedDocs(path: String): Seq[Long] =
    longs(rows(s"$path/seg").filter(col("store") === "norms").select(col("doc")))

  /** A manifest over `tbl/d0`..`tbl/d<n-1>` (one file each): `b0` built
    * from d0, then one append per further dir.
    */
  private def manifest(tbl: String, man: String, n: Int): Seq[String] = {
    (0 until n).foreach(i => spark.range(i * 10, i * 10 + 10).toDF("k").coalesce(1)
      .write.parquet(s"$tbl/d$i"))
    Manifest.buildManifest(spark, s"$tbl/d0", Seq("k"), man)
    (1 until n).foreach(i => Manifest.appendToManifest(spark, Seq(s"$tbl/d$i"), Seq("k"), man))
    files(man)
  }

  private def files(man: String): Seq[String] =
    Manifest.readManifest(spark, man).select(col("file")).as[String].collect().sorted.toSeq

  test("a stray batch=old under codes/ and seg/ is never read, merged or deleted") {
    val emb = t(spark, sfDir, "embeddings")
    val path = tmpDir("seg-stray-ivfpq")
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", path, nCentroids = 8, m = 8)
    new File(s"$path/codes/batch=old").mkdirs()
    new File(s"$path/codes/batch=old/keep.txt").createNewFile()
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 2 === 1), "vec_id",
      "embedding", path)
    assert(ids(s"$path/codes") == Seq(0L, 1L))
    Similarity.compactIvfPqIndex(spark, path)
    assert(ids(s"$path/codes") == Seq(-1L))
    val served = Similarity.queryIvfPqIndex(emb, emb.filter(col("vec_id") < 3), "vec_id",
      "embedding", path, k = 5, nProbe = 8, shortlistFactor = 8)
    assert(served.count() == 15L)
    assert(new File(s"$path/codes/batch=old/keep.txt").isFile)

    val idx = tmpDir("seg-stray-text")
    TextAnalysis.buildTextIndex(docs(Seq(1L, 2L)), "doc_id", "text", idx, nBuckets = 4)
    new File(s"$idx/seg/batch=old").mkdirs()
    new File(s"$idx/seg/batch=old/keep.txt").createNewFile()
    TextAnalysis.appendToTextIndex(docs(Seq(3L)), "doc_id", "text", idx, batchId = 1L)
    TextAnalysis.compactTextIndex(spark, idx)
    assert(ids(s"$idx/seg") == Seq(-1L))
    val hits = TextAnalysis.queryTextIndex(Seq((9L, "term3")).toDF("query_id", "text"),
      "query_id", "text", idx, "doc_id", k = 5)
    assert(hits.select(col("doc_id")).as[Long].collect().toSeq == Seq(3L))
    assert(new File(s"$idx/seg/batch=old/keep.txt").isFile)
  }

  test("(a) b<N> store: a replayed append failing before its rename-in keeps the old segment") {
    val dir = tmpDir("seg-a-b")
    put(dir, "b0", Seq(1L, 2L))
    put(dir, "b1", Seq(3L))
    val e = crash(renameIn("b1"))(put(s"crash:$dir", "b1", Seq(4L)))
    assert(e.getMessage.contains(s"$dir/b1"), e.getMessage)
    assert(longs(rows(dir)) == Seq(1L, 2L, 3L))
    put(dir, "b1", Seq(4L))
    assert(longs(rows(dir)) == Seq(1L, 2L, 4L))
    assert(dotEntries(dir) == Nil)
  }

  test("(a) manifest: a replayed append failing before its rename-in keeps the old segment") {
    val (tbl, man) = (tmpDir("seg-a-tbl"), tmpDir("seg-a-man"))
    val before = manifest(tbl, man, 2)
    spark.range(100, 110).toDF("k").coalesce(1).write.parquet(s"$tbl/d9")
    crash(renameIn("b1"))(
      Manifest.appendToManifest(spark, Seq(s"$tbl/d9"), Seq("k"), s"crash:$man", batchId = 1L))
    assert(files(man) == before)
    Manifest.appendToManifest(spark, Seq(s"$tbl/d9"), Seq("k"), man, batchId = 1L)
    val after = files(man)
    assert(after.size == 2 && after.contains(before.head) && after.exists(_.contains("/d9/")))
    assert(dotEntries(man) == Nil)
  }

  test("(a) batch=N store: a replayed append failing before its rename-in keeps the old segment") {
    val path = tmpDir("seg-a-text")
    TextAnalysis.buildTextIndex(docs(Seq(1L, 2L)), "doc_id", "text", path, nBuckets = 4)
    TextAnalysis.appendToTextIndex(docs(Seq(3L)), "doc_id", "text", path, batchId = 1L)
    crash(renameIn("batch=1"))(TextAnalysis.appendToTextIndex(docs(Seq(4L, 5L)), "doc_id",
      "text", s"crash:$path", batchId = 1L))
    assert(indexedDocs(path) == Seq(1L, 2L, 3L))
    TextAnalysis.appendToTextIndex(docs(Seq(4L, 5L)), "doc_id", "text", path, batchId = 1L)
    assert(indexedDocs(path) == Seq(1L, 2L, 4L, 5L))
    assert(dotEntries(s"$path/seg") == Nil)
  }

  test("(b) b<N> store: a compaction failing after part of its snapshot moved aside rolls back") {
    val dir = tmpDir("seg-b-b")
    put(dir, "b0", 0L until 5L)
    put(dir, "b1", 5L until 8L)
    put(dir, "b2", 8L until 10L)
    crash(aside("b1"))(Dedup.compactSegmentDirs(spark, s"crash:$dir"))
    assert(longs(rows(dir)) == (0L until 10L))
    assert(dotEntries(dir) == Nil)
    Dedup.compactSegmentDirs(spark, dir)
    assert(ids(dir) == Seq(-1L))
    assert(longs(rows(dir)) == (0L until 10L))
  }

  test("(b) manifest: a compaction failing after part of its snapshot moved aside rolls back") {
    val (tbl, man) = (tmpDir("seg-b-tbl"), tmpDir("seg-b-man"))
    val before = manifest(tbl, man, 3)
    crash(aside("b1"))(Manifest.compactManifest(spark, s"crash:$man"))
    assert(files(man) == before)
    assert(dotEntries(man) == Nil)
    Manifest.compactManifest(spark, man)
    assert(ids(man) == Seq(-1L))
    assert(files(man) == before)
  }

  test("(b) batch=N store: a compaction failing after part of its snapshot moved aside rolls back") {
    val path = tmpDir("seg-b-text")
    TextAnalysis.buildTextIndex(docs(Seq(1L, 2L)), "doc_id", "text", path, nBuckets = 4)
    TextAnalysis.appendToTextIndex(docs(Seq(3L)), "doc_id", "text", path, batchId = 1L)
    TextAnalysis.appendToTextIndex(docs(Seq(4L)), "doc_id", "text", path, batchId = 2L)
    crash(aside("batch=1"))(TextAnalysis.compactTextIndex(spark, s"crash:$path"))
    assert(indexedDocs(path) == Seq(1L, 2L, 3L, 4L))
    assert(dotEntries(s"$path/seg") == Nil)
    TextAnalysis.compactTextIndex(spark, path)
    assert(ids(s"$path/seg") == Seq(-1L))
    assert(indexedDocs(path) == Seq(1L, 2L, 3L, 4L))
  }

  test("(c) b<N> store: a rebuild failing before its rename-in reads the old state") {
    val (tbl, idx) = (tmpDir("seg-c-tbl"), tmpDir("seg-c-ndv"))
    spark.range(0, 10).toDF("k").coalesce(1).write.parquet(s"$tbl/d0")
    spark.range(10, 20).toDF("k").coalesce(1).write.parquet(s"$tbl/d1")
    Manifest.buildNdvIndex(spark, s"$tbl/d0", "k", idx)
    Manifest.appendToNdvIndex(spark, Seq(s"$tbl/d1"), "k", idx)
    def indexed(): Seq[String] = rows(idx).select(col("file")).as[String].collect().sorted.toSeq
    val before = indexed()
    assert(before.size == 2)
    crash(stagedIn)(Manifest.buildNdvIndex(spark, s"$tbl/d1", "k", s"crash:$idx"))
    assert(indexed() == before)
    assert(dotEntries(idx) == Nil)
  }

  test("(c) manifest: a rebuild failing before its rename-in reads the old state") {
    val (tbl, man) = (tmpDir("seg-c-tbl"), tmpDir("seg-c-man"))
    val before = manifest(tbl, man, 2)
    crash(stagedIn)(Manifest.buildManifest(spark, s"$tbl/d1", Seq("k"), s"crash:$man"))
    assert(files(man) == before)
    assert(dotEntries(man) == Nil)
  }

  test("(c) batch=N store: a rebuild failing before its rename-in reads the old state") {
    val emb = t(spark, sfDir, "embeddings")
    val path = tmpDir("seg-c-ivfpq")
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", path, nCentroids = 8, m = 8)
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 2 === 1), "vec_id",
      "embedding", path)
    val all = longs(emb.select(col("vec_id").cast("long")))
    assert(longs(rows(s"$path/codes").select(col("nid"))) == all)
    crash(stagedIn)(Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", s"crash:$path", nCentroids = 8, m = 8))
    assert(longs(rows(s"$path/codes").select(col("nid"))) == all)
    assert(dotEntries(s"$path/codes") == Nil)
  }

  test("(c) a snapshot's snap replace failing before its rename-in reads the old state") {
    val dir = tmpDir("seg-c-snap")
    put(dir, "snap", Seq(1L))
    crash(renameIn("snap"))(put(s"crash:$dir", "snap", Seq(2L)))
    assert(!new File(s"$dir/snap").exists(), "the failed swap left snap aside")
    assert(Segments.open(spark, dir).contains("snap"))
    assert(longs(spark.read.parquet(s"$dir/snap")) == Seq(1L))
    assert(dotEntries(dir) == Nil)
  }
}
