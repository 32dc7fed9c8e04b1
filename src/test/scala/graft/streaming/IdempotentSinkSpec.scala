package graft.streaming

import java.io.File
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.BlockShim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.pipeline.{InMemoryQueue, QueueMessage}
import graft.sources.DataGenerator

/** The sink's own writer against the stock `df.write.parquet`: the same
  * files, rows and codec; a batch that never committed stays invisible; the
  * per-query broadcast does not outlive its query.
  */
class IdempotentSinkSpec extends SparkSpec {

  private def records(rows: Long, seed: Long, files: Int): String = {
    val dir = tmpDir("idem-src")
    DataGenerator.generate(spark, rows, seed, numPartitions = files)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** The input as a one-file-per-batch stream. */
  private def fileStream(src: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

  private def await(q: StreamingQuery): Unit = {
    assert(q.awaitTermination(120000L), "sink did not finish within 120 s")
    q.exception.foreach(e => fail(e))
  }

  private def children(dir: String): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten.sorted

  private def parquetFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** A parquet file's message type, Spark row metadata and column codecs. */
  private def footer(f: File): (String, String, Set[String]) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(f.toURI), spark.sessionState.newHadoopConf()))
    try {
      val meta = reader.getFooter
      (meta.getFileMetaData.getSchema.toString,
        meta.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
        meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet)
    } finally reader.close()
  }

  /** The part of a part-file name after its per-write token: `-c000.snappy.parquet`. */
  private def suffix(f: File): String = f.getName.substring(f.getName.lastIndexOf("-c"))

  /** Polls `cond` until it holds, at most 60 s, running a GC between polls. */
  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!cond) {
      if (System.nanoTime() >= deadline) fail(s"$what after 60 s")
      System.gc()
      Thread.sleep(100)
    }
  }

  test("a failure before the staging dir is renamed leaves the batch invisible; a restart lands it once") {
    val src = records(90L, 31L, files = 3)
    val out = tmpDir("idem-crash-out")
    val ckpt = tmpDir("idem-crash-ckpt")
    val crash = new BatchParquetWriter(out,
      beforeCommit = id => if (id == 1L) throw new IllegalStateException("injected before commit"))
    val q = IdempotentSink.startWith(fileStream(src), ckpt, Trigger.AvailableNow(), crash)
    val e = intercept[StreamingQueryException](q.awaitTermination(120000L))
    assert(e.getMessage.contains("injected before commit"), e)
    // Batch 1's files and _SUCCESS are staged, under a name readers skip.
    val staged = children(out).filter(_.startsWith(".batch_id=1."))
    assert(staged.size == 1, children(out))
    assert(parquetFiles(s"$out/${staged.head}").size == 1)
    assert(new File(s"$out/${staged.head}/_SUCCESS").isFile)
    assert(children(out).filter(_.startsWith("batch_id=")) == Seq("batch_id=0"))
    val partial = spark.read.parquet(out)
    assert(partial.filter(col("batch_id") === 1L).count() == 0L)
    assert(partial.count() == spark.read.parquet(parquetFiles(s"$out/batch_id=0").head.getPath).count())

    await(IdempotentSink.start(fileStream(src), out, ckpt))
    assert(children(out) == Seq("batch_id=0", "batch_id=1", "batch_id=2"),
      "the dead staging dir is gone")
    val sink = spark.read.parquet(out)
    assert(sink.count() == 90L)
    assert(sink.select("id").distinct().count() == 90L)
    assert(sink.drop("batch_id").exceptAll(spark.read.parquet(src)).isEmpty)
  }

  test("five sink runs leave no broadcast block behind") {
    val q = "idem-broadcast"
    def fill(): Unit = {
      InMemoryQueue.clear(q)
      (1 to 60).foreach(i => InMemoryQueue.queue(q).add(QueueMessage(s"m$i", s"body-$i")))
    }
    def run(): StreamingQuery = {
      fill()
      val stream = spark.readStream.format("graft-queue").option("queue", q)
        .option("maxMessagesPerTrigger", "20").load().select(col("body"))
      val query = IdempotentSink.start(stream, tmpDir("idem-bc-out"), tmpDir("idem-bc-ckpt"))
      await(query)
      query
    }
    run() // first-run set-up outside the count
    val before = BlockShim.broadcastBlocks(spark.sparkContext)
    // Held to the end: a query that is still reachable keeps its writer, so
    // only the writer's own destroy can free its broadcast.
    val queries = (1 to 5).map(_ => run())
    eventually("broadcast blocks outlive their queries") {
      (BlockShim.broadcastBlocks(spark.sparkContext) -- before).isEmpty
    }
    assert(queries.forall(!_.isActive))
    InMemoryQueue.clear(q)
  }

  test("a batch whose rows are all filtered out writes a readable batch dir, as the stock write does") {
    val src = records(20L, 32L, files = 1)
    val input = spark.read.parquet(src)
    // A filter that runs in the task, and one the optimizer folds to an
    // empty relation with no partitions.
    for ((name, drop) <- Seq("runtime" -> (col("id") === "no such id"), "folded" -> lit(false))) {
      val out = tmpDir(s"idem-empty-$name")
      await(IdempotentSink.start(fileStream(src).filter(drop), out, tmpDir("idem-empty-ckpt")))
      val stock = tmpDir(s"idem-empty-stock-$name")
      input.filter(drop).write.mode("overwrite").parquet(stock)
      assert(children(out) == Seq("batch_id=0"), name)
      val batch = s"$out/batch_id=0"
      assert(children(batch).filterNot(_.startsWith(".")).map(_.replaceAll("-.*-c", "-c")) ==
        children(stock).filterNot(_.startsWith(".")).map(_.replaceAll("-.*-c", "-c")), name)
      val (mine, theirs) = (parquetFiles(batch).head, parquetFiles(stock).head)
      assert(footer(mine) == footer(theirs), name)
      assert(spark.read.parquet(batch).count() == 0L)
      assert(spark.read.parquet(batch).schema == spark.read.parquet(stock).schema, name)
      assert(spark.read.parquet(out).schema == input.schema.add("batch_id", "int"), name)
    }
  }

  test("Record rows land in the files, schema and codec df.write.parquet writes") {
    val src = records(40L, 33L, files = 1)
    val input = spark.read.parquet(src)
    val codec = "spark.sql.parquet.compression.codec"
    val maxRecords = "spark.sql.files.maxRecordsPerFile"
    // The default codec, another codec, and files split by row count.
    val settings = Seq(Map.empty[String, String], Map(codec -> "gzip"), Map(maxRecords -> "15"))
    val prev = Seq(codec, maxRecords).map(k => k -> spark.conf.getOption(k))
    try {
      for (set <- settings) {
        prev.foreach { case (k, _) => set.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        val out = tmpDir("idem-codec-out")
        await(IdempotentSink.start(fileStream(src), out, tmpDir("idem-codec-ckpt")))
        val stock = tmpDir("idem-codec-stock")
        input.write.mode("overwrite").parquet(stock)
        val (mine, theirs) = (parquetFiles(s"$out/batch_id=0").sortBy(suffix),
          parquetFiles(stock).sortBy(suffix))
        assert(mine.map(suffix) == theirs.map(suffix), set)
        assert(mine.size == (if (set.contains(maxRecords)) 3 else 1), set)
        assert(mine.map(footer) == theirs.map(footer), set)
        val expectCodec = if (set.contains(codec)) "GZIP" else "SNAPPY"
        assert(mine.map(footer).forall(_._3 == Set(expectCodec)), set)
        val sink = spark.read.parquet(out).drop("batch_id")
        assert(sink.schema == spark.read.parquet(stock).schema, set)
        assert(sink.exceptAll(input).isEmpty && input.exceptAll(sink).isEmpty, set)
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
