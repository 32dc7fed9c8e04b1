package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import graft.{SparkSpec, Staging}
import graft.pipeline.{Consumer, InMemoryQueue, InMemoryQueueClient}
import graft.sources.DataGenerator

/** Streaming parity (SURVEY.md §2.9): micro-batch delivery, retry ×5, DLQ. */
class StreamingSpec extends SparkSpec {

  test("stream publisher delivers micro-batches and dead-letters poison rows") {
    val dir = tmpDir("streamsrc")
    DataGenerator.generate(spark, 40L, seed = 11L)
      .write.mode("overwrite").parquet(dir)
    val poison = spark.read.parquet(dir).select("id")
      .limit(3).collect().map(_.getString(0)).toSet

    InMemoryQueue.clear("sq1")
    val dlq = tmpDir("dlq")
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1") // backpressure knob (ST4)
      .parquet(dir)
    val q = StreamPublisher.start(stream,
      new InMemoryQueueClient("sq1", poisonIds = poison),
      dlqPath = dlq, checkpoint = tmpDir("ckpt"))
    q.awaitTermination()

    assert(InMemoryQueue.size("sq1") === 40 - poison.size)
    val deadIds = spark.read.parquet(dlq).select("id")
      .collect().map(_.getString(0)).toSet
    assert(deadIds === poison)
  }

  test("redrive re-publishes dead letters once the fault clears") {
    val dir = tmpDir("redrivesrc")
    DataGenerator.generate(spark, 20L, seed = 13L)
      .write.mode("overwrite").parquet(dir)
    val poison = spark.read.parquet(dir).select("id")
      .limit(4).collect().map(_.getString(0)).toSet

    InMemoryQueue.clear("sq2")
    val dlq = tmpDir("dlq2")
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    StreamPublisher.start(stream,
      new InMemoryQueueClient("sq2", poisonIds = poison),
      dlqPath = dlq, checkpoint = tmpDir("ckpt3")).awaitTermination()
    assert(InMemoryQueue.size("sq2") === 20 - poison.size)

    // fault cleared: a fresh client with no poison — redrive drains the DLQ
    val stillFailing = StreamPublisher.redrive(spark, dlq,
      new InMemoryQueueClient("sq2")).count()
    assert(stillFailing === 0L)
    assert(InMemoryQueue.size("sq2") === 20)
  }

  test("queue-backed streaming source: published messages flow end to end") {
    import org.apache.spark.sql.Encoders
    import graft.pipeline.Publisher
    val dir = tmpDir("qssrc")
    DataGenerator.generate(spark, 35L, seed = 15L)
      .write.mode("overwrite").parquet(dir)
    InMemoryQueue.clear("qs1")
    Publisher.publish(spark, Publisher.PublishRequest(Seq(dir)),
      new InMemoryQueueClient("qs1"))
    assert(InMemoryQueue.size("qs1") === 35)

    // the graft-queue source reads the queue as a log; parse bodies back
    // to typed rows inside the stream (consumer side)
    val schema = Encoders.product[graft.model.Record].schema
    val messages = spark.readStream.format("graft-queue")
      .option("queue", "qs1").load()
    val parsed = messages.select(
      org.apache.spark.sql.functions.from_json(
        org.apache.spark.sql.functions.col("body"), schema).as("r"))
      .select("r.*")
    val q = parsed.writeStream.format("memory").queryName("qs_out")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("qsckpt"))
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("qs_out")
    assert(out.count() === 35L)
    assert(out.exceptAll(spark.read.parquet(dir)).isEmpty)
  }

  test("idempotent sink: a full replay produces no duplicate rows") {
    val dir = tmpDir("idemsrc")
    DataGenerator.generate(spark, 30L, seed = 14L)
      .write.mode("overwrite").parquet(dir)
    val out = tmpDir("idemout")
    def run(ckpt: String): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
      IdempotentSink.start(stream, out, checkpoint = ckpt).awaitTermination()
    }
    run(tmpDir("idemckpt1"))
    assert(spark.read.parquet(out).count() === 30L)
    // fresh checkpoint = the source replays everything from scratch; batch
    // ids restart at 0, each batch overwrites its own directory → no dupes
    run(tmpDir("idemckpt2"))
    val replayed = spark.read.parquet(out)
    assert(replayed.count() === 30L)
    assert(replayed.select("id").distinct().count() === 30L)
  }

  test("foldSessions closes on the 30-minute boundary and carries open state") {
    val m = 60L * 1000 * 1000 // one minute in micros
    // 29:59.999999 extends a session; exactly 30:00 starts a new one
    val (closed, open) = StreamingQueries.foldSessions(None,
      Seq((0L, 1.0), (30 * m - 1, 2.0), (60 * m - 2, 4.0), (90 * m - 2, 8.0)))
    assert(closed == Seq((0L, 60 * m - 2, 3L, 7.0)))
    assert(open.contains((90 * m - 2, 90 * m - 2, 1L, 8.0)))
    // a later batch extends the carried open session
    val (closed2, open2) = StreamingQueries.foldSessions(open,
      Seq((91 * m, 16.0)))
    assert(closed2.isEmpty &&
      open2.contains((90 * m - 2, 91 * m, 2L, 24.0)))
    // exact-boundary gap: 30:00 after the open session's last event closes it
    val (closed3, open3) = StreamingQueries.foldSessions(open2,
      Seq((121 * m, 32.0)))
    assert(closed3 == Seq((90 * m - 2, 91 * m, 2L, 24.0)))
    assert(open3.contains((121 * m, 121 * m, 1L, 32.0)))
  }

  test("sessionize emits identical sessions when batches split mid-session") {
    import org.apache.spark.sql.functions._
    // events for one user, 10-minute cadence => one session; split the file
    // so the session spans two micro-batches (maxFilesPerTrigger=1) and the
    // provisional re-emit + collapse must still converge to the batch truth.
    val events = spark.range(12).select(
      lit(7L).as("user_id"),
      timestamp_micros(col("id") * 10L * 60 * 1000 * 1000).as("ts"),
      (col("id") + 1).cast("double").as("value"))
    val dir = tmpDir("sesssrc")
    events.filter(col("value") <= 6).coalesce(1)
      .write.parquet(s"$dir/f1.parquet")
    events.filter(col("value") > 6).coalesce(1)
      .write.parquet(s"$dir/f2.parquet")
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*.parquet")
    val qn = "sess_multibatch"
    val q = StreamingQueries.sessionizeStream(stream)
      .writeStream.format("memory").queryName(qn).outputMode("update")
      .option("checkpointLocation", tmpDir("sessckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // two provisional emissions for the same session start => collapse keeps
    // the later (larger n) one only
    assert(spark.table(qn).count() >= 2)
    val out = StreamingQueries.collapseSessions(spark.table(qn)).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(2) == 7L && r.getLong(3) == 12L &&
      r.getDouble(4) == 78.0)
  }

  test("incremental MV merge is replay-safe: re-delivered batches are no-ops") {
    import org.apache.spark.sql.functions._
    val stage = tmpDir("mvsrc")
    val ev = graft.Tables.t(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$stage/in/f0.parquet")
    ev.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$stage/in/f1.parquet")
    val mv = s"$stage/mv"
    val first = StreamingQueries.runIncrementalMv(spark, ev.schema,
      s"$stage/in/*.parquet", mv, tmpDir("mvckpt1")).collect().toSeq
    // fresh checkpoint = the file source replays EVERY batch from id 0; the
    // _last_applied watermark inside the MV directory must reject them all,
    // or the non-idempotent merge would double every count
    val replayed = StreamingQueries.runIncrementalMv(spark, ev.schema,
      s"$stage/in/*.parquet", mv, tmpDir("mvckpt2")).collect().toSeq
    assert(replayed == first)
    // and the MV equals the batch aggregate over the original table
    val batch = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("event_type")).collect().toSeq
    assert(first == batch)
  }

  test("stream consumer logs per-batch counts (reference stub behavior)") {
    val dir = tmpDir("consrc")
    DataGenerator.generate(spark, 25L, seed = 12L)
      .write.mode("overwrite").parquet(dir)
    val seen = new ConcurrentLinkedQueue[(Long, Long)]()
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = StreamConsumer.start(stream, checkpoint = tmpDir("ckpt2"),
      onBatch = (id, n) => { seen.add((id, n)); () })
    q.awaitTermination()
    assert(seen.size() >= 1)
    var total = 0L
    seen.forEach { case (_, n) => total += n }
    assert(total === 25L)
  }

  test("streaming Platt drift gate: undrifted cumulative fits stay in " +
      "the envelope and converge bit-equal to the batch fit; the planted " +
      "inversion trips") {
    val row = StreamingQueries.queries("streaming_platt_drift")(
      spark, sfDir).head()
    assert(row.getAs[Boolean]("multi_batch_ok"), "needs >= 3 batches")
    assert(row.getAs[Boolean]("final_fit_matches_frozen_ok"),
      "additive bins must make streamed == batch fit bit-equal")
    assert(row.getAs[Boolean]("undrifted_green_ok"),
      "undrifted stream tripped the gate")
    assert(row.getAs[Boolean]("drift_tripped_ok"),
      "planted score drift did not trip the gate")
    // the plant is a REAL calibration break, not an envelope graze
    assert(math.abs(row.getAs[Long]("a_drift_fx") -
      row.getAs[Long]("a_frozen_fx")) > 3000000L)
  }

  test("awaitBounded stops a stream that never ends and names it") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop").queryName("never_ends").start()
    val e = intercept[java.util.concurrent.TimeoutException](
      StreamingQueries.awaitBounded(q, boundMs = 300L))
    assert(e.getMessage.contains("never_ends") && e.getMessage.contains(q.id.toString))
    assert(!q.isActive)
  }

  test("streaming_kafka_sink and a runToTable query leave none of their temp dirs behind") {
    // The queries' dirs sit under the context's staging root; the top of
    // java.io.tmpdir is listed too, so a dir created in either counts.
    def places: Seq[java.io.File] = Seq(
      new java.io.File(System.getProperty("java.io.tmpdir")), Staging.root(spark).toFile)
    // Only the names these two queries create: other processes come and go
    // in the shared temp dir.
    def entries: Set[String] = places.flatMap(_.listFiles().toSeq).filter(f =>
      Seq("graft-ksink-", "graft-ckpt-", "graft-stream-in-", "graft-stream-docs-")
        .exists(f.getName.startsWith)).map(_.getPath).toSet
    // The listing sees a dir handed out under the staging root.
    val probe = Staging.dir(spark, "graft-ckpt-")
    assert(entries.contains(probe))
    graft.fs.deleteTree(java.nio.file.Paths.get(probe))
    // streaming_funnel stages its split input once per source dir and
    // keeps it for later runs; the first run creates it.
    val funnel = StreamingQueries.queries("streaming_funnel")
    funnel(spark, sfDir).collect()
    val before = entries
    assert(StreamingQueries.queries("streaming_kafka_sink")(spark, sfDir).count() > 0)
    assert(funnel(spark, sfDir).count() > 0)
    // Queries over the staged events and documents inputs.
    StreamingQueries.queries("streaming_stream_join")(spark, sfDir).collect()
    StreamingQueries.queries("streaming_curation")(spark, sfDir).collect()
    assert((entries -- before).isEmpty, (entries -- before).mkString(", "))
  }
}
