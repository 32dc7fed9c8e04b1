package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.pipeline.{InMemoryQueue, QueueMessage}

/** The Kafka-shaped `format("graft-queue")` connector: offset-sliced
  * micro-batches, append-log retention (commit deletes nothing), and batch
  * snapshot reads.
  */
class QueueDataSourceSpec extends SparkSpec {

  private def put(q: String, ids: Range): Unit =
    ids.foreach(i => InMemoryQueue.queue(q)
      .add(QueueMessage(i.toString, s"""{"v":$i}""")))

  test("messages arriving between micro-batches land in later batches") {
    val q = s"qds-incr-${java.util.UUID.randomUUID()}"
    put(q, 0 until 7)
    val stream = spark.readStream.format("graft-queue").option("queue", q)
      .load()
    val qn = "qds_incr_sink"
    val sq = stream.writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      sq.processAllAvailable()
      assert(spark.table(qn).count() == 7)
      put(q, 7 until 12)
      sq.processAllAvailable()
      assert(spark.table(qn).count() == 12)
      // every message delivered exactly once, in log order per slice
      val got = spark.table(qn).select(col("id").cast("int"))
        .collect().map(_.getInt(0)).sorted
      assert(got.toSeq == (0 until 12))
    } finally sq.stop()
  }

  test("AvailableNow drains exactly the log prefix present at start") {
    val q = s"qds-avnow-${java.util.UUID.randomUUID()}"
    put(q, 0 until 9)
    val qn = "qds_avnow_sink"
    val sq = spark.readStream.format("graft-queue").option("queue", q).load()
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    assert(spark.table(qn).count() == 9)
    // the run terminated on its own — bounded by the start-time cap
  }

  test("commit retains the log (Kafka semantics) and batch read snapshots it") {
    val q = s"qds-retain-${java.util.UUID.randomUUID()}"
    put(q, 0 until 5)
    val qn = "qds_retain_sink"
    val sq = spark.readStream.format("graft-queue").option("queue", q).load()
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    // consuming committed offsets did not delete anything
    assert(InMemoryQueue.size(q) == 5)
    val snap = spark.read.format("graft-queue").option("queue", q).load()
    assert(snap.count() == 5)
    assert(snap.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 5).map(_.toString).sorted)
  }

  test("missing queue option fails at plan time with a clear message") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-queue").load().count()
    }
    assert(e.getMessage.contains("queue"))
  }

  test("maxMessagesPerTrigger bounds admission; receive counts surface") {
    val q = s"qds-admit-${java.util.UUID.randomUUID()}"
    put(q, 0 until 9)
    val qn = "qds_admit_sink"
    val sq = spark.readStream.format("graft-queue").option("queue", q)
      .option("maxMessagesPerTrigger", "4")
      .load()
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val got = spark.table(qn)
    assert(got.count() == 9)
    // 9 messages at 4/trigger → 3 micro-batches, visible in recentProgress
    assert(sq.recentProgress.count(_.numInputRows > 0) == 3)
    // every message streamed exactly once → receive_count 1 across the board
    assert(got.filter(col("receive_count") =!= 1).count() == 0)
  }

  test("non-positive maxMessagesPerTrigger or maxReceiveCount fails " +
      "naming the option") {
    val q = s"qds-badopt-${java.util.UUID.randomUUID()}"
    put(q, 0 until 3)
    Seq("maxMessagesPerTrigger" -> "0", "maxMessagesPerTrigger" -> "-3",
        "maxReceiveCount" -> "0").zipWithIndex.foreach { case ((k, v), i) =>
      val e = streamArgumentError {
        spark.readStream.format("graft-queue").option("queue", q)
          .option(k, v).load()
          .writeStream.format("memory").queryName(s"qds_badopt_sink_$i")
          .trigger(Trigger.AvailableNow()).start()
      }
      assert(e.getMessage.contains(k), s"$k=$v: ${e.getMessage}")
    }
    // nothing was delivered or dead-lettered
    assert(InMemoryQueue.receiveCount(q, "0") == 0)
    assert(InMemoryQueue.size(s"$q-dlq") == 0)
  }

  test("exceeding maxReceiveCount dead-letters to the dlq queue") {
    val q = s"qds-dlq-${java.util.UUID.randomUUID()}"
    put(q, 0 until 3)
    // simulate prior failed deliveries: message "1" already received twice
    InMemoryQueue.incReceive(q, "1")
    InMemoryQueue.incReceive(q, "1")
    val qn = "qds_dlq_sink"
    val sq = spark.readStream.format("graft-queue").option("queue", q)
      .option("maxReceiveCount", "2")
      .load()
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    // "1" hits receive 3 > 2 → dead-lettered, not delivered; others deliver
    val ids = spark.table(qn).select("id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("0", "2"))
    val dlq = InMemoryQueue.all(s"$q-dlq")
    assert(dlq.map(_.id) == Seq("1"))
    assert(dlq.head.body == """{"v":1}""")
  }

  test("restart from checkpoint resumes at the committed offset: exactly once") {
    val q = s"qds-restart-${java.util.UUID.randomUUID()}"
    val cp = tmpDir("qds-ckpt")
    val out = tmpDir("qds-out")
    def runOnce(): Unit = {
      val sq = spark.readStream.format("graft-queue").option("queue", q).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
    }
    put(q, 0 until 6)
    runOnce() // consumes [0, 6), commits offset 6 to the checkpoint
    put(q, 6 until 10)
    runOnce() // a NEW query instance must resume at 6, not replay [0, 6)
    val got = spark.read.parquet(out)
      .select(col("id").cast("int")).collect().map(_.getInt(0)).sorted
    assert(got.toSeq == (0 until 10), s"got ${got.toSeq}")
  }
}
