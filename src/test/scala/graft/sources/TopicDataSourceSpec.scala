package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.v2.TopicDataSource

/** The partitioned `format("graft-topic")` connector: per-partition offset
  * maps, one read task per topic partition, per-key log order, admission
  * control, and batch snapshots.
  */
class TopicDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def topicName = s"tds-${java.util.UUID.randomUUID()}"

  private def publishInts(topic: String, nParts: Int, ids: Range): Unit =
    TopicDataSource.publish(topic, nParts,
      ids.iterator.map(i => (i.toString, s"""{"v":$i}""")), _.toInt)

  test("every record lands on its key's partition at its log position") {
    val topic = topicName
    publishInts(topic, 3, 0 until 31)
    val snap = spark.read.format("graft-topic")
      .option("topic", topic).option("partitions", "3").load()
      .select("partition", "offset", "key")
      .as[(Int, Long, String)].collect()
    assert(snap.length == 31)
    snap.foreach { case (p, _, key) => assert(p == key.toInt % 3) }
    // within each partition, offsets are 0..n-1 and keys ascend (publish
    // order preserved per log)
    snap.groupBy(_._1).foreach { case (_, rows) =>
      val byOff = rows.sortBy(_._2)
      assert(byOff.map(_._2).toSeq == rows.indices.map(_.toLong))
      assert(byOff.map(_._3.toInt).toSeq == byOff.map(_._3.toInt).sorted.toSeq)
    }
    TopicDataSource.clear(topic, 3)
  }

  test("streamed read runs one task per topic partition") {
    val topic = topicName
    publishInts(topic, 4, 0 until 40)
    val qn = "tds_par_sink"
    val sq = spark.readStream.format("graft-topic")
      .option("topic", topic).option("partitions", "4").load()
      .select(col("partition"), expr("spark_partition_id()").as("task"))
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val got = spark.table(qn).distinct()
      .as[(Int, Int)].collect()
    // each topic partition maps to exactly one scan task and vice versa
    assert(got.map(_._1).distinct.length == 4)
    assert(got.groupBy(_._1).forall(_._2.length == 1))
    assert(got.groupBy(_._2).forall(_._2.length == 1))
    TopicDataSource.clear(topic, 4)
  }

  test("exactly-once across micro-batches; later appends arrive later") {
    val topic = topicName
    publishInts(topic, 2, 0 until 10)
    val qn = "tds_incr_sink"
    val stream = spark.readStream.format("graft-topic")
      .option("topic", topic).option("partitions", "2").load()
    val sq = stream.writeStream.format("memory").queryName(qn)
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      sq.processAllAvailable()
      assert(spark.table(qn).count() == 10)
      publishInts(topic, 2, 10 until 17)
      sq.processAllAvailable()
      val got = spark.table(qn).select(col("key").cast("int"))
        .collect().map(_.getInt(0)).sorted
      assert(got.toSeq == (0 until 17))
    } finally sq.stop()
    TopicDataSource.clear(topic, 2)
  }

  test("maxMessagesPerTrigger caps the TOTAL batch across partitions") {
    val topic = topicName
    publishInts(topic, 4, 0 until 20)
    val qn = "tds_admit_sink"
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val sq = spark.readStream.format("graft-topic")
      .option("topic", topic).option("partitions", "4")
      .option("maxMessagesPerTrigger", "6").load()
      .writeStream.queryName(qn)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += b.count() }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    assert(batchSizes.sum == 20)
    assert(batchSizes.forall(_ <= 6), s"batches: $batchSizes")
    assert(batchSizes.length >= 4) // ceil(20/6)
    TopicDataSource.clear(topic, 4)
  }

  test("non-positive maxMessagesPerTrigger fails naming the option") {
    val topic = topicName
    publishInts(topic, 2, 0 until 6)
    val e = streamArgumentError {
      spark.readStream.format("graft-topic")
        .option("topic", topic).option("partitions", "2")
        .option("maxMessagesPerTrigger", "0").load()
        .writeStream.format("memory").queryName("tds_badopt_sink")
        .trigger(Trigger.AvailableNow()).start()
    }
    assert(e.getMessage.contains("maxMessagesPerTrigger"))
    TopicDataSource.clear(topic, 2)
  }

  test("checkpoint restart resumes from the committed per-partition offsets") {
    val topic = topicName
    val cp = tmpDir("tds-ckpt-")
    publishInts(topic, 3, 0 until 9)
    // foreachBatch (unlike the memory sink) supports checkpoint recovery
    def drain(): Seq[Int] = {
      val got = scala.collection.mutable.ArrayBuffer[Int]()
      val sq = spark.readStream.format("graft-topic")
        .option("topic", topic).option("partitions", "3").load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val keys = b.select(col("key").cast("int"))
            .collect().map(_.getInt(0))
          got.synchronized { got ++= keys }; ()
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      got.sorted.toSeq
    }
    assert(drain() == (0 until 9))
    publishInts(topic, 3, 9 until 14)
    // restart from the same checkpoint: only the NEW records flow
    assert(drain() == (9 until 14))
    TopicDataSource.clear(topic, 3)
  }

  test("offset JSON round-trips through the Kafka-style map form") {
    val topic = topicName
    publishInts(topic, 2, 0 until 5)
    // drive a tiny stream so an offset log is written, then parse it back
    val cp = tmpDir("tds-off-")
    val sq = spark.readStream.format("graft-topic")
      .option("topic", topic).option("partitions", "2").load()
      .writeStream.format("memory").queryName("tds_off_sink")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val offsetFile = new java.io.File(s"$cp/offsets").listFiles()
      .filter(f => f.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    val txt = new String(
      java.nio.file.Files.readAllBytes(offsetFile.toPath))
    val line = txt.linesIterator.toSeq.last
    // {"0":3,"1":2} — keys 0,1 with sizes matching the shard split
    assert(line.contains("\"0\":") && line.contains("\"1\":"))
    TopicDataSource.clear(topic, 2)
  }

  test("missing options fail at plan time with a clear message") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-topic").option("topic", "t").load().count()
    }
    assert(e.getMessage.contains("partitions"))
  }
}
