package graft.sources

import java.nio.file.Files

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.pipeline.{InMemoryQueue, QueueMessage}
import graft.sources.v2.TopicDataSource

/** The one log stream under `graft-queue`, `graft-topic` and `graft-kafka`:
  * option checks, and read tasks that walk the chunks the driver planned.
  */
class LogStreamSpec extends SparkSpec {

  private def fresh(prefix: String) = s"$prefix-${java.util.UUID.randomUUID()}"

  private def publishInts(topic: String, nParts: Int, ids: Range): Unit =
    TopicDataSource.publish(topic, nParts,
      ids.iterator.map(i => (i.toString, s"""{"v":$i}""")), _.toInt)

  test("a non-numeric or non-positive partitions or minPartitions fails naming the option") {
    val topic = fresh("ls-opt")
    publishInts(topic, 2, 0 until 4)
    Seq(
      ("graft-topic", Map("topic" -> topic, "partitions" -> "abc"), "partitions"),
      ("graft-topic", Map("topic" -> topic, "partitions" -> "0"), "partitions"),
      ("graft-kafka", Map("subscribe" -> topic, "partitions" -> "abc"), "partitions"),
      ("graft-kafka", Map("subscribe" -> topic, "partitions" -> "0"), "partitions"),
      ("graft-kafka", Map("subscribe" -> topic, "partitions" -> "2", "minPartitions" -> "0"),
        "minPartitions")
    ).foreach { case (format, options, key) =>
      val e = intercept[IllegalArgumentException] {
        spark.read.format(format).options(options).load().count()
      }
      assert(e.getMessage.contains(s"option '$key'"), s"$format $options: ${e.getMessage}")
    }
    TopicDataSource.clear(topic, 2)
  }

  test("graft-topic and graft-kafka micro-batches over logs of N messages decode only their own slices") {
    val n = 2000
    Seq(
      ("graft-topic", Map("maxMessagesPerTrigger" -> "200")),
      ("graft-kafka", Map("maxOffsetsPerTrigger" -> "200", "startingOffsets" -> "earliest"))
    ).foreach { case (format, options) =>
      val topic = fresh("ls-decode")
      publishInts(topic, 4, 0 until n)
      val logs = (0 until 4).map(p => InMemoryQueue.queue(TopicDataSource.queueName(topic, p)))
      def decoded = logs.map(_.recordsDecoded).sum
      assert(decoded === 0L, format)
      val sink = s"ls_decode_sink_${format.stripPrefix("graft-")}"
      val sq = spark.readStream.format(format)
        .option(if (format == "graft-topic") "topic" else "subscribe", topic)
        .option("partitions", "4").options(options).load()
        .writeStream.format("memory").queryName(sink)
        .trigger(Trigger.AvailableNow()).start()
      assert(sq.awaitTermination(60000L), format)
      assert(sq.recentProgress.count(_.numInputRows > 0) === 10, format)
      assert(spark.table(sink).count() === n.toLong, format)
      // each of the ten batches decoded its 200 records, and nothing else
      assert(decoded === n.toLong, format)
      TopicDataSource.clear(topic, 4)
    }
  }

  test("a graft-queue micro-batch whose segment file is deleted after planning fails naming the file") {
    val q = fresh("ls-gone")
    (0 until 50).grouped(10).foreach(ids =>
      InMemoryQueue.queue(q).append(ids.map(i => QueueMessage(i.toString, s"""{"v":$i}"""))))
    val files = InMemoryQueue.queue(q).segmentFiles
    assert(files.nonEmpty)
    var failure: Option[SparkException] = None
    val sq = spark.readStream.format("graft-queue").option("queue", q).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        // the batch's slices were planned before the handler runs
        files.foreach(Files.delete)
        failure = Some(intercept[SparkException](b.count()))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(sq.awaitTermination(60000L))
    assert(failure.exists(_.getMessage.contains(files.head.toString)), failure)
    InMemoryQueue.clear(q)
  }
}
