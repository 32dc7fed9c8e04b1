package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.{InMemoryQueue, QueueMessage}

/** PARTITIONED Kafka-shaped streaming source — the multi-partition topic
  * shape `graft-queue` deliberately omits:
  *
  *   spark.readStream.format("graft-topic")
  *     .option("topic", name).option("partitions", "4").load()
  *
  * A topic is N independent append logs (queues named `topic#p`); a record's
  * key decides its partition at publish time, so per-key order is total
  * while the topic as a whole is only partially ordered — exactly Kafka's
  * contract, and the reason topics scale. It is read as a [[LogStream]]
  * over those N logs, so read parallelism equals partition count;
  * `maxMessagesPerTrigger` caps the TOTAL records of a micro-batch. Columns:
  * (partition, offset, key, body); (partition, offset) is a stable unique
  * cursor. Redrive policy stays with `graft-queue` — brokers don't track
  * receive counts, queues do.
  */
class TopicDataSource extends LogSource("graft-topic", TopicDataSource.schema) {
  override protected def table(schema: StructType, options: CaseInsensitiveStringMap): Table = {
    val topic = SourceOptions.required(options, "topic")
    val n = SourceOptions.partitions(options)
    new LogTable(s"graft_topic($topic[$n])", TopicDataSource.schema, new TopicScan(topic, n, _))
  }
}

object TopicDataSource {
  val schema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("body", StringType, nullable = false)))

  /** The backing queue of one topic partition. */
  def queueName(topic: String, partition: Int): String = s"$topic#$partition"

  private[v2] def logs(topic: String, nPartitions: Int): IndexedSeq[String] =
    (0 until nPartitions).map(queueName(topic, _))

  /** Publish keyed records; `shard(key)` (mod nPartitions, sign-safe)
    * picks the partition, so all records of one key land on one log in
    * publish order — the per-key total order Kafka guarantees.
    */
  def publish(topic: String, nPartitions: Int,
      rows: IterableOnce[(String, String)], shard: String => Int): Unit =
    rows.iterator.foreach { case (key, body) =>
      val p = ((shard(key) % nPartitions) + nPartitions) % nPartitions
      InMemoryQueue.queue(queueName(topic, p)).add(QueueMessage(key, body))
    }

  /** Drop all partition logs of a topic (sweep hygiene — the queue registry
    * is a process-lifetime static map).
    */
  def clear(topic: String, nPartitions: Int): Unit =
    (0 until nPartitions).foreach(p =>
      InMemoryQueue.clear(queueName(topic, p)))
}

private[v2] class TopicScan(topic: String, nPartitions: Int, options: CaseInsensitiveStringMap)
    extends LogScan(TopicDataSource.logs(topic, nPartitions),
      SourceOptions.positiveLong(options, "maxMessagesPerTrigger")) {
  override def readSchema(): StructType = TopicDataSource.schema
  override def description(): String = s"graft-topic topic=$topic partitions=$nPartitions"
  override def rows(streaming: Boolean): LogRows = TopicRows
}

private[v2] object TopicRows extends LogRows {
  override def apply(slice: LogSlice): Iterator[InternalRow] =
    slice.records.zipWithIndex.map { case (r, i) =>
      new GenericInternalRow(Array[Any](slice.partition, slice.start + i, r.idUtf8, r.bodyUtf8))
    }
}
