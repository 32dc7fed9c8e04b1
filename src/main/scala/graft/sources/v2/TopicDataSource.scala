package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
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
  * contract, and the reason topics scale: the source's offset is a MAP
  * partition → position (serialized as Kafka-style JSON `{"0":12,"3":7}`),
  * each micro-batch is the union of per-partition [start, end) slices, and
  * `planInputPartitions` emits ONE InputPartition PER topic partition — so
  * read parallelism equals partition count, the property that carries a
  * 100 TB stream. Columns: (partition, offset, key, body); offset is the
  * record's position in its partition log, so (partition, offset) is a
  * stable unique cursor.
  *
  * Admission control (`maxMessagesPerTrigger`, the `maxOffsetsPerTrigger`
  * analog) caps TOTAL records per micro-batch, allocated over partitions in
  * partition-id order (greedy; a deeply-lagged low partition can starve
  * higher ones within a batch — acceptable for a local shim where every
  * batch eventually drains, documented here so nobody mistakes it for
  * Kafka's proportional-to-lag allocation). Commit retains the log
  * (retention is a broker concern); `spark.read` (batch) snapshots all
  * partitions, again one task per partition. Redrive policy stays with
  * `graft-queue` — brokers don't track receive counts, queues do.
  *
  * Local scope: same single-JVM caveat as [[QueueDataSource]]; a cluster
  * swaps this for the real Kafka connector with an identical query shape.
  */
class TopicDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-topic"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TopicDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    def req(k: String): String = Option(properties.get(k)).getOrElse(
      throw new IllegalArgumentException(s"option '$k' is required"))
    new TopicSourceTable(req("topic"), req("partitions").toInt)
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

private[v2] class TopicSourceTable(topic: String, nPartitions: Int)
    extends Table with SupportsRead {
  require(nPartitions > 0, "partitions must be positive")
  override def name(): String = s"graft_topic($topic[$nPartitions])"
  override def schema(): StructType = TopicDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new TopicScan(topic, nPartitions,
        SourceOptions.positiveLong(options, "maxMessagesPerTrigger"))
    }
}

private[v2] class TopicScan(topic: String, nPartitions: Int,
    maxPerTrigger: Option[Long]) extends Scan {
  override def readSchema(): StructType = TopicDataSource.schema
  override def description(): String =
    s"graft-topic topic=$topic partitions=$nPartitions"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TopicMicroBatchStream(topic, nPartitions, maxPerTrigger)
  override def toBatch: Batch = new Batch {
    // Snapshot at planning time, one task per partition.
    private val ends = TopicOffset.sizes(topic, nPartitions)
    override def planInputPartitions(): Array[InputPartition] =
      (0 until nPartitions).map(p =>
        TopicSlice(topic, p, 0L, ends.offsets(p)): InputPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new TopicReaderFactory
  }
}

/** Per-partition log positions, serialized Kafka-style. */
private[v2] case class TopicOffset(offsets: Map[Int, Long]) extends Offset {
  override def json(): String = offsets.toSeq.sortBy(_._1)
    .map { case (p, n) => s""""$p":$n""" }
    .mkString("{", ",", "}")
}

private[v2] object TopicOffset {
  def zero(nPartitions: Int): TopicOffset =
    TopicOffset((0 until nPartitions).map(_ -> 0L).toMap)
  def sizes(topic: String, nPartitions: Int): TopicOffset =
    TopicOffset((0 until nPartitions).map(p =>
      p -> InMemoryQueue.size(TopicDataSource.queueName(topic, p)).toLong)
      .toMap)
  def parse(json: String): TopicOffset =
    TopicOffset("\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
}

private[v2] case class TopicSlice(topic: String, partition: Int,
    start: Long, end: Long) extends InputPartition

private[v2] class TopicMicroBatchStream(topic: String, nPartitions: Int,
    maxPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  @volatile private var availableNowCap: Option[TopicOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(TopicOffset.sizes(topic, nPartitions))

  private def cap: TopicOffset =
    availableNowCap.getOrElse(TopicOffset.sizes(topic, nPartitions))

  override def initialOffset(): Offset = TopicOffset.zero(nPartitions)

  override def latestOffset(): Offset = cap

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val s = start.asInstanceOf[TopicOffset].offsets
    val end = cap.offsets
    maxPerTrigger match {
      case Some(k) =>
        // greedy allocation in partition-id order (see class scaladoc)
        var remaining = k
        TopicOffset((0 until nPartitions).map { p =>
          val from = s.getOrElse(p, 0L)
          val adv = math.min(end.getOrElse(p, from) - from, remaining)
          remaining -= adv
          p -> (from + adv)
        }.toMap)
      case None => TopicOffset(end)
    }
  }

  override def deserializeOffset(json: String): Offset =
    TopicOffset.parse(json)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TopicOffset].offsets
    val e = end.asInstanceOf[TopicOffset].offsets
    (0 until nPartitions).flatMap { p =>
      val (from, to) = (s.getOrElse(p, 0L), e.getOrElse(p, 0L))
      if (to > from) Some(TopicSlice(topic, p, from, to): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TopicReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[v2] class TopicReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val slice = partition.asInstanceOf[TopicSlice]
    val records = InMemoryQueue.records(
      TopicDataSource.queueName(slice.topic, slice.partition),
      slice.start, slice.end)
    new PartitionReader[InternalRow] {
      private var pos = slice.start - 1
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (records.hasNext) {
          val r = records.next()
          pos += 1
          cur = new GenericInternalRow(Array[Any](slice.partition, pos,
            r.idUtf8, r.bodyUtf8))
          true
        } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
