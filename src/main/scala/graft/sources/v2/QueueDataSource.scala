package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.InMemoryQueue

/** Kafka-shaped streaming connector over the queue transport:
  *
  *   spark.readStream.format("graft-queue").option("queue", name).load()
  *
  * The reference wires its queue to compute with an SQS event-source mapping
  * (template.yaml:82-86); this is that wiring as a first-class Structured
  * Streaming source. The in-memory queue is treated as an APPEND LOG —
  * exactly Kafka's model: offsets are positions in the log, a micro-batch is
  * the [start, end) slice, commits do not delete (retention is independent
  * of consumers), and replay from any retained offset is possible, which is
  * what gives checkpoint-restart its exactly-once story. `spark.read` (batch)
  * on the same format snapshots the current log.
  *
  * The log is the queue's [[graft.pipeline.QueueLog]]: length-prefixed
  * UTF-8 records in append-only segment files under the JVM's
  * `graft-queue-<uuid>` dir (in the first of `SPARK_LOCAL_DIRS`,
  * `spark.local.dir` and `java.io.tmpdir`), found by an 8-byte-per-message
  * offset index. A micro-batch reads and decodes only its own [start, end)
  * records, O(batch) however long the log, and builds its rows straight
  * from the stored bytes (`UTF8String.fromBytes`, no `String` round trip).
  * A raw lone surrogate in a body therefore reads back as `?`, as
  * `UTF8String.fromString` stores it.
  *
  * Redrive policy AT THE SOURCE (the reference's `maxReceiveCount: 5` +
  * DLQ, template.yaml:10-12), enabled by setting `maxReceiveCount` and/or
  * `dlq`: every streamed read of a message increments its receive count (a
  * failed batch that Spark re-plans after restart re-receives its messages,
  * exactly like SQS visibility-timeout redelivery); a message whose count
  * exceeds `maxReceiveCount` is moved to the `dlq` queue instead of being
  * delivered, so a poison message cannot wedge the stream forever. The
  * count is surfaced as a `receive_count` column. Batch snapshot reads
  * inspect without incrementing. When NEITHER option is set the source
  * tracks nothing — Kafka's model, and the hot path: no per-batch counting
  * walk, no per-row count lookups, `receive_count` reported as 1 per
  * delivery (restart redeliveries are then indistinguishable — configure a
  * policy if the distinction matters).
  *
  * `maxMessagesPerTrigger` bounds micro-batch admission (the Kafka
  * `maxOffsetsPerTrigger` analog) — it also isolates failures: with small
  * batches only the messages sharing a batch with the poison one accrue
  * extra receives.
  *
  * Local scope: executors see the log because local[n] shares one JVM — the
  * same reason InMemoryQueue works for the batch pipeline. A cluster swaps
  * this for the real Kafka/Kinesis connector; the query shape is identical.
  */
class QueueDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-queue"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    QueueDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new QueueSourceTable(Option(properties.get("queue")).getOrElse(
      throw new IllegalArgumentException("option 'queue' is required")))
}

object QueueDataSource {
  /** One row per message — the QueueMessage shape plus its receive count. */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("body", StringType, nullable = false),
    StructField("receive_count", IntegerType, nullable = false)))
}

/** Source-level redrive configuration (reference: maxReceiveCount 5). */
private[v2] case class RedrivePolicy(maxReceiveCount: Int, dlq: String)

private[v2] class QueueSourceTable(queueName: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft_queue($queueName)"
  override def schema(): StructType = QueueDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        val maxReceives = SourceOptions.positiveInt(options, "maxReceiveCount")
        new QueueScan(queueName,
          // Tracking is opt-in: a policy exists only when the user configured
          // some part of it, so policy-free streams pay zero bookkeeping.
          if (maxReceives.isDefined || options.containsKey("dlq"))
            Some(RedrivePolicy(maxReceives.getOrElse(5),
              Option(options.get("dlq")).getOrElse(s"$queueName-dlq")))
          else None,
          SourceOptions.positiveLong(options, "maxMessagesPerTrigger"))
      }
    }
}

private[v2] class QueueScan(queueName: String, policy: Option[RedrivePolicy],
    maxPerTrigger: Option[Long]) extends Scan {
  override def readSchema(): StructType = QueueDataSource.schema
  override def description(): String = s"graft-queue queue=$queueName"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new QueueMicroBatchStream(queueName, policy, maxPerTrigger)
  override def toBatch: Batch = new Batch {
    // Batch read = snapshot of the log at planning time; inspection only,
    // so receive counts are reported but not incremented.
    private val end = InMemoryQueue.size(queueName)
    override def planInputPartitions(): Array[InputPartition] =
      Array(QueueSlice(queueName, 0, end, policy, streaming = false))
    override def createReaderFactory(): PartitionReaderFactory =
      new QueueReaderFactory
  }
}

/** Log offset: count of messages before this position. */
private[v2] case class QueueOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private[v2] case class QueueSlice(queueName: String, start: Long, end: Long,
    policy: Option[RedrivePolicy], streaming: Boolean)
    extends InputPartition

private[v2] class QueueMicroBatchStream(queueName: String,
    policy: Option[RedrivePolicy], maxPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // AvailableNow pins the target offset at query start so the run is bounded
  // even while producers keep appending.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(InMemoryQueue.size(queueName).toLong)

  override def initialOffset(): Offset = QueueOffset(0L)

  override def latestOffset(): Offset =
    QueueOffset(availableNowCap
      .getOrElse(InMemoryQueue.size(queueName).toLong))

  // SupportsAdmissionControl surface (via SupportsTriggerAvailableNow):
  // maxMessagesPerTrigger caps each micro-batch's advance (AvailableNow
  // then runs several micro-batches until the pinned cap is reached);
  // without it the limited form delegates to the unlimited one.
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val cap = availableNowCap
      .getOrElse(InMemoryQueue.size(queueName).toLong)
    maxPerTrigger match {
      case Some(k) =>
        QueueOffset(math.min(cap, start.asInstanceOf[QueueOffset].n + k))
      case None => QueueOffset(cap)
    }
  }

  override def deserializeOffset(json: String): Offset =
    QueueOffset(json.trim.toLong)

  // offset ranges already receive-counted by THIS stream instance:
  // planInputPartitions runs several times per micro-batch (logical +
  // physical planning, then once per action executing the scan), so the
  // count dedupes on (instance, range). A query restart constructs a NEW
  // MicroBatchStream, so a replayed batch counts again — SQS redelivery —
  // while multi-action handlers and task retries within one delivery
  // cannot inflate the count.
  private val counted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[QueueOffset].n
    val e = end.asInstanceOf[QueueOffset].n
    if (e <= s) Array.empty
    else {
      // Receive counting happens at planning, once per delivery (see
      // `counted`) — and ONLY under a configured redrive policy: the
      // counting walk is O(batch) driver work per batch, so policy-free
      // streams skip it entirely. Driver-side per-message state is the
      // local stand-in for what a real broker tracks
      // (ApproximateReceiveCount).
      if (policy.isDefined && counted.add((s, e)))
        InMemoryQueue.records(queueName, s, e)
          .foreach(r => InMemoryQueue.incReceive(queueName, r.id))
      Array(QueueSlice(queueName, s, e, policy, streaming = true))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new QueueReaderFactory

  /** Kafka semantics: committing a consumer offset never deletes log data —
    * retention is a broker concern (here: process lifetime).
    */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private[v2] class QueueReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slice = partition.asInstanceOf[QueueSlice]
    // The log is append-only under this source (nothing drains), so offset
    // slicing is stable across batches; the slice reads only its records.
    val records = InMemoryQueue.records(slice.queueName, slice.start, slice.end)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      // Policy-free streamed reads skip the per-row count lookup: nothing
      // was counted at planning, so the truthful per-delivery value is 1.
      private val lookupCounts = slice.policy.isDefined || !slice.streaming
      override def next(): Boolean = {
        while (records.hasNext) {
          val r = records.next()
          // counts were recorded at batch-planning time; the reader only
          // READS them, so re-executed scans cannot inflate receives
          val id = if (lookupCounts) r.id else null
          val n = if (lookupCounts) InMemoryQueue.receiveCount(slice.queueName, id) else 1
          val dlq = slice.policy.filter(p =>
            slice.streaming && n > p.maxReceiveCount)
          if (dlq.isDefined) {
            // redrive: exceeded maxReceiveCount — dead-letter instead of
            // delivering. claimDlqMove appends exactly once even if this
            // scan executes several times for the batch.
            if (InMemoryQueue.claimDlqMove(slice.queueName, id))
              InMemoryQueue.queue(dlq.get.dlq).add(r.message)
          } else {
            // straight from the stored UTF-8 bytes, no String round trip
            cur = new GenericInternalRow(Array[Any](r.idUtf8, r.bodyUtf8, n))
            return true
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
