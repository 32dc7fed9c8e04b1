package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.{InMemoryQueue, LogRecord}

/** Kafka-shaped streaming connector over the queue transport:
  *
  *   spark.readStream.format("graft-queue").option("queue", name).load()
  *
  * The reference wires its queue to compute with an SQS event-source mapping
  * (template.yaml:82-86); this is that wiring as a Structured Streaming
  * source: a [[LogStream]] over the queue's one log, its offset a bare
  * number, `maxMessagesPerTrigger` its cap. `spark.read` snapshots the log.
  * Rows `(id, body, receive_count)` come straight from the stored UTF-8
  * bytes, so a raw lone surrogate in a body reads back as `?`.
  *
  * Redrive policy AT THE SOURCE (the reference's `maxReceiveCount: 5` + DLQ,
  * template.yaml:10-12), on when `maxReceiveCount` or `dlq` is set: each
  * streamed delivery of a message increments its receive count (a batch
  * re-planned after a restart re-receives, like SQS visibility-timeout
  * redelivery), and a message whose count exceeds `maxReceiveCount` moves
  * to the `dlq` queue instead of being delivered, so a poison message
  * cannot wedge the stream. Small batches isolate it: only the messages
  * sharing its batch accrue extra receives. Snapshots report the counts
  * without incrementing. Without a policy nothing is tracked (Kafka's
  * model, and the hot path): `receive_count` is 1 per delivery, so restart
  * redeliveries are indistinguishable. The counts and dead-letter moves
  * live in the driver JVM's `InMemoryQueue` (see [[QueueRows]]).
  */
class QueueDataSource extends LogSource("graft-queue", QueueDataSource.schema) {
  override protected def table(schema: StructType, options: CaseInsensitiveStringMap): Table = {
    val queue = SourceOptions.required(options, "queue")
    new LogTable(s"graft_queue($queue)", QueueDataSource.schema, new QueueScan(queue, _))
  }
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

private[v2] class QueueScan(queue: String, options: CaseInsensitiveStringMap)
    extends LogScan(Vector(queue), SourceOptions.positiveLong(options, "maxMessagesPerTrigger")) {
  private val policy = {
    val maxReceives = SourceOptions.positiveInt(options, "maxReceiveCount")
    if (maxReceives.isEmpty && !options.containsKey("dlq")) None
    else Some(RedrivePolicy(maxReceives.getOrElse(5), Option(options.get("dlq")).getOrElse(s"$queue-dlq")))
  }

  override def readSchema(): StructType = QueueDataSource.schema
  override def description(): String = s"graft-queue queue=$queue"
  override def bare: Boolean = true
  override def rows(streaming: Boolean): LogRows = QueueRows(queue, policy, streaming)

  /** Under a policy the driver counts a range's receives when it plans it,
    * once per (scan, range): planning runs several times per micro-batch
    * (logical and physical planning, then once per action executing the
    * scan), but a restart builds a NEW scan and stream, so a replayed batch
    * counts again — SQS redelivery.
    */
  private val counted = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
  override def streamed(from: Vector[Long], until: Vector[Long]): Unit =
    if (policy.isDefined && until(0) > from(0) && counted.add((from(0), until(0))))
      InMemoryQueue.records(queue, from(0), until(0)).foreach(r => InMemoryQueue.incReceive(queue, r.id))
}

/** The queue's rows and, in the read task, its redrive hook: the one read
  * that looks up state in the driver JVM. It only READS the counts recorded
  * at planning, and claims each dead-letter move once however often a scan
  * runs.
  */
private[v2] case class QueueRows(queue: String, policy: Option[RedrivePolicy], streaming: Boolean)
    extends LogRows {
  private def row(r: LogRecord, receives: Int): InternalRow =
    new GenericInternalRow(Array[Any](r.idUtf8, r.bodyUtf8, receives))

  override def apply(slice: LogSlice): Iterator[InternalRow] = policy match {
    case _ if !streaming => slice.records.map(r => row(r, InMemoryQueue.receiveCount(queue, r.id)))
    case None => slice.records.map(row(_, 1))
    case Some(p) => slice.records.flatMap { r =>
      val n = InMemoryQueue.receiveCount(queue, r.id)
      if (n <= p.maxReceiveCount) Some(row(r, n))
      else {
        if (InMemoryQueue.claimDlqMove(queue, r.id)) InMemoryQueue.queue(p.dlq).add(r.message)
        None
      }
    }
  }
}
