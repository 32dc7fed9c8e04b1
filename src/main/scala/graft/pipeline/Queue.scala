package graft.pipeline

import java.util.concurrent.ConcurrentHashMap

/** One message on the wire: record id + its JSON serialization.
  * Reference analog: an SQS `SendMessageBatchRequestEntry`
  * (cmd/parquetgo-record-processor/handler.go:60-69).
  */
case class QueueMessage(id: String, body: String)

/** Per-batch send outcome — ids that failed, mirroring SQS partial-failure
  * reporting (handler.go:89-97).
  */
case class BatchSendResult(failedIds: Seq[String])

/** Transport seam. The reference talks to SQS through a narrow client
  * interface (handler.go:39-46); we keep the same seam so tests use the
  * in-memory impl and a deployment swaps in an SQS/Kinesis client built
  * per-partition. `maxBatchSize` defaults to the AWS SendMessageBatch hard
  * limit of 10 (handler.go:23-26).
  */
trait QueueClient extends Serializable {
  def send(batch: Seq[QueueMessage]): BatchSendResult
  def maxBatchSize: Int = 10
}

/** JVM-local queue registry. In `local[n]` executors share the driver JVM, so
  * a static map gives tests a faithful queue; on a real cluster this class is
  * test-only and the `QueueClient` impl would hold a lazily-initialized SQS
  * client instead (never serialize live connections).
  *
  * Each queue is a [[QueueLog]]: the messages sit in append-only segment
  * files under the JVM's `graft-queue-<uuid>` dir (see [[QueueLog]] for the
  * layout and where the dir lives), and the heap holds only an 8-byte
  * offset per message, plus the receive counts and dead-letter moves of a
  * redrive policy when one is used. `size` is O(1) and `slice` decodes only
  * its own records. `clear` deletes the queue's segments. Bodies are stored
  * as UTF-8, so a raw lone surrogate in a body comes back as `?`.
  */
object InMemoryQueue {
  private val queues = new ConcurrentHashMap[String, QueueLog]()
  // per-queue message receive counts — the SQS ApproximateReceiveCount
  // analog the streaming source's redrive policy is driven by
  private val receives =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, Integer]]()

  def queue(name: String): QueueLog = queues.computeIfAbsent(name, _ => new QueueLog)

  def size(name: String): Int = queue(name).size

  def clear(name: String): Unit = {
    Option(queues.remove(name)).foreach(_.delete())
    receives.remove(name)
    dlqMoves.remove(name)
  }

  def all(name: String): Seq[QueueMessage] = queue(name).view.messages

  /** The [start, end) log slice: reads and decodes only those records, so
    * a micro-batch costs O(batch), not O(end). Offsets past Int.MaxValue
    * fail loudly instead of wrapping.
    */
  def slice(name: String, start: Long, end: Long): Seq[QueueMessage] =
    records(name, start, end).map(_.message).toVector

  /** [[slice]] as raw records, for readers that build rows from the stored
    * UTF-8 bytes.
    */
  def records(name: String, start: Long, end: Long): Iterator[LogRecord] =
    queue(name).view.records(start, end)

  /** Record one receive of `id` on `name`; returns the new count. Counts
    * survive consumer restarts (process-lifetime), which is what lets a
    * redrive policy see "this message has failed delivery N times".
    */
  def incReceive(name: String, id: String): Int =
    receives.computeIfAbsent(name, _ => new ConcurrentHashMap[String, Integer]())
      .merge(id, Integer.valueOf(1),
        (a, b) => Integer.valueOf(a.intValue + b.intValue)).intValue

  def receiveCount(name: String, id: String): Int =
    Option(receives.get(name)).flatMap(m => Option(m.get(id)))
      .map(_.intValue).getOrElse(0)

  // (queue, id) pairs already moved to a DLQ — putIfAbsent makes the move
  // idempotent even when a scan executes several times for one batch
  private val dlqMoves =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, java.lang.Boolean]]()

  /** True exactly once per (name, id): the caller that wins performs the
    * dead-letter append; re-executions and retries see false.
    */
  def claimDlqMove(name: String, id: String): Boolean =
    dlqMoves.computeIfAbsent(name,
        _ => new ConcurrentHashMap[String, java.lang.Boolean]())
      .putIfAbsent(id, java.lang.Boolean.TRUE) == null
}

/** Accept-everything sink that never stores: the dry-run / throughput-
  * measurement client (compute cost of serialize+batch+send without queue
  * memory growth). Batch-size contract still enforced.
  */
class DiscardQueueClient extends QueueClient {
  override def send(batch: Seq[QueueMessage]): BatchSendResult = {
    require(batch.size <= maxBatchSize,
      s"batch of ${batch.size} exceeds maxBatchSize=$maxBatchSize")
    BatchSendResult(Seq.empty)
  }
}

/** In-memory client with deterministic fault injection: message ids in
  * `failFirstAttempts` fail until they have been attempted that many times
  * (exercises the retry path); ids in `poisonIds` always fail (exercises the
  * dead-letter path, reference redrive `maxReceiveCount: 5`,
  * template.yaml:10-12). A null id never fails. The accepted messages of
  * one `send` go to the queue in one append.
  */
class InMemoryQueueClient(
    queueName: String,
    failFirstAttempts: Map[String, Int] = Map.empty,
    poisonIds: Set[String] = Set.empty)
  extends QueueClient {

  // keyed by Option(id): a ConcurrentHashMap takes no null key
  private val attempts = new ConcurrentHashMap[Option[String], Integer]()

  override def send(batch: Seq[QueueMessage]): BatchSendResult = {
    require(batch.size <= maxBatchSize,
      s"batch of ${batch.size} exceeds maxBatchSize=$maxBatchSize")
    val failed = batch.filter { m =>
      val n = attempts.merge(Option(m.id), Integer.valueOf(1), (a, b) =>
        Integer.valueOf(a.intValue + b.intValue)).intValue
      m.id != null &&
        (poisonIds.contains(m.id) || n <= failFirstAttempts.getOrElse(m.id, 0))
    }
    val ok = batch.filterNot(m => failed.exists(_.id == m.id))
    InMemoryQueue.queue(queueName).append(ok)
    BatchSendResult(failed.map(_.id))
  }
}
