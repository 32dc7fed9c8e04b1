package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{BatchSendResult, QueueClient, QueueMessage}

/** Timing decorator on the program's `QueueClient` seam. Every `send` runs
  * inside a Spark task, so the figures go to the process-wide [[Counters]]
  * under `prefix`.
  */
final class TimedQueueClient(inner: QueueClient, prefix: String)
    extends QueueClient {
  override def maxBatchSize: Int = inner.maxBatchSize
  override def send(batch: Seq[QueueMessage]): BatchSendResult = {
    val t0 = System.nanoTime()
    val r = inner.send(batch)
    Counters.add(s"$prefix.send_ns", System.nanoTime() - t0)
    Counters.add(s"$prefix.send_calls", 1)
    Counters.add(s"$prefix.attempted_msgs", batch.size.toLong)
    r
  }
}

/** Task- and job-level counters from Spark's listener bus, split by the
  * layer the driver thread was in when the job started. The layer travels
  * as a local property, which Spark copies into job and stage properties
  * (and into the threads a streaming query starts).
  */
final class TaskProbe extends SparkListener {
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val adders = new ConcurrentHashMap[String, LongAdder]()

  private def add(layer: String, k: String, v: Long): Unit =
    adders.computeIfAbsent(s"$layer.$k", _ => new LongAdder).add(v)

  private def layerOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(TaskProbe.Key))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add(layerOf(e.properties), "jobs", 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageLayer.put(e.stageInfo.stageId, layerOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.getOrDefault(e.stageId, "other")
    add(layer, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(layer, "executor_cpu_ns", m.executorCpuTime)
    }
  }

  def get(layer: String, k: String): Long =
    Option(adders.get(s"$layer.$k")).map(_.sum).getOrElse(0L)

  def reset(): Unit = adders.values().asScala.foreach(_.reset())
}

object TaskProbe {
  val Key = "perfbench.layer"

  /** Runs `body` with the layer property set on this thread. */
  def inLayer[T](sc: SparkContext, layer: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, layer)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** Counts query executions and keeps the rows and bytes the publisher
  * reports through its `observe()` metric.
  */
final class QueryProbe extends QueryExecutionListener {
  val executions = new LongAdder
  @volatile var published: Option[(Long, Long)] = None
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    executions.increment()
    qe.observedMetrics.get(graft.pipeline.Publisher.ObservationName).foreach { r =>
      published = Some((r.getAs[Long]("attempted_rows"), r.getAs[Long]("attempted_bytes")))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    executions.increment()
}

/** Collects every micro-batch progress report of the streaming queries. */
final class StreamProbe extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** JVM-level readings: collector time, heap after a forced collection, and
  * Spark's whole-stage codegen compile count.
  */
object Jvm {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Heap in use right after a full collection, in MB: what each heap pool
    * held when that collection ended, so allocations made by other threads
    * after it do not count.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def waitListeners(spark: SparkSession): Unit =
    org.apache.spark.sql.GraftSqlShim.waitListenerBusEmpty(spark)
}
