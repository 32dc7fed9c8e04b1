package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.{Chunk, InMemoryQueue, LogRecord}

/** The one read stream under `graft-queue`, `graft-topic` and `graft-kafka`:
  * N named append logs read as a partitioned commit log, Kafka's model.
  * Partition `p` is the [[graft.pipeline.QueueLog]] `logs(p)`; a queue is a
  * topic with one partition. A format ([[LogScan]]) adds its log names, row
  * projection, option names and offset dialect. For all three:
  *
  *  - Offsets: position `p` counts the records of log `p` before it, and a
  *    micro-batch is the per-partition slice [start, end). Commit deletes
  *    nothing (retention is the broker's concern, here the process
  *    lifetime), so a restart replays from any committed offset. The JSON
  *    is `{"0":12,"1":7}`, or a bare `12` where [[LogScan.bare]].
  *  - Admission: a cap (`maxMessagesPerTrigger`, or Kafka's
  *    `maxOffsetsPerTrigger`) bounds a micro-batch's records in total,
  *    handed out greedily in partition order: a lagged low partition can
  *    starve higher ones within a batch (not Kafka's allocation in
  *    proportion to lag). Without a cap a batch takes all there is.
  *  - AvailableNow pins the end offset to the log sizes at query start, so
  *    the run ends while producers keep appending.
  *  - Slicing: one read task per partition with records in the range, cut
  *    further if the format asks ([[LogScan.split]]). The driver plans each
  *    slice as the [[Chunk]]s of segment files that hold it, and the slice
  *    carries them: a read task plans nothing and looks up no log, and needs
  *    only those files (a deleted one fails the read, naming it). Only the
  *    queue's redrive hook looks up state in the driver JVM's
  *    `InMemoryQueue`.
  *  - `spark.read` snapshots the logs when the batch is built, by default
  *    each from its start to its size then.
  */
private[v2] class LogStream(scan: LogScan)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val initial = scan.offset(scan.initial)
  @volatile private var pinned: Option[Vector[Long]] = None

  private def cap: Vector[Long] = pinned.getOrElse(scan.sizes)
  private def positions(offset: Offset): Vector[Long] = offset.asInstanceOf[LogOffset].positions

  override def prepareForTriggerAvailableNow(): Unit = pinned = Some(scan.sizes)
  override def initialOffset(): Offset = initial
  override def latestOffset(): Offset = scan.offset(cap)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    scan.offset(scan.maxPerTrigger.fold(cap) { k =>
      var left = k
      positions(start).zip(cap).map { case (from, to) =>
        val advance = math.min(to - from, left)
        left -= advance
        from + advance
      }
    })
  override def deserializeOffset(json: String): Offset = scan.offset(json)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    scan.streamed(positions(start), positions(end))
    scan.plan(positions(start), positions(end))
  }
  override def createReaderFactory(): PartitionReaderFactory = scan.rows(streaming = true)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A format's scan of `logs` (see [[LogStream]]). */
private[v2] abstract class LogScan(val logs: IndexedSeq[String], val maxPerTrigger: Option[Long])
    extends Scan {
  /** The rows of a slice; `streaming` is false for a batch snapshot. */
  def rows(streaming: Boolean): LogRows
  def bare: Boolean = false
  def initial: Vector[Long] = Vector.fill(logs.size)(0L)
  /** The [from, until) positions a batch read snapshots. */
  def snapshot: (Vector[Long], Vector[Long]) = (initial, sizes)
  def split(ranges: Seq[LogRange]): Seq[LogRange] = ranges
  /** A micro-batch's [from, until) is being planned (the queue's redrive hook). */
  def streamed(from: Vector[Long], until: Vector[Long]): Unit = ()

  def size(p: Int): Long = InMemoryQueue.size(logs(p)).toLong
  def sizes: Vector[Long] = Vector.tabulate(logs.size)(size)

  def offset(positions: Vector[Long]): LogOffset = new LogOffset(positions, bare)
  def offset(json: String): LogOffset =
    if (bare) offset(Vector(json.trim.toLong))
    else {
      val m = "\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(json)
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
      offset(Vector.tabulate(logs.size)(m.getOrElse(_, 0L)))
    }

  def plan(from: Vector[Long], until: Vector[Long]): Array[InputPartition] =
    split(logs.indices.collect { case p if until(p) > from(p) => LogRange(p, from(p), until(p)) })
      .map(r => LogSlice(r.partition, r.from,
        InMemoryQueue.queue(logs(r.partition)).view.chunks(r.from, r.until)): InputPartition)
      .toArray

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = new LogStream(this)
  override def toBatch: Batch = new Batch {
    private val (from, until) = snapshot
    override def planInputPartitions(): Array[InputPartition] = plan(from, until)
    override def createReaderFactory(): PartitionReaderFactory = rows(streaming = false)
  }
}

/** A log format's provider: its name, read schema and table. */
abstract class LogSource(name: String, readSchema: StructType)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = name
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = readSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = table(schema, new CaseInsensitiveStringMap(properties))
  protected def table(schema: StructType, options: CaseInsensitiveStringMap): Table
}

private[v2] class LogTable(tableName: String, tableSchema: StructType,
    scan: CaseInsensitiveStringMap => Scan) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => scan(options)
}

/** Equal to another offset when its JSON is, as `Offset.equals` has it. */
private[v2] final class LogOffset(val positions: Vector[Long], bare: Boolean) extends Offset {
  override def json(): String =
    if (bare) positions.head.toString
    else positions.zipWithIndex.map { case (n, p) => s""""$p":$n""" }.mkString("{", ",", "}")
}

private[v2] case class LogRange(partition: Int, from: Long, until: Long)

/** Partition `partition`'s records from offset `start` on, as the chunks
  * the driver planned for them.
  */
private[v2] case class LogSlice(partition: Int, start: Long, chunks: Vector[Chunk])
    extends InputPartition {
  def records: Iterator[LogRecord] = chunks.iterator.flatMap(_.records)
}

/** A format's rows for one slice, built in the read task. */
private[v2] trait LogRows extends PartitionReaderFactory {
  def apply(slice: LogSlice): Iterator[InternalRow]

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = apply(partition.asInstanceOf[LogSlice])
      private var cur: InternalRow = _
      override def next(): Boolean = it.hasNext && { cur = it.next(); true }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
}
