package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.{InMemoryQueue, QueueMessage}

/** Kafka-API shim over the partitioned topic source — the thin
  * `format("graft-kafka")` alias that makes the engine's streaming entry
  * point drop-in against Kafka-spec jobs:
  *
  *   spark.readStream.format("graft-kafka")
  *     .option("subscribe", topic).option("partitions", "4")
  *     .option("startingOffsets", """{"t":{"0":5,"1":-2}}""").load()
  *
  * It reads a topic's logs through the same [[LogStream]] as
  * [[TopicDataSource]] and adds the Kafka-SPEC surface:
  *
  *  - the Kafka source SCHEMA: (key BINARY, value BINARY, topic,
  *    partition, offset, timestamp, timestampType) — a job written against
  *    the real connector selects `CAST(value AS STRING)` unchanged;
  *  - `startingOffsets` / `endingOffsets` JSON semantics: `"earliest"`,
  *    `"latest"`, or `{"<topic>":{"<p>":<off>}}` with Kafka's sentinels
  *    -2 = earliest and -1 = latest; partitions absent from the JSON take
  *    the surface's default (streaming start: latest; batch start:
  *    earliest; batch end: latest — the connector's own fallbacks).
  *    Streaming reads ignore `endingOffsets`, exactly like Kafka;
  *  - `maxOffsetsPerTrigger` as the admission-cap name (the topic
  *    source's `maxMessagesPerTrigger` under its Kafka-spec alias);
  *  - `minPartitions` (see `KafkaShimScan.split`).
  *
  * The `timestamp` column is a DETERMINISTIC synthetic stamp (offset
  * milliseconds since epoch; the local registry stores no broker time)
  * with timestampType = 0 (CreateTime) — documented so nobody windows on
  * it expecting wall-clock. A cluster swaps in the real Kafka connector
  * with an IDENTICAL query shape — that swap being a one-line format
  * change is the point of this shim.
  */
class KafkaShimDataSource extends LogSource("graft-kafka", KafkaShim.schema) {
  override protected def table(schema: StructType, options: CaseInsensitiveStringMap): Table = {
    // reads name the topic `subscribe`, writes name it `topic` — the
    // Kafka connector's own split; `schema` is the Kafka column set for
    // reads and the incoming frame's shape for writes
    val topic = Option(options.get("subscribe"))
      .orElse(Option(options.get("topic"))).getOrElse(
        throw new IllegalArgumentException(
          "option 'subscribe' (read) or 'topic' (write) is required"))
    new KafkaShimTable(topic, SourceOptions.partitions(options), schema)
  }
}

object KafkaShim {
  /** The Kafka source's own column set, verbatim. */
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = false),
    StructField("value", BinaryType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("timestampType", IntegerType, nullable = false)))

  /** Parse a Kafka offsets JSON (`{"topic":{"0":23,"1":-1}}`) into
    * topic → partition → offset, sentinels passed through raw.
    */
  def parseOffsetsJson(s: String): Map[String, Map[Int, Long]] = {
    val block = """"([^"]+)"\s*:\s*\{([^}]*)\}""".r
    val pair = """"(\d+)"\s*:\s*(-?\d+)""".r
    block.findAllMatchIn(s).map { m =>
      m.group(1) -> pair.findAllMatchIn(m.group(2))
        .map(x => x.group(1).toInt -> x.group(2).toLong).toMap
    }.toMap
  }

  /** Per-partition positions → the Kafka offsets JSON shape (the
    * round-trip partner of [[parseOffsetsJson]]).
    */
  def offsetsJson(topic: String, offsets: Map[Int, Long]): String =
    offsets.toSeq.sortBy(_._1)
      .map { case (p, n) => s""""$p":$n""" }
      .mkString(s"""{"$topic":{""", ",", "}}")

  /** Kafka's DEFAULT partitioner hash, bit-exact: the Apache Kafka
    * client's 32-bit MurmurHash2 of the key bytes (seed 0x9747b28c) —
    * so a key lands on the SAME partition this shim and a real Kafka
    * producer would put it on, and a mixed deployment (shim locally,
    * broker in prod) keys identically.
    */
  def murmur2(data: Array[Byte]): Int = {
    val m = 0x5bd1e995
    val r = 17
    val length = data.length
    var h = 0x9747b28c ^ length
    var i = 0
    while (i + 4 <= length) {
      var k = (data(i) & 0xff) + ((data(i + 1) & 0xff) << 8) +
        ((data(i + 2) & 0xff) << 16) + ((data(i + 3) & 0xff) << 24)
      k *= m
      k ^= k >>> r
      k *= m
      h *= m
      h ^= k
      i += 4
    }
    val tail = length & ~3
    (length % 4) match {
      case 3 =>
        h ^= (data(tail + 2) & 0xff) << 16
        h ^= (data(tail + 1) & 0xff) << 8
        h ^= data(tail) & 0xff
        h *= m
      case 2 =>
        h ^= (data(tail + 1) & 0xff) << 8
        h ^= data(tail) & 0xff
        h *= m
      case 1 =>
        h ^= data(tail) & 0xff
        h *= m
      case _ =>
    }
    h ^= h >>> 13
    h *= m
    h ^= h >>> 15
    h
  }

  /** key bytes → topic partition, exactly like the Kafka client:
    * murmur2 masked non-negative, mod nPartitions.
    */
  def partitionFor(key: Array[Byte], nPartitions: Int): Int =
    (murmur2(key) & 0x7fffffff) % nPartitions

  /** Resolve a `startingOffsets`/`endingOffsets` spec against the live
    * logs: `"earliest"`, `"latest"`, or per-partition JSON with -2/-1
    * sentinels; partitions absent from the JSON take `default`.
    * A concrete offset must lie within [0, latest] — Kafka fails the
    * batch on an out-of-range request rather than clamping silently.
    */
  private[v2] def resolveOffsets(spec: String, topic: String,
      nPartitions: Int, latest: Int => Long,
      default: String): Vector[Long] = {
    def resolve(p: Int, v: Long): Long = v match {
      case -2L => 0L
      case -1L => latest(p)
      case off =>
        require(off >= 0 && off <= latest(p),
          s"offset $off out of range [0, ${latest(p)}] for " +
            s"$topic partition $p")
        off
    }
    spec.trim match {
      case "earliest" => Vector.fill(nPartitions)(0L)
      case "latest" => Vector.tabulate(nPartitions)(latest)
      case json =>
        val m = parseOffsetsJson(json).getOrElse(topic,
          throw new IllegalArgumentException(
            s"offsets JSON $json names no topic '$topic'"))
        val dflt = if (default == "latest") -1L else -2L
        Vector.tabulate(nPartitions)(p => resolve(p, m.getOrElse(p, dflt)))
    }
  }
}

private[v2] class KafkaShimTable(topic: String, nPartitions: Int,
    tableSchema: StructType)
    extends LogTable(s"graft_kafka($topic[$nPartitions])", tableSchema,
      new KafkaShimScan(topic, nPartitions, _)) with SupportsWrite {
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  /** The Kafka SINK surface: rows with a `value` column (string or
    * binary) and an optional `key` route to `partitionFor(key)`'s log —
    * the client's default partitioner, bit-exact. Each row publishes in
    * DataWriter.write, so delivery is AT-LEAST-ONCE exactly like the
    * real Kafka sink (a retried task republishes; the connector offers
    * no transactional producer to Spark either). Per-key order follows
    * per-input-partition row order — also the connector's contract: a
    * caller wanting total per-key order repartitions by key first.
    * Null/absent key → partition 0 (a LOCAL stand-in for the client's
    * sticky round-robin, chosen deterministic so contracts can replay).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val schema = info.schema()
    val ki = schema.fieldNames.indexOf("key")
    val vi = schema.fieldNames.indexOf("value")
    require(vi >= 0, "graft-kafka sink needs a 'value' column")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              pi: PhysicalWriteInfo): DataWriterFactory =
            new KafkaShimWriterFactory(topic, nPartitions, ki, vi, schema)
          override def commit(m: Array[WriterCommitMessage]): Unit = ()
          override def abort(m: Array[WriterCommitMessage]): Unit = ()
        }
        override def toStreaming: StreamingWrite = new StreamingWrite {
          override def createStreamingWriterFactory(
              pi: PhysicalWriteInfo): StreamingDataWriterFactory =
            new KafkaShimWriterFactory(topic, nPartitions, ki, vi, schema)
          override def commit(epochId: Long,
              m: Array[WriterCommitMessage]): Unit = ()
          override def abort(epochId: Long,
              m: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }
}

/** Per-task Kafka-sink writer (see [[KafkaShimTable.newWriteBuilder]]).
  * key/value accept string or binary columns — the two shapes Kafka
  * jobs actually write.
  */
private[v2] class KafkaShimWriterFactory(topic: String, nPartitions: Int,
    keyIdx: Int, valueIdx: Int, schema: StructType)
    extends DataWriterFactory with StreamingDataWriterFactory {
  private def bytesAt(row: InternalRow, i: Int): Array[Byte] =
    if (i < 0 || row.isNullAt(i)) Array.emptyByteArray
    else schema.fields(i).dataType match {
      case BinaryType => row.getBinary(i)
      case _ => row.getUTF8String(i).getBytes
    }
  private def writer(): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = {
        val key = bytesAt(row, keyIdx)
        val value = bytesAt(row, valueIdx)
        val p = if (key.isEmpty) 0
          else KafkaShim.partitionFor(key, nPartitions)
        InMemoryQueue.queue(TopicDataSource.queueName(topic, p))
          .add(QueueMessage(new String(key, "UTF-8"),
            new String(value, "UTF-8")))
      }
      override def commit(): WriterCommitMessage =
        new WriterCommitMessage {}
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = writer()
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = writer()
}

private[v2] class KafkaShimScan(topic: String, nPartitions: Int, options: CaseInsensitiveStringMap)
    extends LogScan(TopicDataSource.logs(topic, nPartitions),
      SourceOptions.positiveLong(options, "maxOffsetsPerTrigger")) {
  private val starting = Option(options.get("startingOffsets"))
  private val ending = Option(options.get("endingOffsets"))
  private val minPartitions = SourceOptions.positiveInt(options, "minPartitions")

  override def readSchema(): StructType = KafkaShim.schema
  override def description(): String = s"graft-kafka topic=$topic partitions=$nPartitions"

  private def resolve(spec: Option[String], default: String): Vector[Long] =
    KafkaShim.resolveOffsets(spec.getOrElse(default), topic, nPartitions, size, default)
  override def initial: Vector[Long] = resolve(starting, "latest")
  override def snapshot: (Vector[Long], Vector[Long]) =
    (resolve(starting, "earliest"), resolve(ending, "latest"))

  /** Kafka's `minPartitions`: with fewer slices than that, each is cut
    * into contiguous offset sub-ranges, ⌈share⌉ of them by its depth, until
    * the task count reaches the floor — read parallelism beyond partition
    * count, the hot-partition relief a backfill needs. Deterministic and
    * row-preserving: [f, m) ∪ [m, t) is exactly [f, t) on an append log.
    */
  override def split(ranges: Seq[LogRange]): Seq[LogRange] = minPartitions match {
    case Some(min) if min > ranges.length && ranges.nonEmpty =>
      val total = ranges.map(r => r.until - r.from).sum.toDouble
      ranges.flatMap { r =>
        val depth = r.until - r.from
        val share = math.max(1, math.ceil(min * depth / total).toInt)
        val chunk = math.max(1L, (depth + share - 1) / share)
        (r.from until r.until by chunk).map(f => r.copy(from = f, until = math.min(f + chunk, r.until)))
      }
    case _ => ranges
  }

  override def rows(streaming: Boolean): LogRows = KafkaRows(UTF8String.fromString(topic))
}

private[v2] case class KafkaRows(topic: UTF8String) extends LogRows {
  override def apply(slice: LogSlice): Iterator[InternalRow] =
    slice.records.zipWithIndex.map { case (r, i) =>
      val offset = slice.start + i // the timestamp is offset ms since epoch (see scaladoc)
      new GenericInternalRow(Array[Any](r.idUtf8.getBytes, r.bodyUtf8.getBytes, topic,
        slice.partition, offset, offset * 1000L, 0))
    }
}
