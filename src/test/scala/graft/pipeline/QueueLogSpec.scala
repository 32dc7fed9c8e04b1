package graft.pipeline

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Files
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** The file-backed queue log behind `InMemoryQueue`: what goes in comes
  * back, slices decode only their own records, segment files go with the
  * queue, and the bodies stay off the heap.
  */
class QueueLogSpec extends SparkSpec {

  private def fresh(prefix: String): String = s"$prefix-${UUID.randomUUID()}"

  private val awkward = Seq(
    QueueMessage(null, "plain"),
    QueueMessage("", null),
    QueueMessage("naïve", "日本語 café"),
    QueueMessage("\uD83D\uDE00", "emoji \uD83D\uDE00 takes 4 bytes"),
    QueueMessage("nul\u0000id", "a\u0000b"),
    QueueMessage("\uFEFFbom", "\uFEFF{\"v\":1}"),
    QueueMessage("empty-body", ""))

  test("appends, slices, drain, all and DLQ moves round-trip ids and bodies") {
    val q = fresh("log-rt")
    InMemoryQueue.queue(q).add(awkward.head)
    InMemoryQueue.queue(q).append(awkward.tail)
    assert(InMemoryQueue.size(q) === awkward.size)
    assert(InMemoryQueue.all(q) === awkward)
    assert(InMemoryQueue.slice(q, 2, 5) === awkward.slice(2, 5))
    assert(InMemoryQueue.slice(q, 5, 99) === awkward.drop(5))
    val raw = InMemoryQueue.records(q, 0, awkward.size).toSeq
    assert(raw.map(r => Option(r.idUtf8).map(_.toString).orNull) === awkward.map(_.id))
    assert(raw.map(r => Option(r.bodyUtf8).map(_.toString).orNull) === awkward.map(_.body))

    val drained = InMemoryQueue.queue(q).detach()
    try assert(drained.messages === awkward) finally drained.delete()
    assert(InMemoryQueue.size(q) === 0)
    InMemoryQueue.queue(q).append(awkward.reverse)
    assert(InMemoryQueue.all(q) === awkward.reverse)

    // stored as UTF-8: a raw lone surrogate comes back as '?'
    InMemoryQueue.queue(q).add(QueueMessage("lone", "a\uD800b"))
    assert(InMemoryQueue.all(q).last === QueueMessage("lone", "a?b"))
    InMemoryQueue.clear(q)

    // through the graft-queue source: batch rows, then every message
    // dead-lettered by the redrive policy
    val src = fresh("log-dlq")
    val named = awkward.filter(_.id != null).map(m => m.copy(body = Option(m.body).getOrElse("")))
    InMemoryQueue.queue(src).append(named)
    val rows = spark.read.format("graft-queue").option("queue", src).load()
      .collect().map(r => QueueMessage(r.getString(0), r.getString(1))).toSeq
    assert(rows === named)
    named.foreach { m => InMemoryQueue.incReceive(src, m.id); InMemoryQueue.incReceive(src, m.id) }
    val sink = "log_rt_dlq_sink"
    val sq = spark.readStream.format("graft-queue").option("queue", src)
      .option("maxReceiveCount", "2").load()
      .writeStream.format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow()).start()
    assert(sq.awaitTermination(60000L))
    assert(spark.table(sink).count() === 0L)
    assert(InMemoryQueue.all(s"$src-dlq") === named)
    InMemoryQueue.clear(src)
    InMemoryQueue.clear(s"$src-dlq")
  }

  test("records read back across segment boundaries and oversized batches") {
    val log = new QueueLog(segmentBytes = 4096)
    val msgs = (0 until 600).map(i => QueueMessage(i.toString, "b" * (i % 97) + i))
    msgs.grouped(10).foreach(log.append)
    val big = (0 until 3).map(i => QueueMessage(s"big-$i", "x" * 3000 + i))
    log.append(big)
    val all = msgs ++ big
    try {
      assert(log.segmentFiles.size > 10)
      val v = log.view
      assert(v.count === all.size)
      assert(v.records(0, v.count).map(_.message).toSeq === all)
      Seq(0 -> 1, 37 -> 211, 590 -> 603, 599 -> 601, 602 -> 603, 5 -> 5).foreach {
        case (a, b) => assert(v.records(a, b).map(_.message).toSeq === all.slice(a, b), (a, b))
      }
    } finally log.delete()
  }

  test("read chunks stay within ChunkBytes; a body of three chunks gets one of its own " +
      "and round-trips through the log, a graft-queue read and consume") {
    val q = fresh("log-big")
    val small = (0 until 1000).map(i => QueueMessage(s"s-$i", s"""{"v":"${"y" * 1600}$i"}"""))
    val bigValue = "x" * (3 * LogView.ChunkBytes)
    val big = QueueMessage("big", s"""{"v":"$bigValue"}""")
    val msgs = small.take(500) ++ Seq(big) ++ small.drop(500)
    msgs.grouped(10).foreach(InMemoryQueue.queue(q).append)
    val v = InMemoryQueue.queue(q).view
    val chunks = v.chunks(0, v.count)
    assert(chunks.map(_.count).sum === msgs.size)
    assert(chunks.exists(c => c.count == 1 && c.until - c.from > 3L * LogView.ChunkBytes), chunks)
    chunks.foreach(c => assert(c.until - c.from <= LogView.ChunkBytes || c.count == 1, c))
    assert(chunks.size > 3, chunks)
    assert(v.records(0, v.count).map(_.message).toSeq === msgs)
    assert(v.records(499, 502).map(_.message).toSeq === msgs.slice(499, 502))

    val rows = spark.read.format("graft-queue").option("queue", q).load()
      .collect().map(r => QueueMessage(r.getString(0), r.getString(1))).toSeq
    assert(rows === msgs)

    val back = Consumer.consume(spark, q, new StructType().add("v", "string"))
    assert(back.collect().map(_.getString(0)).toSeq ===
      msgs.map(m => m.body.stripPrefix("{\"v\":\"").stripSuffix("\"}")))
    InMemoryQueue.clear(q)
  }

  test("concurrent senders and readers see every batch whole, in each sender's order") {
    val log = new QueueLog(segmentBytes = 64 << 10)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val senders = (0 until 4).map { t =>
      new Thread(() =>
        try (0 until 300).foreach { b =>
          log.append((0 until 10).map(j => QueueMessage(s"$t-$b-$j", "x" * (b % 50 * 40))))
          if (b % 25 == 0) {
            val v = log.view
            assert(v.records(0, v.count).map(_.id).count(_ != null) === v.count)
          }
        } catch { case e: Throwable => errors.add(e) })
    }
    senders.foreach(_.start())
    senders.foreach(_.join(60000L))
    try {
      assert(errors.isEmpty, errors)
      val all = log.view.messages
      assert(all.size === 4 * 300 * 10)
      (0 until 4).foreach { t =>
        assert(all.map(_.id).filter(_.startsWith(s"$t-")) ===
          (0 until 300).flatMap(b => (0 until 10).map(j => s"$t-$b-$j")))
      }
      assert(all.forall(m => m.body.length === m.id.split("-")(1).toInt % 50 * 40))
    } finally log.delete()
  }

  test("a graft-queue micro-batch over a log of N messages decodes only its own slice") {
    val q = fresh("log-decode")
    val n = 2000
    (0 until n).grouped(10).foreach(ids =>
      InMemoryQueue.queue(q).append(ids.map(i => QueueMessage(i.toString, s"""{"v":$i}"""))))
    val log = InMemoryQueue.queue(q)
    assert(log.recordsDecoded === 0L)
    assert(InMemoryQueue.slice(q, n - 100, n).map(_.id) === (n - 100 until n).map(_.toString))
    assert(log.recordsDecoded === 100L)

    val sink = "log_decode_sink"
    val sq = spark.readStream.format("graft-queue").option("queue", q)
      .option("maxMessagesPerTrigger", "200").load()
      .writeStream.format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow()).start()
    assert(sq.awaitTermination(60000L))
    assert(sq.recentProgress.count(_.numInputRows > 0) === 10)
    assert(spark.table(sink).count() === n.toLong)
    // each of the ten batches decoded its 200 records; walking each slice
    // from the head of the log would have decoded 200 + 400 + ... + 2000
    assert(log.recordsDecoded - 100L === n.toLong)
    InMemoryQueue.clear(q)
  }

  test("clear deletes the queue's segment files") {
    val q = fresh("log-clear")
    InMemoryQueue.queue(q).append(awkward)
    val files = InMemoryQueue.queue(q).segmentFiles
    assert(files.nonEmpty && files.forall(Files.exists(_)))
    assert(files.head.getParent.getFileName.toString.startsWith("graft-queue-"))
    InMemoryQueue.clear(q)
    assert(files.forall(f => !Files.exists(f)), files)
    assert(InMemoryQueue.size(q) === 0)

    InMemoryQueue.queue(q).append(awkward)
    val again = InMemoryQueue.queue(q).segmentFiles
    val drained = InMemoryQueue.queue(q).detach()
    try assert(drained.messages === awkward) finally drained.delete()
    assert(again.forall(f => !Files.exists(f)), again)
    InMemoryQueue.clear(q)
  }

  /** Heap in use after a full collection, as perfbench samples it. */
  private def retainedHeap(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum
  }

  test("queued bodies stay off the heap: ~20 MB of sends retain under a quarter of it") {
    val q = fresh("log-heap")
    val client = new InMemoryQueueClient(q)
    val base = (1 to 3).map(_ => retainedHeap()).min
    val batches = 1000
    var appended = 0L
    (0 until batches).foreach { b =>
      val batch = (0 until 10).map { j =>
        val id = s"m-${b * 10 + j}"
        QueueMessage(id, id + ":" + ("abcdefghij" * 200))
      }
      appended += batch.map(m => m.id.length + m.body.length).sum
      assert(client.send(batch).failedIds.isEmpty)
    }
    assert(appended > 20L * 1000 * 1000)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var grown = retainedHeap() - base
    while (grown >= appended / 4 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      grown = math.min(grown, retainedHeap() - base)
    }
    assert(grown < appended / 4, s"heap grew $grown B for $appended B of bodies")
    // and every message reads back, in order, across read chunks
    val ids = InMemoryQueue.records(q, 0, batches * 10).map(_.id).toSeq
    assert(ids === (0 until batches * 10).map(i => s"m-$i"))
    InMemoryQueue.clear(q)
  }
}
