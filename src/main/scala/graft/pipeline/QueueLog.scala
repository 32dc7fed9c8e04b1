package graft.pipeline

import java.io.EOFException
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.{Arrays, UUID}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.SparkEnv
import org.apache.spark.unsafe.types.UTF8String

/** One append-only queue log: length-prefixed UTF-8 `(id, body)` records in
  * segment files, with an offset index on the heap (8 bytes a message).
  *
  * A record is `[int idLen][id][int bodyLen][body]`, big-endian lengths, a
  * length of -1 for `null`. Records are UTF-8, so a body's lone surrogate
  * comes back as `?`, as `UTF8String.fromString` already stores it.
  * [[append]] encodes one batch outside the lock and writes it with one
  * positional write into the current segment; a batch that does not fit
  * starts a new segment (of its own size when it is larger than a
  * segment). The index packs each record's segment number and offset in
  * that segment into one `Long`. A slice `[start, end)` reads only the
  * bytes of its records, in chunks of about 1 MiB, and decodes nothing
  * outside it.
  *
  * [[detach]] hands the current segments and index over as a [[LogView]]
  * and starts the log afresh: later appends go to new segments. [[delete]]
  * detaches and deletes.
  *
  * Segments live in one `graft-queue-<uuid>` dir per JVM, under the first
  * of `SPARK_LOCAL_DIRS`, `spark.local.dir` and `java.io.tmpdir`; a
  * shutdown hook deletes that dir. Reads are positional `FileChannel`
  * reads, not memory maps: a segment deleted under a reader then fails
  * that read with an exception, and its disk space is freed at delete
  * rather than when a mapping is collected.
  */
final class QueueLog private[pipeline] (segmentBytes: Long = QueueLog.SegmentBytes) {
  import QueueLog._

  private var segments = Vector.empty[Segment]
  private var index = new Array[Long](16)
  private var count = 0
  private val decoded = new LongAdder

  /** Appends one message; always true (a `java.util.Queue.add` shape). */
  def add(m: QueueMessage): Boolean = { append(Seq(m)); true }

  /** Appends `batch` in order, with one write. */
  def append(batch: Seq[QueueMessage]): Unit = if (batch.nonEmpty) {
    val (bytes, starts) = encode(batch)
    synchronized {
      val last = segments.lastOption
      if (last.forall(s => s.end > 0 && s.end + bytes.remaining > segmentBytes))
        segments :+= newSegment()
      val seg = segments.length - 1
      val base = segments(seg).end
      segments(seg).write(bytes)
      if (count + starts.length > index.length)
        index = Arrays.copyOf(index, math.max(2 * index.length, count + starts.length))
      starts.indices.foreach(j => index(count + j) = (seg.toLong << 32) | (base + starts(j)))
      count += starts.length
    }
  }

  def size: Int = synchronized(count)

  /** Records `[0, size)` as of now; later appends do not show in it. */
  def view: LogView = synchronized(
    new LogView(segments, segments.lastOption.fold(0L)(_.end), index, count, decoded))

  /** Hands the current records over and empties the log. */
  private[pipeline] def detach(): LogView = synchronized {
    val v = view
    segments = Vector.empty
    index = new Array[Long](16)
    count = 0
    v
  }

  /** Detaches and deletes every segment. */
  private[pipeline] def delete(): Unit = detach().delete()

  /** Records decoded from this log's views so far. */
  private[graft] def recordsDecoded: Long = decoded.sum

  private[graft] def segmentFiles: Seq[Path] = synchronized(segments.map(_.path))
}

object QueueLog {
  /** A segment is rolled once the next batch would take it past this. */
  private val SegmentBytes: Long = 64L << 20

  private val files = new AtomicLong

  private lazy val dir: Path = {
    val base = sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(Option(SparkEnv.get).flatMap(_.conf.getOption("spark.local.dir")))
      .map(_.split(",").head.trim).filter(_.nonEmpty)
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val d = Paths.get(base).resolve(s"graft-queue-${UUID.randomUUID()}")
    Files.createDirectories(d)
    Runtime.getRuntime.addShutdownHook(new Thread(() => graft.fs.deleteTree(d), "graft-queue-cleanup"))
    d
  }

  private def newSegment(): Segment =
    new Segment(dir.resolve(f"${files.incrementAndGet()}%08d.seg"))

  private def utf8(s: String): Array[Byte] = if (s == null) null else s.getBytes(UTF_8)

  /** `batch` as records in one buffer, and each record's start in it. */
  private def encode(batch: Seq[QueueMessage]): (ByteBuffer, Array[Int]) = {
    val fields = batch.flatMap(m => Seq(utf8(m.id), utf8(m.body)))
    val total = fields.map(f => 4L + (if (f == null) 0 else f.length)).sum
    if (total > Int.MaxValue)
      throw new IllegalArgumentException(s"a batch of $total bytes exceeds ${Int.MaxValue}")
    val buf = ByteBuffer.allocate(total.toInt)
    val starts = new Array[Int](batch.size)
    fields.zipWithIndex.foreach { case (f, k) =>
      if (k % 2 == 0) starts(k / 2) = buf.position()
      if (f == null) buf.putInt(-1) else buf.putInt(f.length).put(f)
    }
    (buf.flip(), starts)
  }
}

/** One segment file. Only its log's lock writes it; [[end]] is how far. */
private[pipeline] final class Segment(val path: Path) {
  private val ch = FileChannel.open(path,
    StandardOpenOption.CREATE_NEW, StandardOpenOption.READ, StandardOpenOption.WRITE)
  @volatile var end = 0L

  def write(buf: ByteBuffer): Unit = while (buf.hasRemaining) end += ch.write(buf, end)

  /** Bytes `[from, until)` in a fresh array. */
  def read(from: Long, until: Long): Array[Byte] = {
    val a = new Array[Byte](Math.toIntExact(until - from))
    val b = ByteBuffer.wrap(a)
    while (b.hasRemaining)
      if (ch.read(b, from + b.position()) < 0)
        throw new EOFException(s"$path ends before byte $until")
    a
  }

  def delete(): Unit = try ch.close() finally Files.deleteIfExists(path)
}

/** Records `[0, count)` of a log: its segments, where the last of them
  * ended (`tailEnd`), and their offset index. Only the last segment grows
  * and index entries below `count` never change, so a view reads without
  * the log's lock.
  */
final class LogView private[pipeline] (segments: Vector[Segment], tailEnd: Long,
    index: Array[Long], val count: Int, decoded: LongAdder) {
  import LogView._

  /** Records `[start, end)`, clamped to `[0, count)`. Offsets past
    * `Int.MaxValue` fail instead of wrapping.
    */
  def records(start: Long, end: Long): Iterator[LogRecord] = {
    val total = count
    val last = math.min(Math.toIntExact(end), total)
    val first = math.min(Math.toIntExact(start), last)
    new Iterator[LogRecord] {
      private var i = first         // the next record to return
      private var chunkEnd = first  // records [i, chunkEnd) are in `buf`
      private var buf: Array[Byte] = _
      private var from = 0L         // where `buf` starts in its segment

      override def hasNext: Boolean = i < last

      override def next(): LogRecord = {
        if (!hasNext) throw new NoSuchElementException("end of log slice")
        if (i == chunkEnd) fill()
        val at = (offsetOf(index(i)) - from).toInt
        i += 1
        decoded.increment()
        val idLen = int(at)
        val bodyAt = at + 4 + math.max(idLen, 0)
        new LogRecord(buf, at + 4, idLen, bodyAt + 4, int(bodyAt))
      }

      private def int(at: Int): Int =
        (buf(at) & 0xFF) << 24 | (buf(at + 1) & 0xFF) << 16 |
          (buf(at + 2) & 0xFF) << 8 | (buf(at + 3) & 0xFF)

      // Reads the records from `i` on that share its segment and fit in
      // about one chunk (at least one record).
      private def fill(): Unit = {
        val seg = segmentOf(index(i))
        from = offsetOf(index(i))
        var k = i + 1
        while (k < last && segmentOf(index(k)) == seg && offsetOf(index(k)) - from < ChunkBytes)
          k += 1
        val until =
          if (k < total && segmentOf(index(k)) == seg) offsetOf(index(k))
          else if (seg == segments.length - 1) tailEnd
          else segments(seg).end
        buf = segments(seg).read(from, until)
        chunkEnd = k
      }
    }
  }

  def messages: Seq[QueueMessage] = records(0, count).map(_.message).toVector

  /** Deletes the segments; a read after this fails. */
  def delete(): Unit = deleter.run()

  /** Deletes the segments without holding this view (a `Cleaner` action). */
  private[pipeline] def deleter: Runnable = {
    val segs = segments
    () => segs.foreach(_.delete())
  }
}

private object LogView {
  /** A slice is read in chunks of about this many bytes. */
  val ChunkBytes: Int = 1 << 20
  def segmentOf(p: Long): Int = (p >>> 32).toInt
  def offsetOf(p: Long): Long = p & 0xFFFFFFFFL
}

/** One record as it lies in a read buffer: the UTF-8 bytes of its id and
  * body, a length of -1 for `null`. The buffer is never reused, so the
  * `UTF8String`s point into it without a copy.
  */
final class LogRecord private[pipeline] (buf: Array[Byte], idAt: Int, idLen: Int,
    bodyAt: Int, bodyLen: Int) {
  def id: String = string(idAt, idLen)
  def body: String = string(bodyAt, bodyLen)
  def idUtf8: UTF8String = utf8(idAt, idLen)
  def bodyUtf8: UTF8String = utf8(bodyAt, bodyLen)
  def message: QueueMessage = QueueMessage(id, body)

  private def string(at: Int, len: Int): String =
    if (len < 0) null else new String(buf, at, len, UTF_8)
  private def utf8(at: Int, len: Int): UTF8String =
    if (len < 0) null else UTF8String.fromBytes(buf, at, len)
}
