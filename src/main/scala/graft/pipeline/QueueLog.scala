package graft.pipeline

import java.io.EOFException
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.{Arrays, UUID}
import java.util.concurrent.ConcurrentHashMap
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
  * that segment into one `Long`.
  *
  * Reads go through a [[LogView]]: the index turns a record range into
  * [[Chunk]]s, each a file path, a byte range of at most
  * [[LogView.ChunkBytes]] and a record count, so a slice reads only the
  * bytes of its own records and decodes nothing outside them. The driver
  * plans chunks and a task reads them (`Consumer.consume`, the
  * `graft.sources.v2` log sources), so the log itself never leaves the
  * driver. [[recordsDecoded]] counts the records read from this log's
  * chunks in this JVM: each chunk carries its log's id, and
  * [[Chunk.records]] bumps that id's counter in `QueueLog`'s table per
  * record it decodes (a task in another JVM finds no counter there and
  * counts nothing). A chunk is
  * read by opening its file and doing one positional read, not through a
  * memory map: a segment deleted before a read then fails that read with
  * an exception that names the file, and its disk space is freed at
  * delete rather than when a mapping is collected.
  *
  * [[detach]] hands the current segments and index over as a [[LogView]]
  * and starts the log afresh: later appends go to new segments. [[delete]]
  * detaches and deletes.
  *
  * Segments live in one `graft-queue-<uuid>` dir per JVM, under the first
  * of `SPARK_LOCAL_DIRS`, `spark.local.dir` and `java.io.tmpdir`; a
  * shutdown hook deletes that dir.
  */
final class QueueLog private[pipeline] (segmentBytes: Long = QueueLog.SegmentBytes) {
  import QueueLog._

  private var segments = Vector.empty[Segment]
  private var index = new Array[Long](16)
  private var count = 0
  private val id = ids.incrementAndGet()
  decoded.put(id, new LongAdder)

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
    new LogView(segments, segments.lastOption.fold(0L)(_.end), index, count, id))

  /** Hands the current records over and empties the log. */
  private[pipeline] def detach(): LogView = synchronized {
    val v = view
    segments = Vector.empty
    index = new Array[Long](16)
    count = 0
    v
  }

  /** Detaches and deletes every segment, and drops the decode counter. */
  private[pipeline] def delete(): Unit = try detach().delete() finally decoded.remove(id)

  /** Records decoded from this log's chunks so far, in this JVM. */
  private[graft] def recordsDecoded: Long = Option(decoded.get(id)).fold(0L)(_.sum)

  private[graft] def segmentFiles: Seq[Path] = synchronized(segments.map(_.path))
}

object QueueLog {
  /** A segment is rolled once the next batch would take it past this. */
  private val SegmentBytes: Long = 64L << 20

  private val files = new AtomicLong
  private val ids = new AtomicLong

  /** Each live log's decode counter, by log id (see [[recordsDecoded]]). */
  private val decoded = new ConcurrentHashMap[Long, LongAdder]()

  /** The counter of log `id`, or `null` when no live log of this JVM has it. */
  private[pipeline] def decodeCounter(id: Long): LongAdder = decoded.get(id)

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

/** One segment file. Only its log's lock writes it; [[end]] is how far.
  * Readers open the file by path (see [[Chunk]]).
  */
private[pipeline] final class Segment(val path: Path) {
  private val ch = FileChannel.open(path, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
  @volatile var end = 0L

  def write(buf: ByteBuffer): Unit = while (buf.hasRemaining) end += ch.write(buf, end)

  def delete(): Unit = try ch.close() finally Files.deleteIfExists(path)
}

/** Records `[0, count)` of a log: its segments, where the last of them
  * ended (`tailEnd`), and their offset index. Only the last segment grows
  * and index entries below `count` never change, so a view plans reads
  * without the log's lock.
  *
  * Its one read path is [[chunks]]: a record range becomes a list of
  * [[Chunk]]s, each a run of whole records in one segment file that is
  * read with one positional read. [[records]] reads such a list in order
  * on the caller's thread; `Consumer.consume` and the log sources ship one
  * list to each task.
  */
final class LogView private[pipeline] (segments: Vector[Segment], tailEnd: Long,
    index: Array[Long], val count: Int, log: Long) {
  import LogView._

  /** Records `[start, end)`, clamped to `[0, count)`, decoding nothing
    * outside them. Offsets past `Int.MaxValue` fail instead of wrapping.
    */
  def records(start: Long, end: Long): Iterator[LogRecord] =
    chunks(start, end).iterator.flatMap(_.records)

  /** The chunks that hold records `[start, end)` (clamped as [[records]]
    * clamps), in order. A chunk stays within one segment and spans at most
    * [[LogView.ChunkBytes]], unless it is a single record larger than that.
    */
  private[graft] def chunks(start: Long, end: Long): Vector[Chunk] = {
    val last = math.min(Math.toIntExact(end), count)
    var i = math.min(Math.toIntExact(start), last)
    val out = Vector.newBuilder[Chunk]
    while (i < last) {
      val seg = segmentOf(index(i))
      val from = offsetOf(index(i))
      var k = i + 1
      while (k < last && segmentOf(index(k)) == seg && endOf(k) - from <= ChunkBytes)
        k += 1
      out += Chunk(segments(seg).path.toString, from, endOf(k - 1), k - i, log)
      i = k
    }
    out.result()
  }

  /** Where record `k` ends: where the next one starts in its segment, or
    * where the segment ends.
    */
  private def endOf(k: Int): Long = {
    val seg = segmentOf(index(k))
    if (k + 1 < count && segmentOf(index(k + 1)) == seg) offsetOf(index(k + 1))
    else if (seg == segments.length - 1) tailEnd
    else segments(seg).end
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
  /** The most bytes a chunk reads into one array (unless a single record
    * is larger): half a 1 MiB G1 region, less a byte array's 16-byte
    * header. G1 sizes regions at 1 MiB for heaps under 4 GB (perfbench
    * runs a 2 GB heap), and an array larger than half a region is a
    * humongous allocation: it takes whole regions of its own outside the
    * young generation.
    */
  val ChunkBytes: Int = (512 << 10) - 16
  def segmentOf(p: Long): Int = (p >>> 32).toInt
  def offsetOf(p: Long): Long = p & 0xFFFFFFFFL
}

/** A run of `count` whole records that fill bytes `[from, until)` of the
  * segment file at `path`, a segment of the log with id `log`. It needs
  * neither the log nor its index, so a task reads it wherever the file is
  * readable; a file deleted before the read fails it with an exception
  * that names the file.
  */
private[graft] final case class Chunk(path: String, from: Long, until: Long, count: Int,
    log: Long) {

  /** Reads the bytes with one positional read and walks the records in
    * order, counting each one it decodes on the log's counter when the log
    * lives in this JVM.
    */
  def records: Iterator[LogRecord] = {
    val decoded = QueueLog.decodeCounter(log)
    val buf = ByteBuffer.allocate(Math.toIntExact(until - from))
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    try while (buf.hasRemaining)
      if (ch.read(buf, from + buf.position()) < 0)
        throw new EOFException(s"$path ends before byte $until")
    finally ch.close()
    var at = 0 // where the next record starts in `buf`
    Iterator.fill(count) {
      val idLen = buf.getInt(at)
      val bodyAt = at + 4 + math.max(idLen, 0)
      val bodyLen = buf.getInt(bodyAt)
      val r = new LogRecord(buf.array, at + 4, idLen, bodyAt + 4, bodyLen)
      at = bodyAt + 4 + math.max(bodyLen, 0)
      if (decoded != null) decoded.increment()
      r
    }
  }
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
