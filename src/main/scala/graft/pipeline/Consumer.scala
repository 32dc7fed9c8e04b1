package graft.pipeline

import java.lang.ref.{Cleaner, WeakReference}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, GenericInternalRow}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Queue → typed rows: the reference's consumer Lambda
  * (cmd/sqs-record-consumer/main.go:27-32) only logs the batch count; we keep
  * that behavior in `count` and add the obvious next step the stub left
  * unwritten — parsing bodies back into rows, as `from_json` would.
  */
object Consumer {

  /** Reference behavior: "Received SQS event" with len(event.Records). */
  def count(queueName: String): Int = InMemoryQueue.size(queueName)

  /** Drain the queue and parse each JSON body against `schema`. For the
    * in-memory test queue a driver-side drain is correct (the queue lives on
    * the driver); a cluster deployment reads the real queue as a streaming
    * source instead (see graft.streaming).
    *
    * The drain is eager: the queue is empty when this returns. It detaches
    * the queue's segment files (see [[QueueLog]]) as one staged snapshot,
    * read through a [[StagedBodiesRDD]] whose partitions carry only their
    * index: each parse task reads its contiguous record range from the
    * segment files in place, so no body is held on the driver heap or
    * serialized into a task. Slicing is `parallelize`'s: one slice per
    * core, at most one per body, so each action on the result sees the
    * same rows, in queue order. (A local `Seq` would become a
    * `LocalRelation`, into which the optimizer folds the parse: every body
    * parsed on the driver thread.)
    *
    * Each task decodes its bodies to `String`s and parses them with
    * Spark's own `JacksonParser` over `CreateJacksonParser.string`, and the
    * frame is built straight from those rows.
    * `createDataset(bodies).select(from_json(...))` gives the same rows, but
    * re-encodes every body to a `UTF8String`, decodes it again through a
    * fresh `InputStreamReader`, and runs two projections and three analyses
    * around the parse; here there is one analysis. Parity with
    * `from_json(col, schema)` is that of Spark's `JsonToStructsEvaluator`,
    * built the same way:
    *  - `JSONOptions` of an empty options map, the session time zone and
    *    the session's `spark.sql.columnNameOfCorruptRecord`, built inside
    *    the task (where `from_json` builds them, so task-side SQL confs
    *    apply alike);
    *  - its parse mode (PERMISSIVE), `allowArrayAsStructs = false`;
    *  - a `FailureSafeParser` over the parser schema `schema.asNullable`,
    *    the corrupt-record column kept there and filtered out of the
    *    schema the `JacksonParser` reads, `UTF8String.fromString` giving
    *    the bad record's text;
    *  - the first row a body yields; a `null` body, or one that yields no
    *    row, gives the all-null row `select("r.*")` gives for a null
    *    struct.
    * The frame's schema is `schema.asNullable`, as `from_json` reports it.
    * Bodies are stored as UTF-8, so a raw lone surrogate reads back as `?`,
    * as it does through `createDataset`.
    *
    * The snapshot lives exactly as long as the returned frame: the frame's
    * RDD holds it, the task-side registry only weakly, and once it is
    * unreachable a `Cleaner` deletes its segment files (the queue's
    * shutdown hook deletes any left at exit). Tasks find it because
    * local[n] runs them in the driver's JVM, the premise `InMemoryQueue`
    * and the `graft-queue` source already rest on; a task that cannot find
    * its snapshot fails, naming it, rather than return no rows.
    */
  def consume(spark: SparkSession, queueName: String, schema: StructType): DataFrame = {
    val staged = InMemoryQueue.queue(queueName).detach()
    val slices = math.max(1,
      math.min(staged.count, spark.sparkContext.defaultParallelism))
    val nullable = GraftSqlShim.asNullable(schema)
    val timeZone = spark.conf.get("spark.sql.session.timeZone")
    val corruptColumn = spark.conf.get("spark.sql.columnNameOfCorruptRecord")
    val rows = StagedBodies(spark.sparkContext, staged, slices).mapPartitions { it =>
      val parse = jsonParser(nullable, timeZone, corruptColumn)
      val allNull = new GenericInternalRow(nullable.length)
      it.map { body =>
        val parsed = if (body == null) Iterator.empty else parse.parse(body)
        if (parsed.hasNext) parsed.next() else allNull
      }
    }
    GraftSqlShim.internalCreateDataFrame(spark, rows, nullable)
  }

  /** `JsonToStructsEvaluator`'s parser for a struct schema, reading
    * `String`s instead of `UTF8String`s.
    */
  private def jsonParser(schema: StructType, timeZone: String,
      corruptColumn: String): FailureSafeParser[String] = {
    val options = new JSONOptions(Map.empty[String, String], timeZone, corruptColumn)
    ExprUtils.verifyColumnNameOfCorruptRecord(schema, options.columnNameOfCorruptRecord)
    val raw = new JacksonParser(
      StructType(schema.filterNot(_.name == options.columnNameOfCorruptRecord)),
      options, allowArrayAsStructs = false)
    new FailureSafeParser[String](
      body => raw.parse(body, CreateJacksonParser.string, UTF8String.fromString),
      options.parseMode, schema, options.columnNameOfCorruptRecord)
  }
}

/** The drained bodies of one [[Consumer.consume]] call as an `RDD[String]`
  * of `slices` contiguous record ranges of its staged [[LogView]]. The
  * snapshot stays on the driver: the RDD holds it in a `@transient` field
  * (`pin`, which only keeps it reachable), and each task looks it up by
  * `stagedId` in the JVM-local [[StagedBodies]] registry, which holds it
  * only weakly, and reads its range from the segment files.
  */
private[pipeline] class StagedBodiesRDD(
    sc: SparkContext,
    @transient private val pin: AnyRef,
    stagedId: Long,
    slices: Int) extends RDD[String](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](slices)(StagedSlice)

  override def compute(split: Partition, context: TaskContext): Iterator[String] = {
    val staged = StagedBodies.lookup(stagedId)
    val i = split.index.toLong
    staged.records(i * staged.count / slices, (i + 1) * staged.count / slices)
      .map(_.body)
  }
}

private case class StagedSlice(index: Int) extends Partition

/** JVM-local registry of staged consume snapshots, keyed by a per-call id.
  * Entries are weak: a snapshot is reachable only while the frame whose RDD
  * holds it is, and a collected one leaves a cleared entry that the next
  * staging call purges. A `Cleaner` deletes a snapshot's segment files
  * once it is unreachable.
  */
private[pipeline] object StagedBodies {
  private val staged = new ConcurrentHashMap[Long, WeakReference[LogView]]
  private val nextId = new AtomicLong
  private val cleaner = Cleaner.create()

  def apply(sc: SparkContext, snapshot: LogView, slices: Int): StagedBodiesRDD = {
    staged.values.removeIf(_.get == null)
    val id = nextId.incrementAndGet()
    staged.put(id, new WeakReference(snapshot))
    cleaner.register(snapshot, snapshot.deleter)
    new StagedBodiesRDD(sc, snapshot, id, slices)
  }

  def lookup(id: Long): LogView =
    Option(staged.get(id)).flatMap(r => Option(r.get)).getOrElse(
      throw new IllegalStateException(s"staged consume snapshot $id is gone: " +
        "its frame was dropped, or the task runs outside the driver JVM that " +
        "staged it (Consumer.consume assumes local[n], where tasks share the " +
        "driver's JVM)"))

  /** Ids whose snapshot is still reachable. */
  def liveIds: Seq[Long] =
    staged.asScala.collect { case (id, r) if r.get != null => id }.toSeq
}
