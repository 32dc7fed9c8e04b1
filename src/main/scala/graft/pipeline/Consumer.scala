package graft.pipeline

import java.lang.ref.WeakReference
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
    * The drain is eager: the queue is empty when this returns. The drained
    * bodies are staged in one driver-side array and read through a
    * [[StagedBodiesRDD]], whose partitions carry only their index: each
    * parse task reads its contiguous slice of the array in place instead of
    * having its share of the bodies serialized into the task on the driver
    * (what `parallelize` does, one task after another). Slicing is
    * `parallelize`'s: one slice per core, at most one per body, so each
    * action on the result sees the same rows, in queue order. (A local
    * `Seq` would become a `LocalRelation`, into which the optimizer folds
    * the parse: every body parsed on the driver thread.)
    *
    * Each task parses its staged `String`s with Spark's own `JacksonParser`
    * over `CreateJacksonParser.string`, and the frame is built straight
    * from those rows. `createDataset(bodies).select(from_json(...))` gives
    * the same rows, but re-encodes every body to a `UTF8String`, decodes
    * it again through a fresh `InputStreamReader`, and runs two
    * projections and three analyses around the parse; here there is one
    * analysis, and the body goes from `String` to rows in one pass. Parity
    * with `from_json(col, schema)` is that of Spark's
    * `JsonToStructsEvaluator`, built the same way:
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
    *
    * The snapshot lives exactly as long as the returned frame: the frame's
    * RDD holds the array, the task-side registry only weakly. Tasks find it
    * because local[n] runs them in the driver's JVM, the premise
    * `InMemoryQueue` and the `graft-queue` source already rest on; a task
    * that cannot find its snapshot fails, naming it, rather than return no
    * rows.
    */
  def consume(spark: SparkSession, queueName: String, schema: StructType): DataFrame = {
    val bodies = InMemoryQueue.drain(queueName).iterator.map(_.body).toArray
    val slices = math.max(1,
      math.min(bodies.length, spark.sparkContext.defaultParallelism))
    val nullable = GraftSqlShim.asNullable(schema)
    val timeZone = spark.conf.get("spark.sql.session.timeZone")
    val corruptColumn = spark.conf.get("spark.sql.columnNameOfCorruptRecord")
    val rows = StagedBodies(spark.sparkContext, bodies, slices).mapPartitions { it =>
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
  * of `slices` contiguous slices. The array stays on the driver: the RDD
  * holds it in a `@transient` field (so it is never serialized into a
  * task), and each task looks it up by `stagedId` in the JVM-local
  * [[StagedBodies]] registry, which holds it only weakly.
  */
private[pipeline] class StagedBodiesRDD(
    sc: SparkContext,
    @transient private val bodies: Array[String],
    stagedId: Long,
    slices: Int) extends RDD[String](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](slices)(StagedSlice)

  override def compute(split: Partition, context: TaskContext): Iterator[String] = {
    val all = StagedBodies.lookup(stagedId)
    val i = split.index.toLong
    all.iterator.slice((i * all.length / slices).toInt,
      ((i + 1) * all.length / slices).toInt)
  }
}

private case class StagedSlice(index: Int) extends Partition

/** JVM-local registry of staged consume snapshots, keyed by a per-call id.
  * Entries are weak: a snapshot is reachable only while the frame whose RDD
  * holds it is, and a collected one leaves a cleared entry that the next
  * staging call purges.
  */
private[pipeline] object StagedBodies {
  private val staged = new ConcurrentHashMap[Long, WeakReference[Array[String]]]
  private val nextId = new AtomicLong

  def apply(sc: SparkContext, bodies: Array[String], slices: Int): StagedBodiesRDD = {
    staged.values.removeIf(_.get == null)
    val id = nextId.incrementAndGet()
    staged.put(id, new WeakReference(bodies))
    new StagedBodiesRDD(sc, bodies, id, slices)
  }

  def lookup(id: Long): Array[String] =
    Option(staged.get(id)).flatMap(r => Option(r.get)).getOrElse(
      throw new IllegalStateException(s"staged consume snapshot $id is gone: " +
        "its frame was dropped, or the task runs outside the driver JVM that " +
        "staged it (Consumer.consume assumes local[n], where tasks share the " +
        "driver's JVM)"))

  /** Ids whose snapshot is still reachable. */
  def liveIds: Seq[Long] =
    staged.asScala.collect { case (id, r) if r.get != null => id }.toSeq
}
