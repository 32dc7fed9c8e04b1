package graft.pipeline

import java.lang.ref.Cleaner

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
    * the queue's segment files (see [[QueueLog]]) as one staged snapshot
    * and cuts its `n` records into contiguous ranges, slice `i` taking
    * `[i * n / slices, (i + 1) * n / slices)`: one slice per core, at most
    * one per body. The driver plans each range as its list of [[Chunk]]s
    * (file path, byte range, record count) and parallelizes the lists, one
    * partition each, so a parse task carries only its own list and reads
    * its records from the segment files in place: no body is held on the
    * driver heap or serialized into a task, and a task needs nothing from
    * the driver's JVM but the files. Each action on the result sees the
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
    * The snapshot's segment files live as long as the returned frame: a
    * `Cleaner` registered on the frame's RDD deletes them once that RDD is
    * unreachable (the queue's shutdown hook deletes any left at exit). An
    * action that runs after the files are gone fails, naming the missing
    * file, rather than return no rows.
    */
  def consume(spark: SparkSession, queueName: String, schema: StructType): DataFrame = {
    val staged = InMemoryQueue.queue(queueName).detach()
    val n = staged.count.toLong
    val slices = math.max(1, math.min(staged.count, spark.sparkContext.defaultParallelism))
    val plans = (0 until slices).map(i => staged.chunks(i * n / slices, (i + 1) * n / slices))
    val nullable = GraftSqlShim.asNullable(schema)
    val timeZone = spark.conf.get("spark.sql.session.timeZone")
    val corruptColumn = spark.conf.get("spark.sql.columnNameOfCorruptRecord")
    val rows = spark.sparkContext.parallelize(plans, slices).mapPartitions { it =>
      val parse = jsonParser(nullable, timeZone, corruptColumn)
      val allNull = new GenericInternalRow(nullable.length)
      it.flatMap(_.iterator.flatMap(_.records)).map { record =>
        val body = record.body
        val parsed = if (body == null) Iterator.empty else parse.parse(body)
        if (parsed.hasNext) parsed.next() else allNull
      }
    }
    cleaner.register(rows, staged.deleter)
    GraftSqlShim.internalCreateDataFrame(spark, rows, nullable)
  }

  private val cleaner = Cleaner.create()

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
