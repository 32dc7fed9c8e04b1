package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.DriverSchemaParquetFileFormat
import org.apache.spark.sql.functions._

/** Parquet → JSON → queue publisher: the Spark restatement of the reference's
  * main path (cmd/parquetgo-record-processor/handler.go:104-252, SURVEY.md
  * §3.1). The whole Lambda — download, batched reads, goroutine fan-out,
  * SendMessageBatch — collapses to a declarative plan:
  *
  *   read(paths) → select(id, to_json(struct(*))) → mapPartitions(send in
  *   batches of ≤10, retry failures, emit what still fails)
  *
  * Partition-level task parallelism replaces the errgroup fan-out
  * (handler.go:194-229); the iterator pull model replaces the 500-row
  * `ReadByNumber` batching; and unlike the reference (which only logs failed
  * ids) messages that still fail after `maxAttempts` are RETURNED as a
  * Dataset so callers can dead-letter them (redrive analog,
  * template.yaml:10-12). Scale posture: no shuffle, no driver collection —
  * the only driver-side values are two accumulator counters — and one Spark
  * job per publish: the scan's schema comes from one parquet footer read on
  * the driver (see [[source]]), not from a schema-inference job.
  */
object Publisher {

  /** Job spec — the Lambda request shape {bucket, paths[]}
    * (handler.go:29-32); bucket is folded into the path URIs.
    */
  case class PublishRequest(paths: Seq[String], idColumn: String = "id")

  /** Echoes processed paths (fixing the reference quirk of returning an empty
    * response — SURVEY.md §2.12) plus counters matching its `publishedRows`
    * accounting (handler.go:231-239).
    */
  case class PublishResult(
      paths: Seq[String],
      publishedRows: Long,
      failedRows: Long,
      deadLetters: Seq[QueueMessage])

  /** Serialize every column of `df` to one JSON object per row, key names =
    * column names (the reference's tag-driven `json.Marshal`, handler.go:54).
    */
  def serialize(df: DataFrame, idColumn: String): Dataset[QueueMessage] = {
    val spark = df.sparkSession
    import spark.implicits._
    messageColumns(df, idColumn).as[QueueMessage]
  }

  /** The `(id, body)` columns of [[serialize]], which [[publish]] sends. */
  private def messageColumns(df: DataFrame, idColumn: String): DataFrame =
    df.select(
      col(idColumn).cast("string").as("id"),
      to_json(struct(df.columns.map(col): _*)).as("body"))

  /** Byte-parity variant of `serialize`: the emitted JSON is identical to Go
    * `json.Marshal` of the reference's Record (internal/models/record.go:7-34)
    * for the value domains the pipeline carries. The three representation
    * gaps between Jackson (Spark's to_json) and Go's encoder are closed here:
    *
    *  - timestamps: Go RFC3339 omits the fractional second when it is zero
    *    ("...T00:00:00Z"); Jackson's default pattern always writes ".SSS".
    *    The pipeline's timestamps are second-resolution (DataGenerator casts
    *    from whole seconds), so a seconds-only pattern is exact. Sub-second
    *    data would need Go's trim-trailing-zeros rendering and is rejected
    *    by the golden spec rather than silently mis-encoded.
    *  - floats: Go writes the shortest round-trip decimal, so whole doubles
    *    drop the point ("100", not "100.0"). Jackson writes Java's
    *    Double.toString. For finite non-scientific values the two agree
    *    except for the trailing ".0", which the regex strips.
    *  - key order / empty arrays: already aligned — struct field order
    *    matches the Go struct, and Spark empty arrays render "[]" exactly
    *    like Go's non-nil empty slices.
    *
    * (Go also HTML-escapes < > & by default; no pipeline domain contains
    * them — asserted in the golden spec.)
    */
  def serializeGoCompat(df: DataFrame, idColumn: String): Dataset[QueueMessage] = {
    val spark = df.sparkSession
    import spark.implicits._
    val js = to_json(
      struct(df.columns.map(col): _*),
      Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ssXXX",
          "timeZone" -> "UTC"))
    df.select(
      col(idColumn).cast("string").as("id"),
      regexp_replace(js, """(":-?\d+)\.0([,}\]])""", "$1$2").as("body")
    ).as[QueueMessage]
  }

  /** Driver-side guard for every public entry point that sends: with fewer
    * than one attempt `sendPartition` would send nothing and hand every
    * message back as a dead letter.
    */
  private[graft] def requireAttempts(maxAttempts: Int): Unit =
    require(maxAttempts >= 1, s"maxAttempts must be at least 1, got $maxAttempts")

  /** Send one partition's messages in client-sized batches with bounded
    * retries; returns the messages that still failed.
    */
  private[graft] def sendPartition(
      it: Iterator[QueueMessage],
      client: QueueClient,
      maxAttempts: Int): Iterator[QueueMessage] =
    it.grouped(client.maxBatchSize).flatMap { batch =>
      var pending: Seq[QueueMessage] = batch
      var attempt = 0
      while (pending.nonEmpty && attempt < maxAttempts) {
        val failedIds = client.send(pending).failedIds.toSet
        pending = pending.filter(m => failedIds.contains(m.id))
        attempt += 1
      }
      pending
    }

  /** Name of the `observe` metric group `publish` attaches; rows/bytes land
    * in every `QueryExecutionListener` and `StreamingQueryListener` the
    * session has registered (A3 parity, SURVEY §2.4 — the reference logs its
    * `publishedRows` counter at handler.go:231-239, visible only in logs;
    * observed metrics are the queryable analog).
    */
  val ObservationName = "graft_publish"

  /** The publish scan: `spark.read.parquet(paths)` planned without a Spark
    * job. Stock parquet inference learns the schema by running a one-task
    * job that reads one footer, a fixed scheduling cost on the blocking path
    * of every publish; [[DriverSchemaParquetFileFormat]] reads that same
    * footer on the driver and infers the same schema. With `mergeSchema`
    * set (as a reader option or session conf) every part-file's footer is
    * merged, and the stock job does that unchanged.
    */
  private[graft] def source(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format(classOf[DriverSchemaParquetFileFormat].getName)
      .load(paths: _*)

  /** Publish every row of `req.paths`: one SQL execution, one Spark job.
    *
    * The `(id, body)` projection and its `observe` are analyzed once, and
    * the send runs over that plan's own rows (`queryExecution.toRdd`):
    * each `QueueMessage` is built from the row's two `UTF8String`s (a null
    * stays null, as the `QueueMessage` encoder leaves it), with no
    * object-deserialize/serialize pair around the send. The job runs inside
    * `SQLExecution.withNewExecutionId(qe, Some("collect"))`, as
    * `Dataset.collect` runs its own: when it ends, the execution-end event
    * carries `qe`, whose observed metrics (`attempted_rows`,
    * `attempted_bytes`, counted in the same job) reach every registered
    * `QueryExecutionListener` through `onSuccess("collect", qe, _)`.
    */
  def publish(
      spark: SparkSession,
      req: PublishRequest,
      client: QueueClient,
      maxAttempts: Int = 5): PublishResult = {
    requireAttempts(maxAttempts)
    val messages = messageColumns(source(spark, req.paths), req.idColumn)
      // Plan-level metrics: counted inside the same job that publishes (no
      // second scan), delivered through listener callbacks when the action
      // completes. Accumulators below remain the mid-job progress signal.
      .observe(ObservationName,
        count(lit(1)).as("attempted_rows"),
        sum(octet_length(col("body"))).cast("long").as("attempted_bytes"))
    val sent = spark.sparkContext.longAccumulator("publishedRows")
    val qe = messages.queryExecution
    // Dead letters are typically few (poison messages); collecting them is the
    // driver-side DLQ hand-off, not a data-path collect.
    val deadLetters = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.toRdd.mapPartitions { rows =>
        var n = 0L
        val failed = sendPartition(
          rows.map { r => n += 1; QueueMessage(string(r, 0), string(r, 1)) },
          client, maxAttempts).toVector
        sent.add(n - failed.size)
        failed.iterator
      }.collect().toSeq
    }
    PublishResult(req.paths, sent.value, deadLetters.size.toLong, deadLetters)
  }

  private def string(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) null else row.getUTF8String(i).toString
}

/** Session-registerable sink for the publisher's observed metrics:
  *
  *   val m = new PublishMetricsListener
  *   spark.listenerManager.register(m)
  *   Publisher.publish(...)
  *   m.await() // (rows, bytes) of the last completed publish
  *
  * Listener callbacks are delivered asynchronously after the action
  * completes, hence the bounded-wait accessor.
  */
class PublishMetricsListener
    extends org.apache.spark.sql.util.QueryExecutionListener {

  @volatile private var last: Option[(Long, Long)] = None

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit =
    qe.observedMetrics.get(Publisher.ObservationName).foreach { row =>
      last = Some((row.getAs[Long]("attempted_rows"),
        row.getAs[Long]("attempted_bytes")))
    }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = ()

  /** Last observed (attempted_rows, attempted_bytes), waiting up to
    * `timeoutMs` for the async callback to land.
    */
  def await(timeoutMs: Long = 10000): (Long, Long) = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (last.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    last.getOrElse(throw new IllegalStateException(
      "no publish metrics observed within timeout"))
  }

  def clear(): Unit = last = None
}
