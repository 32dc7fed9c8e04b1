package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Replay-safe parquet sink: each micro-batch lands in its own
  * `batch_id=<id>` directory with overwrite semantics, so re-processing a
  * batch (failure recovery, checkpoint loss, redeploy-from-scratch)
  * overwrites its own output instead of appending duplicates — effectively
  * exactly-once output on top of an at-least-once source, the standard
  * `foreachBatch` idempotency pattern. Readers just scan the root path
  * (`batch_id` becomes a partition column).
  *
  * Each batch is written by the query's [[BatchParquetWriter]]: one job
  * whose tasks write their part files into a hidden staging dir
  * (`.batch_id=<id>.<token>`), after which the driver writes `_SUCCESS`,
  * moves the batch's older output aside, renames the staging dir into place
  * and deletes the aside ([[graft.operators.Segments.commit]]). A crash
  * before that rename leaves no partial `batch_id=<id>` behind; the re-run
  * batch lands exactly once. The parquet write configuration is
  * broadcast once per query instead of being serialized into every task,
  * and the broadcast is destroyed when the query terminates.
  *
  * `start` installs [[graft.fs.setup]] on the stream's session: from then on
  * the context's `file:` paths, the sink's parquet writes and the checkpoint
  * logs among them, resolve to [[graft.fs.NioLocalFileSystem]] and
  * [[graft.fs.NioLocalFs]], which set permission bits and read links
  * without spawning `chmod` or `readlink`.
  */
object IdempotentSink {

  def start(
      stream: DataFrame,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startWith(stream, checkpoint, trigger, new BatchParquetWriter(outPath))

  private[streaming] def startWith(
      stream: DataFrame,
      checkpoint: String,
      trigger: Trigger,
      writer: BatchParquetWriter): StreamingQuery = {
    val spark = stream.sparkSession
    graft.fs.setup(spark)
    val query = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => writer.write(batch, batchId) }
      .start()
    val onEnd = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == query.runId) {
          writer.close()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(onEnd)
    // A query that ended before the listener was added may never report it.
    if (!query.isActive) {
      writer.close()
      spark.streams.removeListener(onEnd)
    }
    query
  }
}
