package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Replay-safe parquet sink: each micro-batch lands in its own
  * `batch_id=<id>` directory with overwrite semantics, so re-processing a
  * batch (failure recovery, checkpoint loss, redeploy-from-scratch)
  * overwrites its own output instead of appending duplicates — effectively
  * exactly-once output on top of an at-least-once source, the standard
  * `foreachBatch` idempotency pattern. Readers just scan the root path
  * (`batch_id` becomes a partition column).
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
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    graft.fs.setup(stream.sparkSession)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite")
          .parquet(s"$outPath/batch_id=$batchId")
        ()
      }
      .start()
  }
}
