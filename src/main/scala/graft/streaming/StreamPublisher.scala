package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{Publisher, QueueClient, QueueMessage}

/** Structured-Streaming publisher with dead-letter semantics — the streaming
  * restatement of the reference's SQS redrive policy (`maxReceiveCount: 5`
  * then DLQ, template.yaml:10-12) and its micro-batch delivery model
  * (event-source mapping, template.yaml:82-86).
  *
  * Each micro-batch is serialized and sent per-partition in client-sized
  * batches; messages that still fail after `maxAttempts` are appended to a
  * dead-letter parquet path. At-least-once semantics match SQS standard
  * queues: a batch retried after a sink failure may resend already-delivered
  * messages.
  */
object StreamPublisher {

  def start(
      stream: DataFrame,
      client: QueueClient,
      dlqPath: String,
      idColumn: String = "id",
      maxAttempts: Int = 5,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: String): StreamingQuery = {
    Publisher.requireAttempts(maxAttempts)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val dead: Dataset[QueueMessage] =
          Publisher.serialize(batch, idColumn).mapPartitions { it =>
            Publisher.sendPartition(it, client, maxAttempts)
          }
        // The parquet append is the action that drives the publish; the DLQ
        // file doubles as the redrive target for replay.
        dead.write.mode("append").parquet(dlqPath)
        ()
      }
      .start()
  }

  /** Redrive: re-publish dead-lettered messages (the SQS DLQ "start redrive"
    * operation, applied to our parquet DLQ). Returns the messages that STILL
    * fail, so the caller can re-dead-letter or alert; an empty result means
    * the queue drained clean.
    */
  def redrive(
      spark: org.apache.spark.sql.SparkSession,
      dlqPath: String,
      client: QueueClient,
      maxAttempts: Int = 5): Dataset[QueueMessage] = {
    Publisher.requireAttempts(maxAttempts)
    import spark.implicits._
    spark.read
      .schema(org.apache.spark.sql.Encoders.product[QueueMessage].schema)
      .parquet(dlqPath)
      .as[QueueMessage]
      .mapPartitions(it => Publisher.sendPartition(it, client, maxAttempts))
  }
}
