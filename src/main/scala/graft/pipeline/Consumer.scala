package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Queue → typed rows: the reference's consumer Lambda
  * (cmd/sqs-record-consumer/main.go:27-32) only logs the batch count; we keep
  * that behavior in `count` and add the obvious next step the stub left
  * unwritten — parsing bodies back into rows with `from_json`.
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
    * bodies are handed to Spark as a parallelized RDD, sliced the way
    * `LocalTableScanExec` slices local rows (one slice per core, at most one
    * per body), and not as a local `Seq`: a `Seq` becomes a `LocalRelation`,
    * and `ConvertToLocalRelation` then folds the `from_json` projection into
    * it while the plan is optimized, so every body would be parsed by one
    * interpreted projection on the driver thread. Over an RDD scan the parse
    * runs in code-generated tasks on every core. The parallelized slices
    * keep the bodies, so each action on the result sees the same rows, in
    * queue order.
    */
  def consume(spark: SparkSession, queueName: String, schema: StructType): DataFrame = {
    import spark.implicits._
    val bodies = InMemoryQueue.drain(queueName).map(_.body)
    val slices = math.max(1,
      math.min(bodies.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(spark.sparkContext.parallelize(bodies, slices))
      .select(from_json(col("value"), schema).as("r"))
      .select(col("r.*"))
  }
}
