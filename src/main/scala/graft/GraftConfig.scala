package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.{InMemoryQueueClient, QueueClient}

/** Deployment configuration seam — the Spark restatement of the reference's
  * env-driven config (cmd/parquetgo-record-processor/config.go:4-23) and its
  * S3 endpoint override (s3_options.go:10-16, the LocalStack hook).
  *
  * Same env variable names, Spark-native application:
  *
  *  - `S3_ENDPOINT_OVERRIDE` → Hadoop `fs.s3a.endpoint` (+ path-style
  *    access, which non-AWS endpoints require). In Spark the storage client
  *    is owned by the FileSystem layer, so "pass an option to the S3 client"
  *    becomes "set the Hadoop conf before the first read" — no code change
  *    anywhere else: `Tables`/`Publisher` already take URIs.
  *  - `GRAFT_BASE_URI` → where the tables live (`file:/...`, `s3a://bucket/
  *    prefix`, `hdfs://...`). The reference hardcodes bucket+key per request;
  *    here every loader resolves through `tablePath`.
  *  - `QUEUE_URL` → transport selection by scheme: `mem://name` is the
  *    in-memory test queue; an `sqs://` or `https://sqs...` URL is where a
  *    deployment plugs its client in (rejected here with a clear error
  *    rather than stubbed with dead code).
  *  - `SQS_BATCH_SIZE` → queue client batch size (reference default 10, the
  *    SendMessageBatch hard cap).
  *  - `ROWS_PER_BATCH`/`ROWS_PER_WORKER` have no analog by design: batch
  *    sizing and worker fan-out are Spark's partition planning
  *    (`spark.sql.files.maxPartitionBytes`, AQE) — SURVEY.md §2.13/X1-X4.
  */
case class GraftConfig(
    env: String = "local",
    baseUri: String = "",
    queueUrl: String = "",
    queueBatchSize: Int = 10,
    fsEndpointOverride: String = "") {
  // A batch size below 1 would only fail later, inside every publish task.
  require(queueBatchSize >= 1,
    s"SQS_BATCH_SIZE / queueBatchSize must be at least 1, got $queueBatchSize")

  /** Resolve a table name to its parquet URI under `baseUri`. */
  def tablePath(name: String): String = {
    require(baseUri.nonEmpty, "GRAFT_BASE_URI / baseUri not configured")
    s"${baseUri.stripSuffix("/")}/$name.parquet"
  }

  /** Apply the storage overrides to the session's Hadoop conf. Idempotent;
    * a no-op when no override is configured (exactly the reference's
    * "" -> keep default endpoint behavior).
    */
  def configure(spark: SparkSession): GraftConfig = {
    if (fsEndpointOverride.nonEmpty) {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3a.endpoint", fsEndpointOverride)
      hc.set("fs.s3a.path.style.access", "true")
    }
    this
  }

  /** Build the queue transport for `queueUrl` by scheme. */
  def queueClient(): QueueClient = queueUrl.split("://", 2) match {
    case Array("mem", name) => new InMemoryQueueClient(name) {
      override def maxBatchSize: Int = queueBatchSize
    }
    case Array(scheme, _) => throw new IllegalArgumentException(
      s"no queue client registered for scheme '$scheme' " +
        "(deployments register an SQS/Kinesis impl of QueueClient)")
    case _ => throw new IllegalArgumentException(
      s"QUEUE_URL must be <scheme>://<rest>, got '$queueUrl'")
  }
}

object GraftConfig {

  /** Parse from an environment map using the reference's variable names
    * (config.go tags), defaulting exactly like Go's env parser: absent →
    * zero value, here the case-class defaults.
    */
  def fromEnv(env: Map[String, String] = sys.env): GraftConfig = GraftConfig(
    env = env.getOrElse("ENV", "local"),
    baseUri = env.getOrElse("GRAFT_BASE_URI", ""),
    queueUrl = env.getOrElse("QUEUE_URL", ""),
    queueBatchSize = env.get("SQS_BATCH_SIZE").map(v => v.toIntOption
      .getOrElse(throw new IllegalArgumentException(
        s"SQS_BATCH_SIZE must be an integer, got '$v'"))).getOrElse(10),
    fsEndpointOverride = env.getOrElse("S3_ENDPOINT_OVERRIDE", ""))
}
