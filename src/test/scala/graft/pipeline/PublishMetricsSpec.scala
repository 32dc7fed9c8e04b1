package graft.pipeline

import java.nio.charset.StandardCharsets

import graft.SparkSpec

/** observe()-based publish metrics (A3 parity): plan-level counters
  * delivered via QueryExecutionListener, alongside the accumulators.
  */
class PublishMetricsSpec extends SparkSpec {

  test("observed metrics report attempted rows and bytes per publish") {
    val m = new PublishMetricsListener
    spark.listenerManager.register(m)
    try {
      val qn = s"obs-${java.util.UUID.randomUUID()}"
      val res = Publisher.publish(spark,
        Publisher.PublishRequest(Seq(s"$sfDir/nation.parquet"),
          idColumn = "n_nationkey"),
        new InMemoryQueueClient(qn))
      val (rows, bytes) = m.await()
      assert(rows == 25L)
      assert(rows == res.publishedRows + res.failedRows)
      // bytes = total serialized payload; every body is a non-empty JSON
      // object, so the floor is 2 bytes per row
      assert(bytes > rows * 2)
      val actualBytes = InMemoryQueue.all(qn)
        .map(_.body.getBytes(StandardCharsets.UTF_8).length.toLong).sum
      assert(bytes == actualBytes)
    } finally spark.listenerManager.unregister(m)
  }

  test("attempted bytes count UTF-8 bytes, not characters, of non-ASCII bodies") {
    val dir = tmpDir("obs-utf8")
    import spark.implicits._
    Seq(1L -> "naïve café", 2L -> "日本語のテキスト", 3L -> "emoji \uD83D\uDE00 ok", 4L -> "plain")
      .toDF("k", "text").write.mode("overwrite").parquet(dir)
    val m = new PublishMetricsListener
    spark.listenerManager.register(m)
    try {
      val qn = s"obs-utf8-${java.util.UUID.randomUUID()}"
      Publisher.publish(spark, Publisher.PublishRequest(Seq(dir), idColumn = "k"),
        new InMemoryQueueClient(qn))
      val (rows, bytes) = m.await()
      val bodies = InMemoryQueue.all(qn).map(_.body)
      assert(rows == 4L && bodies.size == 4)
      assert(bytes == bodies.map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum)
      assert(bytes > bodies.map(_.length.toLong).sum)
    } finally spark.listenerManager.unregister(m)
  }

  test("metrics include rows that dead-letter (attempted, not delivered)") {
    val m = new PublishMetricsListener
    spark.listenerManager.register(m)
    try {
      val qn = s"obs-dlq-${java.util.UUID.randomUUID()}"
      val res = Publisher.publish(spark,
        Publisher.PublishRequest(Seq(s"$sfDir/nation.parquet"),
          idColumn = "n_nationkey"),
        new InMemoryQueueClient(qn, poisonIds = Set("3", "7")))
      val (rows, _) = m.await()
      assert(rows == 25L)
      assert(res.publishedRows == 23L && res.failedRows == 2L)
    } finally spark.listenerManager.unregister(m)
  }
}
