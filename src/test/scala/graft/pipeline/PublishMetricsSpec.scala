package graft.pipeline

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.plans.logical.DeserializeToObject
import org.apache.spark.sql.execution.{DeserializeToObjectExec, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

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

  /** Keeps every successful execution that carries the publisher's
    * observed metrics.
    */
  class PublishExecutions extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.observedMetrics.contains(Publisher.ObservationName)) seen.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def metrics: Seq[(Long, Long)] = seen.asScala.toSeq.map { qe =>
      val r = qe.observedMetrics(Publisher.ObservationName)
      (r.getAs[Long]("attempted_rows"), r.getAs[Long]("attempted_bytes"))
    }
  }

  /** `body` with a [[PublishExecutions]] registered; returns what it saw
    * once the listener bus has drained.
    */
  def observing(body: => Unit): PublishExecutions = {
    val l = new PublishExecutions
    GraftSqlShim.waitListenerBusEmpty(spark)
    spark.listenerManager.register(l)
    try {
      body
      GraftSqlShim.waitListenerBusEmpty(spark)
    } finally spark.listenerManager.unregister(l)
    l
  }

  test("each publish reports exactly one (rows, bytes), null ids included") {
    val dir = tmpDir("obs-nullid")
    import spark.implicits._
    Seq(Some(1L) -> "a", None -> "b", Some(3L) -> "c", None -> "d")
      .toDF("k", "text").write.mode("overwrite").parquet(dir)
    val req = Publisher.PublishRequest(Seq(dir), idColumn = "k")
    val bytes = Publisher.serialize(spark.read.parquet(dir), "k").collect()
      .map(_.body.getBytes(StandardCharsets.UTF_8).length.toLong).sum
    val first = observing {
      val res = Publisher.publish(spark, req, new DiscardQueueClient)
      assert(res.publishedRows == 4L && res.failedRows == 0L)
    }
    assert(first.metrics == Seq((4L, bytes)))
    val dead = observing {
      val res = Publisher.publish(spark, req, new QueueClient {
        def send(batch: Seq[QueueMessage]) = BatchSendResult(batch.map(_.id))
      }, maxAttempts = 2)
      assert(res.deadLetters.map(_.id).sortBy(Option(_)) ==
        Seq(null, null, "1", "3"))
    }
    assert(dead.metrics == Seq((4L, bytes)))
  }

  test("rows with a null id publish through InMemoryQueueClient") {
    val dir = tmpDir("pub-nullid")
    import spark.implicits._
    Seq(Some(1L) -> "a", None -> "b", Some(3L) -> "c", None -> "d")
      .toDF("k", "text").write.mode("overwrite").parquet(dir)
    val req = Publisher.PublishRequest(Seq(dir), idColumn = "k")
    val qn = s"pub-nullid-${java.util.UUID.randomUUID()}"
    val res = Publisher.publish(spark, req, new InMemoryQueueClient(qn))
    assert(res.publishedRows == 4L && res.failedRows == 0L)
    assert(InMemoryQueue.all(qn).map(_.id).sortBy(Option(_)) == Seq(null, null, "1", "3"))
    // a null id is neither a poison id nor a fail-first id
    val faulty = s"pub-nullid-faults-${java.util.UUID.randomUUID()}"
    val dead = Publisher.publish(spark, req,
      new InMemoryQueueClient(faulty, failFirstAttempts = Map("3" -> 1), poisonIds = Set("1")))
    assert(dead.publishedRows == 3L && dead.deadLetters.map(_.id) == Seq("1"))
    assert(InMemoryQueue.all(faulty).map(_.id).sortBy(Option(_)) == Seq(null, null, "3"))
    InMemoryQueue.clear(qn)
    InMemoryQueue.clear(faulty)
  }

  test("the publish plan sends from its own rows, with no object deserializer") {
    val seen = observing {
      Publisher.publish(spark,
        Publisher.PublishRequest(Seq(s"$sfDir/nation.parquet"), idColumn = "n_nationkey"),
        new DiscardQueueClient)
    }.seen.asScala.toSeq
    assert(seen.size == 1)
    val qe = seen.head
    assert(qe.optimizedPlan.collect { case d: DeserializeToObject => d }.isEmpty,
      qe.optimizedPlan.treeString)
    assert(qe.executedPlan.collect { case d: DeserializeToObjectExec => d }.isEmpty,
      qe.executedPlan.treeString)
  }
}
