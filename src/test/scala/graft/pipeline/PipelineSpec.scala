package graft.pipeline

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, Encoders, GraftSqlShim, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SerializeFromObjectExec
import org.apache.spark.sql.functions.{col, from_json, lit}
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.model.Record
import graft.sources.DataGenerator
import graft.streaming.StreamPublisher

/** End-to-end reference parity: generate → parquet → publish (JSON, batches
  * of ≤10, retry, partial failure) → consume (count + JSON round-trip).
  * SURVEY.md §7.1 item 6.
  */
class PipelineSpec extends SparkSpec {

  def freshData(n: Long, seed: Long): (String, Long) = {
    val dir = tmpDir("pipe")
    DataGenerator.generate(spark, n, seed).write.mode("overwrite").parquet(dir)
    (dir, n)
  }

  test("publish delivers every record exactly once on the happy path") {
    val (dir, n) = freshData(137L, 1L)
    InMemoryQueue.clear("q1")
    val res = Publisher.publish(spark,
      Publisher.PublishRequest(Seq(dir)), new InMemoryQueueClient("q1"))
    assert(res.publishedRows === n)
    assert(res.failedRows === 0L)
    assert(res.paths === Seq(dir))
    assert(Consumer.count("q1") === n)
    // no duplicate deliveries
    val ids = InMemoryQueue.all("q1").map(_.id)
    assert(ids.distinct.size === ids.size)
  }

  test("transient failures are retried; only poison messages dead-letter") {
    val (dir, n) = freshData(60L, 2L)
    InMemoryQueue.clear("q2")
    val someIds = spark.read.parquet(dir).select("id")
      .limit(5).collect().map(_.getString(0)).toSeq
    val transient = someIds.take(3).map(_ -> 2).toMap // fail twice, then ok
    val poison = someIds.drop(3).toSet                 // always fail
    val res = Publisher.publish(spark,
      Publisher.PublishRequest(Seq(dir)),
      new InMemoryQueueClient("q2", transient, poison), maxAttempts = 5)
    assert(res.publishedRows === n - poison.size)
    assert(res.failedRows === poison.size.toLong)
    assert(res.deadLetters.map(_.id).toSet === poison)
    assert(Consumer.count("q2") === n - poison.size)
  }

  test("consumed JSON parses back to the exact generated records") {
    val (dir, _) = freshData(50L, 3L)
    InMemoryQueue.clear("q3")
    Publisher.publish(spark,
      Publisher.PublishRequest(Seq(dir)), new InMemoryQueueClient("q3"))
    val schema = Encoders.product[Record].schema
    val back = Consumer.consume(spark, "q3", schema)
    val orig = spark.read.parquet(dir)
    assert(back.count() === 50L)
    // full-row equality both directions (timestamps, nested struct, arrays)
    assert(back.exceptAll(orig).isEmpty)
    assert(orig.exceptAll(back).isEmpty)
  }

  test("multi-path publish processes all paths (sequential-loop parity)") {
    val (dir1, _) = freshData(20L, 4L)
    val (dir2, _) = freshData(30L, 5L)
    InMemoryQueue.clear("q4")
    val res = Publisher.publish(spark,
      Publisher.PublishRequest(Seq(dir1, dir2)), new InMemoryQueueClient("q4"))
    assert(res.publishedRows === 50L)
    assert(Consumer.count("q4") === 50L)
  }

  test("batches never exceed the SQS hard limit of 10") {
    // the client itself asserts batch size ≤ 10; a violation would throw
    val (dir, n) = freshData(95L, 6L)
    InMemoryQueue.clear("q5")
    val res = Publisher.publish(spark,
      Publisher.PublishRequest(Seq(dir)), new InMemoryQueueClient("q5"))
    assert(res.publishedRows === n)
  }

  /** Publish `n` generated records into a cleared queue `q`. */
  def published(q: String, n: Long, seed: Long): Unit = {
    val (dir, _) = freshData(n, seed)
    InMemoryQueue.clear(q)
    Publisher.publish(spark,
      Publisher.PublishRequest(Seq(dir)), new InMemoryQueueClient(q))
  }

  test("consume parses in parallel tasks, not in a driver-side LocalRelation") {
    val cores = spark.sparkContext.defaultParallelism
    published("q6", 3L * cores, 7L)
    val back = Consumer.consume(spark, "q6", Encoders.product[Record].schema)
    val local = back.queryExecution.optimizedPlan.collect {
      case r: LocalRelation => r
    }
    assert(local.isEmpty, back.queryExecution.optimizedPlan.treeString)
    assert(back.rdd.getNumPartitions === cores)
    assert(back.count() === 3L * cores)
  }

  test("consume drains the queue before any action runs") {
    published("q7", 40L, 8L)
    assert(Consumer.count("q7") === 40)
    Consumer.consume(spark, "q7", Encoders.product[Record].schema)
    assert(Consumer.count("q7") === 0)
  }

  test("every action on the consumed frame sees the same drained rows") {
    published("q8", 40L, 9L)
    val back = Consumer.consume(spark, "q8", Encoders.product[Record].schema)
    val first = back.collect().toSeq
    assert(first.size === 40)
    val firstDf = spark.createDataFrame(
      spark.sparkContext.parallelize(first), back.schema)
    assert(back.exceptAll(firstDf).isEmpty)
    assert(firstDf.exceptAll(back).isEmpty)
  }

  test("an empty queue consumes to zero rows of the requested schema") {
    InMemoryQueue.clear("q9")
    // consume reports the schema as from_json does, every field nullable,
    // so request a nullable schema
    val schema = new StructType().add("id", "string")
      .add("account_balance", "double").add("tags", "array<string>")
    val back = Consumer.consume(spark, "q9", schema)
    assert(back.count() === 0L)
    assert(back.schema === schema)
  }

  test("collect() returns consumed rows in queue order") {
    published("q10", 60L, 10L)
    val queued = InMemoryQueue.all("q10").map(_.id)
    val back = Consumer.consume(spark, "q10", Encoders.product[Record].schema)
    assert(back.select("id").collect().map(_.getString(0)).toSeq === queued)
  }

  test("maxAttempts below 1 is rejected on the driver at every entry point") {
    val (dir, _) = freshData(20L, 11L)
    InMemoryQueue.clear("q11")
    val client = new InMemoryQueueClient("q11")
    val errors = Seq(
      intercept[IllegalArgumentException](Publisher.publish(spark,
        Publisher.PublishRequest(Seq(dir)), client, maxAttempts = 0)),
      intercept[IllegalArgumentException](StreamPublisher.start(
        spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
        client, tmpDir("dlq"), maxAttempts = 0,
        checkpoint = tmpDir("ckpt"))),
      intercept[IllegalArgumentException](
        StreamPublisher.redrive(spark, dir, client, maxAttempts = -1)))
    errors.foreach(e => assert(e.getMessage.contains("maxAttempts")))
    assert(Consumer.count("q11") === 0)
    assert(spark.streams.active.isEmpty)
  }

  test("publish runs exactly one Spark job") {
    val dir = tmpDir("pipe-jobs")
    DataGenerator.generate(spark, 80L, 12L).repartition(4)
      .write.mode("overwrite").parquet(dir)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) === 4)
    InMemoryQueue.clear("q12")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftSqlShim.waitListenerBusEmpty(spark) // bounded: 10 s
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = Publisher.publish(spark,
        Publisher.PublishRequest(Seq(dir)), new InMemoryQueueClient("q12"))
      assert(res.publishedRows === 80L)
      GraftSqlShim.waitListenerBusEmpty(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 1, "the schema must come without a Spark job")
  }

  test("publish reads the schema spark.read.parquet infers") {
    def same(paths: String*): Unit = {
      val want = spark.read.parquet(paths: _*).schema
      assert(Publisher.source(spark, paths).schema === want, paths)
    }
    val (dir, _) = freshData(30L, 13L)
    val names = new java.io.File(dir).list()
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    same(dir)
    val (dir2, _) = freshData(20L, 14L)
    same(dir, dir2)
    same(new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head)
    same(s"$dir/*.parquet")

    val parted = tmpDir("pipe-parted")
    spark.read.parquet(dir).withColumn("k", lit(7))
      .write.mode("overwrite").partitionBy("k").parquet(parted)
    same(parted)
    assert(Publisher.source(spark, Seq(parted)).columns.contains("k"))
    assert(Publisher.source(spark, Seq(parted))
      .exceptAll(spark.read.parquet(parted)).isEmpty)

    import spark.implicits._
    val (ab, ac) = (tmpDir("pipe-ab"), tmpDir("pipe-ac"))
    Seq((1, "x")).toDF("a", "b").coalesce(1).write.mode("overwrite").parquet(ab)
    Seq((2, 3.0)).toDF("a", "c").coalesce(1).write.mode("overwrite").parquet(ac)
    val key = "spark.sql.parquet.mergeSchema"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      same(ab, ac)
      assert(Publisher.source(spark, Seq(ab, ac)).columns.toSet ===
        Set("a", "b", "c"))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an empty directory fails as spark.read.parquet does") {
    val empty = tmpDir("pipe-empty")
    val stock = intercept[AnalysisException](spark.read.parquet(empty))
    val ours = intercept[AnalysisException](Publisher.source(spark, Seq(empty)))
    assert(stock.getCondition === "UNABLE_TO_INFER_SCHEMA")
    assert(ours.getCondition === stock.getCondition)
  }

  test("a corrupt footer fails, or with ignoreCorruptFiles is skipped, " +
      "as spark.read.parquet does") {
    val (dir, _) = freshData(20L, 16L)
    // sorts before every part-file, so it is the file inference reads
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a-corrupt.parquet"),
      "not parquet".getBytes)
    def condition(read: => Any): String =
      Iterator.iterate[Throwable](intercept[Exception](read))(_.getCause)
        .takeWhile(_ != null).collectFirst {
          case e: org.apache.spark.SparkThrowable if e.getCondition != null &&
            !e.getCondition.startsWith("SPARK_JOB") => e.getCondition
        }.getOrElse("none")
    val stock = condition(spark.read.parquet(dir))
    assert(stock.startsWith("FAILED_READ_FILE"), stock)
    assert(condition(Publisher.source(spark, Seq(dir))) === stock)
    val key = "spark.sql.files.ignoreCorruptFiles"
    spark.conf.set(key, "true")
    try {
      val skipped = condition(spark.read.parquet(dir))
      assert(skipped === "UNABLE_TO_INFER_SCHEMA")
      assert(condition(Publisher.source(spark, Seq(dir))) === skipped)
    } finally spark.conf.unset(key)
  }

  test("a dropped consumed frame's staged segments are deleted once it is unreachable") {
    published("q19", 40L, 19L)
    val files = InMemoryQueue.queue("q19").segmentFiles
    assert(files.nonEmpty && files.forall(java.nio.file.Files.exists(_)))
    // the frame is only reachable inside this call
    def consumedRows(): Long =
      Consumer.consume(spark, "q19", Encoders.product[Record].schema).count()
    assert(consumedRows() === 40L)
    // consume detached the segments: the queue no longer owns them
    assert(InMemoryQueue.queue("q19").segmentFiles.isEmpty)
    def left = files.filter(java.nio.file.Files.exists(_))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(left.isEmpty, left)
  }

  test("an action after the consumed frame's segment files are gone fails naming the file") {
    published("q13", 40L, 15L)
    val files = InMemoryQueue.queue("q13").segmentFiles
    assert(files.nonEmpty)
    val back = Consumer.consume(spark, "q13", Encoders.product[Record].schema)
    files.foreach(java.nio.file.Files.delete)
    val e = intercept[SparkException](back.count())
    assert(e.getMessage.contains(files.head.toString), e.getMessage)
  }

  /** Consumes `bodies` from a fresh queue `q` and checks the frame against
    * the one the old `from_json` path builds from them,
    * `createDataset(bodies).select(from_json(col("value"), schema).as("r"))
    * .select("r.*")`: same schema, same rows in the same order. Returns the
    * rows.
    */
  def assertSameAsFromJson(q: String, schema: StructType, bodies: Seq[String]): Seq[Row] = {
    InMemoryQueue.clear(q)
    bodies.zipWithIndex.foreach { case (b, i) =>
      InMemoryQueue.queue(q).add(QueueMessage(i.toString, b)) }
    val oracle = spark.createDataset(bodies)(Encoders.STRING)
      .select(from_json(col("value"), schema).as("r")).select(col("r.*"))
    val back = Consumer.consume(spark, q, schema)
    assert(back.schema === oracle.schema)
    val rows = back.collect().toSeq
    assert(rows === oracle.collect().toSeq)
    rows
  }

  test("consume gives the rows and schema from_json gives, edge cases too") {
    val record = Encoders.product[Record].schema
    val (dir, _) = freshData(30L, 17L)
    val wellFormed = Publisher.serialize(spark.read.parquet(dir), "id")
      .collect().map(_.body).toSeq
    assert(assertSameAsFromJson("q14", record, wellFormed).size === 30)

    val simple = new StructType().add("id", "string", nullable = false)
      .add("n", "long").add("tags", "array<string>")
      .add("nested", new StructType().add("x", "double", nullable = false))
    val edge = Seq(
      """{"id":"a","n":1,"tags":["x","y"],"nested":{"x":1.5}}""",
      """{"id":"b","n":"not a number","tags":["x"]}""",   // partial result
      """{"id":"c","n":2,"tags":["x",""",                  // truncated
      null,
      "",
      """[{"id":"d","n":3}]""",                            // top-level array
      "{\"id\":\"naïve café 日本語 \uD83D\uDE00\",\"n\":4}",
      "{\"id\":\"\\u00e9\\ud83d\\ude00\",\"n\":5}",  // escaped 4-byte
      "{\"id\":\"lone \uD800 surrogate\",\"n\":6}",
      "{\"id\":\"escaped lone \\ud800\",\"n\":7}",
      """{"n":8}""")
    val rows = assertSameAsFromJson("q15", simple, edge)
    assert(rows.size === edge.size)
    assert(rows(3) === Row(null, null, null, null))
    assert(rows(6).getString(0) === "naïve café 日本語 \uD83D\uDE00")

    // mid-schema, so the parsed fields sit at other indices than the output's
    val withCorrupt = StructType(simple.fields.take(2) ++
      new StructType().add("_corrupt_record", "string").fields ++ simple.fields.drop(2))
    val corrupt = assertSameAsFromJson("q16", withCorrupt, edge)
    assert(corrupt(2).getString(2) === edge(2))
    assert(corrupt(0).isNullAt(2) && corrupt(0).getSeq[String](3) === Seq("x", "y"))

    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try {
      val ts = new StructType().add("t", "timestamp").add("d", "date")
      val local = assertSameAsFromJson("q17", ts, Seq(
        """{"t":"2024-01-01 00:00:00","d":"2024-01-01"}""",
        """{"t":"2024-03-10T02:30:00","d":"2024-03-10"}""",
        """{"t":"2024-07-01T12:00:00Z"}"""))
      assert(local.head.getTimestamp(0) ===
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T08:00:00Z")))
    } finally spark.conf.set(key, saved)
  }

  test("the consumed frame's plan runs no from_json and no object serializer") {
    published("q18", 40L, 18L)
    val back = Consumer.consume(spark, "q18", Encoders.product[Record].schema)
    assert(back.count() === 40L)
    val plan = back.queryExecution.executedPlan
    assert(plan.collect { case s: SerializeFromObjectExec => s }.isEmpty, plan.treeString)
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs]))),
      plan.treeString)
  }
}
