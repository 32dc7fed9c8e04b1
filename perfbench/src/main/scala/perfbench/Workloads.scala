package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType

import graft.model.Record
import graft.pipeline.{Consumer, InMemoryQueue, InMemoryQueueClient, Publisher, QueueClient}
import graft.sources.DataGenerator
import graft.streaming.IdempotentSink

/** What one run of a workload measured. `e2e` holds the end-to-end metrics
  * of the untraced iterations, `layers` the per-layer metrics of the traced
  * ones (empty when the run was untraced).
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    e2e: Map[String, Double],
    layers: Map[String, Double],
    detail: Map[String, String])

/** Everything a workload needs from the harness. `size` scales the inputs:
  * 1.0 for measured runs, small for the self-test.
  */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val runDir: File,
    val size: Double,
    val runId: String) {
  val tracer = new Tracer(trace, runId)
  val queues = ArrayBuffer.empty[String]
  private val heapSamples = ArrayBuffer.empty[(String, Double)]
  val cpus: Int = spark.sparkContext.defaultParallelism

  def dir(name: String): String = new File(runDir, s"work/$name").getAbsolutePath

  def queue(name: String): String = { val q = s"perfbench-$runId-$name"; queues += q; q }

  /** Heap after a forced collection, taken between timed intervals at the
    * stage boundary `at`.
    */
  def sampleHeap(at: String): Unit = heapSamples += at -> Jvm.retainedHeapMb()

  /** The largest, over boundaries, of the median heap retained there: one
    * odd sample cannot set it.
    */
  def heapRetainedMb: Double =
    heapSamples.groupMap(_._1)(_._2).values.map(xs => Stats.median(xs.toSeq)).max

  def heapDetail: String =
    heapSamples.groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .map { case (k, xs) => f"$k=${Stats.median(xs.toSeq)}%.1f/${xs.max}%.1f" }.mkString(" ")
}

object Stats {
  /** Percentile with linear interpolation between order statistics. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = h.toInt
    if (lo + 1 >= s.size) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Shared pieces of the two queue workloads. */
object Pipeline {
  val schema: StructType = Encoders.product[Record].schema
  private val recordCols: Seq[Column] = schema.fieldNames.toSeq.map(col)

  /** Order-independent integer checksum of a set of records: the sums of
    * the low and high 32-bit halves of xxhash64 over every column. Each sum
    * fits a long for fewer than 2^31 rows, so no addition overflows.
    */
  def checksum(df: DataFrame): (Long, Long, Long, Long) = {
    val h = xxhash64(recordCols: _*)
    val r = df.agg(
      count(lit(1)), count_distinct(col("id")),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftright(h, 32)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Generates the seeded `Record` input and writes it as parquet, `reps`
    * times into fresh directories; returns the median wall and the last
    * directory, which the workload then reads.
    */
  def setup(ctx: Ctx, rows: Long, reps: Int): (Seq[Double], String) = {
    val dirs = (1 to reps).map(r => ctx.dir(s"input-$r"))
    val walls = dirs.map { d =>
      val t0 = System.nanoTime()
      ctx.tracer.span("sources.generate") {
        TaskProbe.inLayer(ctx.spark.sparkContext, "sources.generate") {
          DataGenerator.generate(ctx.spark, rows, ctx.seed, ctx.cpus)
            .write.parquet(d)
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    dirs.init.foreach(d => Files.delete(new File(d)))
    (walls, dirs.last)
  }

  /** Records lost, duplicated or altered, judged from `checksum` results:
    * the row-count gap plus duplicate ids plus `otherErrors`, and at least
    * one when anything differs at all.
    */
  def failedRecords(got: (Long, Long, Long, Long), want: (Long, Long, Long, Long),
      otherErrors: Long): Long = {
    val n = math.abs(want._1 - got._1) + (got._1 - got._2) + otherErrors
    if (got == want && otherErrors == 0) 0L else math.max(1L, n)
  }

  def parquetFiles(dir: String): Seq[File] =
    Files.walk(new File(dir)).filter(f => f.isFile && f.getName.endsWith(".parquet"))
}

object Files {
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) :+ f
    else if (f.exists()) Seq(f) else Nil

  def bytes(f: File): Long = walk(f).filter(_.isFile).map(_.length).sum

  def delete(f: File): Unit = walk(f).foreach(_.delete())
}

/** Runs iterations of a workload body until a deadline, first untraced and,
  * in a traced run, then traced. The untraced half gives the end-to-end
  * figures, the traced half the per-layer ones; comparing the two halves'
  * median step gives the tracing overhead.
  */
object Phases {
  val MinIterations = 3

  /** `iteration(traced, counted)` runs one iteration. The first `warmups` are
    * untimed warm-ups that let code generation and JIT settle; their output
    * is still checked. The heap is sampled after every iteration.
    */
  def run[T](ctx: Ctx, warmups: Int, onTrace: () => Unit)(
      iteration: (Boolean, Boolean) => T): (Seq[T], Seq[T]) = {
    def loop(secs: Double, traced: Boolean): Seq[T] = {
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      val out = ArrayBuffer.empty[T]
      while (out.size < MinIterations || System.nanoTime() < deadline) {
        out += iteration(traced, true)
        ctx.sampleHeap("iteration_end")
      }
      out.toSeq
    }
    ctx.tracer.enabled = false
    for (_ <- 1 to warmups) {
      iteration(false, false)
      ctx.sampleHeap("iteration_end")
    }
    if (!ctx.trace) (loop(ctx.seconds, traced = false), Nil)
    else {
      val plain = loop(ctx.seconds / 2, traced = false)
      onTrace()
      ctx.tracer.enabled = true
      (plain, loop(ctx.seconds / 2, traced = true))
    }
  }
}

/** The paper's pipeline as the reference wires it: seeded `Record` parquet
  * is published as JSON through the `QueueClient` seam into an in-memory
  * queue with injected faults, then consumed back and verified.
  */
object PublishRoundtrip {
  val Rows = 16000L
  val SetupReps = 5
  /** Iteration walls keep falling for the first several iterations (JIT). */
  val Warmups = 8
  val PoisonIds = 10
  /** Share of ids that fail their first send, in percent. */
  val FailFirstPct = 1

  final case class Iter(publishS: Double, consumeCallS: Double, consumeExecS: Double,
      gcMs: Long, compiles: Long, layers: Map[String, Double]) {
    def wallS: Double = publishS + consumeCallS + consumeExecS
  }

  def run(ctx: Ctx, wrap: (QueueClient, String) => QueueClient = (c, _) => c): Outcome = {
    val spark = ctx.spark
    val rows = math.max(200L, (Rows * ctx.size).toLong)
    val (setupWalls, input) = Pipeline.setup(ctx, rows, SetupReps)

    // Fault plan, derived from the seed: about 1 % of ids fail their first
    // send (retried), and a fixed set of poison ids always fail.
    val src = spark.read.parquet(input)
    val ids = src.select(col("id"), xxhash64(col("id"), lit(ctx.seed)).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val poison = ids.sortBy(_._2).take(PoisonIds).map(_._1).toSet
    val failFirst = ids.collect {
      case (id, h) if java.lang.Math.floorMod(h >>> 8, 100L) < FailFirstPct && !poison(id) => id -> 1
    }.toMap
    val expected = Pipeline.checksum(src.filter(!col("id").isin(poison.toSeq: _*)))
    val jsonBytes = Publisher.serialize(src.filter(!col("id").isin(poison.toSeq: _*)), "id")
      .agg(sum(length(col("body")))).head().getLong(0)
    val problems = ArrayBuffer.empty[String]
    var failed = 0L
    var attempted = 0L

    val probe = new TaskProbe
    val queries = new QueryProbe
    var n = 0
    def iteration(traced: Boolean, counted: Boolean): Iter = {
      n += 1
      val q = ctx.queue(s"rt-$n")
      val base = new InMemoryQueueClient(q, failFirst, poison)
      val client = wrap(if (traced) new TimedQueueClient(base, "pipeline.queue") else base, q)
      if (traced) { Counters.reset(); probe.reset(); queries.executions.reset(); queries.published = None }
      val gc0 = Jvm.gcMillis
      val c0 = Jvm.codegenCompiles
      val t0 = System.nanoTime()
      val res = ctx.tracer.span("publish_roundtrip.publish") {
        ctx.tracer.span("pipeline.publish") {
          TaskProbe.inLayer(spark.sparkContext, "pipeline.publish") {
            Publisher.publish(spark, Publisher.PublishRequest(Seq(input)), client)
          }
        }
      }
      val t1 = System.nanoTime()
      val gcA = Jvm.gcMillis
      ctx.sampleHeap("after_publish")   // the queue holds every message here
      val gcB = Jvm.gcMillis
      val t2 = System.nanoTime()
      var t3 = 0L
      val got = ctx.tracer.span("publish_roundtrip.consume") {
        val df = ctx.tracer.span("pipeline.consume_call") {
          Consumer.consume(spark, q, Pipeline.schema)
        }
        t3 = System.nanoTime()
        ctx.tracer.span("pipeline.consume_exec") {
          TaskProbe.inLayer(spark.sparkContext, "pipeline.consume_exec") {
            Pipeline.checksum(df)
          }
        }
      }
      val t4 = System.nanoTime()
      val gc1 = Jvm.gcMillis
      val c1 = Jvm.codegenCompiles
      InMemoryQueue.clear(q)

      // Output checks: every non-poison record arrives once and unaltered,
      // and the dead letters are exactly the poison ids.
      val want = rows - poison.size
      val dead = res.deadLetters.map(_.id).toSet
      val wrongDead = (dead diff poison).size + (poison diff dead).size
      if (got != expected)
        problems += s"iteration $n: consumed (rows, distinct ids, checksum) $got, expected $expected"
      if (wrongDead > 0)
        problems += s"iteration $n: ${dead.size} dead letters, expected the ${poison.size} poison ids"
      if (res.publishedRows != want)
        problems += s"iteration $n: published ${res.publishedRows} rows, expected $want"
      if (counted) {
        attempted += want
        val wrongCount = if (res.publishedRows != want) 1 else 0
        failed += Pipeline.failedRecords(got, expected, wrongDead + wrongCount)
      }

      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          Jvm.waitListeners(spark)
          // The publisher's own observe() metric counts every row it read.
          if (!queries.published.exists(_._1 == rows))
            problems += s"iteration $n: publisher observed ${queries.published}, expected $rows rows"
          val delivered = math.max(1L, res.publishedRows)
          Map(
            "sql.query_executions" -> queries.executions.sum.toDouble,
            "pipeline.publish_cpu_s" -> probe.get("pipeline.publish", "executor_cpu_ns") / 1e9,
            "pipeline.publish_tasks" -> probe.get("pipeline.publish", "tasks").toDouble,
            "pipeline.publish_jobs" -> probe.get("pipeline.publish", "jobs").toDouble,
            "pipeline.consume_tasks" -> probe.get("pipeline.consume_exec", "tasks").toDouble,
            "pipeline.queue.send_calls" -> Counters.get("pipeline.queue.send_calls").toDouble,
            "pipeline.queue.send_s" -> Counters.get("pipeline.queue.send_ns") / 1e9,
            "pipeline.queue.attempts_per_delivered" ->
              Counters.get("pipeline.queue.attempted_msgs").toDouble / delivered,
            "pipeline.queue.dead_letters" -> dead.size.toDouble)
        }
      Iter((t1 - t0) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9,
        (gcA - gc0) + (gc1 - gcB), c1 - c0, layers)
    }

    val (plain, traced) =
      Phases.run(ctx, Warmups, () => {
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(queries)
      })(iteration)
    if (ctx.trace) {
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(queries)
    }

    val walls = plain.map(_.wallS)
    val e2e = Map(
      "setup_s" -> Stats.median(setupWalls),
      "records_per_s" -> rows / Stats.median(walls),
      "mb_per_s" -> jsonBytes / 1e6 / Stats.median(plain.map(_.publishS)),
      "step_p50_ms" -> Stats.median(walls) * 1e3,
      "heap_retained_mb" -> ctx.heapRetainedMb)
    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val keys = traced.head.layers.keys
        keys.map(k => k -> Stats.median(traced.map(_.layers(k)))).toMap ++ Map(
          "sources.gen_s" -> Stats.median(setupWalls),
          "sources.gen_bytes" -> Files.bytes(new File(input)).toDouble,
          "sources.gen_files" -> Pipeline.parquetFiles(input).size.toDouble,
          "pipeline.publish_s" -> Stats.median(traced.map(_.publishS)),
          "pipeline.consume_call_s" -> Stats.median(traced.map(_.consumeCallS)),
          "pipeline.consume_exec_s" -> Stats.median(traced.map(_.consumeExecS)),
          "jvm.gc_ms" -> Stats.median(traced.map(_.gcMs.toDouble)),
          "jvm.codegen_compiles" -> Stats.median(traced.map(_.compiles.toDouble)),
          "trace.overhead_share" ->
            (Stats.median(traced.map(_.wallS)) / Stats.median(walls) - 1.0))
      }
    Outcome(attempted, failed, problems.toSeq, e2e, layers, Map(
      "rows" -> rows.toString, "poison_ids" -> poison.size.toString,
      "fail_first_ids" -> failFirst.size.toString, "json_bytes" -> jsonBytes.toString,
      "heap_mb_median_max" -> ctx.heapDetail,
      "iterations_untraced" -> plain.size.toString,
      "iterations_traced" -> traced.size.toString,
      "publish_ms" -> plain.map(i => f"${i.publishS * 1e3}%.0f").mkString(" "),
      "consume_call_ms" -> plain.map(i => f"${i.consumeCallS * 1e3}%.0f").mkString(" "),
      "consume_exec_ms" -> plain.map(i => f"${i.consumeExecS * 1e3}%.0f").mkString(" ")))
  }
}

/** The queue used as a read log: a pre-loaded queue is drained by the
  * `graft-queue` streaming source, parsed with `from_json`, and written by
  * the replay-safe parquet sink, one micro-batch at a time.
  */
object QueueStreamIngest {
  /** Small enough for short iterations: a transient slow spell on a shared
    * box then spoils few of a run's iterations, and their median holds.
    */
  val Rows = 6000L
  val SetupReps = 5
  val MaxPerTrigger = 400L
  val Warmups = 2

  final case class Iter(wallS: Double, batchMs: Seq[Double],
      progress: Seq[Map[String, Double]], sinkFiles: Seq[Double], sinkBytes: Seq[Double],
      gcMs: Long, compiles: Long, layers: Map[String, Double])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rows = math.max(200L, (Rows * ctx.size).toLong)
    val perTrigger = math.max(20L, (MaxPerTrigger * ctx.size).toLong)
    val (setupWalls, input) = Pipeline.setup(ctx, rows, SetupReps)

    val src = spark.read.parquet(input)
    val q = ctx.queue("ingest")
    val msgs = Publisher.serialize(src, "id").collect()
    msgs.foreach(InMemoryQueue.queue(q).add)
    val jsonBytes = msgs.iterator.map(_.body.length.toLong).sum
    val expected = Pipeline.checksum(src)
    ctx.sampleHeap("after_preload")

    val problems = ArrayBuffer.empty[String]
    var failed = 0L
    var attempted = 0L
    val probe = new TaskProbe
    val queries = new QueryProbe
    val streams = new StreamProbe
    var n = 0

    def iteration(traced: Boolean, counted: Boolean): Iter = {
      n += 1
      // Warm-ups drain the same queue in half as many, twice as large batches.
      val trigger = if (counted) perTrigger else 2 * perTrigger
      val out = ctx.dir(s"sink-$n")
      val ckpt = ctx.dir(s"ckpt-$n")
      if (traced) { probe.reset(); queries.executions.reset() }
      streams.progress.clear()
      val gc0 = Jvm.gcMillis
      val c0 = Jvm.codegenCompiles
      val t0 = System.nanoTime()
      val query = ctx.tracer.span("queue_stream_ingest.stream") {
        TaskProbe.inLayer(spark.sparkContext, "streaming") {
          val started = ctx.tracer.span("streaming.start") {
            val stream = spark.readStream.format("graft-queue")
              .option("queue", q)
              .option("maxMessagesPerTrigger", trigger)
              .load()
              .select(from_json(col("body"), Pipeline.schema).as("r"))
              .select(col("r.*"))
            IdempotentSink.start(stream, out, ckpt)
          }
          ctx.tracer.span("streaming.run") {
            if (!started.awaitTermination(150000L)) {
              started.stop()
              problems += s"iteration $n: stream did not finish within 150 s"
            }
            if (traced) {
              Jvm.waitListeners(spark)
              addBatchSpans(ctx, streams.progress.asScala.toSeq
                .filter(p => p.id == started.id && p.numInputRows > 0))
            }
          }
          started
        }
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val gc1 = Jvm.gcMillis
      val c1 = Jvm.codegenCompiles
      query.exception.foreach(e => problems += s"iteration $n: stream failed: ${e.getMessage}")

      val progress = query.recentProgress.toSeq.filter(_.numInputRows > 0)
      val phases = progress.map { p =>
        p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      }
      val committed = progress.map(_.numInputRows).sum
      // Output checks: the sink holds every queued record exactly once.
      val sink = spark.read.parquet(out).drop("batch_id")
      val got = Pipeline.checksum(sink)
      if (got != expected)
        problems += s"iteration $n: sink (rows, distinct ids, checksum) $got, expected $expected"
      if (committed != rows)
        problems += s"iteration $n: progress reports $committed input rows, expected $rows"
      if (counted) { attempted += rows; failed += Pipeline.failedRecords(got, expected, 0) }

      val batchDirs = Option(new File(out).listFiles()).toSeq.flatten.filter(_.isDirectory)
      val sinkFiles = batchDirs.map(d => Pipeline.parquetFiles(d.getPath).size.toDouble)
      val sinkBytes = batchDirs.map(d => Pipeline.parquetFiles(d.getPath).map(_.length).sum.toDouble)

      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val batches = math.max(1, progress.size).toDouble
          Map(
            "sql.query_executions" -> queries.executions.sum.toDouble,
            "streaming.tasks_per_batch" -> probe.get("streaming", "tasks") / batches,
            "streaming.jobs_per_batch" -> probe.get("streaming", "jobs") / batches,
            "streaming.cpu_ms_per_batch" -> probe.get("streaming", "executor_cpu_ns") / 1e6 / batches)
        }
      Files.delete(new File(out))
      Files.delete(new File(ckpt))
      Iter(wallS, phases.map(_.getOrElse("triggerExecution", 0.0)), phases,
        sinkFiles, sinkBytes, gc1 - gc0, c1 - c0, layers)
    }

    val (plain, traced) = Phases.run(ctx, Warmups, () => {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(queries)
      spark.streams.addListener(streams)
    })(iteration)
    if (ctx.trace) {
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(queries)
      spark.streams.removeListener(streams)
    }

    val batchMs = plain.flatMap(_.batchMs)
    val e2e = Map(
      "setup_s" -> Stats.median(setupWalls),
      "records_per_s" -> rows / Stats.median(plain.map(_.wallS)),
      "mb_per_s" -> jsonBytes / 1e6 / Stats.median(plain.map(_.wallS)),
      "step_p50_ms" -> Stats.median(batchMs),
      "heap_retained_mb" -> ctx.heapRetainedMb)
    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        def phase(k: String) = Stats.median(traced.flatMap(_.progress.map(_.getOrElse(k, 0.0))))
        val keys = traced.head.layers.keys
        keys.map(k => k -> Stats.median(traced.map(_.layers(k)))).toMap ++ Map(
          "sources.gen_s" -> Stats.median(setupWalls),
          "sources.gen_bytes" -> Files.bytes(new File(input)).toDouble,
          "sources.gen_files" -> Pipeline.parquetFiles(input).size.toDouble,
          "sources.queue_latest_offset_ms" -> phase("latestOffset"),
          "sources.queue_get_batch_ms" -> phase("getBatch"),
          "streaming.add_batch_ms" -> phase("addBatch"),
          "streaming.planning_ms" -> phase("queryPlanning"),
          "streaming.wal_commit_ms" -> phase("walCommit"),
          "streaming.commit_offsets_ms" -> phase("commitOffsets"),
          "streaming.batches" -> Stats.median(traced.map(_.batchMs.size.toDouble)),
          "streaming.batch_p90_ms" -> Stats.pct(traced.flatMap(_.batchMs), 90),
          "streaming.sink_files_per_batch" -> Stats.median(traced.flatMap(_.sinkFiles)),
          "streaming.sink_bytes_per_batch" -> Stats.median(traced.flatMap(_.sinkBytes)),
          "jvm.gc_ms" -> Stats.median(traced.map(_.gcMs.toDouble)),
          "jvm.codegen_compiles" -> Stats.median(traced.map(_.compiles.toDouble)),
          "trace.overhead_share" ->
            (Stats.median(traced.map(_.wallS)) / Stats.median(plain.map(_.wallS)) - 1.0))
      }
    Outcome(attempted, failed, problems.toSeq, e2e, layers, Map(
      "rows" -> rows.toString, "max_messages_per_trigger" -> perTrigger.toString,
      "json_bytes" -> jsonBytes.toString,
      "batches_untraced" -> batchMs.size.toString,
      "heap_mb_median_max" -> ctx.heapDetail,
      "iterations_untraced" -> plain.size.toString,
      "iterations_traced" -> traced.size.toString,
      "stream_ms" -> plain.map(i => f"${i.wallS * 1e3}%.0f").mkString(" ")))
  }

  /** Adds one span per micro-batch under the open `streaming.run` span,
    * with its phases laid end to end inside it, from the progress reports
    * Spark publishes. Phase durations are Spark's own; their order follows
    * the micro-batch engine (offsets, log write, batch read, planning, sink,
    * commit).
    */
  private def addBatchSpans(ctx: Ctx, progress: Seq[StreamingQueryProgress]): Unit = {
    val parent = ctx.tracer.current
    val nsPerMs = 1000000L
    val epochToNano = System.nanoTime() - System.currentTimeMillis() * nsPerMs
    progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * nsPerMs + epochToNano
      val batch = ctx.tracer.record("streaming.batch", parent, start,
        start + d.getOrElse("triggerExecution", 0L) * nsPerMs)
      BatchPhases.foldLeft(start) { case (t, (key, name)) =>
        val end = t + d.getOrElse(key, 0L) * nsPerMs
        if (end > t) ctx.tracer.record(name, batch, t, end)
        end
      }
    }
  }

  /** Micro-batch phases in the order the engine runs them, with the layer
    * each belongs to.
    */
  private val BatchPhases = Seq(
    "latestOffset" -> "sources.queue_latest_offset",
    "walCommit" -> "streaming.wal_commit",
    "getBatch" -> "sources.queue_get_batch",
    "queryPlanning" -> "streaming.planning",
    "addBatch" -> "streaming.add_batch",
    "commitOffsets" -> "streaming.commit_offsets")
}
