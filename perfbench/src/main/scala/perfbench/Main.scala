package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles}

import org.apache.spark.sql.SparkSession

import graft.pipeline.InMemoryQueue

/** Benchmark entry point. One JVM runs one workload:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --run-dir <dir>
  *
  * It prints a detail line (environment stamp, per-iteration facts, output
  * check problems, layer self times) and, last, the result line with the
  * metrics. `perfbench/run.py` builds the classes and starts this JVM.
  */
object Main {

  /** End-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "records_per_s" -> "1/s",
    "mb_per_s" -> "MB/s",
    "step_p50_ms" -> "ms",
    "heap_retained_mb" -> "MB")

  /** Per-layer metrics of a traced run. A workload that never enters a
    * layer reports 0 for it.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.gen_s" -> "s",
    "sources.gen_bytes" -> "B",
    "sources.gen_files" -> "count",
    "pipeline.publish_s" -> "s",
    "pipeline.publish_cpu_s" -> "s",
    "pipeline.publish_tasks" -> "count",
    "pipeline.publish_jobs" -> "count",
    "pipeline.queue.send_calls" -> "count",
    "pipeline.queue.send_s" -> "s",
    "pipeline.queue.attempts_per_delivered" -> "ratio",
    "pipeline.queue.dead_letters" -> "count",
    "pipeline.consume_call_s" -> "s",
    "pipeline.consume_exec_s" -> "s",
    "pipeline.consume_tasks" -> "count",
    "sources.queue_latest_offset_ms" -> "ms",
    "sources.queue_get_batch_ms" -> "ms",
    "streaming.batches" -> "count",
    "streaming.batch_p90_ms" -> "ms",
    "streaming.tasks_per_batch" -> "count",
    "streaming.jobs_per_batch" -> "count",
    "streaming.cpu_ms_per_batch" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.sink_files_per_batch" -> "count",
    "streaming.sink_bytes_per_batch" -> "B",
    "sql.query_executions" -> "count",
    "jvm.gc_ms" -> "ms",
    "jvm.codegen_compiles" -> "count",
    "jvm.tmp_residue_b" -> "B",
    "trace.overhead_share" -> "ratio",
    "trace.unattributed_share" -> "ratio")

  /** Root span names of each workload: their durations make up its timed
    * wall.
    */
  val Roots: Map[String, Seq[String]] = Map(
    "publish_roundtrip" -> Seq("publish_roundtrip.publish", "publish_roundtrip.consume"),
    "queue_stream_ingest" -> Seq("queue_stream_ingest.stream"))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      runDir: File, selfTest: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val selfTest = m.get("self-test").contains("1")
    Args(
      if (selfTest) "" else need("workload"),
      m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble,
      m.get("trace").contains("1"),
      new File(need("run-dir")).getAbsoluteFile,
      selfTest)
  }

  def session(runDir: File): SparkSession = {
    val cpus = math.min(Runtime.getRuntime.availableProcessors, 4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", new File(runDir, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def runWorkload(ctx: Ctx, workload: String): Outcome = workload match {
    case "publish_roundtrip" => PublishRoundtrip.run(ctx)
    case "queue_stream_ingest" => QueueStreamIngest.run(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def loadAvg: String =
    try new String(NioFiles.readAllBytes(new File("/proc/loadavg").toPath)).split(" ").head
    catch { case _: Exception => "-1" }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  def metricsJson(values: Map[String, Double], names: Seq[(String, String)]): String =
    obj(names.map { case (k, unit) =>
      k -> obj(Seq("value" -> num(values.getOrElse(k, 0.0)), "unit" -> q(unit)))
    })

  /** Result line: the last line of standard output. */
  def resultLine(o: Outcome, trace: Boolean): String = {
    val correct = o.problems.isEmpty && o.failed == 0
    val metrics =
      if (trace) metricsJson(o.layers, PerLayer) else metricsJson(o.e2e, EndToEnd)
    obj(Seq("correct" -> correct.toString, "attempted" -> math.max(1L, o.attempted).toString,
      "failed" -> o.failed.toString, "metrics" -> metrics))
  }

  /** Runs one workload on `spark` and returns its outcome with the trace
    * accounting folded in; clears every queue the workload created.
    */
  def measure(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      trace: Boolean, runDir: File, size: Double): (Outcome, Ctx) = {
    val ctx = new Ctx(spark, seed, seconds, trace, runDir, size,
      s"$workload-$seed-${System.currentTimeMillis()}")
    val out =
      try runWorkload(ctx, workload)
      finally ctx.queues.foreach(InMemoryQueue.clear)
    val spans = ctx.tracer.all
    val roots = spans.filter(s => Roots.getOrElse(workload, Nil).contains(s.name))
    val wallNs = roots.map(_.durNs).sum
    val perRoot = roots.map(ctx.tracer.selfTimesUnder)
    val self = perRoot.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    // Self time of the roots themselves: the wall no layer span covers.
    val rootSelf = roots.zip(perRoot).map { case (r, m) => m(r.name) }.sum
    val layers =
      if (!trace) out.layers
      else out.layers ++ Map(
        "trace.unattributed_share" -> (if (wallNs > 0) rootSelf.toDouble / wallNs else 0.0))
    val detail = out.detail ++ Map(
      "timed_wall_s" -> (wallNs / 1e9).toString,
      "self_sum_s" -> (self.values.sum / 1e9).toString,
      "self_s" -> self.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=${"%.4f".formatLocal(java.util.Locale.ROOT, v / 1e9)}" }
        .mkString(" "))
    (out.copy(layers = layers, detail = detail), ctx)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    if (args.selfTest) { SelfTest.run(args.runDir); return }
    val load0 = loadAvg
    val spark = session(args.runDir)
    val (measured, ctx) =
      try measure(spark, args.workload, args.seed, args.seconds, args.trace, args.runDir, 1.0)
      finally spark.stop()
    // What the run left in its temporary directory once the session stopped.
    val tmp = new File(args.runDir, "tmp")
    val residue = Files.bytes(tmp).toDouble
    val left = Option(tmp.list()).toSeq.flatten.sorted.mkString(" ")
    val out = measured.copy(
      layers = if (args.trace) measured.layers + ("jvm.tmp_residue_b" -> residue) else measured.layers,
      detail = measured.detail + ("tmp_residue" -> s"${residue.toLong} B: $left"))
    if (args.trace) {
      val f = new File(args.runDir, "spans.json")
      NioFiles.write(f.toPath, ctx.tracer.toJson.getBytes(StandardCharsets.UTF_8))
    }
    val conf = spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir" }
    val stamp = Seq(
      "workload" -> q(args.workload),
      "seed" -> args.seed.toString,
      "seconds" -> num(args.seconds),
      "trace" -> args.trace.toString,
      "commit" -> q(sys.props.getOrElse("perfbench.commit", "unknown")),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> q(spark.sparkContext.master),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "load_avg_start" -> load0,
      "load_avg_end" -> loadAvg,
      "spark_conf" -> obj(conf.map { case (k, v) => k -> q(v) }),
      "problems" -> out.problems.map(q).mkString("[", ",", "]"),
      "detail" -> obj(out.detail.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) }))
    println(obj(Seq("perfbench" -> obj(stamp))))
    println(resultLine(out, args.trace))
  }
}
