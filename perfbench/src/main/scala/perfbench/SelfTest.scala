package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import graft.pipeline.{BatchSendResult, QueueClient, QueueMessage}

/** A `QueueClient` that loses one message per queue while reporting it
  * sent: the output checks must catch it.
  */
final class DropOneQueueClient(inner: QueueClient, queue: String) extends QueueClient {
  override def maxBatchSize: Int = inner.maxBatchSize
  override def send(batch: Seq[QueueMessage]): BatchSendResult =
    if (batch.nonEmpty && DropOneQueueClient.dropped.add(queue)) inner.send(batch.tail)
    else inner.send(batch)
}

object DropOneQueueClient {
  val dropped: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
}

/** Tiny-size run of every workload, traced and untraced, plus runs that
  * must fail their output checks. Prints one JSON line per case;
  * `perfbench/run.py --self-test` compares them with BENCHMARK.json.
  */
object SelfTest {
  val Size = 0.03

  def run(runDir: File): Unit = {
    val spark = Main.session(runDir)
    try {
      def emit(name: String, expectCorrect: Boolean, o: Outcome, trace: Boolean): Unit =
        println(Main.obj(Seq(
          "case" -> s""""$name"""",
          "expect_correct" -> expectCorrect.toString,
          "problems" -> o.problems.size.toString,
          "result" -> Main.resultLine(o, trace))))
      for (w <- Main.Roots.keys.toSeq.sorted; trace <- Seq(false, true)) {
        val dir = new File(runDir, s"$w-$trace")
        val (o, _) = Main.measure(spark, w, 7L, 0.5, trace, dir, Size)
        emit(s"$w/trace=${if (trace) 1 else 0}", expectCorrect = true, o, trace)
      }
      val ctx = new Ctx(spark, 7L, 0.5, false, new File(runDir, "drop"), Size, "selftest-drop")
      val dropped =
        try PublishRoundtrip.run(ctx, (c, q) => new DropOneQueueClient(c, q))
        finally ctx.queues.foreach(graft.pipeline.InMemoryQueue.clear)
      emit("publish_roundtrip/drop-one-message", expectCorrect = false, dropped, trace = false)
    } finally spark.stop()
  }
}
