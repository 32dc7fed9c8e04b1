package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval recorded around a call into a layer of the program.
  * `parent` is the span that was open on the same thread when this one
  * started (0 for a root); `runId` ties every span of one benchmark run
  * together.
  */
final case class Span(
    id: Long,
    parent: Long,
    runId: String,
    name: String,
    startNs: Long,
    endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans stay in a buffer and are written once, at
  * the end of the run. While `enabled` is off, `span` only runs its body.
  *
  * Spans nest by thread: only the driver thread opens spans, so a span's
  * children are exactly the calls it made, and they do not overlap (spans
  * built from Spark's progress reports are laid end to end). That makes
  * self time (duration minus the time children cover) a plain subtraction.
  */
final class Tracer(@volatile var enabled: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized {
          spans += Span(id, parents.headOption.getOrElse(0L), runId, name, t0, t1)
        }
      }
    }

  /** Id of the span open on this thread, 0 when none is. */
  def current: Long = stack.get().headOption.getOrElse(0L)

  /** Records a span measured elsewhere (for example by Spark) under
    * `parent`; returns its id, so that it can parent further spans.
    */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.synchronized {
      spans += Span(id, parent, runId, name, startNs, endNs)
    }
    id
  }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self time of every span under `root` (inclusive), summed by name. The
    * root's own self time is the part of its wall no layer span covers.
    */
  def selfTimesUnder(root: Span): Map[String, Long] = {
    val all = this.all
    val children = all.groupBy(_.parent)
    def walk(s: Span): Seq[(String, Long)] = {
      val kids = children.getOrElse(s.id, Nil)
      (s.name -> (s.durNs - kids.map(_.durNs).sum)) +: kids.flatMap(walk)
    }
    walk(root).groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: String =
    all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"run":"${s.runId}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[", ",\n", "]")
}

/** Process-wide counters for code that runs inside Spark tasks. Executors of
  * a `local[N]` master share the driver JVM, so a static registry sees every
  * task; a closure-captured counter would be a per-task copy.
  */
object Counters {
  private val adders = new ConcurrentHashMap[String, LongAdder]()

  def add(name: String, v: Long): Unit =
    adders.computeIfAbsent(name, _ => new LongAdder).add(v)

  def get(name: String): Long =
    Option(adders.get(name)).map(_.sum).getOrElse(0L)

  def reset(): Unit = adders.values().asScala.foreach(_.reset())
}
