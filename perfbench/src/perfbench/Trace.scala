package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span and counter recorder for the traced run.
  *
  * Spans are recorded only around calls the benchmark itself makes into a
  * layer (`ingest.decode`, `api.increment`, ...); the layer is the name up to
  * the first dot. Nothing inside the program is instrumented. With tracing
  * off every call is a plain pass-through, so the end-to-end run pays
  * nothing for it. Spark actions the program runs inside a span are picked
  * up through the public `QueryExecutionListener` (see [[Actions]]).
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long,
      endNs: Long, runId: String)

  @volatile var enabled: Boolean = false
  @volatile var runId: String = ""

  private val ids = new AtomicLong(1L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()

  /** Time `f` as a span named `name` (child of the enclosing span on this
    * thread). */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.getAndIncrement()
      val outer = stack.get()
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, t0, t1, runId))
      }
    }

  /** Run `f` with tracing off (warm-up work that must not be counted). */
  def off[T](f: => T): T = {
    val was = enabled
    enabled = false
    try f finally enabled = was
  }

  /** Span totals as `<name>_ms`, plus every counter. */
  def layerValues: Map[String, Double] =
    all.groupBy(_.name).map { case (n, xs) =>
      s"${n}_ms" -> xs.map(s => (s.endNs - s.startNs) / 1e6).sum } ++
      counters.asScala.map { case (k, v) => k -> v.doubleValue }

  def add(name: String, v: Double): Unit =
    if (enabled) counters.merge(name, v, (a, b) => a + b)

  def set(name: String, v: Double): Unit =
    if (enabled) counters.put(name, v)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the time its direct
    * child spans cover, summed by layer (name prefix before the first
    * dot). Children of one span never overlap: spans nest on one thread. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, xs) =>
      layer -> xs.map(s => (s.endNs - s.startNs -
        childNs.getOrElse(s.id, 0L)) / 1e6).sum }
  }

  /** Spans as JSON lines (written when the run ends). */
  def writeSpans(file: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":"${s.runId}"}"""
    }
    java.nio.file.Files.write(file, lines.asJava)
  }
}

/** Spark actions the program runs, from the public `QueryExecutionListener`
  * callbacks: the benchmark attributes them to its own spans by time, so it
  * can split, say, the write inside `Graft.replayIncrement` from the fold,
  * without touching the program. Registered only in the traced run. */
final class Actions extends org.apache.spark.sql.util.QueryExecutionListener {
  import Actions.Action
  private val done = new ConcurrentLinkedQueue[Action]()

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
    val end = System.nanoTime()
    val out = qe.analyzed.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString
    }.getOrElse("")
    done.add(Action(out, end - durationNs, end))
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()

  /** Actions that started inside [t0, t1] (nanoTime). The callback runs
    * on the listener bus a little after the action ends, so the start
    * (callback time minus duration) is the reliable end to match on. */
  def within(t0: Long, t1: Long): Seq[Action] =
    done.asScala.filter(a => a.startNs >= t0 && a.startNs <= t1).toSeq
}

object Actions {
  final case class Action(outputPath: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}
