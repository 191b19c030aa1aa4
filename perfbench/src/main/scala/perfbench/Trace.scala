package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One traced call: a name, its wall interval in nanoseconds, the span
  * that caused it (0 for a root) and the request it belongs to.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, request: Long) {
  def duration: Long = end - start
}

/** In-memory span recorder. Spans nest per thread: a span opened while
  * another is open on the same thread becomes its child. Nothing is
  * written until [[writeJson]] at the end of a run.
  */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Run `f` inside a span when `on`; otherwise just run it. */
  def span[T](name: String, request: Long, on: Boolean = true)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, request))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def writeJson(path: java.nio.file.Path): Unit = {
    val self = Tracer.selfTimes(all)
    val sb = new StringBuilder("[\n")
    all.sortBy(_.start).iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"request":${s.request},""" +
        s""""self_ns":${self(s.id)}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (children running in parallel
    * count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.duration - Stats.unionLength(kids, s.start, s.end))
    }.toMap
  }

  /** Summed self time per span name, in seconds. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id)).sum / 1e9
    }
  }
}
