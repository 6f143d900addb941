package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** One timed region: `parent` is the id of the enclosing span (-1 at the
  * root) and `run` identifies the benchmark run that recorded it. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long, run: String) {
  def durS: Double = (end - start) / 1e9
}

/** In-memory span recorder for the traced run. Spans nest by the
  * driver's call stack; they are written as JSON lines when the run ends.
  * When disabled, `span` runs its body and records nothing. */
final class Trace(val enabled: Boolean, run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack ::= id
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime(), run)
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time of every span, in seconds, summed per span name. */
  def selfTimeByName: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.name)(s =>
      Trace.selfTime(s, children.getOrElse(s.id, Nil).toSeq))(_ + _)
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"run":"${s.run}"}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  /** A span's duration minus the part of its interval that the union of
    * its children's intervals covers, in seconds. */
  def selfTime(s: Span, children: Seq[Span]): Double = {
    val clipped = children
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.end - s.start - covered) / 1e9
  }
}
