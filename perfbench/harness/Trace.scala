package graft.bench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** In-memory span recorder for the traced run. Spans are opened and closed
  * on the single client thread, so a stack gives each span its parent;
  * every `request` span (one query execution) starts a new request id that
  * its children inherit. Nothing is written until the run ends. */
final class Tracer(val enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val request: Int, val name: String,
      val start: Long) {
    var end: Long = -1L
    def nanos: Long = end - start
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  /** Spans are recorded only while active; the traced run switches this
    * off for its untraced passes. */
  var active: Boolean = enabled

  def span[T](name: String, request: Boolean = false)(body: => T): T =
    if (!active) body
    else {
      val s = open(name, request)
      try body finally close(s)
    }

  def open(name: String, request: Boolean = false): Span = {
    val id = spans.size + 1
    val parent = stack.headOption
    val req = if (request) id else parent.fold(0)(_.request)
    val s = new Span(id, parent.fold(0)(_.id), req, name, System.nanoTime())
    spans += s
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack = stack.tail
  }

  def all: Seq[Span] = spans.toSeq

  /** Total duration of the spans named `name`, in seconds. */
  def seconds(name: String): Seq[Double] = spans.collect {
    case s if s.name == name && s.end >= 0 => s.nanos / 1e9
  }.toSeq

  /** (name, count, total ns, self ns) per span name, where self time is a
    * span's duration minus the time its direct children cover. Children
    * run sequentially on one thread, so they never overlap and the self
    * times of all spans add up to the root span's duration. */
  def selfTimes: Seq[(String, Int, Long, Long)] = {
    val childNanos = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNanos(s.parent) += s.nanos)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.size, ss.map(_.nanos).sum, ss.map(s => s.nanos - childNanos(s.id)).sum)
    }.sortBy(-_._4)
  }

  def writeSpans(file: Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    Files.writeString(file, sb.toString)
  }
}

/** Just enough JSON writing for the harness's result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
