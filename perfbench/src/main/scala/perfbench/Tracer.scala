package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One timed call from the benchmark into a layer of the program, made
  * within operation `op` of kind `kind` (0 and "" outside any operation). */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    op: Long, kind: String, startNs: Long, endNs: Long)

/** In-memory span recorder for the single client thread. Disabled, it
  * only runs the body, so the untraced run pays nothing for it. Spans
  * are written once, at the end of the run; `perfbench/trace_report.py`
  * turns them into per-layer self time. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private var current = (0L, "")

  /** Spans opened inside `body` belong to operation `op` of `kind`. */
  def operation[T](op: Long, kind: String)(body: => T): T = {
    val prev = current
    current = (op, kind)
    try body finally current = prev
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, layer, current._1, current._2, t0, System.nanoTime())
      }
    }

  /** Write one JSON object per span, in start order. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"op":${s.op},"kind":${Json.str(s.kind)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
